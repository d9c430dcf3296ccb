"""TPC-H registry entries: the adapted 22-query suite, plus the
reference's relational operators (interval filter, combine join,
ordinal dates, annual-date explode, split/union) expressed over the
TPC-H tables.

The notes below moved here with the queries they describe.

Adapted TPC-H suite over the driver's trimmed TPC-H-ish tables.

The synthetic tables lack ``partsupp``, commit/receipt dates, ship
mode/instructions, phone, container, and comment columns, so the
classic 22 queries cannot run verbatim.  This module keeps each
query's *shape* — the join graph, the subquery form, the aggregate
discipline — and adapts the predicates to the columns that exist.
All 22 shapes run: Q12/Q21 re-derive lateness from shipdate −
orderdate; Q2/Q11/Q16/Q20 use a DERIVED partsupp (deterministic
integer arithmetic, identical in both engines — see ``_partsupp``);
Q5 already exists as ``revenue_by_nation``, Q1 as
``pricing_summary``; the remaining 20 live here.

Determinism contract (same as registry.py): money math in
DECIMAL(18,2) with ONE final cast to double, ratios divided in double
after exact decimal sums, every LIMIT paired with a total ORDER BY,
and both engines aliased column-for-column.

Scale notes, applied throughout:
- ``region``/``nation`` are fixed 5/25-row dims → always broadcast.
- ``customer``/``supplier``/``part`` grow with SF → never broadcast;
  plans use shuffle joins so they survive 100 TB (a broadcast hint
  here would OOM the driver at scale).
- Aggregate-then-join where the reduction comes first (Q15, Q17,
  Q18): the groupBy shrinks the fact side before the join, so the
  join input is orders-of-magnitude smaller than lineitem.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.dates import (date_from_ordinal, ordinal_from_date,
                               prediction_dates_array)
from ..operators.filters import segments_filter
from ..operators.joins import last_wins
from .base import _t, register


# ---------------------------------------------------------------- A1 --

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan + filter + hash aggregate with partial
    (map-side) combine — the headline agg benchmark query."""
    l = _t(spark, sf_dir, "lineitem")
    # Money arithmetic in DECIMAL: the source values are 2-decimal, so
    # the decimal products/sums are exact and engine-independent; a
    # final cast to double is deterministic. (Rounding raw doubles
    # diverges between engines at half-way products like x.xxx5.)
    dep = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    dt = F.col("l_tax").cast("decimal(18,2)")
    disc_price = dep * (F.lit(1) - dd)
    charge = disc_price * (F.lit(1) + dt)
    return (
        l.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"),
             F.sum(dep).cast("double").alias("sum_base_price"),
             F.sum(disc_price).cast("double").alias("sum_disc_price"),
             F.sum(charge).cast("double").alias("sum_charge"),
             F.round(F.sum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
             F.round(F.sum(dd).cast("double") / F.count(F.lit(1)), 6).alias("avg_disc"),
             F.count(F.lit(1)).alias("count_order"))
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS DOUBLE)                            AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)  AS sum_charge,
       ROUND(SUM(l_quantity) / COUNT(*), 6)                       AS avg_qty,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
                                                                  AS avg_disc,
       CAST(COUNT(*) AS BIGINT)                                   AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------- P3 --

def q_interval_filter(spark, sf_dir):
    """P3 ``segments_filter`` (tile.py:77-85): closed-interval
    containment of a literal date, pushed down to the scan."""
    o = _t(spark, sf_dir, "orders")
    seg = (o.withColumn("sday", F.col("o_orderdate").cast("date"))
             .withColumn("eday", F.date_add(F.col("o_orderdate").cast("date"), 60)))
    return (segments_filter(seg, "1995-06-15")
            .select("o_orderkey", "sday", "eday"))


SQL_INTERVAL_FILTER = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE)      AS sday,
       CAST(o_orderdate AS DATE) + 60 AS eday
FROM orders
WHERE DATE '1995-06-15' >= CAST(o_orderdate AS DATE)
  AND DATE '1995-06-15' <= CAST(o_orderdate AS DATE) + 60
"""


# ---------------------------------------------------------------- J1 --

def q_combine_join(spark, sf_dir):
    """J1 ``combine`` (segaux.py:113-126): inner broadcast hash join,
    build side deduplicated last-wins per key before joining."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    dim = last_wins(s.select("s_suppkey", "s_name", "s_acctbal"),
                    ["s_suppkey"], order_col="s_acctbal")
    return (l.join(F.broadcast(dim.select("s_suppkey", "s_name")),
                   l.l_suppkey == dim.s_suppkey, "inner")
            .select("l_orderkey", "l_linenumber", "s_name",
                    F.col("l_extendedprice").alias("price")))


SQL_COMBINE_JOIN = """
SELECT l.l_orderkey, l.l_linenumber, s.s_name,
       l.l_extendedprice AS price
FROM lineitem l
JOIN (SELECT s_suppkey, s_name FROM (
        SELECT s_suppkey, s_name,
               ROW_NUMBER() OVER (PARTITION BY s_suppkey
                                  ORDER BY s_acctbal DESC) AS rn
        FROM supplier) WHERE rn = 1) s
  ON l.l_suppkey = s.s_suppkey
"""


# ---------------------------------------------------------------- F1 --

def q_ordinal_roundtrip(spark, sf_dir):
    """F1 ordinal⇄date (segment.py:68-70, segaux.py:194): proleptic
    Gregorian ordinal from a date and back, all JVM-side."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        ordinal_from_date(d).alias("ord"),
        date_from_ordinal(ordinal_from_date(d)).alias("roundtrip"),
    )


SQL_ORDINAL_ROUNDTRIP = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) - DATE '0001-01-01' + 1 AS ord,
       DATE '0001-01-01' + CAST(CAST(o_orderdate AS DATE) - DATE '0001-01-01'
                                AS INTEGER) AS roundtrip
FROM orders
"""


# ---------------------------------------------------------------- F2 --

def q_prediction_dates(spark, sf_dir):
    """F2/F4 annual-date explode (segaux.py:129-163): for each row,
    one output row per in-interval July-1 — the reference's only
    row-multiplying operator."""
    o = _t(spark, sf_dir, "orders")
    seg = (o.withColumn("sday", F.col("o_orderdate").cast("date"))
             .withColumn("eday", F.add_months(F.col("o_orderdate").cast("date"), 36)))
    dates = prediction_dates_array("sday", "eday", 7, 1)
    return (seg.withColumn("pday", F.explode(dates))
               .select("o_orderkey", "pday"))


SQL_PREDICTION_DATES = """
SELECT o_orderkey, make_date(y, 7, 1) AS pday
FROM (
  SELECT o_orderkey,
         CAST(o_orderdate AS DATE) AS sday,
         CAST(CAST(o_orderdate AS DATE) + INTERVAL 36 MONTH AS DATE) AS eday,
         UNNEST(generate_series(YEAR(CAST(o_orderdate AS DATE)),
                                YEAR(CAST(CAST(o_orderdate AS DATE) + INTERVAL 36 MONTH AS DATE)))) AS y
  FROM orders)
WHERE make_date(y, 7, 1) >= sday AND make_date(y, 7, 1) <= eday
"""


# ---------------------------------------------------------------- F7 --

def q_linear_projection(spark, sf_dir):
    """F7 average-reflectance-shaped arithmetic (segaux.py:189-209):
    row-level linear expression, whole-stage codegen, no UDF."""
    l = _t(spark, sf_dir, "lineitem")
    dep = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    dt = F.col("l_tax").cast("decimal(18,2)")
    return l.select(
        "l_orderkey", "l_linenumber",
        (dep * (F.lit(1) - dd) * (F.lit(1) + dt))
        .cast("double").alias("charge"))


SQL_LINEAR_PROJECTION = """
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l_discount AS DECIMAL(18,2)))
            * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS charge
FROM lineitem
"""


# ------------------------------------------------------------ U2/U3 --

def q_split_union(spark, sf_dir):
    """U3 group_data + U2 default_predictions shape
    (prediction.py:165-173, 234-242): split on a sentinel predicate,
    process branches differently, unionByName back."""
    o = _t(spark, sf_dir, "orders")
    defaults = (o.filter(F.col("o_orderstatus") == "F")
                 .select("o_orderkey",
                         F.lit("default").alias("grp"),
                         F.lit(0).alias("prob_len")))
    data = (o.filter(F.col("o_orderstatus") != "F")
             .select("o_orderkey",
                     F.lit("data").alias("grp"),
                     F.lit(9).alias("prob_len")))
    return defaults.unionByName(data)


SQL_SPLIT_UNION = """
SELECT o_orderkey, 'default' AS grp, 0 AS prob_len
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, 'data' AS grp, 9 AS prob_len
FROM orders WHERE o_orderstatus <> 'F'
"""


# ------------------------------------------------------------- top-k --

def q_topk_customers(spark, sf_dir):
    """Sort + limit top-k with a total deterministic order
    (revenue desc, key asc) so ties cannot change the result set."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # Reduce FIRST: aggregate + TakeOrdered top-10 on the revenue side
    # (o_custkey == c_custkey, so the tie-break is identical), THEN
    # broadcast the 10-row side to fetch names. The earlier version
    # broadcast `customer` — an SF-growing table — which pins an OOM
    # plan at 100×; this shape broadcasts a constant-size (k-row)
    # relation regardless of SF.
    # Join-cardinality assumption: limit-BEFORE-join equals the
    # oracle's join-then-limit only under referential integrity —
    # every o_custkey has a customer row (TPC-H guarantees it; the
    # fixture generator is what enforces it here). A dangling custkey
    # would drop below 10 rows where the oracle still returns 10.
    top = (o.groupBy("o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("revenue"))
             .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
             .limit(10))
    return (c.select("c_custkey", "c_name")
             .join(F.broadcast(top), top.o_custkey == F.col("c_custkey"))
             .select(F.col("c_custkey"), F.col("c_name"), F.col("revenue"))
             .orderBy(F.col("revenue").desc(), F.col("c_custkey")))


SQL_TOPK_CUSTOMERS = """
SELECT c.c_custkey, c.c_name, r.revenue
FROM (SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY o_custkey) r
JOIN customer c ON r.o_custkey = c.c_custkey
ORDER BY r.revenue DESC, c.c_custkey
LIMIT 10
"""


# ---------------------------------------------------------- flagship --

def q_revenue_by_nation(spark, sf_dir):
    """Flagship: multi-join star query (customer⋈orders⋈lineitem with
    broadcast nation/region dims) + hash agg — the plan Catalyst should
    broadcast the two dimension tables for."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    revenue = (F.col("l_extendedprice").cast("decimal(18,2)")
               * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    # orders/customer are fact-sized: shuffle-hash join (at 100 TB a
    # broadcast of either is impossible; locally the broadcast build
    # is also slower than the shuffle). nation/region stay broadcast.
    o = o.hint("shuffle_hash")
    c = c.hint("shuffle_hash")
    return (l.join(o, l.l_orderkey == o.o_orderkey)
             .join(c, o.o_custkey == c.c_custkey)
             .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .groupBy("r_name", "n_name")
             .agg(F.sum(revenue).cast("double").alias("revenue"),
                  F.count(F.lit(1)).alias("n_items")))


SQL_REVENUE_BY_NATION = """
SELECT r.r_name, n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""

_D = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(_D)


def _disc_price():
    """Exact decimal l_extendedprice * (1 - l_discount)."""
    return _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))


_SQL_DISC_PRICE = ("CAST(l_extendedprice AS DECIMAL(18,2))"
                   " * (1 - CAST(l_discount AS DECIMAL(18,2)))")


# ------------------------------------------------- derived partsupp --
#
# The driver's schema has no partsupp table, but Q2/Q11/Q16/Q20 are
# the only classic shapes it blocks — so partsupp is DERIVED, by pure
# integer arithmetic, identically in Spark and the oracle: each part
# gets 4 suppliers ((p_partkey*7 + i*13) mod |supplier|; s_suppkey is
# 0..n-1 at every SF, and 13i mod n is distinct for i<4 at n ∈
# {10,100,1000}), supplycost is exact cents built straight into
# DECIMAL, availqty a bounded integer hash.  No floats, no RNG — the
# derived relation is bit-identical on both engines at any SF.

def _partsupp(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select("p_partkey")
    n = _t(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("n_supp"))
    base = (p.crossJoin(F.broadcast(n))
             .select("p_partkey",
                     F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
                     "n_supp"))
    sk = (F.col("p_partkey") * 7 + F.col("i") * 13) % F.col("n_supp")
    cents = (F.col("p_partkey") * 31 + sk * 17) % 9000 + 10000
    qty = (F.col("p_partkey") * 13 + sk * 19) % 9999 + 1
    return base.select(
        "p_partkey",
        sk.cast("bigint").alias("ps_suppkey"),
        (cents.cast("decimal(18,2)")
         * F.lit(0.01).cast("decimal(2,2)")).alias("ps_supplycost"),
        qty.cast("int").alias("ps_availqty"))


_PS_SQL = """ps AS (
  SELECT p_partkey,
         CAST((p_partkey*7 + u.i*13) % ns.n AS BIGINT) AS ps_suppkey,
         CAST((p_partkey*31 + ((p_partkey*7 + u.i*13) % ns.n)*17) % 9000
              + 10000 AS DECIMAL(18,2)) * CAST(0.01 AS DECIMAL(2,2))
           AS ps_supplycost,
         CAST((p_partkey*13 + ((p_partkey*7 + u.i*13) % ns.n)*19) % 9999
              + 1 AS INT) AS ps_availqty
  FROM part, (SELECT COUNT(*) AS n FROM supplier) ns,
       UNNEST([0, 1, 2, 3]) AS u(i))"""


# ----------------------------------------------------------------- Q2 --

def q_tpch_q2(spark, sf_dir):
    """Q2 min-cost-supplier shape: region-restricted correlated MIN,
    decorrelated as aggregate-then-rejoin on (part, exact decimal
    cost).  nation/region broadcast; the min aggregate reduces the
    ps×supplier join before the equality rejoin."""
    ps = _partsupp(spark, sf_dir)
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    eu = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
           .join(F.broadcast(r.select("r_regionkey")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    p = (_t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
         .select(F.col("p_partkey").alias("pk"), "p_brand"))
    px = (ps.join(eu, ps.ps_suppkey == F.col("s_suppkey"))
            .join(p, ps.p_partkey == F.col("pk")))
    mn = px.groupBy(F.col("p_partkey").alias("mp")).agg(
        F.min("ps_supplycost").alias("min_cost"))
    return (px.join(mn, (px.p_partkey == mn.mp)
                    & (px.ps_supplycost == mn.min_cost))
              .select("s_acctbal", "s_name", "n_name", "p_partkey",
                      "p_brand",
                      F.col("ps_supplycost").cast("double")
                       .alias("supplycost"))
              .orderBy(F.desc("s_acctbal"), "n_name", "s_name",
                       "p_partkey")
              .limit(100))


SQL_TPCH_Q2 = f"""
WITH {_PS_SQL},
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
px AS (
  SELECT s_acctbal, s_name, n_name, ps.p_partkey, p_brand, ps_supplycost
  FROM ps
  JOIN eu   ON ps_suppkey = s_suppkey
  JOIN part ON ps.p_partkey = part.p_partkey
  WHERE p_size = 15)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(ps_supplycost AS DOUBLE) AS supplycost
FROM px
WHERE ps_supplycost = (SELECT MIN(ps_supplycost) FROM px px2
                       WHERE px2.p_partkey = px.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# ---------------------------------------------------------------- Q11 --

def q_tpch_q11(spark, sf_dir):
    """Q11 value-concentration shape: per-part stock value for one
    nation's suppliers, HAVING above a fraction of the total — the
    scalar-subquery threshold decorrelates to a one-row aggregate
    broadcast over the grouped values.  All value math is exact
    decimal; only the output casts to double."""
    ps = _partsupp(spark, sf_dir)
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    s = _t(spark, sf_dir, "supplier")
    nat_supp = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
                 .select("s_suppkey"))
    psn = ps.join(nat_supp, ps.ps_suppkey == F.col("s_suppkey"))
    value = (F.col("ps_supplycost")
             * F.col("ps_availqty").cast("decimal(18,0)"))
    per_part = psn.groupBy("p_partkey").agg(F.sum(value).alias("val"))
    total = psn.agg((F.sum(value)
                     * F.lit(0.002).cast("decimal(4,4)")).alias("thresh"))
    return (per_part.join(F.broadcast(total))
            .filter(F.col("val") > F.col("thresh"))
            .select("p_partkey", F.col("val").cast("double").alias("value"))
            .orderBy(F.desc("value"), "p_partkey"))


SQL_TPCH_Q11 = f"""
WITH {_PS_SQL},
psn AS (
  SELECT ps.* FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_4')
SELECT p_partkey,
       CAST(SUM(ps_supplycost * CAST(ps_availqty AS DECIMAL(18,0)))
            AS DOUBLE) AS value
FROM psn
GROUP BY p_partkey
HAVING SUM(ps_supplycost * CAST(ps_availqty AS DECIMAL(18,0))) > (
  SELECT SUM(ps_supplycost * CAST(ps_availqty AS DECIMAL(18,0)))
         * CAST(0.002 AS DECIMAL(4,4))
  FROM psn)
ORDER BY value DESC, p_partkey
"""


# ---------------------------------------------------------------- Q16 --

def q_tpch_q16(spark, sf_dir):
    """Q16 supplier-count shape: negated part predicates + supplier
    exclusion subquery (→ left-anti) + COUNT(DISTINCT).  The classic
    'complaints' exclusion adapts to negative account balance."""
    ps = _partsupp(spark, sf_dir)
    p = (_t(spark, sf_dir, "part")
         .filter((F.col("p_brand") != "Brand#13")
                 & (F.col("p_type") != "PROMO")
                 & F.col("p_size").isin(1, 4, 9, 16, 25, 36))
         .select(F.col("p_partkey").alias("pk"), "p_brand", "p_type",
                 "p_size"))
    bad = (_t(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    return (ps.join(p, ps.p_partkey == F.col("pk"))
              .join(bad, ps.ps_suppkey == F.col("s_suppkey"), "left_anti")
              .groupBy("p_brand", "p_type", "p_size")
              .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
              .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type",
                       "p_size"))


SQL_TPCH_Q16 = f"""
WITH {_PS_SQL}
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM ps
JOIN part ON ps.p_partkey = part.p_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                         WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------- Q20 --

def q_tpch_q20(spark, sf_dir):
    """Q20 excess-stock shape: nested IN/EXISTS chain — suppliers in
    one nation holding more than half a year's shipments of a
    name-matched part.  The correlated shipment sum decorrelates to a
    grouped aggregate joined on (part, supplier); the supplier-level
    membership is a left-semi join."""
    ps = _partsupp(spark, sf_dir)
    red = (_t(spark, sf_dir, "part")
           .filter(F.col("p_name").like("%red%"))
           .select(F.col("p_partkey").alias("pk")))
    shipped = (_t(spark, sf_dir, "lineitem")
               .filter((F.col("l_shipdate").cast("date")
                        >= F.lit("1996-01-01").cast("date"))
                       & (F.col("l_shipdate").cast("date")
                          < F.lit("1997-01-01").cast("date")))
               .groupBy("l_partkey", "l_suppkey")
               .agg((F.lit(0.5) * F.sum("l_quantity")).alias("half_qty")))
    excess = (ps.join(red, ps.p_partkey == F.col("pk"))
                .join(shipped, (ps.p_partkey == F.col("l_partkey"))
                      & (ps.ps_suppkey == F.col("l_suppkey")))
                .filter(F.col("ps_availqty") > F.col("half_qty"))
                .select("ps_suppkey"))
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    s = _t(spark, sf_dir, "supplier")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
             .select("s_suppkey", "s_name")
             .orderBy("s_name"))


SQL_TPCH_Q20 = f"""
WITH {_PS_SQL}
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND EXISTS (
    SELECT 1 FROM ps
    WHERE ps_suppkey = s_suppkey
      AND ps.p_partkey IN (SELECT p_partkey FROM part
                           WHERE p_name LIKE '%red%')
      AND ps_availqty > (
        SELECT 0.5 * SUM(l_quantity) FROM lineitem
        WHERE l_partkey = ps.p_partkey AND l_suppkey = ps.ps_suppkey
          AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'))
ORDER BY s_name
"""


# ----------------------------------------------------------------- Q3 --

def q_tpch_q3(spark, sf_dir):
    """Q3 shipping-priority shape: 3-way fact join, date split across
    the two facts, top-10 by aggregated revenue.

    No join strategy is forced: customer and orders scale with SF, so
    at production size Catalyst's stats plan them as shuffle joins,
    while at test SF the same declarative plan legitimately broadcasts
    the small sides — the property the suite guarantees (plan-shape
    tested) is no nested-loop/cartesian node and filters pushed to the
    scans before any exchange."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1996-03-15").cast("date"))
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1996-03-15").cast("date"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
         .join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"))
         .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
         .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
         .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
         .limit(10)
    )


SQL_TPCH_Q3 = f"""
SELECT l_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1996-03-15'
  AND CAST(l_shipdate AS DATE)  > DATE '1996-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ----------------------------------------------------------------- Q4 --

def q_tpch_q4(spark, sf_dir):
    """Q4 order-priority shape: EXISTS as a left-semi join.  The
    classic late-delivery predicate (commitdate < receiptdate) is
    unavailable; the adaptation keeps the correlated inequality —
    a lineitem shipped >30 days after the order date.

    The semi join is keyed on l_orderkey/o_orderkey (stats pick
    broadcast at toy SF, shuffle at scale); the date window prunes
    orders at the scan."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-10-01").cast("date")))
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate.cast("date") > F.date_add(o.o_orderdate.cast("date"), 30)),
        "left_semi")
    return (late.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("order_count"))
                .orderBy("o_orderpriority"))


SQL_TPCH_Q4 = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ----------------------------------------------------------------- Q6 --

def q_tpch_q6(spark, sf_dir):
    """Q6 forecasting-revenue shape: tight scan + 3 pushed filters +
    scalar aggregate.  Whole plan is scan → partial sum → one-row
    exchange; the archetypal predicate-pushdown benchmark."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter((F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
                 & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
                 & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
                 & (F.col("l_quantity") < 24))
         .agg(F.sum(_dec("l_extendedprice") * _dec("l_discount"))
               .cast("double").alias("revenue"))
    )


SQL_TPCH_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ----------------------------------------------------------------- Q7 --

def q_tpch_q7(spark, sf_dir):
    """Q7 volume-shipping shape: supplier-nation ↔ customer-nation
    pair flow per year.  nation is a fixed 25-row dim → broadcast
    twice under different aliases; the three fact joins shuffle on
    their keys."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") <= F.lit("1997-12-31").cast("date")))
    pair = ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")) | \
           ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
         .join(o, l.l_orderkey == o.o_orderkey)
         .join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
         .filter(pair)
         .groupBy("supp_nation", "cust_nation",
                  F.year(F.col("l_shipdate").cast("date")).alias("l_year"))
         .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
         .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_TPCH_Q7 = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS l_year,
         {_SQL_DISC_PRICE} AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ----------------------------------------------------------------- Q8 --

def q_tpch_q8(spark, sf_dir):
    """Q8 market-share shape: 6-table join, conditional aggregate
    ratio per year.  Share of NATION_3 suppliers in PROMO-type parts
    sold to ASIA customers.

    Numerator and denominator are exact decimal sums; the single
    ratio division happens in double and is rounded — the only
    cross-engine-safe way to emit a ratio of sums."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey"))
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") <= F.lit("1997-12-31").cast("date")))
    l = _t(spark, sf_dir, "lineitem")
    vol = _disc_price()
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast(_D))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
         .join(s, l.l_suppkey == s.s_suppkey)
         .join(o, l.l_orderkey == o.o_orderkey)
         .join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
         .join(F.broadcast(r.select("r_regionkey")),
               F.col("cn_rkey") == F.col("r_regionkey"))
         .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
         .groupBy(F.year(F.col("o_orderdate").cast("date")).alias("o_year"))
         .agg(F.round(F.sum(nation_vol).cast("double")
                      / F.sum(vol).cast("double"), 6).alias("mkt_share"))
         .orderBy("o_year")
    )


SQL_TPCH_Q8 = f"""
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS o_year,
         {_SQL_DISC_PRICE} AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


# ----------------------------------------------------------------- Q9 --

def q_tpch_q9(spark, sf_dir):
    """Q9 product-type-profit shape: 5-table join, profit per supplier
    nation per year.  ps_supplycost does not exist; the adapted cost
    model charges half the part's retail price per unit, keeping the
    two-term profit expression (revenue minus cost) in exact decimal.

    Join strategy is left to Catalyst's size stats: nation always
    broadcasts (fixed 25 rows); part/supplier/orders broadcast at
    test SF and flip to shuffle joins at production SF — same code,
    stats-driven physical choice."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")) \
                                 .select("p_partkey", "p_retailprice")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = _t(spark, sf_dir, "lineitem")
    profit = (_disc_price()
              - _dec("p_retailprice") * F.lit(0.5).cast("decimal(3,2)")
                * _dec("l_quantity"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
         .join(s, l.l_suppkey == s.s_suppkey)
         .join(o, l.l_orderkey == o.o_orderkey)
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .groupBy("nation", F.year(F.col("o_orderdate").cast("date")).alias("o_year"))
         .agg(F.sum(profit).cast("double").alias("sum_profit"))
         .orderBy("nation", F.desc("o_year"))
    )


SQL_TPCH_Q9 = f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS o_year,
         {_SQL_DISC_PRICE}
           - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(3,2))
             * CAST(l_quantity AS DECIMAL(18,2)) AS amount
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------- Q10 --

def q_tpch_q10(spark, sf_dir):
    """Q10 returned-item shape: quarter of 'R'-flag revenue per
    customer, top 20.  The lineitem→orders join shuffles; nation
    broadcasts; customer joins AFTER the per-customer aggregate so
    the join input is already reduced to ≤ |customer| rows."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-10-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date")))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    per_cust = (
        l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey)
         .groupBy("o_custkey")
         .agg(F.sum(_disc_price()).cast("double").alias("revenue")))
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
                .join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
                .select(F.col("c_custkey"), F.col("c_name"), F.col("revenue"),
                        F.col("c_acctbal"), F.col("n_name"))
                .orderBy(F.desc("revenue"), F.asc("c_custkey"))
                .limit(20)
    )


SQL_TPCH_Q10 = f"""
SELECT c_custkey, c_name,
       CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-10-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------- Q12 --

def q_tpch_q12(spark, sf_dir):
    """Q12 shipping-mode shape adapted: l_shipmode does not exist, so
    the grouping key is a derived ship-delay class (days from order
    to ship, bucketed); the two conditional priority counts keep the
    query's signature dual-CASE aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date")))
    delay = F.datediff(F.col("l_shipdate").cast("date"),
                       F.col("o_orderdate").cast("date"))
    klass = (F.when(delay <= 7, "fast")
              .when(delay <= 30, "normal")
              .otherwise("slow"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
         .groupBy(klass.alias("ship_class"))
         .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
              F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"))
         .orderBy("ship_class")
    )


SQL_TPCH_Q12 = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) <= 7  THEN 'fast'
            WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) <= 30 THEN 'normal'
            ELSE 'slow' END AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
GROUP BY ship_class
ORDER BY ship_class
"""


# ---------------------------------------------------------------- Q13 --

def q_tpch_q13(spark, sf_dir):
    """Q13 customer-distribution shape: LEFT OUTER join with an extra
    join-side predicate, two stacked aggregations (orders per
    customer → customers per order-count).  The predicate must live
    in the join condition, not a WHERE, to keep no-order customers."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    joined = c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"), "left")
    return (
        joined.groupBy("c_custkey")
              .agg(F.count("o_orderkey").alias("c_count"))
              .groupBy("c_count")
              .agg(F.count(F.lit(1)).alias("custdist"))
              .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_TPCH_Q13 = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------- Q14 --

def q_tpch_q14(spark, sf_dir):
    """Q14 promotion-effect shape: conditional-sum ratio over one
    month.  p_type='PROMO' is an exact value here (the synthetic
    vocabulary has no 'PROMO%' prefixes)."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-10-01").cast("date")))
    vol = _disc_price()
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast(_D))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
         .agg(F.round(F.lit(100.0) * F.sum(promo).cast("double")
                      / F.sum(vol).cast("double"), 6).alias("promo_revenue"))
    )


SQL_TPCH_Q14 = f"""
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_SQL_DISC_PRICE}
                                   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE), 6) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1997-10-01'
"""


# ---------------------------------------------------------------- Q15 --

def q_tpch_q15(spark, sf_dir):
    """Q15 top-supplier shape: revenue view + 'equal to the max'
    selection.  The max is a one-row scalar aggregate broadcast back
    over the per-supplier rollup — NOT an unpartitioned window, which
    would single-task the (SF-scaling) supplier dimension."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01").cast("date")))
    revenue = (l.groupBy("l_suppkey")
                .agg(F.sum(_disc_price()).cast("double").alias("total_revenue")))
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(top),
                     F.col("total_revenue") == F.col("max_revenue"))
               .join(s, F.col("l_suppkey") == s.s_suppkey)
               .select("s_suppkey", "s_name", "total_revenue")
               .orderBy("s_suppkey")
    )


SQL_TPCH_Q15 = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------- Q17 --

def q_tpch_q17(spark, sf_dir):
    """Q17 small-quantity-order shape: correlated per-part average as
    an aggregate-then-rejoin.  Both engines compute 0.2 * (sum/count)
    with the same IEEE ops on integer-valued quantities, so the
    threshold bits match exactly.

    The per-part avg aggregates lineitem FIRST (map-side partial),
    then rejoins — the correlated subquery never re-scans per row."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13") \
                                 .select("p_partkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    branded = l.join(p, l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice")
    avg_qty = (branded.groupBy(F.col("l_partkey").alias("a_partkey"))
                      .agg((F.lit(0.2) * (F.sum("l_quantity")
                                          / F.count(F.lit(1)))).alias("qty_thresh")))
    return (
        branded.join(avg_qty, branded.l_partkey == F.col("a_partkey"))
               .filter(F.col("l_quantity") < F.col("qty_thresh"))
               .agg(F.round(F.sum(_dec("l_extendedprice")).cast("double")
                            / F.lit(7.0), 6).alias("avg_yearly"))
    )


SQL_TPCH_Q17 = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (
    SELECT 0.2 * (SUM(l_quantity) / COUNT(*))
    FROM lineitem WHERE l_partkey = p_partkey)
"""


# ---------------------------------------------------------------- Q18 --

def q_tpch_q18(spark, sf_dir):
    """Q18 large-volume-customer shape: HAVING on a grouped fact,
    rejoined to its dimensions.  The groupBy reduces lineitem to one
    row per qualifying order BEFORE touching customer/orders, so the
    expensive side of the join is already small."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (l.groupBy("l_orderkey")
            .agg(F.sum("l_quantity").cast("double").alias("sum_qty"))
            .filter(F.col("sum_qty") > 150))
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .select("c_name", "c_custkey", "o_orderkey",
                   F.col("o_orderdate").cast("date").alias("o_orderdate"),
                   "o_totalprice", "sum_qty")
           .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
           .limit(100)
    )


SQL_TPCH_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
HAVING SUM(l_quantity) > 150
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# ---------------------------------------------------------------- Q19 --

def q_tpch_q19(spark, sf_dir):
    """Q19 discounted-revenue shape: disjunctive multi-range predicate
    spanning both join sides.  Catalyst extracts the common l/p join
    key and pushes the per-side conjuncts below the join; the OR of
    brand×quantity×size triples stays as the join filter."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    cond = (
        ((F.col("p_brand") == "Brand#11") & (F.col("p_size").between(1, 5))
         & (F.col("l_quantity").between(1, 11))) |
        ((F.col("p_brand") == "Brand#15") & (F.col("p_size").between(1, 10))
         & (F.col("l_quantity").between(10, 20))) |
        ((F.col("p_brand") == "Brand#18") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(20, 30))))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
         .filter(cond)
         .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


SQL_TPCH_Q19 = f"""
SELECT CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#18' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------- Q21 --

def q_tpch_q21(spark, sf_dir):
    """Q21 waiting-supplier shape: the double-correlated pattern —
    EXISTS (another supplier contributed to the order) AND NOT EXISTS
    (another supplier was ALSO late).  Lateness adapts to shipdate >
    orderdate + 60 days (no commit/receipt dates).

    Compiles to one left-semi plus one left-anti join, both keyed on
    l_orderkey — the correlated subqueries never re-scan per row, and
    at scale all three legs share the same join-key partitioning."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F") \
                                   .select("o_orderkey", "o_orderdate")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    lo = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate").cast("date")
         > F.date_add(F.col("o_orderdate").cast("date"), 60)).alias("late"))
    l1 = lo.filter(F.col("late")).select("l_orderkey", "l_suppkey")
    others = lo.select(F.col("l_orderkey").alias("o2_orderkey"),
                       F.col("l_suppkey").alias("o2_suppkey"))
    others_late = (lo.filter(F.col("late"))
                     .select(F.col("l_orderkey").alias("o3_orderkey"),
                             F.col("l_suppkey").alias("o3_suppkey")))
    multi = l1.join(
        others,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")), "left_semi")
    sole_late = multi.join(
        others_late,
        (F.col("l_orderkey") == F.col("o3_orderkey"))
        & (F.col("l_suppkey") != F.col("o3_suppkey")), "left_anti")
    return (sole_late.join(s, F.col("l_suppkey") == s.s_suppkey)
                     .groupBy("s_name")
                     .agg(F.count(F.lit(1)).alias("numwait"))
                     .orderBy(F.desc("numwait"), F.asc("s_name"))
                     .limit(20))


SQL_TPCH_Q21 = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60 AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F')
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lo l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# ---------------------------------------------------------------- Q22 --

def q_tpch_q22(spark, sf_dir):
    """Q22 global-sales-opportunity shape: scalar subquery threshold +
    NOT EXISTS anti-join.  The phone country code is unavailable; the
    adaptation derives the code from c_nationkey % 10, keeping the
    code-set membership, the positive-balance average, and the
    no-orders anti join.

    The average is ONE double division over an exact decimal sum on
    both engines; the anti join is keyed on custkey alone."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 10).cast("int"))
    in_codes = c.filter(F.col("cntrycode").isin([1, 3, 5, 7]))
    avg_bal = (in_codes.filter(F.col("c_acctbal") > 0.0)
               .agg((F.sum(_dec("c_acctbal")).cast("double")
                     / F.count(F.lit(1))).alias("avg_bal")))
    # Every customer has ≥1 order in the synthetic data, so the
    # classic "no orders at all" anti-join is vacuously empty; the
    # adapted predicate is "never placed an URGENT order" (~13% of
    # customers), keeping the NOT EXISTS shape on a non-empty result.
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"))
    no_orders = in_codes.join(o, in_codes.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.join(F.broadcast(avg_bal))
                 .filter(F.col("c_acctbal") > F.col("avg_bal"))
                 .groupBy("cntrycode")
                 .agg(F.count(F.lit(1)).alias("numcust"),
                      F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"))
                 .orderBy("cntrycode")
    )


SQL_TPCH_Q22 = """
SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (
  SELECT CAST(c_nationkey % 10 AS INTEGER) AS cntrycode, c_acctbal, c_custkey
  FROM customer
  WHERE CAST(c_nationkey % 10 AS INTEGER) IN (1, 3, 5, 7)) cust
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM customer
    WHERE c_acctbal > 0.0
      AND CAST(c_nationkey % 10 AS INTEGER) IN (1, 3, 5, 7))
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
ORDER BY cntrycode
"""


register({
    "pricing_summary":   {"fn": q_pricing_summary,   "sql": SQL_PRICING_SUMMARY},
    "interval_filter":   {"fn": q_interval_filter,   "sql": SQL_INTERVAL_FILTER},
    "combine_join":      {"fn": q_combine_join,      "sql": SQL_COMBINE_JOIN},
    "ordinal_roundtrip": {"fn": q_ordinal_roundtrip, "sql": SQL_ORDINAL_ROUNDTRIP},
    "prediction_dates":  {"fn": q_prediction_dates,  "sql": SQL_PREDICTION_DATES},
    "linear_projection": {"fn": q_linear_projection, "sql": SQL_LINEAR_PROJECTION},
    "split_union":       {"fn": q_split_union,       "sql": SQL_SPLIT_UNION},
    "topk_customers":    {"fn": q_topk_customers,    "sql": SQL_TOPK_CUSTOMERS},
    "revenue_by_nation": {"fn": q_revenue_by_nation, "sql": SQL_REVENUE_BY_NATION},
    "tpch_q2":  {"fn": q_tpch_q2,  "sql": SQL_TPCH_Q2},
    "tpch_q3":  {"fn": q_tpch_q3,  "sql": SQL_TPCH_Q3},
    "tpch_q4":  {"fn": q_tpch_q4,  "sql": SQL_TPCH_Q4},
    "tpch_q6":  {"fn": q_tpch_q6,  "sql": SQL_TPCH_Q6},
    "tpch_q7":  {"fn": q_tpch_q7,  "sql": SQL_TPCH_Q7},
    "tpch_q8":  {"fn": q_tpch_q8,  "sql": SQL_TPCH_Q8},
    "tpch_q9":  {"fn": q_tpch_q9,  "sql": SQL_TPCH_Q9},
    "tpch_q10": {"fn": q_tpch_q10, "sql": SQL_TPCH_Q10},
    "tpch_q11": {"fn": q_tpch_q11, "sql": SQL_TPCH_Q11},
    "tpch_q12": {"fn": q_tpch_q12, "sql": SQL_TPCH_Q12},
    "tpch_q13": {"fn": q_tpch_q13, "sql": SQL_TPCH_Q13},
    "tpch_q14": {"fn": q_tpch_q14, "sql": SQL_TPCH_Q14},
    "tpch_q15": {"fn": q_tpch_q15, "sql": SQL_TPCH_Q15},
    "tpch_q16": {"fn": q_tpch_q16, "sql": SQL_TPCH_Q16},
    "tpch_q17": {"fn": q_tpch_q17, "sql": SQL_TPCH_Q17},
    "tpch_q18": {"fn": q_tpch_q18, "sql": SQL_TPCH_Q18},
    "tpch_q19": {"fn": q_tpch_q19, "sql": SQL_TPCH_Q19},
    "tpch_q20": {"fn": q_tpch_q20, "sql": SQL_TPCH_Q20},
    "tpch_q21": {"fn": q_tpch_q21, "sql": SQL_TPCH_Q21},
    "tpch_q22": {"fn": q_tpch_q22, "sql": SQL_TPCH_Q22},
})
