"""SQL-surface registry entries: the plain-SQL queries over the temp-view
catalog, grouping constructs, set operations, pivots, joins, and the
scalar / array / map / struct / variant function families.

The notes below moved here with the queries they describe; a few
paragraphs describe queries that now live in sibling modules.

Second extension wave: embedding near-dup, BPE-ish token counting,
CUBE, INTERSECT/EXCEPT, PIVOT, and RANGE-frame windows.

Same determinism contract as the rest of the registry: money/quantity
sums in DECIMAL with one final double cast, threshold filters on
unrounded values, every output column aliased identically in Spark
and the DuckDB oracle.

SQL query surface: temp-view catalog + plain-SQL registry queries.

The engine's primary API is the DataFrame registry, but a Spark
engine is also a SQL engine — `register_views` publishes every
fixture table as a temp view (through the same `_t` loaders, so the
events timestamp handling stays consistent), and the queries below
run as `spark.sql(...)` TEXT. They hit the same Catalyst planner as
the DataFrame forms (views are lazy plans, filters/pruning push into
the parquet scans identically), and the driver checks them against
DuckDB oracles like every other registry entry — proving a user can
point BI-style SQL at this engine without touching Python.

The SQL here sticks to the ANSI subset both engines parse, so each
query's oracle is intentionally near-identical text — the check is
then purely about ENGINE semantics (types, aggregation, windows),
not dialect translation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .base import _staging, _t, register, register_views


def q_events_json(spark, sf_dir):
    """Semi-structured projection: JSON field extraction from the
    events props column (JVM-side get_json_object, no UDF)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"))


SQL_EVENTS_JSON = """
SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k FROM events
"""


def q_range_join(spark, sf_dir):
    """Range (interval) join: pairs of events from the same user
    within 10 minutes. Spark side runs the bucketed form — join on
    (user, coarse time bucket)±1 then exact filter — which bounds the
    candidate product at scale; the oracle does the naive theta join."""
    e = _t(spark, sf_dir, "events")
    bucket_us = 10 * 60 * 1_000_000
    base = e.select("event_id", "user_id",
                    F.unix_micros(F.col("ts")).alias("us"))
    left = base.withColumn(
        "bkt", F.explode(F.array(
            F.floor(F.col("us") / bucket_us) - 1,
            F.floor(F.col("us") / bucket_us),
            F.floor(F.col("us") / bucket_us) + 1)))
    right = base.withColumn("bkt", F.floor(F.col("us") / bucket_us))
    a, b = left.alias("a"), right.alias("b")
    return (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                   & (F.col("a.bkt") == F.col("b.bkt"))
                   & (F.col("a.event_id") < F.col("b.event_id"))
                   & (F.abs(F.col("a.us") - F.col("b.us")) <= bucket_us))
            .select(F.col("a.event_id").alias("id_a"),
                    F.col("b.event_id").alias("id_b"),
                    F.col("a.user_id").alias("user_id"))
            .distinct())


SQL_RANGE_JOIN = """
SELECT DISTINCT a.event_id AS id_a, b.event_id AS id_b, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 10*60*1000000
"""


def q_semi_anti(spark, sf_dir):
    """Left-semi + left-anti in one result: customers flagged by
    whether they have any orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
                   .select("c_custkey", F.lit(True).alias("has_orders")))
    without = (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
               .select("c_custkey", F.lit(False).alias("has_orders")))
    return with_orders.unionByName(without)


SQL_SEMI_ANTI = """
SELECT c_custkey, TRUE AS has_orders FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, FALSE AS has_orders FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ------------------------------------------- grouping constructs ----

def q_rollup(spark, sf_dir):
    """ROLLUP over (region, nation) with grouping ids."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
               .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (joined.rollup("r_name", "n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                 .cast("double").alias("total_acctbal"),
                 F.grouping_id().cast("bigint").alias("gid")))


SQL_ROLLUP = """
SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_distinct_agg(spark, sf_dir):
    """Multiple distinct aggregates per group."""
    l = _t(spark, sf_dir, "lineitem")
    return (l.groupBy("l_returnflag")
            .agg(F.countDistinct("l_suppkey").alias("n_suppliers"),
                 F.countDistinct("l_partkey").alias("n_parts"),
                 F.count(F.lit(1)).alias("n_rows")))


SQL_DISTINCT_AGG = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------- CUBE -----

def q_cube_agg(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all 4 grouping sets in one
    pass — Spark plans this as a single expand + hash aggregate, so
    the fact table is scanned once however many sets there are."""
    l = _t(spark, sf_dir, "lineitem")
    return (l.cube("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("sum_qty"),
                 F.grouping_id().cast("bigint").alias("gid")))


SQL_CUBE_AGG = """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ----------------------------------------------- GROUPING SETS -----

def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form CUBE/ROLLUP sugar):
    three chosen sets in one Expand + single hash aggregate — one
    scan regardless of set count."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_li_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                 AS BIGINT) AS gid
        FROM v_li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_linestatus), ())
    """)


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
         AS BIGINT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
"""


# --------------------------------------------- INTERSECT / EXCEPT ---

def q_intersect_except(spark, sf_dir):
    """Customers active in both 1995 and 1996 (INTERSECT) vs only
    1995 (EXCEPT), tagged and unioned. Spark plans both as hash
    left-semi/left-anti joins on the distinct key sets."""
    o = _t(spark, sf_dir, "orders")
    y95 = (o.filter(F.year("o_orderdate") == 1995)
           .select("o_custkey").distinct())
    y96 = (o.filter(F.year("o_orderdate") == 1996)
           .select("o_custkey").distinct())
    both = y95.intersect(y96).select(F.lit("both").alias("tag"), "o_custkey")
    only95 = (y95.subtract(y96)
              .select(F.lit("only_1995").alias("tag"), "o_custkey"))
    return both.unionByName(only95)


SQL_INTERSECT_EXCEPT = """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE year(o_orderdate) = 1995),
     y96 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE year(o_orderdate) = 1996)
SELECT 'both' AS tag, o_custkey
FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
UNION ALL
SELECT 'only_1995' AS tag, o_custkey
FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
"""


# -------------------------------------------------------- PIVOT -----

def q_pivot_agg(spark, sf_dir):
    """Pivot linestatus into columns. The pivot values are declared
    explicitly so the plan is a single-pass conditional aggregation —
    no values-discovery pre-query, mandatory at scale."""
    l = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return (l.groupBy("l_returnflag")
            .pivot("l_linestatus", ["F", "O"])
            .agg(F.sum(qty))
            .select("l_returnflag",
                    F.col("F").cast("double").alias("qty_f"),
                    F.col("O").cast("double").alias("qty_o")))


SQL_PIVOT_AGG = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'F'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
       CAST(SUM(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
FROM lineitem GROUP BY l_returnflag
"""


# ----------------------------------------------- string functions ---

def q_string_funcs(spark, sf_dir):
    """String-function family over customer names: case, substring,
    padding, reverse, char ops, edit distance — all JVM-side."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.lpad("c_name", 22, "#").alias("padded"),
        F.reverse(F.col("c_name")).alias("rev"),
        F.length("c_name").cast("int").alias("len"),
        F.ascii("c_name").alias("first_code"),
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000001"))
        .cast("int").alias("edit_dist"),
        F.translate("c_name", "0", "_").alias("translated"))


SQL_STRING_FUNCS = """
SELECT c_custkey,
       upper(c_name) AS up,
       substr(c_name, 1, 8) AS prefix,
       lpad(c_name, 22, '#') AS padded,
       reverse(c_name) AS rev,
       CAST(length(c_name) AS INT) AS len,
       ascii(c_name) AS first_code,
       CAST(levenshtein(c_name, 'Customer#000000001') AS INT) AS edit_dist,
       replace(c_name, '0', '_') AS translated
FROM customer
"""


# ------------------------------------------------- date functions ---

def q_date_funcs(spark, sf_dir):
    """Date-function family: truncation, month arithmetic (with
    end-of-month clamping), calendar parts, diffs."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.add_months(d, 3).alias("plus3m"),
        F.last_day(d).alias("eom"),
        F.weekday(d).cast("int").alias("wd"),       # 0 = Monday
        F.quarter(d).cast("int").alias("qtr"),
        F.datediff(F.lit("2002-01-01").cast("date"), d)
        .cast("int").alias("days_to_2002"))


SQL_DATE_FUNCS = """
SELECT o_orderkey,
       date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
       last_day(CAST(o_orderdate AS DATE)) AS eom,
       CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INT) AS wd,
       CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
            AS INT) AS days_to_2002
FROM orders
"""


# ------------------------------------------------ array functions ---

def q_array_funcs(spark, sf_dir):
    """Array-function family over the embedding column: indexing,
    slicing, extrema, sort, reverse — all JVM-side, exact element
    values (no float arithmetic).

    The slice/sort/reverse results are array-valued; the driver's
    pandas canonicalization cannot hash list cells (round-1 red), so
    the three arrays are concatenated and pos-exploded into scalar
    (pos, val) rows: pos 0-3 = mid4, 4-8 = sorted5, 9-11 = rev3.
    Values stay exact doubles — no engine-dependent float formatting.
    """
    e = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mid4 = F.slice(v, 3, 4)
    sorted5 = F.sort_array(F.slice(v, 1, 5))
    rev3 = F.reverse(F.slice(v, 1, 3))
    return (e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.element_at(v, 1).alias("first"),
        F.element_at(v, -1).alias("last"),
        F.array_max(v).alias("vmax"),
        F.array_min(v).alias("vmin"),
        F.concat(mid4, sorted5, rev3).alias("arr"))
        .select("vec_id", "dim", "first", "last", "vmax", "vmin",
                F.posexplode("arr").alias("pos", "val"))
        .withColumn("pos", F.col("pos").cast("int")))


SQL_ARRAY_FUNCS = """
WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
s AS (SELECT vec_id,
             CAST(len(v) AS INT) AS dim,
             v[1] AS first,
             v[-1] AS last,
             list_max(v) AS vmax,
             list_min(v) AS vmin,
             list_concat(list_concat(v[3:6], list_sort(v[1:5])),
                         list_reverse(v[1:3])) AS arr
      FROM e)
SELECT vec_id, dim, first, last, vmax, vmin,
       CAST(u.i - 1 AS INT) AS pos, arr[u.i] AS val
FROM s, UNNEST(generate_series(1, len(arr))) AS u(i)
"""


# ------------------------------------------- correlated subquery ----

def q_scalar_subquery(spark, sf_dir):
    """Correlated scalar subqueries (orders above the customer's own
    average) — Catalyst decorrelates these into an aggregate + join;
    no per-row re-execution.

    The above-average predicate is phrased as
    ``price * COUNT(*) > SUM(price)`` — algebraically identical to
    ``price > AVG(price)`` but exact in DECIMAL on both engines
    (AVG would be DECIMAL(22,6) HALF_UP in Spark vs DOUBLE in
    DuckDB, so a price within rounding distance of the average
    could flip membership between engines).
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM v_orders o
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
              (SELECT COUNT(*) FROM v_orders i
               WHERE i.o_custkey = o.o_custkey) >
              (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(18,2)))
               FROM v_orders i WHERE i.o_custkey = o.o_custkey)
    """).withColumn("price", F.col("price").cast("double"))


SQL_SCALAR_SUBQUERY = """
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
FROM orders o
WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
      (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey) >
      (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(18,2)))
       FROM orders i WHERE i.o_custkey = o.o_custkey)
"""


# ------------------------------------------------ lateral explode ---

def q_lateral_explode(spark, sf_dir):
    """Row-generating lateral explode with ordinality (the Generate
    operator): one row per token with its position. Pipelined — no
    shuffle, row multiplication happens inside the scan stage."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")
    return (d.filter(F.col("doc_id") < 100)
            .select("doc_id", F.posexplode(toks).alias("pos", "tok"))
            .withColumn("pos", F.col("pos").cast("int")))


SQL_LATERAL_EXPLODE = """
WITH d AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
           FROM documents WHERE doc_id < 100)
SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, d.toks[u.i] AS tok
FROM d, UNNEST(generate_series(1, len(d.toks))) AS u(i)
"""


# -------------------------------------------------- null handling ---

def q_null_funcs(spark, sf_dir):
    """Null-semantics family: nullif / coalesce / null-safe equality /
    null-aware aggregation, over synthesized nulls (the base tables
    have none)."""
    o = _t(spark, sf_dir, "orders")
    # P-status orders become NULL to exercise the null paths
    st = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return (o.select("o_orderkey", st.alias("st"),
                     F.coalesce(st, F.lit("UNKNOWN")).alias("st_filled"),
                     st.eqNullSafe(F.lit("F")).alias("is_f_safe"))
            .groupBy("st_filled")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count("st").alias("n_nonnull"),
                 F.sum(F.when(F.col("is_f_safe"), 1).otherwise(0))
                 .alias("n_f")))


SQL_NULL_FUNCS = """
WITH x AS (
  SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st,
         coalesce(nullif(o_orderstatus, 'P'), 'UNKNOWN') AS st_filled,
         nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F' AS is_f_safe
  FROM orders)
SELECT st_filled, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(st) AS BIGINT) AS n_nonnull,
       CAST(SUM(CASE WHEN is_f_safe THEN 1 ELSE 0 END) AS BIGINT) AS n_f
FROM x GROUP BY st_filled
"""


# ------------------------------------------------ regex functions ---

# patterns restricted to the Java-regex ∩ RE2 common subset
_RE_NUM = "[0-9]+"
_RE_PUNCT = "[.,;:!?]"


def q_regex_funcs(spark, sf_dir):
    """Regex family: extract, replace, match, count — over document
    text (patterns valid identically in Java regex and RE2)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", _RE_NUM, 0).alias("first_num"),
        F.regexp_replace("text", _RE_PUNCT, "").alias("no_punct"),
        F.col("text").rlike("the [a-z]+ ").alias("has_the_phrase"),
        F.size(F.regexp_extract_all("text", F.lit(_RE_NUM), F.lit(0)))
        .cast("int").alias("n_nums"))


SQL_REGEX_FUNCS = f"""
SELECT doc_id,
       coalesce(regexp_extract(text, '{_RE_NUM}'), '') AS first_num,
       regexp_replace(text, '{_RE_PUNCT}', '', 'g') AS no_punct,
       regexp_matches(text, 'the [a-z]+ ') AS has_the_phrase,
       CAST(len(regexp_extract_all(text, '{_RE_NUM}')) AS INT) AS n_nums
FROM documents
"""


# ------------------------------------------------------- unpivot ---


def q_unpivot(spark, sf_dir):
    """Wide→long reshaping: the four lineitem measures melt into
    (metric, val) rows — Spark's ``unpivot`` (Expand node: one pass,
    4 output rows per input, no shuffle at all)."""
    l = (_t(spark, sf_dir, "lineitem")
         .filter(F.col("l_linenumber") == 1)
         .select("l_orderkey", "l_quantity", "l_extendedprice",
                 "l_discount", "l_tax"))
    return l.unpivot(
        "l_orderkey",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric", "val")


SQL_UNPIVOT = """
UNPIVOT (SELECT l_orderkey, l_quantity, l_extendedprice, l_discount, l_tax
         FROM lineitem WHERE l_linenumber = 1)
ON l_quantity, l_extendedprice, l_discount, l_tax
INTO NAME metric VALUE val
"""


# -------------------------------------------------- struct family --


def q_struct_funcs(spark, sf_dir):
    """Struct assembly → ordered collect → explode back: lineitems
    roll up into a per-order array<struct<ln,qty>> (sorted by line
    number — collect_list alone is order-nondeterministic) and then
    flatten back out.  One shuffle (the groupBy); the explode is a
    Generate node, no further exchange."""
    l = _t(spark, sf_dir, "lineitem")
    per_order = (
        l.groupBy("l_orderkey")
         .agg(F.sort_array(F.collect_list(F.struct(
              F.col("l_linenumber").alias("ln"),
              F.col("l_quantity").alias("qty")))).alias("items")))
    ex = per_order.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        F.explode("items").alias("it"))
    return ex.select("l_orderkey", "n_items",
                     F.col("it.ln").alias("ln"),
                     F.col("it.qty").alias("qty"))


SQL_STRUCT_FUNCS = """
WITH per_order AS (
  SELECT l_orderkey,
         list_sort(list(struct_pack(ln := l_linenumber,
                                    qty := l_quantity))) AS items
  FROM lineitem GROUP BY l_orderkey)
SELECT l_orderkey, CAST(len(items) AS INT) AS n_items,
       u.it.ln AS ln, u.it.qty AS qty
FROM per_order, UNNEST(items) AS u(it)
"""


# ----------------------------------------------------- map family ---


def q_map_funcs(spark, sf_dir):
    """Map-type functions: construction from arrays, hit and miss
    lookups (miss → NULL), cardinality, key listing.  Output stays
    scalar — map VALUES never cross the oracle boundary, because the
    engines serialize maps differently (DuckDB renders a lookup as a
    one-element list; Spark as the element)."""
    o = _t(spark, sf_dir, "orders")
    m = F.map_from_arrays(
        F.array(F.lit("open"), F.lit("total")),
        F.array((F.col("o_orderkey") % 7).cast("double"),
                F.col("o_totalprice")))
    return o.select(
        "o_orderkey",
        F.element_at(m, "total").alias("total_v"),
        F.element_at(m, "missing").alias("missing_v"),
        F.size(m).alias("m_size"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"))


SQL_MAP_FUNCS = """
SELECT o_orderkey,
       (map(['open', 'total'],
            [CAST(o_orderkey % 7 AS DOUBLE), o_totalprice])['total'])[1]
         AS total_v,
       (map(['open', 'total'],
            [CAST(o_orderkey % 7 AS DOUBLE), o_totalprice])['missing'])[1]
         AS missing_v,
       CAST(cardinality(map(['open', 'total'],
            [CAST(o_orderkey % 7 AS DOUBLE), o_totalprice])) AS INT)
         AS m_size,
       array_to_string(map_keys(map(['open', 'total'],
            [CAST(o_orderkey % 7 AS DOUBLE), o_totalprice])), ',')
         AS keys_csv
FROM orders
"""


# --------------------------------------------------- variant type ---


def q_variant_funcs(spark, sf_dir):
    """Spark 4 VARIANT path for semi-structured data: ``parse_json``
    into a variant value, typed extraction with ``try_variant_get``
    (missing paths → NULL, not an error).  Unlike the string-walking
    ``get_json_object`` (see ``events_json``), the variant parses
    ONCE into a binary-encoded form and every extraction reads the
    encoded tree — the right shape when many fields come out of one
    payload at corpus scale."""
    e = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k"),
        F.try_variant_get(v, "$.missing", "int").alias("missing_k"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"))


SQL_VARIANT_FUNCS = """
SELECT event_id,
       CAST(props->>'$.k' AS INTEGER) AS k,
       CAST(props->>'$.missing' AS INTEGER) AS missing_k,
       props->>'$.k' AS k_str
FROM events
"""


# --------------------------------------------------- salted join ----

def q_salted_join(spark, sf_dir):
    """The skew-mitigation join as a query: lineitem (big, salted)
    joined to orders (small, replicated 8×) on the order key, rolled
    up per order priority.  The oracle is the PLAIN join — the salt
    spreads each hot key over 8 reducers without changing a single
    output row, which is exactly the property worth oracle-checking.
    operators/joins.py:39 documents when to reach for this over AQE
    skew splitting."""
    from ..operators.joins import salted_join
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey",
                  (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
                  .cast("bigint").alias("cents")))
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    joined = salted_join(li, o, ["l_orderkey"], n_salts=8)
    return (joined.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 (F.sum("cents").cast("double") / 100).alias("revenue"))
            .orderBy("o_orderpriority"))


SQL_SALTED_JOIN = """
SELECT o.o_orderpriority, COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l.l_extendedprice * 100 AS BIGINT)) AS DOUBLE)
            / 100 AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
"""


# ----------------------------------------------- CSV roundtrip ------

def q_src_csv(spark, sf_dir):
    """CSV source/sink surface: write a projection of orders as
    headered CSV (integer cents — text floats don't round-trip),
    read it back with an explicit schema, and aggregate.  The oracle
    aggregates the parquet directly, so the hash-match proves the
    CSV writer/reader pair is lossless for the typed projection —
    the same write-then-read contract the gzip-JSON object sink
    tests byte-wise (storage.py)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    path = _staging(sf_dir, "csv_orders")
    o.write.mode("overwrite").option("header", True).csv(path)
    back = (spark.read.option("header", True)
            .schema("o_orderkey long, o_orderstatus string, cents long")
            .csv(path))
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum("cents").cast("double") / 100).alias("total"))
            .orderBy("o_orderstatus"))


SQL_SRC_CSV = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS DOUBLE)
            / 100 AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# -------------------------------------------- wide→long melt -------

def q_unpivot_long(spark, sf_dir):
    """Wide→long melt of the per-customer RFM metrics via native
    ``DataFrame.unpivot`` (one Expand node — row-generating
    projection, no join, pipelines into the downstream aggregate),
    then per-metric summary stats.  The relational surface every
    feature store needs for metric-at-a-time processing."""
    o = _t(spark, sf_dir, "orders")
    per_cust = (o.groupBy("o_custkey")
                .agg(F.max(F.datediff(
                        F.to_date("o_orderdate"),
                        F.lit("1970-01-01").cast("date")))
                     .cast("bigint").alias("recency"),
                     F.count(F.lit(1)).alias("frequency"),
                     (F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                      * 100).cast("bigint").alias("monetary")))
    long = per_cust.unpivot(
        ["o_custkey"], ["recency", "frequency", "monetary"],
        "metric", "val")
    return (long.groupBy("metric")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("val").alias("min_val"),
                 F.max("val").alias("max_val"),
                 F.sum("val").alias("sum_val"))
            .orderBy("metric"))


SQL_UNPIVOT_LONG = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
              AS BIGINT) AS recency,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS monetary
  FROM orders GROUP BY o_custkey),
long AS (
  SELECT o_custkey, 'recency' AS metric, recency AS val FROM per_cust
  UNION ALL
  SELECT o_custkey, 'frequency', frequency FROM per_cust
  UNION ALL
  SELECT o_custkey, 'monetary', monetary FROM per_cust)
SELECT metric, COUNT(*) AS n, MIN(val) AS min_val,
       MAX(val) AS max_val, CAST(SUM(val) AS BIGINT) AS sum_val
FROM long GROUP BY metric ORDER BY metric
"""


# ----------------------------------------------- ORC roundtrip -----

def q_src_orc(spark, sf_dir):
    """ORC source/sink surface (the second columnar format Spark
    ships a vectorized reader for): write a typed projection of
    orders — including a DATE column — as ORC, read it back, and
    aggregate.  The oracle aggregates the parquet directly, so the
    hash-match proves the ORC writer/reader pair is lossless for
    integers, strings, and dates (the src_csv contract, columnar
    edition)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.to_date("o_orderdate").alias("odate"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    path = _staging(sf_dir, "orc_orders")
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("odate").alias("first_date"),
                 F.max("odate").alias("last_date"),
                 (F.sum("cents").cast("double") / 100).alias("total"))
            .orderBy("o_orderstatus"))


SQL_SRC_ORC = """
SELECT o_orderstatus, COUNT(*) AS n,
       MIN(CAST(o_orderdate AS DATE)) AS first_date,
       MAX(CAST(o_orderdate AS DATE)) AS last_date,
       CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100 AS DOUBLE)
         AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


SQL_TEXT_REVENUE = """
SELECT n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1.00 AS DECIMAL(18,2))
                   - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def q_sql_text_revenue(spark, sf_dir) -> DataFrame:
    """Revenue-by-nation as PLAIN SQL TEXT over the registered views —
    the same join/agg the DataFrame form (`revenue_by_nation`) plans,
    arriving through the SQL parser instead. Money stays in
    DECIMAL(18,2) until one final double cast (the repo float
    policy)."""
    register_views(spark, sf_dir)
    return spark.sql(SQL_TEXT_REVENUE)


SQL_TEXT_TOPN = """
SELECT *
FROM (SELECT o_custkey,
             o_orderkey,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(o_totalprice
                                              AS DECIMAL(18,2)) DESC,
                                         o_orderkey) AS rn
      FROM orders)
WHERE rn <= 2
"""


def q_sql_text_topn(spark, sf_dir) -> DataFrame:
    """Top-2 orders per customer as SQL text: the windowed top-n
    shape through the SQL parser, DECIMAL ordering with a unique
    tie-break (the determinism rule for every window)."""
    register_views(spark, sf_dir)
    df = spark.sql(SQL_TEXT_TOPN)
    return df.selectExpr("o_custkey", "o_orderkey",
                         "CAST(price AS DOUBLE) AS price", "rn")


register({
    "events_json":       {"fn": q_events_json,       "sql": SQL_EVENTS_JSON},
    "range_join":     {"fn": q_range_join,     "sql": SQL_RANGE_JOIN},
    "semi_anti":      {"fn": q_semi_anti,      "sql": SQL_SEMI_ANTI},
    "rollup":         {"fn": q_rollup,         "sql": SQL_ROLLUP},
    "distinct_agg":   {"fn": q_distinct_agg,   "sql": SQL_DISTINCT_AGG},
    "cube_agg":          {"fn": q_cube_agg,         "sql": SQL_CUBE_AGG},
    "grouping_sets":     {"fn": q_grouping_sets,    "sql": SQL_GROUPING_SETS},
    "intersect_except":  {"fn": q_intersect_except, "sql": SQL_INTERSECT_EXCEPT},
    "pivot_agg":         {"fn": q_pivot_agg,        "sql": SQL_PIVOT_AGG},
    "string_funcs":      {"fn": q_string_funcs,     "sql": SQL_STRING_FUNCS},
    "date_funcs":        {"fn": q_date_funcs,       "sql": SQL_DATE_FUNCS},
    "array_funcs":       {"fn": q_array_funcs,      "sql": SQL_ARRAY_FUNCS},
    "scalar_subquery":   {"fn": q_scalar_subquery,  "sql": SQL_SCALAR_SUBQUERY},
    "lateral_explode":   {"fn": q_lateral_explode,  "sql": SQL_LATERAL_EXPLODE},
    "null_funcs":        {"fn": q_null_funcs,       "sql": SQL_NULL_FUNCS},
    "regex_funcs":       {"fn": q_regex_funcs,      "sql": SQL_REGEX_FUNCS},
    "unpivot":          {"fn": q_unpivot,       "sql": SQL_UNPIVOT},
    "struct_funcs":     {"fn": q_struct_funcs,  "sql": SQL_STRUCT_FUNCS},
    "map_funcs":        {"fn": q_map_funcs,     "sql": SQL_MAP_FUNCS},
    "variant_funcs":    {"fn": q_variant_funcs, "sql": SQL_VARIANT_FUNCS},
    "salted_join":     {"fn": q_salted_join,     "sql": SQL_SALTED_JOIN},
    "src_csv":        {"fn": q_src_csv, "sql": SQL_SRC_CSV},
    "unpivot_long":       {"fn": q_unpivot_long,
                           "sql": SQL_UNPIVOT_LONG},
    "src_orc":            {"fn": q_src_orc, "sql": SQL_SRC_ORC},
    # oracles: the same text (shared ANSI subset)
    "sql_text_revenue": {
        "fn": q_sql_text_revenue,
        "sql": SQL_TEXT_REVENUE},
    "sql_text_topn": {
        "fn": q_sql_text_topn,
        "sql": f"""
SELECT o_custkey, o_orderkey, CAST(price AS DOUBLE) AS price, rn
FROM ({SQL_TEXT_TOPN.strip()})
"""},
})
