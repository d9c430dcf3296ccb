"""Sampling and approximate-sketch registry entries: stratified and
weighted samplers, HLL / CMS / KMV / quantile sketches, and skew and
column profiles.

The notes below moved here with the queries they describe.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.sampling import stratified_sample
from ..operators.sketches import (H48, cms_counters, cms_estimate,
                                  histogram_quantiles, hll_alpha_numerator,
                                  hll_distinct, kmv_set_ops)
from ..operators.stats import label_statistics
from .base import _t, register


def q_label_histogram(spark, sf_dir):
    """A1 ``statistics`` (tile.py:191-212): distinct labels with count
    and pct-of-total via window over the aggregated (tiny) result."""
    e = _t(spark, sf_dir, "embeddings")
    stats = label_statistics(e, "label")
    return stats.select("label", F.col("cnt").alias("cnt"),
                        F.round("pct", 6).alias("pct"))


SQL_LABEL_HISTOGRAM = """
SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS pct
FROM embeddings GROUP BY label
"""


# --------------------------------------------------------------- SM2 --

def q_stratified_sample(spark, sf_dir):
    """SM2 stratified cap/floor sampler (tile.py:228-284) in its
    deterministic mode: per-class budget ceil(target*pct) clipped to
    [min,max], first N per class by key order."""
    e = _t(spark, sf_dir, "embeddings")
    out = stratified_sample(e, "label", target_samples=150, class_min=5,
                            class_max=40, order_col="vec_id")
    return out.select("vec_id", "label")


SQL_STRATIFIED_SAMPLE = """
WITH stats AS (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY label),
tot  AS (SELECT SUM(cnt) AS t FROM stats),
caps AS (SELECT label, LEAST(GREATEST(CEIL(150 * cnt / t), 5), 40) AS cap
         FROM stats, tot),
rn   AS (SELECT vec_id, label,
                ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
         FROM embeddings)
SELECT rn.vec_id, rn.label
FROM rn JOIN caps USING (label)
WHERE rn.rn <= caps.cap
"""


def q_stratified_sample_hash(spark, sf_dir):
    """SM2's at-scale approximate mode, oracle-checkable: per-class
    md5-Bernoulli (keep iff the 48-bit hash prefix clears the class's
    integer budget threshold) — the deterministic twin of the seeded
    ``sampleBy`` path, same no-window no-fact-shuffle shape."""
    from ..operators.sampling import stratified_sample_hash
    e = _t(spark, sf_dir, "embeddings")
    out = stratified_sample_hash(e, "label", "vec_id",
                                 target_samples=150, class_min=5,
                                 class_max=40)
    return out.select("vec_id", "label")


SQL_STRATIFIED_SAMPLE_HASH = f"""
WITH stats AS (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY label),
tot  AS (SELECT SUM(cnt) AS total FROM stats),
caps AS (SELECT label,
                CAST((LEAST(GREATEST((150 * cnt + total - 1) // total, 5), 40)
                      * {2 ** 48}) // cnt AS BIGINT) AS thresh
         FROM stats, tot)
SELECT e.vec_id, e.label
FROM embeddings e JOIN caps USING (label)
WHERE CAST('0x' || substr(md5(e.label || ':' || e.vec_id), 1, 12) AS BIGINT)
      < caps.thresh
"""


# approx_sketches tolerance contract (VERDICT r12 item 7): the
# sketches are DETERMINISTIC functions of the data (hash-based HLL,
# deterministic GK), so their error on a given fixture is fixed — the
# bound below is a real invariant, not a probabilistic hope.  Measured
# worst cases across sf0.001/0.01/0.1: distinct-count relative error
# 1.65×rsd (sf0.1 flag R), median rank offset exactly 1.0 theoretical
# unit (sf0.01, the n/accuracy guarantee boundary) — the multiples
# give ≥ 1.8× headroom while still failing on a broken sketch.
SKETCH_CD_TOL_BP = 600    # |approx−exact| ≤ 600 bp of exact (3 × rsd)
SKETCH_PCT_ACC = 10_000   # percentile_approx accuracy (rank err n/acc)
SKETCH_PCT_TOL = 2        # rank tolerance in n/accuracy units


def q_approx_sketches(spark, sf_dir):
    """Sketch aggregates — the 100 TB substitute for exact distinct
    counts and exact percentiles (one pass, bounded memory, mergeable
    across partitions) — re-registered as an ORACLE-CHECKED
    approximation contract (formerly rows-only): the query emits the
    exact aggregates (hash-pinned by DuckDB) alongside per-group
    booleans asserting the sketch outputs sit inside their documented
    error bounds, computed IN the plan with integer arithmetic:

    - ``orders_ok``: |approx_count_distinct − exact|·10⁴ ≤ exact·600
      (HLL rsd 0.02, 3× tolerance),
    - ``median_ok``: the exact rank interval of the GK-returned
      median value (cnt< , cnt≤ against the cents column) stays
      within ±2 n/accuracy units of n/2 — percentile_approx's own
      rank guarantee with 2× slack.

    The oracle computes the exact side and expects TRUE: a sketch
    that drifts outside its contract hash-mismatches.  Scale shape:
    the sketches and exact counts are one grouped pass; the rank
    check joins the ≤ |flags| medians back for a second grouped pass
    — verification-harness cost, not the production sketch path
    (which is the first aggregate alone)."""
    l = _t(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100) \
        .cast("bigint")
    base = l.select("l_returnflag", "l_orderkey", cents.alias("cents"))
    ap = base.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("a_cd"),
        F.percentile_approx("cents", F.lit(0.5),
                            F.lit(SKETCH_PCT_ACC)).alias("a_med"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.count(F.lit(1)).alias("n_rows"))
    ranks = (base.join(ap.select("l_returnflag", "a_med"),
                       "l_returnflag")
             .groupBy("l_returnflag")
             .agg(F.sum(F.when(F.col("cents") <= F.col("a_med"), 1)
                        .otherwise(0)).alias("cle"),
                  F.sum(F.when(F.col("cents") < F.col("a_med"), 1)
                        .otherwise(0)).alias("clt")))
    half = SKETCH_PCT_ACC // 2
    return (ap.join(ranks, "l_returnflag")
            .select(
                "l_returnflag", "n_rows", "exact_orders",
                (F.abs(F.col("a_cd") - F.col("exact_orders")) * 10_000
                 <= F.col("exact_orders") * SKETCH_CD_TOL_BP)
                .alias("orders_ok"),
                ((F.col("cle") * SKETCH_PCT_ACC
                  >= F.col("n_rows") * (half - SKETCH_PCT_TOL))
                 & (F.col("clt") * SKETCH_PCT_ACC
                    <= F.col("n_rows") * (half + SKETCH_PCT_TOL)))
                .alias("median_ok"))
            .orderBy("l_returnflag"))


SQL_APPROX_SKETCHES = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS orders_ok,
       TRUE AS median_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ------------------------------------------- deterministic sketches -

KMV_K = 256
_H48 = 2 ** 48          # 12 hex digits of md5 as an integer
KMV_SAMPLE_THRESH = 2 ** 45  # 1/8 hash-sample for the median sketch


def q_kmv_sketch(spark, sf_dir):
    """Oracle-checkable sketch twin of ``approx_sketches``: both
    estimators are *deterministic functions of md5*, so Spark and
    DuckDB produce bit-identical doubles —

    - KMV distinct count: the K smallest distinct 48-bit hashes per
      group; estimate (K-1)·2^48 / h_(K) (the classic k-minimum-values
      estimator). Exact when a group has < K distinct keys.
    - hash-sampled median: rank-based (no interpolation arithmetic)
      median of a 1/8 deterministic hash sample.

    The production form at 100 TB is ``approx_sketches`` (HLL/GK are
    one-pass, mergeable, bounded-memory); this query pins the sketch
    *pattern* against the oracle, and its estimates are themselves
    tolerance-tested against exact values in tests/test_sketches.py.
    Scale shapes (round 7): the K smallest hashes come from the
    bucket-pyramid top-k (operators/sketches.k_smallest — only one
    4096th of each group's hash space is ever sorted, vs the old
    row_number window funneling every distinct hash of a 3-value
    group through one task), and the sampled median is read off the
    cum_below prefix pyramid instead of a per-flag rank window over
    the whole 1/8 sample."""
    from ..operators.sketches import k_smallest
    from .analytics import cum_below
    l = _t(spark, sf_dir, "lineitem")
    h = F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")),
                           1, 12), 16, 10).cast("bigint")
    # localCheckpoint: k_smallest consumes its input twice (bucket
    # counts + the rank join) — without the barrier the md5 scan +
    # distinct shuffle execute per consumer.  LAZY (r15, VERDICT
    # item 4): both consumers sit inside the single final action, so
    # blocks persist at first touch there; the r14 eager form paid a
    # blocking materialization job that cost more than the saved
    # re-scan at bench scale (driver 2.8 → 3.7 s) while the plan's
    # scan-reduction (lineitem 7× → 2×) is retained unchanged.
    dist = (l.select("l_returnflag", h.alias("h")).distinct()
            .localCheckpoint(eager=False))
    topk = k_smallest(dist, ["l_returnflag"], "h", KMV_K)
    kmv = (topk.groupBy("l_returnflag")
           .agg(F.max("h").alias("hk"), F.count(F.lit(1)).alias("k"))
           .select("l_returnflag",
                   F.when(F.col("k") < KMV_K, F.col("k").cast("double"))
                   .otherwise(F.lit(float(KMV_K - 1)) * F.lit(float(_H48))
                              / F.col("hk"))
                   .alias("kmv_distinct")))
    hs = F.conv(F.substring(F.md5(F.concat_ws(
        "-", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"))), 1, 12), 16, 10) \
        .cast("bigint")
    # localCheckpoint: the sample feeds the per-flag count AND the
    # cum_below pyramid (which derives three tables from it) — the
    # md5 sample filter re-ran per consumer.  Lazy: see `dist`.
    samp = (l.filter(hs < KMV_SAMPLE_THRESH).select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
        .localCheckpoint(eager=False))
    # median VALUE at rank ceil(n/2) is tie-break-free: the smallest
    # cents value whose cumulative count reaches the rank — read off
    # the prefix pyramid (every window partition ≤1024 rows) instead
    # of ranking the whole per-flag sample in one task
    n_g = samp.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    cum = cum_below(samp, "cents", by=("l_returnflag",))
    med = (cum.join(F.broadcast(n_g), "l_returnflag")
           .filter(F.col("cum_lt") + F.col("c")
                   >= F.ceil(F.col("n") / 2))
           .groupBy("l_returnflag")
           .agg(F.min("v").alias("mc"))
           .select("l_returnflag",
                   (F.col("mc") / 100).cast("double")
                   .alias("sampled_median")))
    return kmv.join(med, "l_returnflag")


SQL_KMV_SKETCH = f"""
WITH d AS (
  SELECT DISTINCT l_returnflag,
         CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 12)
              AS BIGINT) AS h
  FROM lineitem),
r AS (SELECT l_returnflag, h,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
      FROM d),
kmv AS (SELECT l_returnflag, MAX(h) AS hk, COUNT(*) AS k
        FROM r WHERE rn <= {KMV_K} GROUP BY l_returnflag),
kv AS (SELECT l_returnflag,
              CASE WHEN k < {KMV_K} THEN CAST(k AS DOUBLE)
                   ELSE CAST({KMV_K - 1} AS DOUBLE) * CAST({_H48} AS DOUBLE)
                        / hk END AS kmv_distinct
       FROM kmv),
s AS (SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             l_orderkey, l_linenumber
      FROM lineitem
      WHERE CAST('0x' || substr(md5(concat_ws('-',
                  CAST(l_orderkey AS VARCHAR),
                  CAST(l_linenumber AS VARCHAR))), 1, 12) AS BIGINT)
            < {KMV_SAMPLE_THRESH}),
m AS (SELECT l_returnflag, CAST(price AS DOUBLE) AS sampled_median
      FROM (SELECT l_returnflag, price,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                       ORDER BY price, l_orderkey, l_linenumber) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM s)
      WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT))
SELECT kv.l_returnflag, kv.kmv_distinct, m.sampled_median
FROM kv JOIN m ON kv.l_returnflag = m.l_returnflag
"""

# ------------------------------------------------- HyperLogLog ------

HLL_P = 8  # 256 registers: ~6.5% standard error


def q_hll_sketch(spark, sf_dir):
    """Mergeable HLL distinct-order estimate per returnflag beside the
    exact-when-small KMV twin (registry_pipelines.q_kmv_sketch). Two
    map-side-combined shuffles, O(256) state per group — the pattern
    that replaces exact distinct counts at 100 TB (and, because
    registers merge by MAX, the same sketch runs under streaming
    update mode). Accuracy against exact counts is pinned by
    tests/test_ext4.py."""
    l = _t(spark, sf_dir, "lineitem")
    return hll_distinct(l, ["l_returnflag"], "l_orderkey", p=HLL_P)


def _sql_hll_sketch(p: int = HLL_P) -> str:
    m = 1 << p
    rest = 48 - p
    wmod = 1 << rest
    return f"""
WITH h AS (
  SELECT l_returnflag,
         CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 12)
              AS BIGINT) AS h
  FROM lineitem),
r AS (
  SELECT l_returnflag, h // {wmod} AS bucket,
         CASE WHEN h % {wmod} = 0 THEN {rest + 1}
              ELSE {rest + 1} - length(bin(h % {wmod})) END AS rho
  FROM h),
mx AS (SELECT l_returnflag, bucket, MAX(rho) AS mreg
       FROM r GROUP BY l_returnflag, bucket),
a AS (SELECT l_returnflag,
             SUM(CAST(1 AS BIGINT) << (48 - mreg)) AS s,
             COUNT(*) AS nb
      FROM mx GROUP BY l_returnflag)
SELECT l_returnflag,
       {hll_alpha_numerator(p)!r}
         / CAST(s + ({m} - nb) * {H48} AS DOUBLE) AS hll_distinct,
       CAST({m} - nb AS BIGINT) AS zero_buckets
FROM a
"""


# ------------------------------------------- weighted sampling -----

PRIORITY_K = 10


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement per
    language (operators/sampling.priority_sample): longer documents
    (weight = n_chars) are proportionally likelier survivors — the
    quality-weighted subset selection a training-data pipeline runs
    before expensive downstream stages."""
    from ..operators.sampling import priority_sample
    d = _t(spark, sf_dir, "documents")
    return priority_sample(d, "n_chars", "doc_id", PRIORITY_K,
                           group_col="lang")


SQL_WEIGHTED_SAMPLE = f"""
WITH p AS (
  SELECT lang, doc_id, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) // CAST(n_chars AS BIGINT) AS priority
  FROM documents)
SELECT lang, doc_id, n_chars, priority FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY priority, doc_id) AS rn
  FROM p) WHERE rn <= {PRIORITY_K}
"""


# ------------------------------------------ quantile sketch --------

QS_BINS = 256
QS_HI = 131072.0  # covers l_extendedprice's domain at any SF
QS_QUANTILES = (0.5, 0.9, 0.99)


def q_quantile_sketch(spark, sf_dir):
    """Mergeable fixed-bin quantile estimates of l_extendedprice per
    returnflag (operators/sketches.histogram_quantiles) — the
    deterministic, oracle-checkable twin of percentile_approx with
    O(bins) mergeable state (the same merge-by-SUM contract as the
    HLL registers). Accuracy vs exact percentiles is pinned by
    tests/test_ext4.py."""
    l = _t(spark, sf_dir, "lineitem")
    return histogram_quantiles(l, ["l_returnflag"], "l_extendedprice",
                               QS_QUANTILES, n_bins=QS_BINS,
                               lo=0.0, hi=QS_HI, scale=100)


def _sql_quantile_sketch() -> str:
    width = int(QS_HI * 100) // QS_BINS
    qsel, qjoin = [], []
    for q in QS_QUANTILES:
        pct = int(q * 100)
        qsel.append(f"""q{pct} AS (
  SELECT l_returnflag,
         ROUND(CAST(0 + bin * {width}
                    + ({width} * (CAST(CEIL(n * {q}) AS BIGINT)
                                  - cum + c)) / c AS DOUBLE) / 100,
               6) AS q_{pct}
  FROM cum
  WHERE cum >= CAST(CEIL(n * {q}) AS BIGINT)
    AND cum - c < CAST(CEIL(n * {q}) AS BIGINT))""")
        qjoin.append(f"JOIN q{pct} USING (l_returnflag)")
    return f"""
WITH s AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS v
  FROM lineitem),
b AS (
  SELECT l_returnflag,
         LEAST({QS_BINS - 1}, GREATEST(0, v // {width})) AS bin
  FROM s),
bc AS (SELECT l_returnflag, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
cum AS (SELECT l_returnflag, bin, c,
               SUM(c) OVER (PARTITION BY l_returnflag
                            ORDER BY bin) AS cum,
               SUM(c) OVER (PARTITION BY l_returnflag) AS n
        FROM bc),
base AS (SELECT DISTINCT l_returnflag, CAST(n AS BIGINT) AS n FROM cum),
{",".join(qsel)}
SELECT base.l_returnflag, base.n,
       {", ".join(f"q_{int(q * 100)}" for q in QS_QUANTILES)}
FROM base {" ".join(qjoin)}
"""


# ------------------------------------------- count-min sketch -------

CMS_D = 4
CMS_W = 256
CMS_TOPK = 10


def q_cms_topk(spark, sf_dir):
    """Top-10 exact per-user event counts beside their Count-Min
    estimates. The estimate is a deterministic function of md5, so it
    is bit-identical in the oracle; est ≥ exact always (one-sided
    error — property-tested in tests/test_ext5.py). At 100 TB only
    the ≤ d·w-cell grid is ever shuffled (map-side combined), and the
    grid from each day/stream/partition merges by SUM."""
    e = _t(spark, sf_dir, "events")
    counters = cms_counters(e, "user_id", depth=CMS_D, width=CMS_W)
    exact = (e.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("exact_cnt"))
             .orderBy(F.desc("exact_cnt"), "user_id")
             .limit(CMS_TOPK))
    est = cms_estimate(counters, exact, "user_id",
                       depth=CMS_D, width=CMS_W)
    return (exact.join(est, "user_id")
            .select("user_id", "exact_cnt", "cms_est"))


SQL_CMS_TOPK = f"""
WITH js AS (SELECT unnest(range(0, {CMS_D})) AS j),
cells AS (
  SELECT j AS cms_row,
         CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT)
           % {CMS_W} AS cms_col,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events CROSS JOIN js GROUP BY 1, 2),
top AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM events GROUP BY user_id
        ORDER BY exact_cnt DESC, user_id LIMIT {CMS_TOPK}),
probes AS (
  SELECT t.user_id, t.exact_cnt, j.j AS cms_row,
         CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' ||
              CAST(t.user_id AS VARCHAR)), 1, 12) AS BIGINT)
           % {CMS_W} AS cms_col
  FROM top t CROSS JOIN js j)
SELECT p.user_id, p.exact_cnt,
       MIN(COALESCE(c.c, 0)) AS cms_est
FROM probes p LEFT JOIN cells c
  ON p.cms_row = c.cms_row AND p.cms_col = c.cms_col
GROUP BY p.user_id, p.exact_cnt
"""

# ------------------------------------------- KMV set algebra --------

KMV_SET_K = 64


def q_kmv_set_ops(spark, sf_dir):
    """Cardinality algebra between the 'A'-returnflag and
    'N'-returnflag orderkey sets: per-set KMV estimates, the merged
    union sketch, and the sketch-Jaccard intersection estimate.
    Estimator accuracy vs exact counts is tolerance-tested in
    tests/test_ext5.py; THIS query pins the sketch math bit-exactly
    against the oracle."""
    l = _t(spark, sf_dir, "lineitem")
    return kmv_set_ops(l.filter(F.col("l_returnflag").isin("A", "N")),
                       "l_orderkey", F.col("l_returnflag") == "A",
                       k=KMV_SET_K)


_KMV_NUM = repr(float((KMV_SET_K - 1) * H48))

SQL_KMV_SET_OPS = f"""
WITH h AS (
  SELECT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 12)
              AS BIGINT) AS h,
         MAX(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS a,
         MAX(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS b
  FROM lineitem WHERE l_returnflag IN ('A', 'N') GROUP BY 1),
ska AS (SELECT h FROM h WHERE a = 1 ORDER BY h LIMIT {KMV_SET_K}),
skb AS (SELECT h FROM h WHERE b = 1 ORDER BY h LIMIT {KMV_SET_K}),
ea AS (SELECT CASE WHEN COUNT(*) < {KMV_SET_K}
              THEN CAST(COUNT(*) AS DOUBLE)
              ELSE {_KMV_NUM} / MAX(h) END AS a_est FROM ska),
eb AS (SELECT CASE WHEN COUNT(*) < {KMV_SET_K}
              THEN CAST(COUNT(*) AS DOUBLE)
              ELSE {_KMV_NUM} / MAX(h) END AS b_est FROM skb),
mrg AS (SELECT h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
          SELECT h, 1 AS ia, 0 AS ib FROM ska
          UNION ALL SELECT h, 0 AS ia, 1 AS ib FROM skb)
        GROUP BY h ORDER BY h LIMIT {KMV_SET_K}),
ue AS (SELECT CASE WHEN COUNT(*) < {KMV_SET_K}
              THEN CAST(COUNT(*) AS DOUBLE)
              ELSE {_KMV_NUM} / MAX(h) END AS union_est,
              SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) * 1.0
                / COUNT(*) AS jaccard_est
       FROM mrg)
SELECT a_est, b_est, union_est, jaccard_est,
       jaccard_est * union_est AS intersect_est
FROM ea, eb, ue
"""

# ------------------------------------------- data profiling ---------

PROFILE_COLS = ["o_orderkey", "o_custkey", "o_totalprice",
                "o_orderdate", "o_orderpriority"]


def q_profile_table(spark, sf_dir):
    """One-pass table profiler over orders: per column, row/null/
    distinct counts and min/max (stringified — one schema for every
    type). ONE aggregate computes all columns' stats (Catalyst plans
    multi-distinct via Expand — a single scan), then `stack` unpivots
    to (column, metric…) rows. At 100 TB swap the exact distinct for
    the HLL sketch twin (`hll_sketch`); everything else is the same
    one-pass shape.  The profiled columns are ``_spread`` before the
    aggregate: the multi-distinct Expand (×|cols|) otherwise runs
    entirely inside a single-task bench scan; at production split
    counts the spread is a no-op."""
    from ..llm.dedup import _spread
    o = _spread(_t(spark, sf_dir, "orders").select(*PROFILE_COLS))
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in PROFILE_COLS)
    return wide.select(F.expr(
        f"stack({len(PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_str, max_str)"))


def _sql_profile_table() -> str:
    parts = [f"""
SELECT '{c}' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_str,
       MAX(CAST({c} AS VARCHAR)) AS max_str
FROM orders""" for c in PROFILE_COLS]
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------- skew profile --

SKEW_TOPK = 10


def q_skew_profile(spark, sf_dir):
    """Key-skew diagnostics for a prospective join key
    (lineitem.l_suppkey): the hottest keys with exact counts and
    permille share, plus the corpus-level skew ratio
    (max/mean, scaled ×1000 integer).  Shape: one map-side-combined
    count per key, a tiny all-keys rollup broadcast back, TakeOrdered
    for the hot list — the fact table is scanned once and never
    re-shuffled."""
    li = _t(spark, sf_dir, "lineitem")
    per_key = (li.groupBy("l_suppkey")
               .agg(F.count(F.lit(1)).alias("cnt")))
    totals = per_key.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"))
    return (per_key.crossJoin(F.broadcast(totals))
            .select("l_suppkey", "cnt",
                    F.expr("cnt * 1000 div n_rows").alias("permille"),
                    F.expr("max_cnt * n_keys * 1000 div n_rows")
                    .alias("skew_x1000"))
            .orderBy(F.desc("cnt"), "l_suppkey")
            .limit(SKEW_TOPK))


SQL_SKEW_PROFILE = f"""
WITH per_key AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey),
totals AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
         MAX(cnt) AS max_cnt
  FROM per_key)
SELECT l_suppkey, cnt,
       cnt * 1000 // n_rows AS permille,
       max_cnt * n_keys * 1000 // n_rows AS skew_x1000
FROM per_key CROSS JOIN totals
ORDER BY cnt DESC, l_suppkey
LIMIT {SKEW_TOPK}
"""

# ------------------------------------------ split distinct ----------

SPLIT_BUCKETS = 32


def q_skew_distinct_split(spark, sf_dir):
    """COUNT(DISTINCT supplier) per returnflag via the two-stage
    BUCKET SPLIT — the standard skew rewrite for exact distinct
    aggregation: stage 1 groups by (key, value-hash-bucket) and
    distinct-counts WITHIN each bucket; stage 2 SUMS the partials,
    which is exact because the buckets partition the value space.
    At 10^12 rows a plain per-key distinct funnels each hot key's
    whole value set through one reducer; the split bounds every
    reducer at 1/SPLIT_BUCKETS of a key's values while adding only a
    (key × bucket)-sized second stage.  The oracle is the PLAIN
    COUNT(DISTINCT) — pinning that the rewrite changes the plan, not
    the answer."""
    li = _t(spark, sf_dir, "lineitem")
    stage1 = (li.groupBy(
        "l_returnflag",
        (F.col("l_suppkey") % SPLIT_BUCKETS).alias("__b"))
        .agg(F.count_distinct("l_suppkey").alias("__d")))
    return (stage1.groupBy("l_returnflag")
            .agg(F.sum("__d").alias("n_suppliers"))
            .orderBy("l_returnflag"))


SQL_SKEW_DISTINCT_SPLIT = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


register({
    "label_histogram":   {"fn": q_label_histogram,   "sql": SQL_LABEL_HISTOGRAM},
    "stratified_sample": {"fn": q_stratified_sample, "sql": SQL_STRATIFIED_SAMPLE},
    "stratified_sample_hash": {"fn": q_stratified_sample_hash,
                               "sql": SQL_STRATIFIED_SAMPLE_HASH},
    "approx_sketches":      {"fn": q_approx_sketches,
                             "sql": SQL_APPROX_SKETCHES},
    "kmv_sketch":           {"fn": q_kmv_sketch,           "sql": SQL_KMV_SKETCH},
    "hll_sketch":       {"fn": q_hll_sketch, "sql": _sql_hll_sketch()},
    "weighted_sample":  {"fn": q_weighted_sample,
                         "sql": SQL_WEIGHTED_SAMPLE},
    "quantile_sketch":  {"fn": q_quantile_sketch,
                         "sql": _sql_quantile_sketch()},
    "cms_topk":           {"fn": q_cms_topk, "sql": SQL_CMS_TOPK},
    "kmv_set_ops":        {"fn": q_kmv_set_ops,
                           "sql": SQL_KMV_SET_OPS},
    "profile_table":      {"fn": q_profile_table,
                           "sql": _sql_profile_table()},
    "skew_profile":      {"fn": q_skew_profile,   "sql": SQL_SKEW_PROFILE},
    "skew_distinct_split": {"fn": q_skew_distinct_split,
                            "sql": SQL_SKEW_DISTINCT_SPLIT},
})
