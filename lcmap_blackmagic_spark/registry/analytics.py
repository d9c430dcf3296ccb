"""Window, quantile and time-series analytics, statistics and
evaluation-metric registry entries: sessionization, ranks and running
sums, at-scale quantile buckets (``cum_below`` / ``bucketize``),
rolling scores, funnels and cohorts, hypothesis tests, and the
``eval_*`` ranking/calibration metrics.

The notes below moved here with the queries they describe; a few
paragraphs describe queries that now live in sibling modules.

Extended operator coverage: window functions, join families, and
grouping constructs beyond the reference's own surface (SURVEY §2.3
notes the reference has exactly one join and no windows — a Spark
engine carries the full families; these queries pin their semantics
against the oracle).

Determinism: window orderings always include a unique tie-break
column; money sums go through DECIMAL; time math uses microsecond
integers.

Fourth extension wave — reshaping, time-series, analytics, and
data-engineering shapes: unpivot, struct assembly/disassembly,
time-grid gap fill with forward fill, hashing-trick feature buckets,
repetition ratio, conversion funnel, map functions, histogram
binning, benchmark decontamination, snapshot reconciliation diff,
SCD2 interval builder, Spark 4 VARIANT extraction, cohort retention,
and event transition counts.

Same determinism contract as the rest of the registry: money/value
sums in DECIMAL with one final double cast, hash buckets via md5
digest slices (identical hex in both engines), every collected list
sorted by a unique key before use.  Events-table time bucketing is
epoch-day/epoch-micros arithmetic, never session-timezone-dependent
string casts or date_trunc (two live TZ bugs found by the
America/Chicago verify probe — see the verify skill's gotchas).

Sixth extension wave — round-5 session-2 operators:

- ``llm_jaccard_prefix``: EXACT set-similarity self-join via prefix
  filtering (AllPairs/PPJoin family) — the lossless scale technique
  beside LSH banding and blocked brute force (llm/dedup.py),
- ``cms_topk``: Count-Min sketch frequency estimates beside exact
  heavy-hitter counts — the mergeable per-key-frequency twin of the
  HLL registers (operators/sketches.py),
- ``kmv_set_ops``: union / intersection / Jaccard cardinality
  estimates from K-minimum-values sketch algebra,
- ``funnel_steps``: ordered-event funnel conversion (signup →
  click → purchase) over the event stream,
- ``mad_outliers``: robust per-group outlier flags via median
  absolute deviation, in integer-cent arithmetic.

Same determinism contract as the rest of the registry (registry.py
docstring): md5 48-bit integer hashes, integer math until a final
division, money through DECIMAL cents, no rounding of raw doubles.

Seventh extension wave — round-5 session-3 operators.

Two families the training-data story was still missing:

**Model evaluation** (the metrics a training pipeline computes after
``ml/train.py`` fits anything — the reference's only metric is the
xgboost eval round, blackmagic/blueprints/tile.py:287-331):

- ``eval_auc``: grouped ROC-AUC via the rank-sum (Mann-Whitney U)
  identity, tie-corrected with average ranks — all-integer until the
  single final division,
- ``eval_confusion``: per-class confusion counts + precision /
  recall / F1, each ratio one integer division,
- ``eval_calibration``: reliability bins (predicted-probability
  deciles vs observed positive rate) with per-bin |gap|.

**Information retrieval** (corpus-side text search beside the
TF-IDF / rarity scores in llm/text.py):

- ``bm25_topk``: Okapi BM25 (k1=1.2, b=0.75) of a fixed query
  against the documents corpus, top-k by ROUNDED score so the float
  tail can never reorder the cut,
- ``inverted_index``: term -> (df, sorted postings list) — the
  string-serialized form the oracle comparator can hash,
- ``pmi_bigrams``: top adjacent-word collocations ranked by a
  scaled integer PMI ratio (log-free: monotone in PMI, exact in
  int64 up to ~sf10 corpora).

Determinism contract is the registry-wide one (registry.py): md5
48-bit hashes for pseudo-randomness, integer math until one final
division, ROUND(x, 6) on every emitted double, identical expression
shape (and evaluation order) in the Spark plan and the DuckDB SQL.

Eighth extension wave — training-pipeline utilities:

- ``kfold_split``: deterministic hash k-fold assignment (the
  cross-validation twin of SM3's train_test_split,
  operators/sampling.py:139) with per-fold balance stats,
- ``kmeans_assign``: the k-means ASSIGN step against fixed
  centroids — nearest-centroid cells over the embedding table with
  bit-exact unrolled distances (the iterative trainer lives in
  llm/similarity.py ``ivf_ann_topk``; this is its oracle-checkable
  single step),
- ``salted_join``: the skew-mitigation join (operators/joins.py:39)
  exposed as a registry query — the oracle is the PLAIN join, which
  is the whole point: salting must not change the answer,
- ``dedup_reps``: cluster-representative selection — one survivor
  per near-duplicate component (largest text, then smallest id), the
  step that turns dedup_groups output into a cleaned corpus,
- ``ewma_smooth``: truncated exponentially-weighted moving average
  per user over the event stream — dyadic weights (2^-1 .. 2^-8)
  keep every product exact, so both engines produce bit-identical
  doubles with no rounding at all,
- ``quality_deciles``: percent-rank bucketing of a quality score
  into deciles with per-bucket stats — the "keep the top-N% of the
  corpus" curation cut.

Determinism contract as registry.py: md5 48-bit hashes, integer math
until a final division, identical expression order both engines.

Ninth extension wave — ops tooling + embedding transforms:

- ``skew_profile``: join-key skew diagnostics (the thing you run
  BEFORE deciding between AQE skew-split, salting, and broadcast —
  SCALE.md's partitioning backbone assumes someone measured this),
- ``random_projection``: Johnson-Lindenstrauss ±1 sign projection
  64 → 8 dims — sign matrix derived from md5 at PLAN BUILD time and
  embedded as literals in both engines, unrolled fixed-order sums so
  the doubles are bit-identical,
- ``kmeans_update``: the k-means M-STEP on top of the assign step
  (registry_ext7.q_kmeans_assign): per-cell counts + new centroid
  means for the leading dims, in floor-scaled integer sums so the
  mean is order-free and exact,
- ``attribution``: last-touch marketing attribution — each purchase
  credits the campaign of the most recent preceding click/view by
  the same user (carry-forward via last(..., ignorenulls) — one
  user-partition window, no self-join).

Determinism contract as registry.py.

Tenth extension wave — statistics & ranking evaluation:

- ``eval_ndcg``: NDCG@10 of the BM25 ranking against deterministic
  md5 relevance grades — the ranking-quality metric beside the
  classification metrics in registry_ext6; log2 discounts enter as
  build-time literals so both engines multiply identical doubles,
- ``bootstrap_ci``: percentile bootstrap of the mean via
  DETERMINISTIC Poisson(1) resample weights (inverse-CDF on the md5
  permille — integer thresholds, no RNG state): B=32 replicate
  means from integer-cent sums, exact to the final division; the
  one-pass weighted form of the classic resampling loop,
- ``ab_ttest``: Welch's t-test between two hash-assigned arms —
  integer-cent moment sums (order-free exact), one closed-form
  float expression per group pair at the end.

Determinism contract as registry.py: md5 48-bit hashes, integer
sums, ROUND(·, 6) on emitted floats, identical expression order.

Eleventh extension wave — at-scale quantile bucketing.

``quality_deciles`` / ``rfm_scores`` (registry_ext7/8) rank with a
global ``ntile`` — a single-partition sort that is fine as an oracle
twin but a straight OOM at 10^12 rows.  This wave adds their
``_bp`` (breakpoint) twins: EXACT value-threshold bucketing computed
from per-value counts with a three-level distributed prefix sum, so
the physical plan contains

- no unpartitioned WindowExec at all (the audit bans them),
- no global sort — every join is equi-shaped except one
  BroadcastNestedLoopJoin over the level-2 group totals, whose row
  count is bounded by value_domain / 2^20, not by table size.

Semantics differ from ``ntile`` only on ties: all rows sharing a
value land in the same bucket (bucket = floor(nb * count_below / N)
+ 1), which is the bucketing every at-scale system actually ships
(tied keys cannot be split deterministically without a total-order
sort).  Both engines compute the identical integer formula, so the
oracles are exact, not approximate.

Values must be non-negative integers (epoch days, counts, cents,
char counts) so Spark ``div`` and DuckDB ``//`` agree; every metric
here is.

Twelfth extension wave — training-data mixing, streamed anomaly
flags, and the remaining relational surface a curation pipeline
leans on:

- ``source_mix_weights``: temperature-sampling mixture weights per
  corpus source (w_s ∝ n_s^0.5, the data-mixing rule used for
  multi-source LM training sets) with planned per-source sample
  counts — sqrt is integer-scaled (floor(sqrt·2^20)) so the
  normalizing sum is order-free across engines,
- ``class_weights``: inverse-frequency class weights
  N/(K·n_c) over the language label — the loss-weighting table a
  trainer broadcasts,
- ``rolling_zscore``: per-type rolling-window anomaly flags over the
  event stream — mean/variance from integer-cent sums over the
  trailing 32 rows, the 3σ test cross-multiplied to ONE integer
  comparison ((n·x−S)² > 9(n·Q−S²)) so no sqrt/float enters,
- ``group_median_bp``: EXACT per-group median without any sort —
  the grouped form of the registry_ext10 prefix-sum pyramid (every
  level equi-shaped once a group key exists),
- ``mode_per_group``: most-frequent value per group with a
  deterministic (count desc, value asc) tie-break,
- ``unpivot_long``: wide→long melt of the per-customer RFM metrics
  via native ``DataFrame.unpivot`` (one Expand, no join),
- ``doc_length_hist``: power-of-two document-length histogram —
  floor(log2) via binary-string length, no floating log,
- ``dup_ratio_by_source``: exact-duplicate share per source from a
  distinct-md5 count.

Determinism contract as registry.py: integer math until one final
division, ROUND(·, 6) on emitted doubles, md5 as the only hash.

Thirteenth extension wave — scale-safe twins for the
low-cardinality-partition window family (round-6 verdict, "What's
wrong #1").

``rank_ratios`` and ``rolling_zscore`` (registry_ext11) are
oracle-exact but window over partition keys with ~5 distinct values
(o_orderpriority / event_type): at 10^12 rows each window partition
is ~2x10^11 rows sorted in ONE task — the global-ntile trap with a
constant factor of 5.  This wave ships their at-scale twins; the
originals stay as parity forms (the quality_deciles/_bp
arrangement):

- ``rank_ratios_bp``: percent_rank / cume_dist as EXACT integer
  rationals from the registry_ext10 prefix-sum pyramid —
  pct_rank = cum_lt/(N-1), cume = (cum_lt+c)/N per distinct value,
  tie-collapsed (ORDER BY cents alone), which is precisely the
  standard SQL definition of both functions under ties.  The
  oracle is DuckDB's NATIVE percent_rank()/cume_dist() window — a
  genuinely independent implementation — and matches bit-exactly
  because both sides perform the same two integer-to-double
  divisions (operands < 2^53, IEEE division is correctly rounded).
  No window partition in the plan exceeds 1024 rows.

- ``rolling_zscore_bp``: the trailing-32-row 3-sigma flags re-keyed
  by (event_type, epoch_day) with an EXACT cross-day carry, so the
  biggest window partition is one day's volume for one type — the
  honest streaming-scale bound — instead of a whole type's history.
  The construction (all auxiliary steps are day-level or <=1024-row
  partitions):

    1. candidates  = last <=32 rows of each active (type, day)
       (row_number over the composite key, partition = one day);
    2. active days get a per-type index (window over the DAY-LEVEL
       table: #days rows per type, independent of row count);
    3. each candidate is exploded into the next 32 ACTIVE day
       indexes (array explode — no join blowup, day-level volume
       x32x32) and equi-joined back to real target days;
    4. per target day, carries are truncated to the top 32 by
       (t_us, event_id) desc (partition <= 32x32 = 1024 rows);
    5. carries (flagged) union the day's own rows; the trailing
       frame runs within (type, day) and carry rows are dropped
       from the output.

  EXACTNESS: the global trailing-32 of any row lives entirely in
  the carried top-32-of-prefix plus same-day predecessors.  Proof
  sketch: a prefix row >32 active days back is dominated by >=1 row
  from each of the 32 newer active days; within its own day a
  prefix row outside the day's last-32 is dominated by 32 same-day
  rows.  So the carry superset contains the true top-32 of the
  prefix, truncation keeps exactly it, and the (-32,-1) frame over
  [carries, day rows] reproduces the global frame row-for-row —
  which is why the ORACLE is the naive global-window SQL verbatim
  (SQL_ROLLING_ZSCORE), not a mirror of this construction.

Reference anchor: the ranking family feeds SURVEY §2.5's window
build (A1 pct-of-total pattern); the anomaly flags are the batch
twin of streaming/jobs.py zscore_stream.

Twentieth extension wave (round 12, session 2) — generation-eval
and table-format history surfaces, each under the correctness gate:

- ``eval_rouge_n``: ROUGE-2 (Lin 2004) between candidate documents
  and their deterministically paired references — CLIPPED bigram
  overlap (per-gram min of candidate/reference counts, the actual
  ROUGE-N definition, not plain intersection), recall / precision /
  F1 in exact integer basis points.  The generation-quality metric
  an eval pipeline runs at corpus scale.

- ``snapshot_history``: DESCRIBE HISTORY for the snapshot table
  format (storage.snapshot_history) — the manifest log as a
  DataFrame.  The query stages a table through all four commit
  modes (overwrite, append, restore, append) and joins each
  history row with its version's actual content aggregate, so a
  history that misreported versions, modes, dir counts, or lineage
  annotations could not hash-match.

Reference anchor: nothing in lcmap-blackmagic — eval and the
snapshot store are the engine's own first-class additions (brief
§LLM-ops / §scale).
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Window
from pyspark.sql import functions as F

from .base import _staging, _t, register


# ------------------------------------------------------- events/json --

def q_events_tumbling(spark, sf_dir):
    """Tumbling-window aggregation (batch form of the Structured
    Streaming hourly rollup in streaming/jobs.py)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("total_value")))


SQL_EVENTS_TUMBLING = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


# ----------------------------------------------------- windows ------

def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running
    sum — the batch twin of stateful streaming sessions."""
    e = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(order))
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1) \
        .otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    sess = (e.withColumn("new_sess", new_sess)
             .withColumn("session_id", F.sum("new_sess").over(run)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_id
  FROM g)
SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM s GROUP BY user_id, session_id
"""


def q_lead_lag(spark, sf_dir):
    """lag/lead with micro-second deltas per user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id",
        (F.unix_micros(F.col("ts"))
         - F.unix_micros(F.lag("ts").over(w))).alias("us_since_prev"),
        F.lead("event_type").over(w).alias("next_type"))


SQL_LEAD_LAG = """
SELECT event_id, user_id,
       epoch_us(ts) - epoch_us(lag(ts) OVER w) AS us_since_prev,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_running_sum(spark, sf_dir):
    """Cumulative per-user spend in exact decimal."""
    e = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return e.select(
        "event_id", "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w)
        .cast("double").alias("running_value"))


SQL_RUNNING_SUM = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
FROM events
"""


def q_topn_per_group(spark, sf_dir):
    """Top-3 events by value per user — windowed top-k with total
    deterministic order."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(),
                                              F.col("event_id"))
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("user_id", "event_id", "value",
                    F.col("rn").cast("bigint").alias("rn")))


SQL_TOPN_PER_GROUP = """
SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rn
FROM (SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM events)
WHERE rn <= 3
"""


# ------------------------------------------------- join families ----

def q_asof_join(spark, sf_dir):
    """As-of join as a window composition: each purchase event gets
    the id of the latest error event at-or-before it for the same
    user. Spark lacks a native as-of join — this is the
    union+last_value(ignore nulls) pattern, one shuffle on user_id."""
    e = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    last_err = F.last(
        F.when(F.col("event_type") == "error", F.col("event_id")),
        ignorenulls=True).over(w)
    return (e.withColumn("asof_error_id", last_err)
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "asof_error_id"))


SQL_ASOF_JOIN = """
SELECT event_id, user_id, asof_error_id
FROM (SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type = 'error' THEN event_id END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS asof_error_id
      FROM events)
WHERE event_type = 'purchase'
"""


def q_percentiles(spark, sf_dir):
    """Exact continuous percentiles (median / p90) per group."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
            .agg(F.round(F.percentile("o_totalprice", F.lit(0.5)), 4)
                 .alias("median_price"),
                 F.round(F.percentile("o_totalprice", F.lit(0.9)), 4)
                 .alias("p90_price")))


SQL_PERCENTILES = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
FROM orders GROUP BY o_orderstatus
"""


# ------------------------------------------------ RANGE-frame window

def q_trailing_spend(spark, sf_dir):
    """Per-customer trailing-30-day spend: a RANGE frame over the
    order date (value-based, so duplicate dates are peers — identical
    frame semantics in any engine, no tie-break needed for the SUM)."""
    o = _t(spark, sf_dir, "orders")
    day = F.unix_date(F.col("o_orderdate").cast("date"))
    w = (Window.partitionBy("o_custkey").orderBy(day)
         .rangeBetween(-30, 0))
    return o.select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_day"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").alias("trailing_30d"))


SQL_TRAILING_SPEND = """
SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_day,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
            RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        AS DOUBLE) AS trailing_30d
FROM orders
"""


# ---------------------------------------------- ranking functions ---

def q_window_ranks(spark, sf_dir):
    """The full ranking-function family in one pass: rank, dense_rank,
    percent_rank, ntile, cume_dist — one window spec, so Spark plans a
    single sort+shuffle for all five."""
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")))
    return o.select(
        "o_orderkey", "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"))


SQL_WINDOW_RANKS = """
SELECT o_orderkey, o_custkey,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       ROUND(percent_rank() OVER w, 6) AS prnk,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       ROUND(cume_dist() OVER w, 6) AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey)
"""


# ------------------------------------------------------ gap fill ---


def _hourly_purchase_grid(spark, sf_dir):
    """Shared assembly for the regular-grid time-series queries
    (gap_fill, interpolate): hourly purchase totals per user LEFT-
    joined onto an explicit hour grid from each user's first to last
    active hour (``sequence`` + explode — generated distributed,
    never on the driver). One shuffle for the rollup; the grid
    explode reuses the per-user partitioning.

    Window bounds as epoch micros, NOT string literals: a string cast
    to timestamp parses in the SESSION timezone, silently shifting
    the window on any non-UTC session (caught by the America/Chicago
    verify probe); epoch micros pin the instants."""
    t_lo = F.timestamp_micros(F.lit(1704067200000000))  # 2024-01-01T00Z
    t_hi = F.timestamp_micros(F.lit(1704240000000000))  # 2024-01-03T00Z
    e = (_t(spark, sf_dir, "events")
         .filter((F.col("event_type") == "purchase")
                 & (F.col("ts") >= t_lo) & (F.col("ts") < t_hi)))
    hourly = (e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
               .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double").alias("v")))
    bounds = hourly.groupBy("user_id").agg(F.min("h").alias("h0"),
                                           F.max("h").alias("h1"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h"))
    return grid.join(hourly, ["user_id", "h"], "left")


# the matching DuckDB CTE prefix, shared by both oracles
_SQL_HOURLY_GRID = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events
  WHERE event_type = 'purchase'
    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
    AND ts <  TIMESTAMP '2024-01-03 00:00:00'
  GROUP BY user_id, date_trunc('hour', ts)),
bounds AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id),
grid AS (
  SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM bounds)"""


def q_gap_fill(spark, sf_dir):
    """Time-series gap fill over the shared hourly grid: missing
    hours forward-filled with ``last(..., ignorenulls)`` per user (no
    unpartitioned window). The classic prep step for regularly-
    sampled model inputs."""
    joined = _hourly_purchase_grid(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("h")
               .rowsBetween(Window.unboundedPreceding, 0))
    return joined.select(
        "user_id", "h",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        F.col("v").isNull().alias("was_gap"))


SQL_GAP_FILL = _SQL_HOURLY_GRID + """
SELECT g.user_id, g.h,
       last_value(hr.v IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
       hr.v IS NULL AS was_gap
FROM grid g LEFT JOIN hourly hr ON g.user_id = hr.user_id AND g.h = hr.h
"""


def q_interpolate(spark, sf_dir):
    """Linear-interpolation resampling: gap_fill's regular hourly grid,
    but missing hours take the LINE between the surrounding
    observations instead of carrying the last one forward (edges clamp
    to the nearest observation). Two per-user windows (running last /
    running first, both ignore-nulls) — no self-join, no UDF. The
    interpolation touches exactly two observed values per output row,
    so the float expression is a fixed-size formula both engines
    evaluate identically — no summation-order divergence, no rounding
    needed."""
    j = _hourly_purchase_grid(spark, sf_dir)
    t = F.unix_micros(F.col("h"))
    te = F.when(F.col("v").isNotNull(), t)
    wp = (Window.partitionBy("user_id").orderBy("h")
                .rowsBetween(Window.unboundedPreceding, 0))
    wn = (Window.partitionBy("user_id").orderBy("h")
                .rowsBetween(0, Window.unboundedFollowing))
    vp = F.last("v", ignorenulls=True).over(wp)
    tp = F.last(te, ignorenulls=True).over(wp)
    vn = F.first("v", ignorenulls=True).over(wn)
    tn = F.first(te, ignorenulls=True).over(wn)
    interp = (F.when(F.col("v").isNotNull(), F.col("v"))
              .when(vp.isNull(), vn)
              .when(vn.isNull(), vp)
              .otherwise(vp + (vn - vp) * ((t - tp) / (tn - tp))))
    return j.select("user_id", "h", interp.alias("v_interp"),
                    F.col("v").isNull().alias("was_gap"))


SQL_INTERPOLATE = _SQL_HOURLY_GRID + """,
w AS (
  SELECT g.user_id, g.h, hr.v, epoch_us(g.h) AS t,
         last_value(hr.v IGNORE NULLS)
           OVER (PARTITION BY g.user_id ORDER BY g.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
         last_value(CASE WHEN hr.v IS NOT NULL THEN epoch_us(g.h) END
                    IGNORE NULLS)
           OVER (PARTITION BY g.user_id ORDER BY g.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         first_value(hr.v IGNORE NULLS)
           OVER (PARTITION BY g.user_id ORDER BY g.h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
         first_value(CASE WHEN hr.v IS NOT NULL THEN epoch_us(g.h) END
                     IGNORE NULLS)
           OVER (PARTITION BY g.user_id ORDER BY g.h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tn
  FROM grid g LEFT JOIN hourly hr ON g.user_id = hr.user_id AND g.h = hr.h)
SELECT user_id, h,
       CASE WHEN v IS NOT NULL THEN v
            WHEN vp IS NULL THEN vn
            WHEN vn IS NULL THEN vp
            ELSE vp + (vn - vp) * ((t - tp) / (tn - tp)) END AS v_interp,
       v IS NULL AS was_gap
FROM w
"""


def q_rolling_corr(spark, sf_dir):
    """Trailing-window Pearson correlation per customer between order
    value and order date — windowed statistics done DETERMINISTICALLY:
    the built-in ``corr`` accumulates co-moments in floats (summation
    order diverges across engines), so the sums here are exact
    integers (epoch days × money in cents) over a 10-row trailing
    window, combined closed-form with one double conversion per term —
    the same bit-exact recipe as the segment-detect OLS. Zero-variance
    windows yield NULL."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey", "o_orderkey",
        F.datediff(F.to_date("o_orderdate"),
                   F.lit("1970-01-01").cast("date"))
        .cast("bigint").alias("x"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("y"))
    w = (Window.partitionBy("o_custkey").orderBy("x", "o_orderkey")
               .rowsBetween(-9, 0))
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    num = (n * sxy - sx * sy).cast("double")
    d1 = n * sxx - sx * sx
    d2 = n * syy - sy * sy
    corr = F.when((d1 > 0) & (d2 > 0),
                  F.round(num / (F.sqrt(d1.cast("double"))
                                 * F.sqrt(d2.cast("double"))), 6))
    return base.select("o_custkey", "o_orderkey",
                       n.alias("n_win"), corr.alias("corr_10"))


SQL_ROLLING_CORR = """
WITH base AS (
  SELECT o_custkey, o_orderkey,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM orders),
s AS (
  SELECT o_custkey, o_orderkey,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x*x) OVER w AS sxx, SUM(y*y) OVER w AS syy,
         SUM(x*y) OVER w AS sxy
  FROM base
  WINDOW w AS (PARTITION BY o_custkey ORDER BY x, o_orderkey
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
SELECT o_custkey, o_orderkey, n AS n_win,
       CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
            THEN ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
                       / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                          * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6)
            END AS corr_10
FROM s
"""


# --------------------------------------------------------- funnel ---


def q_funnel(spark, sf_dir):
    """Ordered event-sequence funnel: users who viewed, then clicked
    within 12 h of the first view, then purchased within 12 h of that
    click — each stage anchored to the previous stage's time.  Each
    stage is a conditional min-timestamp aggregate joined back on
    user_id — three shuffles all on the same key (co-partitioned, so
    AQE reuses the exchange), never a per-user sort of the whole
    event stream."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (ev.filter(F.col("event_type") == "view")
            .groupBy("user_id").agg(F.min("ts").alias("t1")))
    t2 = (ev.filter(F.col("event_type") == "click")
            .join(t1, "user_id")
            .filter((F.col("ts") > F.col("t1"))
                    & (F.col("ts") <= F.col("t1")
                       + F.expr("interval 12 hours")))
            .groupBy("user_id").agg(F.min("ts").alias("t2")))
    t3 = (ev.filter(F.col("event_type") == "purchase")
            .join(t2, "user_id")
            .filter((F.col("ts") > F.col("t2"))
                    & (F.col("ts") <= F.col("t2")
                       + F.expr("interval 12 hours")))
            .groupBy("user_id").agg(F.min("ts").alias("t3")))
    return (t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
              .agg(F.count("t1").alias("n_view"),
                   F.count("t2").alias("n_click_after_view"),
                   F.count("t3").alias("n_purchase_after_click")))


SQL_FUNNEL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1
    AND e.ts <= t1.t1 + INTERVAL 12 HOUR
  GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
    AND e.ts <= t2.t2 + INTERVAL 12 HOUR
  GROUP BY e.user_id)
SELECT CAST(COUNT(t1.t1) AS BIGINT) AS n_view,
       CAST(COUNT(t2.t2) AS BIGINT) AS n_click_after_view,
       CAST(COUNT(t3.t3) AS BIGINT) AS n_purchase_after_click
FROM t1
LEFT JOIN t2 ON t1.user_id = t2.user_id
LEFT JOIN t3 ON t1.user_id = t3.user_id
"""


# ------------------------------------------------ histogram bins ----

BIN_WIDTH = 50_000


def q_histogram_bins(spark, sf_dir):
    """Equal-width numeric histogram: orders bucket by total price
    (integer floor division — identical in both engines, no float
    boundary ambiguity), count + exact decimal mass per bin.  The
    groupBy on the derived bin is one narrow shuffle of (bin) keys
    with map-side partial aggregation."""
    o = _t(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / BIN_WIDTH).cast("bigint")
    return (o.groupBy(b.alias("bin"))
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   .cast("double").alias("mass"))
             .select((F.col("bin") * BIN_WIDTH).alias("bin_lo"),
                     "n_orders", "mass")
             .orderBy("bin_lo"))


SQL_HISTOGRAM_BINS = f"""
SELECT CAST(floor(o_totalprice / {BIN_WIDTH}) AS BIGINT) * {BIN_WIDTH}
         AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mass
FROM orders
GROUP BY CAST(floor(o_totalprice / {BIN_WIDTH}) AS BIGINT)
ORDER BY bin_lo
"""


# ------------------------------------------------ cohort retention --


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    counted as retained in each later week they act — the standard
    product-analytics triangle.  Two aggregates and one join, all
    keyed on user_id.  Week bucketing is pure epoch-day arithmetic
    (Monday-aligned: day − ((day+3) mod 7)) — ``date_trunc('week')``
    on the events timestamp would truncate in the SESSION timezone
    and shift boundary events on non-UTC sessions (caught by the
    America/Chicago verify probe); epoch days are timezone-free."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
    wk = F.date_from_unix_date(
        (day - (day + 3) % 7).cast("int"))
    acts = e.select("user_id", wk.alias("week")).distinct()
    first = acts.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (acts.join(first, "user_id")
            .select("cohort",
                    (F.datediff("week", "cohort") / 7)
                    .cast("int").alias("week_offset"))
            .groupBy("cohort", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy("cohort", "week_offset"))


SQL_COHORT_RETENTION = """
WITH acts AS (
  SELECT DISTINCT user_id,
         DATE '1970-01-01'
           + CAST(d - ((d + 3) % 7) AS INT) AS week
  FROM (SELECT user_id,
               CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d
        FROM events) t),
first AS (SELECT user_id, MIN(week) AS cohort FROM acts GROUP BY user_id)
SELECT cohort,
       CAST(date_diff('day', cohort, week) / 7 AS INT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM acts JOIN first USING (user_id)
GROUP BY cohort, week_offset
ORDER BY cohort, week_offset
"""


# --------------------------------------------- event transitions ----


def q_event_transitions(spark, sf_dir):
    """First-order transition counts (the Markov matrix of user
    behavior): for each consecutive event pair within a user's
    timeline, count (from_type → to_type).  One lead window per user
    + one narrow aggregate — the path-analysis primitive."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                           "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.withColumn("next_type", F.lead("event_type").over(w))
             .filter(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("next_type").alias("to_type"))
             .agg(F.count(F.lit(1)).alias("n"))
             .orderBy("from_type", "to_type"))


SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY from_type, to_type
"""

# ------------------------------------------- funnel analysis --------

FUNNEL = ["signup", "click", "purchase"]


def q_funnel_steps(spark, sf_dir):
    """Ordered-event funnel over the event stream: users who signed
    up, then clicked strictly after their first signup, then
    purchased strictly after that first qualifying click. The classic
    product-analytics rollup; each stage is a per-user MIN aggregate
    (map-side combined) joined to the previous stage's reduced
    (users × 1 row) output — no window over raw events, no self-join
    of the fact table against itself."""
    e = _t(spark, sf_dir, "events")
    stage = None
    counts = []
    for i, ev in enumerate(FUNNEL):
        cur = e.filter(F.col("event_type") == ev)
        if stage is None:
            stage = (cur.groupBy("user_id")
                     .agg(F.min("ts").alias("t0")))
        else:
            stage = (cur.join(stage, "user_id")
                     .filter(F.col("ts") > F.col("t0"))
                     .groupBy("user_id")
                     .agg(F.min("ts").alias("t0")))
        counts.append(stage.agg(
            F.lit(i + 1).alias("step"),
            F.lit(" > ".join(FUNNEL[:i + 1])).alias("path"),
            F.count(F.lit(1)).alias("users")))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


SQL_FUNNEL_STEPS = """
WITH s1 AS (SELECT user_id, MIN(ts) AS t0 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t0 FROM events e
       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t0
       WHERE e.event_type = 'click' GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t0 FROM events e
       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t0
       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 1 AS step, 'signup' AS path,
       CAST(COUNT(*) AS BIGINT) AS users FROM s1
UNION ALL
SELECT 2, 'signup > click', CAST(COUNT(*) AS BIGINT) FROM s2
UNION ALL
SELECT 3, 'signup > click > purchase', CAST(COUNT(*) AS BIGINT) FROM s3
"""

# ------------------------------------------- MAD outliers -----------

MAD_K = 3  # flag |v - median| > K * MAD


def q_mad_outliers(spark, sf_dir):
    """Robust per-event-type outlier flags: |value − median| >
    3 × MAD (median absolute deviation). All arithmetic in integer
    CENTS (value is 2-decimal money): medians of integers interpolate
    to exact .5 halves, deviations subtract exactly, and the single
    3× threshold compare is integer-scaled — bit-identical across
    engines without rounding any raw double (SCALE.md float policy).
    Two map-side-combined aggregates over the fact table plus reduced
    joins — the fact table never self-joins."""
    e = _t(spark, sf_dir, "events")
    cents = (e.select("event_id", "event_type",
                      (F.col("value").cast("decimal(18,2)") * 100)
                      .cast("bigint").alias("v")))
    med = (cents.groupBy("event_type")
           .agg(F.percentile("v", F.lit(0.5)).alias("med")))
    dev = (cents.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("v") - F.col("med"))))
    mad = (dev.groupBy("event_type")
           .agg(F.percentile("adev", F.lit(0.5)).alias("mad")))
    return (dev.join(F.broadcast(mad), "event_type")
            .filter(F.col("adev") > F.lit(MAD_K) * F.col("mad"))
            .select("event_id", "event_type",
                    F.col("v").alias("value_cents"),
                    F.col("med").alias("median_cents"),
                    F.col("mad").alias("mad_cents")))


SQL_MAD_OUTLIERS = f"""
WITH cents AS (SELECT event_id, event_type,
                      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS v
               FROM events),
med AS (SELECT event_type, median(v) AS med FROM cents
        GROUP BY event_type),
dev AS (SELECT c.event_id, c.event_type, c.v, m.med,
               ABS(c.v - m.med) AS adev
        FROM cents c JOIN med m USING (event_type)),
mad AS (SELECT event_type, median(adev) AS mad FROM dev
        GROUP BY event_type)
SELECT d.event_id, d.event_type, d.v AS value_cents,
       d.med AS median_cents, a.mad AS mad_cents
FROM dev d JOIN mad a USING (event_type)
WHERE d.adev > {MAD_K} * a.mad
"""


# ------------------------------------------- chi-square A/B ---------


def q_chi2_abtest(spark, sf_dir):
    """Two-proportion A/B analysis in the closed chi-square form:
    variant = user_id parity (a deterministic assignment), conversion
    = the user made a purchase above 150 (nearly every user has SOME
    purchase, so the raw event would make conversion degenerate).
    χ² = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) needs no transcendentals —
    the contingency counts are two tiny aggregates, and the statistic
    is computed in doubles cast from exact bigints with a pinned op
    order (identical IEEE results in both engines; at 10⁹-user scale
    the intermediate products overflow bigint, which is why the
    arithmetic is double). A degenerate margin yields NULL, not a
    divide-by-zero, identically on both sides."""
    e = _t(spark, sf_dir, "events")
    users = e.select("user_id").distinct() \
        .withColumn("variant", (F.col("user_id") % 2 == 0))
    conv = (e.filter((F.col("event_type") == "purchase")
                     & (F.col("value") >= 150.0))
            .select("user_id").distinct()
            .withColumn("converted", F.lit(True)))
    cells = (users.join(conv.select("user_id", "converted"),
                        "user_id", "left")
             .select("variant",
                     F.coalesce("converted", F.lit(False))
                     .alias("converted"))
             .groupBy()
             .agg(*[F.sum(F.when((F.col("variant") == va)
                                 & (F.col("converted") == co), 1)
                          .otherwise(0)).alias(nm)
                    for nm, va, co in (("a", True, True),
                                       ("b", True, False),
                                       ("c", False, True),
                                       ("d", False, False))]))
    A, B, C, D = [F.col(x).cast("double") for x in "abcd"]
    n = A + B + C + D
    num = n * (A * D - B * C) * (A * D - B * C)
    den = (A + B) * (C + D) * (A + C) * (B + D)
    return cells.select("a", "b", "c", "d",
                        F.when(den != 0, num / den).alias("chi2"))


SQL_CHI2_ABTEST = """
WITH users AS (SELECT DISTINCT user_id, user_id % 2 = 0 AS variant
               FROM events),
conv AS (SELECT DISTINCT user_id, TRUE AS converted FROM events
         WHERE event_type = 'purchase' AND value >= 150.0),
cells AS (
  SELECT CAST(SUM(CASE WHEN variant AND COALESCE(converted, FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN variant AND NOT COALESCE(converted, FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN NOT variant AND COALESCE(converted, FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN NOT variant AND NOT COALESCE(converted, FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM users LEFT JOIN conv USING (user_id))
SELECT a, b, c, d,
       CASE WHEN (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
               * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
               * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
               * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)) = 0 THEN NULL
       ELSE
       ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
         + CAST(d AS DOUBLE))
        * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
        * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
       / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
          * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
          * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
          * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)))
       END AS chi2
FROM cells
"""


def _md48(col):
    """48-bit integer prefix of md5 — the repo-wide deterministic
    hash (operators/sampling.py:137, same DuckDB twin)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


# ------------------------------------------------- grouped ROC-AUC --

def q_eval_auc(spark, sf_dir):
    """Per-priority ROC-AUC of "o_totalprice predicts completed
    status" via the rank-sum identity AUC = (U / (P*N)) with
    tie-corrected average ranks.

    Shape: one sort per group (the rank window), one partial-agg
    reduction — no per-pair work, so it scales as a sort, not as the
    O(P*N) pair expansion the naive AUC definition implies.  The
    tied-block average rank is kept integral by doubling:
    2*avg_rank = 2*rank + ties - 1, so the only float op is the
    final division."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"))
    w_rank = Window.partitionBy("grp").orderBy("score")
    w_tie = Window.partitionBy("grp", "score")
    ranked = o.select(
        "grp", "pos",
        (2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1)
        .alias("rank2"))
    agg = ranked.groupBy("grp").agg(
        F.sum("pos").alias("p"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("n"),
        F.sum(F.col("pos") * F.col("rank2")).alias("sum2"))
    return agg.select(
        "grp", F.col("p").alias("n_pos"), F.col("n").alias("n_neg"),
        F.round((F.col("sum2") - F.col("p") * (F.col("p") + 1))
                .cast("double") / (2 * F.col("p") * F.col("n")), 6)
        .alias("auc"))


SQL_EVAL_AUC = """
WITH ranked AS (
  SELECT o_orderpriority AS grp,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
         2 * RANK() OVER (PARTITION BY o_orderpriority
                          ORDER BY CAST(o_totalprice * 100 AS BIGINT))
           + COUNT(*) OVER (PARTITION BY o_orderpriority,
                                         CAST(o_totalprice * 100 AS BIGINT))
           - 1 AS rank2
  FROM orders),
agg AS (
  SELECT grp, CAST(SUM(pos) AS BIGINT) AS p,
         CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n,
         CAST(SUM(pos * rank2) AS BIGINT) AS sum2
  FROM ranked GROUP BY grp)
SELECT grp, p AS n_pos, n AS n_neg,
       ROUND(CAST(sum2 - p * (p + 1) AS DOUBLE) / (2 * p * n), 6) AS auc
FROM agg
"""


# ------------------------------------------- confusion matrix / F1 --

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]  # public TPC-H segment list, sorted


def _confusion_base(spark, sf_dir):
    """(actual, predicted) per customer: the deterministic noisy
    classifier — keep the true segment when md5 says so (7/10),
    else pick a pseudo-random one."""
    c = _t(spark, sf_dir, "customer")
    h = _md48(F.concat(F.lit("p:"), F.col("c_custkey")))
    seg_arr = F.array(*[F.lit(s) for s in SEGMENTS])
    pred = F.when(h % 10 < 7, F.col("c_mktsegment")).otherwise(
        F.element_at(seg_arr, (h % 5 + 1).cast("int")))
    return c.select(F.col("c_mktsegment").alias("actual"),
                    pred.alias("predicted"))


def q_eval_confusion(spark, sf_dir):
    """Per-class precision / recall / F1 from the confusion counts.
    One small shuffle on the (actual, predicted) pair — at most
    |classes|^2 rows reach the driver-side arithmetic; F1 uses the
    harmonic identity f1 = 2tp / (2tp + fp + fn) so each emitted
    ratio is a single integer division."""
    pairs = (_confusion_base(spark, sf_dir)
             .groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("c")))
    tp = (pairs.filter(F.col("actual") == F.col("predicted"))
          .select(F.col("actual").alias("cls"), F.col("c").alias("tp")))
    by_actual = (pairs.groupBy("actual").agg(F.sum("c").alias("n_actual"))
                 .withColumnRenamed("actual", "cls"))
    by_pred = (pairs.groupBy("predicted").agg(F.sum("c").alias("n_pred"))
               .withColumnRenamed("predicted", "cls"))
    j = (by_actual.join(by_pred, "cls", "full")
         .join(tp, "cls", "left")
         .select("cls",
                 F.coalesce("tp", F.lit(0)).alias("tp"),
                 (F.coalesce("n_pred", F.lit(0))
                  - F.coalesce("tp", F.lit(0))).alias("fp"),
                 (F.coalesce("n_actual", F.lit(0))
                  - F.coalesce("tp", F.lit(0))).alias("fn")))
    return j.select(
        "cls", "tp", "fp", "fn",
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6)
        .alias("prec"),
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6)
        .alias("recall"),
        F.round((2 * F.col("tp")).cast("double")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 6)
        .alias("f1"))


SQL_EVAL_CONFUSION = f"""
WITH base AS (
  SELECT c_mktsegment AS actual,
         CASE WHEN CAST('0x' || substr(md5('p:' || c_custkey), 1, 12)
                        AS BIGINT) % 10 < 7
              THEN c_mktsegment
              ELSE (ARRAY{SEGMENTS!r})[
                CAST(CAST('0x' || substr(md5('p:' || c_custkey), 1, 12)
                          AS BIGINT) % 5 + 1 AS INT)]
         END AS predicted
  FROM customer),
pairs AS (SELECT actual, predicted, COUNT(*) AS c
          FROM base GROUP BY actual, predicted),
tp AS (SELECT actual AS cls, c AS tp FROM pairs WHERE actual = predicted),
a AS (SELECT actual AS cls, CAST(SUM(c) AS BIGINT) AS n_actual
      FROM pairs GROUP BY actual),
p AS (SELECT predicted AS cls, CAST(SUM(c) AS BIGINT) AS n_pred
      FROM pairs GROUP BY predicted)
SELECT cls,
       CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
       CAST(COALESCE(n_pred, 0) - COALESCE(tp, 0) AS BIGINT) AS fp,
       CAST(COALESCE(n_actual, 0) - COALESCE(tp, 0) AS BIGINT) AS fn,
       ROUND(CAST(COALESCE(tp, 0) AS DOUBLE)
             / (COALESCE(tp, 0) + COALESCE(n_pred, 0) - COALESCE(tp, 0)), 6)
         AS prec,
       ROUND(CAST(COALESCE(tp, 0) AS DOUBLE)
             / (COALESCE(tp, 0) + COALESCE(n_actual, 0) - COALESCE(tp, 0)), 6)
         AS recall,
       ROUND(CAST(2 * COALESCE(tp, 0) AS DOUBLE)
             / (2 * COALESCE(tp, 0)
                + COALESCE(n_pred, 0) - COALESCE(tp, 0)
                + COALESCE(n_actual, 0) - COALESCE(tp, 0)), 6) AS f1
FROM a FULL JOIN p USING (cls) LEFT JOIN tp USING (cls)
"""


# --------------------------------------------- calibration bins -----

def q_eval_calibration(spark, sf_dir):
    """Reliability diagram: bucket a deterministic predicted
    probability (md5 permille of the order key) into deciles and
    compare against the deterministic outcome draw (a second,
    independent md5 stream with true rate 0.1 + 0.8 p).  Per-bin
    |gap| is the reliability residual; everything is integer until
    the three per-bin divisions."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    h1 = _md48(F.concat(F.lit("p:"), F.col("o_orderkey"))) % 1000
    h2 = _md48(F.concat(F.lit("y:"), F.col("o_orderkey"))) % 1000
    base = o.select(h1.alias("p_mille"), h2.alias("draw")).select(
        F.expr("p_mille div 100").alias("bin"),
        "p_mille",
        # integer div, not /: the oracle floors, so must we
        (F.col("draw") < 100 + F.expr("(p_mille * 8) div 10"))
        .cast("int").alias("y"))
    agg = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p_mille").alias("sum_p"),
        F.sum("y").alias("pos"))
    mean_p = F.col("sum_p").cast("double") / (1000 * F.col("n"))
    frac = F.col("pos").cast("double") / F.col("n")
    return agg.select(
        "bin", "n", "pos",
        F.round(mean_p, 6).alias("mean_pred"),
        F.round(frac, 6).alias("frac_pos"),
        F.round(F.abs(mean_p - frac), 6).alias("gap"))


SQL_EVAL_CALIBRATION = """
WITH base AS (
  SELECT CAST('0x' || substr(md5('p:' || o_orderkey), 1, 12) AS BIGINT)
           % 1000 AS p_mille,
         CAST('0x' || substr(md5('y:' || o_orderkey), 1, 12) AS BIGINT)
           % 1000 AS draw
  FROM orders),
agg AS (
  SELECT p_mille // 100 AS bin, COUNT(*) AS n,
         CAST(SUM(p_mille) AS BIGINT) AS sum_p,
         CAST(SUM(CASE WHEN draw < 100 + (p_mille * 8) // 10
                       THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM base GROUP BY p_mille // 100)
SELECT bin, n, pos,
       ROUND(CAST(sum_p AS DOUBLE) / (1000 * n), 6) AS mean_pred,
       ROUND(CAST(pos AS DOUBLE) / n, 6) AS frac_pos,
       ROUND(ABS(CAST(sum_p AS DOUBLE) / (1000 * n)
                 - CAST(pos AS DOUBLE) / n), 6) AS gap
FROM agg
"""


# ------------------------------------------------- Brier score ------

def q_eval_brier(spark, sf_dir):
    """Brier score (mean squared error of the predicted probability)
    per order priority, over the same deterministic
    prediction/outcome streams as the calibration bins.  With p in
    permille, (p − 1000·y)² is an exact integer, so the group score
    is one bigint sum and ONE final division — a probabilistic
    metric with a bit-exact distributed form."""
    o = _t(spark, sf_dir, "orders")
    h1 = _md48(F.concat(F.lit("p:"), F.col("o_orderkey"))) % 1000
    h2 = _md48(F.concat(F.lit("y:"), F.col("o_orderkey"))) % 1000
    base = (o.select(F.col("o_orderpriority").alias("grp"),
                     h1.alias("p_mille"), h2.alias("draw"))
            .select("grp", "p_mille",
                    (F.col("draw") < 100 + F.expr("(p_mille * 8) div 10"))
                    .cast("bigint").alias("y")))
    sq = (F.col("p_mille") - 1000 * F.col("y"))
    agg = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(sq * sq).alias("ss"))
    return (agg.select(
        "grp", "n",
        F.round(F.col("ss").cast("double") / (F.col("n") * 1000000), 6)
        .alias("brier"))
        .orderBy("grp"))


SQL_EVAL_BRIER = """
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST('0x' || substr(md5('p:' || o_orderkey), 1, 12) AS BIGINT)
           % 1000 AS p_mille,
         CASE WHEN CAST('0x' || substr(md5('y:' || o_orderkey), 1, 12)
                        AS BIGINT) % 1000
                   < 100 + (CAST('0x' || substr(md5('p:' || o_orderkey),
                                                1, 12) AS BIGINT)
                            % 1000 * 8) // 10
              THEN 1 ELSE 0 END AS y
  FROM orders),
agg AS (
  SELECT grp, COUNT(*) AS n,
         CAST(SUM((p_mille - 1000 * y) * (p_mille - 1000 * y)) AS BIGINT)
           AS ss
  FROM base GROUP BY grp)
SELECT grp, n, ROUND(CAST(ss AS DOUBLE) / (n * 1000000), 6) AS brier
FROM agg ORDER BY grp
"""


# ---------------------------------------- data-quality checks -------

def q_dq_checks(spark, sf_dir):
    """Declarative data-quality expectations (the dbt-tests /
    Deequ-style constraint sweep) over the orders/customer pair:
    per rule, rows checked and rows violating.  Three scans total,
    each irreducible: ONE conditional aggregate covers every row-level
    rule (unpivoted to rows via stack — NOT one union branch per rule,
    which would re-execute the scan per rule), one groupBy for the
    uniqueness rule, one anti-join (+ count reuse) for referential
    integrity — the constraint report a 100 TB ingest job runs before
    publishing a partition."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    single = o.agg(
        F.count(F.lit(1)).alias("checked"),
        F.sum(F.col("o_orderkey").isNull().cast("bigint"))
        .alias("null_key"),
        F.sum((F.col("o_totalprice") <= 0).cast("bigint"))
        .alias("nonpos_price"),
        F.sum((~F.col("o_orderstatus").isin("F", "O", "P"))
              .cast("bigint")).alias("bad_status"))
    row_rules = single.select(F.expr(
        "stack(3, 'orderkey_not_null', checked, null_key, "
        "         'price_positive', checked, nonpos_price, "
        "         'status_accepted', checked, bad_status) "
        "AS (rule, checked, violations)"))
    dup = (o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("k"))
           .agg(F.count(F.lit(1)).alias("checked"),
                F.sum((F.col("k") > 1).cast("bigint")).alias("viol"))
           .select(F.lit("orderkey_unique").alias("rule"),
                   "checked", F.col("viol").alias("violations")))
    orphan = (o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
              .agg(F.count(F.lit(1)).alias("viol"))
              .crossJoin(o.agg(F.count(F.lit(1)).alias("checked")))
              .select(F.lit("custkey_in_customer").alias("rule"),
                      "checked", F.col("viol").alias("violations")))
    return row_rules.unionByName(dup).unionByName(orphan).orderBy("rule")


SQL_DQ_CHECKS = """
WITH single AS (
  SELECT COUNT(*) AS checked,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_key,
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS nonpos_price,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
  FROM orders),
dup AS (
  SELECT COUNT(*) AS checked,
         CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS viol
  FROM (SELECT o_orderkey, COUNT(*) AS k FROM orders GROUP BY o_orderkey)),
orphan AS (
  SELECT (SELECT COUNT(*) FROM orders) AS checked,
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) AS viol)
SELECT 'custkey_in_customer' AS rule, checked, viol AS violations
FROM orphan
UNION ALL SELECT 'orderkey_not_null', checked, null_key FROM single
UNION ALL SELECT 'orderkey_unique', checked, viol FROM dup
UNION ALL SELECT 'price_positive', checked, nonpos_price FROM single
UNION ALL SELECT 'status_accepted', checked, bad_status FROM single
ORDER BY rule
"""

# ------------------------------------------------- k-fold split -----

KFOLDS = 5


def q_kfold_split(spark, sf_dir):
    """Hash-deterministic k-fold CV assignment over documents with
    per-fold balance stats. fold = md5_48('f:'||doc_id) % k — stable
    under re-runs, shards, and engine (no RNG state), so a 1000-node
    job and a laptop agree on every row's fold.  One small shuffle
    (k rows out)."""
    d = _t(spark, sf_dir, "documents")
    fold = (_md48(F.concat(F.lit("f:"), F.col("doc_id"))) % KFOLDS)
    return (d.select(fold.alias("fold"), "doc_id", "n_chars", "lang")
            .groupBy("fold")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc"))
            .orderBy("fold"))


SQL_KFOLD_SPLIT = f"""
SELECT CAST('0x' || substr(md5('f:' || doc_id), 1, 12) AS BIGINT)
         % {KFOLDS} AS fold,
       COUNT(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT lang) AS n_langs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY 1 ORDER BY 1
"""


def q_group_split(spark, sf_dir):
    """GROUP-level train/test holdout: whole USERS hash to a split
    (md5 permille < 800 → train), so no user's events leak across
    the boundary — the GroupShuffleSplit to kfold_split's row-level
    folds.  The split is a per-row expression on the grouping key:
    no join, no shuffle beyond the 2-row rollup."""
    e = _t(spark, sf_dir, "events")
    split = F.when(
        _md48(F.concat(F.lit("g:"), F.col("user_id"))) % 1000 < 800,
        F.lit("train")).otherwise(F.lit("test"))
    return (e.select(split.alias("split"), "user_id", "event_type")
            .groupBy("split")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum((F.col("event_type") == "purchase").cast("bigint"))
                 .alias("n_purchases"))
            .orderBy("split"))


SQL_GROUP_SPLIT = """
SELECT CASE WHEN CAST('0x' || substr(md5('g:' || user_id), 1, 12)
                 AS BIGINT) % 1000 < 800
            THEN 'train' ELSE 'test' END AS split,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM events
GROUP BY 1 ORDER BY 1
"""


# -------------------------------------------------- EWMA smoothing --

EWMA_DEPTH = 8
# 1 - 2^-m for m = 1..8: exact dyadic literals, so both engines parse
# the identical double and no pow() implementation is in the loop
_WSUM = [1 - 2 ** -(m) for m in range(1, EWMA_DEPTH + 1)]


def q_ewma_smooth(spark, sf_dir):
    """Truncated EWMA (depth 8, alpha 1/2) of event values per user —
    the streaming-friendly smoother: weights 2^-1 .. 2^-8 over the
    last 8 observations, renormalized by the exact partial weight sum
    at the sequence head.  Every constant is a dyadic rational and
    the addition order is pinned, so Spark and DuckDB emit
    bit-identical doubles — NO rounding anywhere.  One user-partition
    window, no other shuffle; the streaming twin keeps one running
    state value per user instead of 8 lags."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    terms = [F.coalesce(F.lag("value", j).over(w), F.lit(0.0))
             * F.lit(2.0 ** -(j + 1)) for j in range(EWMA_DEPTH)]
    raw = reduce(lambda a, b: a + b, terms)
    m = F.least(F.row_number().over(w), F.lit(EWMA_DEPTH))
    wsum = F.element_at(F.array(*[F.lit(v) for v in _WSUM]), m)
    return e.select("event_id", "user_id", (raw / wsum).alias("ewma"))


def _sql_ewma_smooth() -> str:
    terms = " + ".join(
        f"COALESCE(lag(value, {j}) OVER w, 0.0) * {2.0 ** -(j + 1)!r}"
        for j in range(EWMA_DEPTH))
    wsum = ", ".join(repr(v) for v in _WSUM)
    return f"""
SELECT event_id, user_id,
       ({terms})
       / ([{wsum}])[LEAST(ROW_NUMBER() OVER w, {EWMA_DEPTH})] AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------- quality deciles -----

def q_quality_deciles(spark, sf_dir):
    """Decile bucketing of a corpus quality score (n_chars as the
    stand-in integer score) — the "train on the top 30%" curation
    cut.  ntile(10) over a UNIQUE total order (score, doc_id) is
    engine-deterministic; per-bucket stats are all integers."""
    d = _t(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    return (d.select("doc_id", "n_chars", "lang",
                     F.ntile(10).over(w).alias("decile"))
            .groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.countDistinct("lang").alias("n_langs"))
            .orderBy("decile"))


SQL_QUALITY_DECILES = """
WITH ranked AS (
  SELECT doc_id, n_chars, lang,
         ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
  FROM documents)
SELECT decile, COUNT(*) AS n, MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars, COUNT(DISTINCT lang) AS n_langs
FROM ranked GROUP BY decile ORDER BY decile
"""


# ------------------------------------------- last-touch attribution --

def q_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase credits the campaign
    (props.k mod 5) of the most recent preceding click/view by the
    same user; purchases with no prior touch fall into campaign -1.
    One user-partition window with last(..., ignorenulls) — the
    carry-forward idiom — instead of the quadratic self-join the
    naive formulation implies."""
    e = _t(spark, sf_dir, "events")
    campaign = F.when(
        F.col("event_type").isin("click", "view"),
        F.get_json_object("props", "$.k").cast("bigint") % 5)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    touched = e.select(
        "event_id", "user_id", "event_type", "value",
        F.last(campaign, ignorenulls=True).over(w).alias("campaign"))
    purchases = touched.filter(F.col("event_type") == "purchase")
    return (purchases.groupBy(
        F.coalesce("campaign", F.lit(-1)).alias("campaign"))
        .agg(F.count(F.lit(1)).alias("n_purchases"),
             F.sum(F.col("value").cast("decimal(18,2)"))
             .cast("double").alias("revenue"))
        .orderBy("campaign"))


SQL_ATTRIBUTION = """
WITH touched AS (
  SELECT event_id, user_id, event_type, value,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN CAST(props->>'$.k' AS BIGINT) % 5 END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS campaign
  FROM events)
SELECT COALESCE(campaign, -1) AS campaign,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM touched WHERE event_type = 'purchase'
GROUP BY COALESCE(campaign, -1) ORDER BY campaign
"""


# ------------------------------------------------------ OHLC bars ---

def q_ohlc_bars(spark, sf_dir):
    """Hourly open/high/low/close/volume bars per event type — the
    time-bucketed rollup every metrics store needs.  Buckets are
    EPOCH-HOUR integers (unix_micros div 3600e6), never
    date_trunc — the events column is LTZ and session-timezone
    truncation silently shifts bars (the cohort_retention timezone
    lesson).  Open/close are first/last over the
    unique (ts, event_id) order via an unbounded window; one
    bar-partition shuffle total."""
    e = _t(spark, sf_dir, "events")
    # integer div, not /: double division truncated can land one off
    # the oracle's floored integer quotient at bucket boundaries
    hr = F.expr("unix_micros(ts) div 3600000000")
    w = (Window.partitionBy("event_type", "hr")
         .orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding,
                      Window.unboundedFollowing))
    base = (e.select("event_type", hr.alias("hr"), "ts", "event_id",
                     F.col("value").cast("decimal(18,2)").alias("v"))
            .select("event_type", "hr", "v",
                    F.first("v").over(w).alias("open"),
                    F.last("v").over(w).alias("close")))
    return (base.groupBy("event_type", "hr")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max(F.col("open").cast("double")).alias("open"),
                 F.max("v").cast("double").alias("high"),
                 F.min("v").cast("double").alias("low"),
                 F.max(F.col("close").cast("double")).alias("close"),
                 F.sum("v").cast("double").alias("volume")))


SQL_OHLC_BARS = """
WITH base AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
         CAST(value AS DECIMAL(18,2)) AS v,
         first_value(CAST(value AS DECIMAL(18,2)))
           OVER (PARTITION BY event_type, epoch_us(ts) // 3600000000
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS open,
         last_value(CAST(value AS DECIMAL(18,2)))
           OVER (PARTITION BY event_type, epoch_us(ts) // 3600000000
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS close
  FROM events)
SELECT event_type, hr, COUNT(*) AS n,
       CAST(MAX(open) AS DOUBLE) AS open,
       CAST(MAX(v) AS DOUBLE) AS high,
       CAST(MIN(v) AS DOUBLE) AS low,
       CAST(MAX(close) AS DOUBLE) AS close,
       CAST(SUM(v) AS DOUBLE) AS volume
FROM base GROUP BY event_type, hr
"""


# ----------------------------------------------------- RFM scores ---

def q_rfm_scores(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation:
    quintile each metric over a unique total order, report segment
    populations.  All metrics are integers (epoch days, counts,
    cents); three global ntile sorts at fixture scale — the at-scale
    form swaps ntile for approx-quantile breakpoint broadcast, noted
    here because a global sort per metric is the textbook
    ntile-at-scale trap."""
    o = _t(spark, sf_dir, "orders")
    per_cust = (o.groupBy("o_custkey")
                .agg(F.max(F.datediff(F.to_date("o_orderdate"),
                                      F.lit("1970-01-01").cast("date")))
                     .alias("recency"),
                     F.count(F.lit(1)).alias("frequency"),
                     (F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                      * 100).cast("bigint").alias("monetary")))
    scored = per_cust.select(
        "o_custkey",
        F.ntile(5).over(Window.orderBy("recency", "o_custkey")).alias("r"),
        F.ntile(5).over(Window.orderBy("frequency", "o_custkey")).alias("f"),
        F.ntile(5).over(Window.orderBy("monetary", "o_custkey")).alias("m"))
    return (scored.groupBy("r", "f", "m")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.min("o_custkey").alias("min_cust"),
                 F.max("o_custkey").alias("max_cust")))


SQL_RFM_SCORES = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS recency,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS monetary
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT o_custkey,
         ntile(5) OVER (ORDER BY recency, o_custkey) AS r,
         ntile(5) OVER (ORDER BY frequency, o_custkey) AS f,
         ntile(5) OVER (ORDER BY monetary, o_custkey) AS m
  FROM per_cust)
SELECT r, f, m, COUNT(*) AS n_customers,
       MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust
FROM scored GROUP BY r, f, m
"""

# ---------------------------------------------------- NDCG@10 -------

NDCG_K = 10
# 1/log2(i+1) discounts as exact build-time literals (repr round-trips
# to the same double in Python, Spark, and DuckDB)
_DISC = [1.0 / math.log2(i + 1) for i in range(1, NDCG_K + 1)]


def q_eval_ndcg(spark, sf_dir):
    """NDCG@10 of the BM25 top-k (registry_ext6.q_bm25_topk) scored
    against md5-derived relevance grades (0-3).  DCG sums the
    graded gains with literal 1/log2(i+1) discounts in rank order;
    IDCG re-sorts the same 10 grades descending.  One row out; all
    the heavy lifting is the BM25 query's own shuffle-free plan plus
    two 10-row windows."""
    from functools import reduce

    from .ann import q_bm25_topk
    top = q_bm25_topk(spark, sf_dir)  # ranked: bm25 desc, doc_id
    rel = (_md48(F.concat(F.lit("rel:"), F.col("doc_id"))) % 4)
    w_rank = Window.orderBy(F.desc("bm25"), "doc_id")
    ranked = (top.select(
        "doc_id", rel.alias("rel"),
        F.row_number().over(w_rank).alias("pos"))
        .filter(F.col("pos") <= NDCG_K))
    w_ideal = Window.orderBy(F.desc("rel"), "doc_id")
    both = ranked.select(
        "rel", "pos", F.row_number().over(w_ideal).alias("ipos"))
    # pivot the ≤10 (position, grade) pairs to integer columns, THEN
    # combine with the discount literals in ONE pinned-order
    # expression: a float SUM over rows accumulates in engine order
    # and flipped a ROUND boundary between engines (caught live by
    # the vanilla-session verify probe)
    pivot = both.agg(
        *[F.sum(F.when(F.col("pos") == i, F.col("rel")).otherwise(0))
          .alias(f"r{i}") for i in range(1, NDCG_K + 1)],
        *[F.sum(F.when(F.col("ipos") == i, F.col("rel")).otherwise(0))
          .alias(f"s{i}") for i in range(1, NDCG_K + 1)])
    dcg = reduce(lambda a, b: a + b,
                 [F.col(f"r{i}") * F.lit(_DISC[i - 1])
                  for i in range(1, NDCG_K + 1)])
    idcg = reduce(lambda a, b: a + b,
                  [F.col(f"s{i}") * F.lit(_DISC[i - 1])
                   for i in range(1, NDCG_K + 1)])
    return pivot.select(
        F.round(dcg, 6).alias("dcg"),
        F.round(idcg, 6).alias("idcg"),
        F.round(dcg / idcg, 6).alias("ndcg"))


def _sql_eval_ndcg() -> str:
    from .ann import _sql_bm25_topk
    rcols = ", ".join(
        f"CAST(SUM(CASE WHEN pos = {i} THEN rel ELSE 0 END) AS BIGINT)"
        f" AS r{i}" for i in range(1, NDCG_K + 1))
    scols = ", ".join(
        f"CAST(SUM(CASE WHEN ipos = {i} THEN rel ELSE 0 END) AS BIGINT)"
        f" AS s{i}" for i in range(1, NDCG_K + 1))
    dcg = " + ".join(f"r{i} * CAST({_DISC[i - 1]!r} AS DOUBLE)"
                     for i in range(1, NDCG_K + 1))
    idcg = " + ".join(f"s{i} * CAST({_DISC[i - 1]!r} AS DOUBLE)"
                      for i in range(1, NDCG_K + 1))
    return f"""
WITH top AS ({_sql_bm25_topk()}),
ranked AS (
  SELECT * FROM (
    SELECT doc_id,
           CAST('0x' || substr(md5('rel:' || doc_id), 1, 12) AS BIGINT)
             % 4 AS rel,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS pos
    FROM top)
  WHERE pos <= {NDCG_K}),
ranks2 AS (
  SELECT rel, pos,
         ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS ipos
  FROM ranked),
wide AS (SELECT {rcols}, {scols} FROM ranks2)
SELECT ROUND({dcg}, 6) AS dcg,
       ROUND({idcg}, 6) AS idcg,
       ROUND(({dcg}) / ({idcg}), 6) AS ndcg
FROM wide
"""


# ---------------------------------------------- bootstrap CI --------

BOOT_B = 32
# inverse-CDF thresholds for Poisson(1) on a 12-bit (0..4095) draw:
# cumulative P(X<=k) * 4096 for k = 0..4
_POIS = [1507, 3014, 3767, 4018, 4081]
_BOOT_DIGESTS = 4  # 10 twelve-bit lanes per md5; 4 digests cover B=32


def _pois_weight(h):
    w = F.lit(5)
    for k in range(len(_POIS) - 1, -1, -1):
        w = F.when(h < _POIS[k], k).otherwise(w)
    return w


def q_bootstrap_ci(spark, sf_dir):
    """Percentile-bootstrap 90% CI of mean order value, one pass:
    each of B=32 replicates weights every row by a DETERMINISTIC
    Poisson(1) draw (md5 through an integer inverse-CDF — the
    standard multinomial→Poisson bootstrap approximation, and the
    only distributed-bootstrap form that needs no shuffle of the
    data).  Replicate means are exact integer-cent ratios; the CI
    bounds are order statistics of the 32 means.

    Hash-lane trick (the minhash wide-digest lesson, llm/dedup.py):
    the naive form hashes B times per row; here FOUR md5 digests per
    row are sliced into ten 12-bit lanes each — 8× less hashing for
    the dominant stage (measured 8.8 → ~2 s at sf0.1).  Explode
    factor B on a projected row; at 100 TB the scan stays one pass
    and the only shuffle is B rows.  The narrow (key, cents)
    projection is ``_spread`` first — a single-row-group bench file
    scans as ONE task, which would serialize the md5 fan on one core
    (measured 3.3 → 0.8 s at sf0.1); on a many-split production scan
    the spread is a no-op."""
    from ..llm.dedup import _spread
    o = _spread(_t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents")))
    digests = o.select(
        "cents",
        *[F.md5(F.concat(F.lit(f"boot{r}:"), F.col("o_orderkey")))
          .alias(f"d{r}") for r in range(_BOOT_DIGESTS)])
    rep = digests.select(
        "cents", *[f"d{r}" for r in range(_BOOT_DIGESTS)],
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"))
    digest = F.element_at(
        F.array(*[F.col(f"d{r}") for r in range(_BOOT_DIGESTS)]),
        F.expr("cast(b div 10 + 1 as int)"))
    h = F.conv(F.substring(digest, F.expr("3 * (b % 10) + 1"), F.lit(3)),
               16, 10).cast("bigint")
    weighted = rep.select("b", "cents", _pois_weight(h).alias("w"))
    means = (weighted.groupBy("b")
             .agg((F.sum(F.col("w") * F.col("cents")).cast("double")
                   / (F.sum("w") * 100)).alias("mean")))
    w_rank = Window.orderBy("mean")
    ranked = means.select("mean", F.row_number().over(w_rank).alias("r"))
    lo_r = max(1, int(BOOT_B * 0.05))
    hi_r = int(math.ceil(BOOT_B * 0.95))
    return (ranked.agg(
        F.round(F.min(F.when(F.col("r") == lo_r, F.col("mean"))), 6)
        .alias("ci_lo"),
        F.round(F.min(F.when(F.col("r") == hi_r, F.col("mean"))), 6)
        .alias("ci_hi"),
        F.count(F.lit(1)).alias("n_replicates")))


def _sql_bootstrap_ci() -> str:
    lo_r = max(1, int(BOOT_B * 0.05))
    hi_r = int(math.ceil(BOOT_B * 0.95))
    cases = "".join(
        f"WHEN h < {t} THEN {k} " for k, t in enumerate(_POIS))
    digests = ", ".join(f"md5('boot{r}:' || o_orderkey) AS d{r}"
                        for r in range(_BOOT_DIGESTS))
    pick = ("CASE b // 10 "
            + " ".join(f"WHEN {r} THEN d{r}"
                       for r in range(_BOOT_DIGESTS)) + " END")
    return f"""
WITH rows0 AS (
  SELECT CAST(o_totalprice * 100 AS BIGINT) AS cents, {digests}
  FROM orders),
rep AS (
  SELECT b, cents,
         CAST('0x' || substr({pick}, 3 * (b % 10) + 1, 3) AS BIGINT) AS h
  FROM rows0 CROSS JOIN (SELECT UNNEST(generate_series(0, {BOOT_B - 1}))
                         AS b)),
weighted AS (SELECT b, cents, CASE {cases}ELSE 5 END AS w FROM rep),
means AS (
  SELECT b, CAST(SUM(w * cents) AS DOUBLE) / (SUM(w) * 100) AS mean
  FROM weighted GROUP BY b),
ranked AS (SELECT mean, ROW_NUMBER() OVER (ORDER BY mean) AS r
           FROM means)
SELECT ROUND(MIN(CASE WHEN r = {lo_r} THEN mean END), 6) AS ci_lo,
       ROUND(MIN(CASE WHEN r = {hi_r} THEN mean END), 6) AS ci_hi,
       COUNT(*) AS n_replicates
FROM ranked
"""


# ------------------------------------------------ Welch t-test ------

def q_ab_ttest(spark, sf_dir):
    """Welch's t-test on order value between two md5-assigned arms —
    the continuous-metric A/B companion to the chi-square proportion
    test (registry_ext5.q_chi2_abtest).  Moments are integer-cent
    sums (order-free exact); the t statistic and Welch dof are ONE
    closed-form float expression over the six exact integers, so
    both engines evaluate bit-identically before the final
    ROUND."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    arm = F.when(
        _md48(F.concat(F.lit("arm:"), F.col("o_orderkey"))) % 2 == 0,
        "A").otherwise("B")
    # cents² sums exceed int64 at sf0.1 (DuckDB silently promotes to
    # HUGEINT, Spark bigint would WRAP — caught in design review):
    # accumulate the second moment in DECIMAL(38,0), exact in both
    agg = (o.select(arm.alias("arm"), "cents")
           .groupBy("arm")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("s"),
                F.sum((F.col("cents") * F.col("cents"))
                      .cast("decimal(38,0)")).alias("ss")))
    a = agg.filter(F.col("arm") == "A").select(
        F.col("n").alias("na"), F.col("s").alias("sa"),
        F.col("ss").alias("ssa"))
    b = agg.filter(F.col("arm") == "B").select(
        F.col("n").alias("nb"), F.col("s").alias("sb"),
        F.col("ss").alias("ssb"))
    j = a.crossJoin(b)
    ma = F.col("sa").cast("double") / F.col("na")
    mb = F.col("sb").cast("double") / F.col("nb")
    # all-double moment algebra in pinned order: s² would overflow
    # int64 too, so square the double (both engines round the same
    # product identically)
    va = ((F.col("ssa").cast("double")
           - F.col("sa").cast("double") * F.col("sa") / F.col("na"))
          / (F.col("na") - 1))
    vb = ((F.col("ssb").cast("double")
           - F.col("sb").cast("double") * F.col("sb") / F.col("nb"))
          / (F.col("nb") - 1))
    se2 = va / F.col("na") + vb / F.col("nb")
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / F.col("na")) * (va / F.col("na")) / (F.col("na") - 1)
        + (vb / F.col("nb")) * (vb / F.col("nb")) / (F.col("nb") - 1))
    return j.select(
        "na", "nb",
        F.round(ma / 100, 6).alias("mean_a"),
        F.round(mb / 100, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_dof"))


SQL_AB_TTEST = """
WITH base AS (
  SELECT CASE WHEN CAST('0x' || substr(md5('arm:' || o_orderkey), 1, 12)
                   AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         CAST(o_totalprice * 100 AS BIGINT) AS cents
  FROM orders),
agg AS (
  SELECT arm, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s,
         SUM(cents * cents) AS ss
  FROM base GROUP BY arm),
j AS (
  SELECT a.n AS na, a.s AS sa, CAST(a.ss AS DOUBLE) AS ssa,
         b.n AS nb, b.s AS sb, CAST(b.ss AS DOUBLE) AS ssb
  FROM (SELECT * FROM agg WHERE arm = 'A') a
  CROSS JOIN (SELECT * FROM agg WHERE arm = 'B') b),
v AS (
  SELECT na, nb, sa, sb,
         (ssa - CAST(sa AS DOUBLE) * sa / na) / (na - 1) AS va,
         (ssb - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1) AS vb
  FROM j)
SELECT na, nb,
       ROUND(CAST(sa AS DOUBLE) / na / 100, 6) AS mean_a,
       ROUND(CAST(sb AS DOUBLE) / nb / 100, 6) AS mean_b,
       ROUND((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
             / SQRT(va / na + vb / nb), 6) AS t_stat,
       ROUND((va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)), 6) AS welch_dof
FROM v
"""


# ------------------------------------------------ focal (3x3) ------

GRID_N = 32


def q_focal_mean(spark, sf_dir):
    """Spatial FOCAL statistics — the chip-grid neighborhood rollup
    of the reference's domain (every LCMAP chip has 8 neighbors on
    the ARD grid): hash events onto a 32×32 cell grid, aggregate per
    cell, then 3×3 focal count/mean per cell.

    Scale shape: the corpus is touched ONCE (the per-cell
    aggregate); the 9-way neighbor expansion explodes the
    GRID-sized aggregate (1024 rows), never the events — at 100 TB
    the focal pass costs the same as at 1 GB.  Edge cells keep their
    partial neighborhoods (no wraparound)."""
    e = _t(spark, sf_dir, "events")
    x = _md48(F.concat(F.lit("x:"), F.col("user_id"))) % GRID_N
    y = _md48(F.concat(F.lit("y:"), F.col("user_id"))) % GRID_N
    grid = (e.select(x.alias("x"), y.alias("y"),
                     F.col("value").cast("decimal(18,2)").alias("v"))
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum("v") * 100).cast("bigint").alias("cents")))
    offsets = F.expr(
        "explode(array(" + ", ".join(
            f"struct({dx} as dx, {dy} as dy)"
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)) + "))")
    contrib = (grid.select("x", "y", "n", "cents", offsets.alias("o"))
               .select((F.col("x") + F.col("o.dx")).alias("tx"),
                       (F.col("y") + F.col("o.dy")).alias("ty"),
                       "n", "cents")
               .filter((F.col("tx") >= 0) & (F.col("tx") < GRID_N)
                       & (F.col("ty") >= 0) & (F.col("ty") < GRID_N)))
    focal = (contrib.groupBy("tx", "ty")
             .agg(F.sum("n").alias("focal_n"),
                  F.sum("cents").alias("focal_cents")))
    return (grid.join(focal, (grid["x"] == focal["tx"])
                      & (grid["y"] == focal["ty"]))
            .select("x", "y", "n", "focal_n",
                    F.round(F.col("focal_cents").cast("double")
                            / (100 * F.col("focal_n")), 6)
                    .alias("focal_mean")))


SQL_FOCAL_MEAN = f"""
WITH grid AS (
  SELECT CAST('0x' || substr(md5('x:' || user_id), 1, 12) AS BIGINT)
           % {GRID_N} AS x,
         CAST('0x' || substr(md5('y:' || user_id), 1, 12) AS BIGINT)
           % {GRID_N} AS y,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
offs AS (SELECT dx, dy FROM (VALUES (-1), (0), (1)) a(dx)
         CROSS JOIN (VALUES (-1), (0), (1)) b(dy)),
contrib AS (
  SELECT g.x + o.dx AS tx, g.y + o.dy AS ty, g.n, g.cents
  FROM grid g CROSS JOIN offs o
  WHERE g.x + o.dx BETWEEN 0 AND {GRID_N - 1}
    AND g.y + o.dy BETWEEN 0 AND {GRID_N - 1}),
focal AS (
  SELECT tx, ty, CAST(SUM(n) AS BIGINT) AS focal_n,
         CAST(SUM(cents) AS BIGINT) AS focal_cents
  FROM contrib GROUP BY tx, ty)
SELECT g.x, g.y, g.n, f.focal_n,
       ROUND(CAST(f.focal_cents AS DOUBLE) / (100 * f.focal_n), 6)
         AS focal_mean
FROM grid g JOIN focal f ON f.tx = g.x AND f.ty = g.y
"""


# ------------------------------------------ CUSUM changepoints ------

def q_cusum_changepoints(spark, sf_dir):
    """Declarative CUSUM mean-shift detection per user — the
    streaming-light cousin of the reference's per-pixel change
    detection (PyCCD segments; plans/segment.py carries the science
    core).  The CUSUM recursion s_t = max(0, s_{t-1} + dev_t) is NOT
    window-expressible directly, but the prefix-min identity
    s_t = cum_t − min(0, min_{j≤t} cum_j) turns it into two exact
    integer windows (running sum + running min) — no recursion, no
    UDF, engine-identical.  Deviations are against the user's own
    integer mean (sum div n); a flag fires when the CUSUM exceeds
    4× the mean.  Output: per-user change summary."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "user_id", "ts", "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    mu = (base.groupBy("user_id")
          .agg(F.expr("sum(cents) div count(1)").alias("mu"),
               F.count(F.lit(1)).alias("n_events")))
    j = base.join(F.broadcast(mu), "user_id")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    # two window LEVELS (nested window functions are illegal in both
    # engines); the second window sorts the already-sorted partition,
    # so it costs a pass, not a second shuffle
    cummed = j.select("user_id", "n_events", "mu", "ts", "event_id",
                      F.sum(F.col("cents") - F.col("mu")).over(w)
                      .alias("cum"))
    cusum = F.col("cum") - F.least(F.min("cum").over(w), F.lit(0))
    scored = cummed.select("user_id", "n_events", "mu",
                           cusum.alias("cusum"))
    return (scored.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"),
                 F.max("cusum").alias("max_cusum"),
                 F.sum((F.col("cusum") > 4 * F.col("mu"))
                       .cast("bigint")).alias("n_flags"))
            .filter(F.col("n_flags") > 0))


SQL_CUSUM = """
WITH base AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events),
mu AS (SELECT user_id, SUM(cents) // COUNT(*) AS mu,
              COUNT(*) AS n_events
       FROM base GROUP BY user_id),
cummed AS (
  SELECT b.user_id, m.n_events, m.mu, b.ts, b.event_id,
         SUM(b.cents - m.mu) OVER w AS cum
  FROM base b JOIN mu m USING (user_id)
  WINDOW w AS (PARTITION BY b.user_id ORDER BY b.ts, b.event_id
               ROWS UNBOUNDED PRECEDING)),
scored AS (
  SELECT user_id, n_events, mu,
         cum - LEAST(MIN(cum) OVER w2, 0) AS cusum
  FROM cummed
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING))
SELECT user_id, MAX(n_events) AS n_events,
       CAST(MAX(cusum) AS BIGINT) AS max_cusum,
       CAST(SUM(CASE WHEN cusum > 4 * mu THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flags
FROM scored GROUP BY user_id
HAVING SUM(CASE WHEN cusum > 4 * mu THEN 1 ELSE 0 END) > 0
"""


# ---------------------------------------- week-over-week growth -----

def q_wow_growth(spark, sf_dir):
    """Week-over-week revenue growth in integer basis points — the
    period-over-period report every metrics pipeline ships.  Weeks
    are epoch-day integer division (Monday-agnostic but TZ-proof and
    engine-identical); growth = (cur − prev)·10⁴ div prev stays in
    int64.  One date-bucket aggregate + one ordered window over the
    (tiny) weekly rollup."""
    o = _t(spark, sf_dir, "orders")
    wk = F.expr("datediff(to_date(o_orderdate), date'1970-01-01') div 7")
    weekly = (o.select(wk.alias("wk"),
                       (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                       .cast("bigint").alias("cents"))
              .groupBy("wk")
              .agg(F.count(F.lit(1)).alias("n_orders"),
                   F.sum("cents").alias("cents")))
    return (weekly.select(
        "wk", "n_orders",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        F.expr("(cents - lag(cents) over (order by wk)) * 10000 "
               "div lag(cents) over (order by wk)").alias("growth_bp"))
        .orderBy("wk"))


SQL_WOW_GROWTH = """
WITH weekly AS (
  SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1)
SELECT wk, n_orders,
       CAST(cents AS DOUBLE) / 100 AS revenue,
       (cents - lag(cents) OVER (ORDER BY wk)) * 10000
         // lag(cents) OVER (ORDER BY wk) AS growth_bp
FROM weekly ORDER BY wk
"""

# Coarse-group widths for the three-level prefix sum.  Level-0 joins
# values within a g1 group (≤ 1024 distinct values), level-1 joins g1
# totals within a g2 group (≤ 1024 groups), level-2 prefixes the g2
# totals with a tiny broadcast NLJ (domain / 2^20 rows).
_G1 = 1024
_G2 = 1024 * 1024


def _strict_prefix(tbl: DataFrame, eq: list, ltc: str, sumc: str,
                   outc: str, keep: list,
                   broadcast_b: bool = False) -> DataFrame:
    """For each row of ``tbl``: the sum of ``sumc`` over rows with
    equal ``eq`` keys and a strictly smaller ``ltc`` — one level of
    the prefix-sum pyramid.  Equi-shaped whenever ``eq`` is
    non-empty; the single keyless level joins a provably tiny,
    broadcast side."""
    a, b = tbl.alias("a"), tbl.alias("b")
    cond = F.col(f"b.{ltc}") < F.col(f"a.{ltc}")
    for c in eq:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    side = F.broadcast(b) if broadcast_b else b
    return (a.join(side, cond, "left")
            .groupBy(*[F.col(f"a.{c}").alias(c) for c in keep])
            .agg(F.coalesce(F.sum(f"b.{sumc}"), F.lit(0)).alias(outc)))


def cum_below(df: DataFrame, vcol: str, by: tuple = ()) -> DataFrame:
    """(by..., v, c, cum_lt) — for each distinct value of ``vcol``
    (within each ``by`` group), its row count and the EXACT number
    of rows with a strictly smaller value, via per-value counts and
    a three-level prefix sum.

    Levels 0 and 1 are PARTITIONED windows (≤1024 rows per
    partition by construction — a bounded local sort, never the
    global-ntile single-partition trap and never a pair blowup: the
    first cut of this helper self-joined within each level and hit
    ~50M compared pairs on dense cent domains, 8 s at sf0.1 vs
    sub-second for the window form).  Only the level-2 prefix over
    the g2 group totals is a join — domain / 2^20 rows, broadcast
    in the keyless case, equi-shaped once ``by`` keys exist.  All
    integer math either way."""
    by = list(by)
    from pyspark.sql import Window
    cnt = (df.groupBy(*by, F.col(vcol).alias("v"))
           .agg(F.count(F.lit(1)).alias("c"))
           .select(*by, "v", "c",
                   F.expr("v div {}".format(_G1)).alias("g1"),
                   F.expr("v div {}".format(_G2)).alias("g2")))
    # level-0 strict prefix within each g1 partition (≤1024 distinct
    # values — v is unique within cnt, so the ROWS frame is exact)
    w0 = (Window.partitionBy(*by, "g1").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1))
    cnt = cnt.withColumn(
        "below0", F.coalesce(F.sum("c").over(w0), F.lit(0)))
    # level-1 strict prefix of g1 totals within each g2 partition
    t1 = cnt.groupBy(*by, "g1", "g2").agg(F.sum("c").alias("tc1"))
    w1 = (Window.partitionBy(*by, "g2").orderBy("g1")
          .rowsBetween(Window.unboundedPreceding, -1))
    p1 = t1.withColumn(
        "below1", F.coalesce(F.sum("tc1").over(w1), F.lit(0)))
    # level-2 strict prefix: rows = distinct g2 = domain / 2^20 per
    # by-group — tiny; broadcast NLJ only in the keyless case
    t2 = t1.groupBy(*by, "g2").agg(F.sum("tc1").alias("tc2"))
    p2 = _strict_prefix(t2, by, "g2", "tc2", "below2", by + ["g2"],
                        broadcast_b=not by)
    return (cnt
            .join(p1.select(*by, "g1", "g2", "below1"),
                  by + ["g1", "g2"])
            .join(p2, by + ["g2"])
            .select(*by, "v", "c",
                    (F.col("below0") + F.col("below1")
                     + F.col("below2")).alias("cum_lt")))


def bucketize(df: DataFrame, vcol: str, n_buckets: int,
              out: str) -> DataFrame:
    """Add ``out`` = floor(n_buckets * cum_lt(v) / N) + 1 — exact
    tie-collapsed quantile bucket of ``vcol``.  The bucket map joins
    back on the value (shuffle equi-join: distinct-value cardinality
    can approach table size for near-unique metrics like monetary
    cents, so it is NOT broadcast); N rides along as a one-row
    broadcast."""
    cum = cum_below(df, vcol).select("v", "cum_lt")
    n = df.agg(F.count(F.lit(1)).alias("n_total"))
    return (df.join(cum, df[vcol] == cum["v"])
            .join(F.broadcast(n))
            .withColumn(out, F.expr(
                "(({} * cum_lt) div n_total) + 1".format(n_buckets)))
            .drop("v", "cum_lt", "n_total"))


def _sql_cum(src: str, vexpr: str, pfx: str, by: tuple = ()) -> str:
    """DuckDB CTE block mirroring cum_below over ``src``(``vexpr``),
    optionally per ``by`` group; emits CTE ``{pfx}cum``(by..., v, c,
    cum_lt)."""
    by = list(by)
    bsel = "".join(f"{c}, " for c in by)               # leading cols
    absel = "".join(f"a.{c}, " for c in by)            # a-qualified
    p0b = "".join(f"p0.{c}, " for c in by)
    eq = " AND ".join(f"a.{c} = b.{c}" for c in by)
    eq_and = f"{eq} AND " if eq else ""
    j01 = " AND ".join([f"p0.{c} = p1.{c}" for c in by]
                       + ["p0.g1 = p1.g1", "p0.g2 = p1.g2"])
    j02 = " AND ".join([f"p0.{c} = p2.{c}" for c in by]
                       + ["p0.g2 = p2.g2"])
    return f"""
{pfx}cnt AS (
  SELECT {bsel}{vexpr} AS v, CAST(COUNT(*) AS BIGINT) AS c,
         {vexpr} // {_G1} AS g1, {vexpr} // {_G2} AS g2
  FROM {src} GROUP BY ALL),
{pfx}t1 AS (SELECT {bsel}g1, g2, CAST(SUM(c) AS BIGINT) AS tc1
            FROM {pfx}cnt GROUP BY ALL),
{pfx}t2 AS (SELECT {bsel}g2, CAST(SUM(tc1) AS BIGINT) AS tc2
            FROM {pfx}t1 GROUP BY ALL),
{pfx}p2 AS (
  SELECT {absel}a.g2, COALESCE(CAST(SUM(b.tc2) AS BIGINT), 0) AS below2
  FROM {pfx}t2 a LEFT JOIN {pfx}t2 b ON {eq_and}b.g2 < a.g2
  GROUP BY ALL),
{pfx}p1 AS (
  SELECT {absel}a.g1, a.g2,
         COALESCE(CAST(SUM(b.tc1) AS BIGINT), 0) AS below1
  FROM {pfx}t1 a LEFT JOIN {pfx}t1 b
    ON {eq_and}a.g2 = b.g2 AND b.g1 < a.g1
  GROUP BY ALL),
{pfx}p0 AS (
  SELECT {absel}a.v, a.c, a.g1, a.g2,
         COALESCE(CAST(SUM(b.c) AS BIGINT), 0) AS below0
  FROM {pfx}cnt a LEFT JOIN {pfx}cnt b
    ON {eq_and}a.g1 = b.g1 AND b.v < a.v
  GROUP BY ALL),
{pfx}cum AS (
  SELECT {p0b}p0.v, p0.c, below0 + below1 + below2 AS cum_lt
  FROM {pfx}p0 p0
  JOIN {pfx}p1 p1 ON {j01}
  JOIN {pfx}p2 p2 ON {j02})"""


# -------------------------------------- quality deciles, at scale ---

def q_quality_deciles_bp(spark, sf_dir):
    """At-scale twin of ``quality_deciles``: decile = exact
    tie-collapsed value bucket from the distributed prefix sum —
    no global ntile sort anywhere in the plan (the ntile form stays
    registered as the oracle-parity twin; this is the form you run
    at 10^12 rows)."""
    d = _t(spark, sf_dir, "documents")
    b = bucketize(d, "n_chars", 10, "decile")
    return (b.groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.countDistinct("lang").alias("n_langs"))
            .orderBy("decile"))


SQL_QUALITY_DECILES_BP = f"""
WITH {_sql_cum("documents", "n_chars", "d_")},
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
b AS (
  SELECT d.doc_id, d.n_chars, d.lang,
         (10 * c.cum_lt) // n.n_total + 1 AS decile
  FROM documents d
  JOIN d_cum c ON d.n_chars = c.v CROSS JOIN n)
SELECT decile, COUNT(*) AS n, MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars, COUNT(DISTINCT lang) AS n_langs
FROM b GROUP BY decile ORDER BY decile
"""


# ------------------------------------------- RFM scores, at scale ---

def q_rfm_scores_bp(spark, sf_dir):
    """At-scale twin of ``rfm_scores``: the three quintile scores
    come from three exact breakpoint bucketings instead of three
    global ntile sorts.  per-customer metrics are staged to parquet
    once (seven plan consumers would otherwise re-aggregate orders
    seven times — the minhash staging lesson); every downstream join
    is equi-shaped."""
    o = _t(spark, sf_dir, "orders")
    per_cust = (o.groupBy("o_custkey")
                .agg(F.max(F.datediff(
                        F.to_date("o_orderdate"),
                        F.lit("1970-01-01").cast("date")))
                     .alias("recency"),
                     F.count(F.lit(1)).alias("frequency"),
                     (F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                      * 100).cast("bigint").alias("monetary")))
    staging = _staging(sf_dir, "rfm_percust")
    per_cust.write.mode("overwrite").parquet(staging)
    pc = spark.read.parquet(staging)
    n = pc.agg(F.count(F.lit(1)).alias("n_total"))

    # one bucket MAP per metric, each computed straight from the
    # staged scan (chaining bucketize() would fold each previous
    # join into the next pyramid's lineage and re-execute it), then
    # one 3-way join of the maps onto the staged rows
    def bucket_map(vcol: str, out: str):
        return (cum_below(pc, vcol)
                .join(F.broadcast(n))
                .select(F.col("v").alias(f"__{out}_v"),
                        F.expr("((5 * cum_lt) div n_total) + 1")
                        .alias(out)))

    r = bucket_map("recency", "r")
    f = bucket_map("frequency", "f")
    m = bucket_map("monetary", "m")
    b = (pc.join(r, pc["recency"] == r["__r_v"])
         .join(f, pc["frequency"] == f["__f_v"])
         .join(m, pc["monetary"] == m["__m_v"]))
    return (b.groupBy("r", "f", "m")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.min("o_custkey").alias("min_cust"),
                 F.max("o_custkey").alias("max_cust")))


SQL_RFM_SCORES_BP = f"""
WITH per_cust AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS recency,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS monetary
  FROM orders GROUP BY o_custkey),
{_sql_cum("per_cust", "recency", "r_")},
{_sql_cum("per_cust", "frequency", "f_")},
{_sql_cum("per_cust", "monetary", "m_")},
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM per_cust),
b AS (
  SELECT p.o_custkey,
         (5 * rc.cum_lt) // n.n_total + 1 AS r,
         (5 * fc.cum_lt) // n.n_total + 1 AS f,
         (5 * mc.cum_lt) // n.n_total + 1 AS m
  FROM per_cust p
  JOIN r_cum rc ON p.recency = rc.v
  JOIN f_cum fc ON p.frequency = fc.v
  JOIN m_cum mc ON p.monetary = mc.v
  CROSS JOIN n)
SELECT r, f, m, COUNT(*) AS n_customers,
       MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust
FROM b GROUP BY r, f, m
"""


# ------------------------------------------- rolling z-score -------

ZS_WIN = 32     # trailing window rows
ZS_MIN_N = 8    # minimum history before flagging
ZS_K = 3        # |x - μ| > 3σ


def q_rolling_zscore(spark, sf_dir):
    """Per-type rolling anomaly flags: an event is anomalous when
    its cents value deviates > 3σ from the trailing-32-row mean.
    The test is cross-multiplied to one integer comparison,
    (n·x − S)² > 9·(n·Q − S²), evaluated in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) so cents² sums can never wrap (the ab_ttest
    lesson) — no float, no sqrt, bit-identical flags.  Window is
    partitioned by event_type and ordered by the epoch-microsecond
    integer (never calendar functions — the events column is LTZ).

    Scale note: event_type is a 5-value key, so these window
    partitions cap parallelism at 5 — fine for the oracle shape; the
    AT-SCALE form is ``rolling_zscore_bp`` (registry_ext12.py),
    re-keyed by (event_type, epoch_day) with an exact 32-row
    boundary carry."""
    e = _t(spark, sf_dir, "events")
    # null values are excluded OUTRIGHT (not null-skipped inside the
    # sums) so the row count n and the moment sums always describe
    # the same window — and the streaming twin (zscore_stream) can
    # mirror the semantics exactly
    base = e.filter(F.col("value").isNotNull()).select(
        "event_id", "event_type",
        F.expr("unix_micros(ts)").alias("t_us"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    w = (Window.partitionBy("event_type").orderBy("t_us", "event_id")
         .rowsBetween(-ZS_WIN, -1))
    # the moment sums themselves accumulate in DECIMAL(38,0): a
    # single cents·cents product wraps int64 at ~$30M values, and
    # casting only AFTER the sum would inherit the wrap
    dcents = F.col("cents").cast("decimal(38,0)")
    stats = base.select(
        "event_id", "event_type", "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(dcents).over(w).alias("s"),
        F.sum(dcents * F.col("cents")).over(w).alias("q"))
    dn = F.col("n").cast("decimal(38,0)")
    dx = F.col("cents").cast("decimal(38,0)")
    ds = F.col("s")
    dq = F.col("q")
    dev = dn * dx - ds
    var_n2 = dn * dq - ds * ds
    return (stats
            .filter((F.col("n") >= ZS_MIN_N)
                    & (dev * dev > ZS_K * ZS_K * var_n2))
            .select("event_id", "event_type", "cents", "n"))


SQL_ROLLING_ZSCORE = f"""
WITH base AS (
  SELECT event_id, event_type, epoch_us(ts) AS t_us,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
stats AS (
  SELECT event_id, event_type, cents,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         SUM(CAST(cents AS HUGEINT)) OVER w AS s,
         SUM(CAST(cents AS HUGEINT) * cents) OVER w AS q
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY t_us, event_id
               ROWS BETWEEN {ZS_WIN} PRECEDING AND 1 PRECEDING))
SELECT event_id, event_type, cents, n
FROM stats
WHERE n >= {ZS_MIN_N}
  AND (CAST(n AS HUGEINT) * cents - s) * (CAST(n AS HUGEINT) * cents - s)
      > {ZS_K * ZS_K} * (CAST(n AS HUGEINT) * q - s * s)
"""


# ------------------------------------- exact per-group median ------

def q_group_median_bp(spark, sf_dir):
    """EXACT per-group median order value (cents) with NO sort in
    the plan: the grouped prefix-sum pyramid (registry_ext10) gives
    each distinct value its below-count, and the median is the
    smallest value whose inclusive count reaches half the group —
    2·(cum_lt + c) ≥ n.  With a group key every pyramid level is an
    equi-join, so the plan is shuffle-bounded by the distinct-value
    table, never a global ordering."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    cum = cum_below(o, "cents", by=("grp",))
    n = o.groupBy("grp").agg(F.count(F.lit(1)).alias("n_grp"))
    return (cum.join(F.broadcast(n), "grp")
            .filter(2 * (F.col("cum_lt") + F.col("c"))
                    >= F.col("n_grp"))
            .groupBy("grp", "n_grp")
            .agg(F.min("v").alias("median_cents"))
            .orderBy("grp"))


SQL_GROUP_MEDIAN_BP = f"""
WITH src AS (
  SELECT o_orderpriority AS grp,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
{_sql_cum("src", "cents", "g_", by=("grp",))},
n AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_grp
      FROM src GROUP BY grp)
SELECT c.grp, n.n_grp, MIN(c.v) AS median_cents
FROM g_cum c JOIN n ON c.grp = n.grp
WHERE 2 * (c.cum_lt + c.c) >= n.n_grp
GROUP BY c.grp, n.n_grp ORDER BY c.grp
"""


def q_group_quartiles_bp(spark, sf_dir):
    """p25/p50/p75 per group in ONE pass over the same grouped
    prefix-sum pyramid as ``group_median_bp``: quartile k is the
    smallest value whose inclusive count reaches k/4 of the group,
    so all three emerge as conditional MINs of one aggregate — no
    sort, no percentile UDF, one extra comparison per threshold."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    cum = cum_below(o, "cents", by=("grp",))
    n = o.groupBy("grp").agg(F.count(F.lit(1)).alias("n_grp"))
    j = cum.join(F.broadcast(n), "grp")
    incl4 = 4 * (F.col("cum_lt") + F.col("c"))

    def q_at(k, name):
        return F.min(F.when(incl4 >= k * F.col("n_grp"),
                            F.col("v"))).alias(name)

    return (j.groupBy("grp", "n_grp")
            .agg(q_at(1, "q25_cents"), q_at(2, "q50_cents"),
                 q_at(3, "q75_cents"))
            .orderBy("grp"))


SQL_GROUP_QUARTILES_BP = f"""
WITH src AS (
  SELECT o_orderpriority AS grp,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
{_sql_cum("src", "cents", "q_", by=("grp",))},
n AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_grp
      FROM src GROUP BY grp)
SELECT c.grp, n.n_grp,
       MIN(CASE WHEN 4 * (c.cum_lt + c.c) >= 1 * n.n_grp
                THEN c.v END) AS q25_cents,
       MIN(CASE WHEN 4 * (c.cum_lt + c.c) >= 2 * n.n_grp
                THEN c.v END) AS q50_cents,
       MIN(CASE WHEN 4 * (c.cum_lt + c.c) >= 3 * n.n_grp
                THEN c.v END) AS q75_cents
FROM q_cum c JOIN n ON c.grp = n.grp
GROUP BY c.grp, n.n_grp ORDER BY c.grp
"""


# ----------------------------------------------- grouped mode ------

def q_mode_per_group(spark, sf_dir):
    """Most-frequent order priority per order status, deterministic
    tie-break (highest count, then lexicographically smallest
    value) — the categorical summary ``mode()`` gives in one engine
    and a two-level aggregate gives portably.  The rank window runs
    over the COUNTS table (groups × values), never the fact rows."""
    o = _t(spark, sf_dir, "orders")
    counts = (o.groupBy("o_orderstatus", "o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy("o_orderstatus")
         .orderBy(F.desc("n"), "o_orderpriority"))
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_orderstatus",
                    F.col("o_orderpriority").alias("mode_priority"),
                    F.col("n").alias("n_mode"))
            .orderBy("o_orderstatus"))


SQL_MODE_PER_GROUP = """
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY n DESC, o_orderpriority) AS rn
  FROM counts)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_mode
FROM ranked WHERE rn = 1 ORDER BY o_orderstatus
"""


# ------------------------------------- hour-of-day seasonality -----

def q_seasonal_profile(spark, sf_dir):
    """Hour-of-day seasonality profile per event type — the weekly/
    daily load-shape table behind capacity planning and anomaly
    baselines.  Hour-of-day comes from EPOCH-HOUR integers
    ((unix_micros div 3600e6) mod 24, UTC by definition) — never
    calendar extraction, which would shift under the session
    timezone on the LTZ events column."""
    e = _t(spark, sf_dir, "events")
    hod = F.expr("(unix_micros(ts) div 3600000000) % 24")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    return (e.select("event_type", hod.alias("hour_of_day"),
                     cents.alias("cents"))
            .groupBy("event_type", "hour_of_day")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("cents").cast("double")
                         / (100 * F.count(F.lit(1))), 6)
                 .alias("mean_value"),
                 F.max("cents").alias("max_cents"))
            .orderBy("event_type", "hour_of_day"))


SQL_SEASONAL_PROFILE = """
WITH base AS (
  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events)
SELECT event_type, hour_of_day, COUNT(*) AS n,
       ROUND(CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
             / (100 * COUNT(*)), 6) AS mean_value,
       MAX(cents) AS max_cents
FROM base GROUP BY event_type, hour_of_day
ORDER BY event_type, hour_of_day
"""


# --------------------------------------- rank-ratio windows --------

def q_rank_ratios(spark, sf_dir):
    """percent_rank and cume_dist per order priority over a UNIQUE
    total order (cents, orderkey) — the relative-standing columns a
    feature pipeline derives per entity.  With a unique order both
    ratios are exact rationals ((rn−1)/(N−1), rn/N); identical
    integer divisions give identical IEEE doubles in both engines,
    no rounding needed.

    Scale note: o_orderpriority is a 5-value key, so this sorts the
    whole table under 5 window partitions — fine for the oracle
    shape; the AT-SCALE form is ``rank_ratios_bp``
    (registry_ext12.py), exact tie-collapsed rationals from a
    prefix-sum pyramid with no table-sized per-key sort."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    w = Window.partitionBy("grp").orderBy("cents", "k")
    return (o.select("k", "grp", "cents",
                     F.percent_rank().over(w).alias("pct_rank"),
                     F.cume_dist().over(w).alias("cume"))
            .filter(F.col("k") % 7 == 0))


SQL_RANK_RATIOS = """
WITH src AS (
  SELECT o_orderkey AS k, o_orderpriority AS grp,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders)
SELECT k, grp, cents,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM src
WINDOW w AS (PARTITION BY grp ORDER BY cents, k)
QUALIFY k % 7 = 0
"""


# ------------------------------------ rank ratios, at scale --------


def q_rank_ratios_bp(spark, sf_dir):
    """At-scale twin of ``rank_ratios``: the two relative-standing
    ratios from per-value counts instead of a per-priority (5
    partitions!) table-sized sort.  Tie-collapsed semantics (ORDER
    BY cents alone) — the definitionally correct percent_rank/
    cume_dist under ties, and the only one computable without a
    total order.  The value->rank map joins back on (grp, cents)
    (shuffle equi-join — cents is near-unique, so it is NOT
    broadcast); N per group rides along as a 5-row broadcast."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    cum = cum_below(o, "cents", by=("grp",)).select(
        "grp", F.col("v").alias("cents"), "c", "cum_lt")
    n = o.groupBy("grp").agg(F.count(F.lit(1)).alias("n_grp"))
    return (o.filter(F.col("k") % 7 == 0)
            .join(cum, ["grp", "cents"])
            .join(F.broadcast(n), "grp")
            .select(
                "k", "grp", "cents",
                # percent_rank := (rank-1)/(N-1); rank-1 = cum_lt.
                # N=1 => 0 by definition (both engines agree)
                F.when(F.col("n_grp") == 1, F.lit(0.0))
                .otherwise(F.col("cum_lt").cast("double")
                           / (F.col("n_grp") - 1).cast("double"))
                .alias("pct_rank"),
                # cume_dist := rows <= v / N = (cum_lt + c)/N
                ((F.col("cum_lt") + F.col("c")).cast("double")
                 / F.col("n_grp").cast("double")).alias("cume")))


SQL_RANK_RATIOS_BP = """
WITH src AS (
  SELECT o_orderkey AS k, o_orderpriority AS grp,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders)
SELECT k, grp, cents,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM src
WINDOW w AS (PARTITION BY grp ORDER BY cents)
QUALIFY k % 7 = 0
"""


# ---------------------------------- rolling z-score, at scale ------

ZS_DAY_US = 86_400_000_000  # epoch-day bucketing in integer math


def q_rolling_zscore_bp(spark, sf_dir):
    """At-scale twin of ``rolling_zscore``: identical flags (same
    trailing-32 3-sigma test, same DECIMAL(38,0) moment math), but
    every window partitions by (event_type, epoch_day) — biggest
    sorted partition = one day of one type — with an exact carry of
    the top-32 prefix rows across day boundaries (see module
    docstring for the construction + exactness proof).  Day
    bucketing is integer epoch-day from unix_micros — never a
    calendar function (the events column is LTZ; the cohort_
    retention lesson)."""
    e = _t(spark, sf_dir, "events")
    base = (e.filter(F.col("value").isNotNull())
            .select("event_id", "event_type",
                    F.expr("unix_micros(ts)").alias("t_us"),
                    (F.col("value").cast("decimal(18,2)") * 100)
                    .cast("bigint").alias("cents"))
            .withColumn("day", F.expr(f"t_us div {ZS_DAY_US}")))

    # active-day index per type — DAY-LEVEL table (rows = distinct
    # (type, day)), so the per-type window is bounded by #days, not
    # by event volume
    days = base.select("event_type", "day").distinct()
    wd = Window.partitionBy("event_type").orderBy("day")
    days = days.select("event_type", "day",
                       F.row_number().over(wd).alias("didx"))

    # last <=32 rows of each active (type, day): composite-key
    # partition, one day's volume max
    wtail = (Window.partitionBy("event_type", "day")
             .orderBy(F.desc("t_us"), F.desc("event_id")))
    cand = (base.withColumn("rn_desc", F.row_number().over(wtail))
            .filter(F.col("rn_desc") <= ZS_WIN).drop("rn_desc")
            .join(days.select("event_type", "day", "didx"),
                  ["event_type", "day"]))

    # explode each candidate into the next 32 ACTIVE day indexes
    # (generator, not a join) and map indexes back to real days —
    # the inner join drops targets past the last active day
    offsets = F.array(*[F.lit(j) for j in range(1, ZS_WIN + 1)])
    carry = (cand
             .withColumn("j", F.explode(offsets))
             .withColumn("tidx", F.col("didx") + F.col("j"))
             .join(days.select("event_type",
                               F.col("didx").alias("tidx"),
                               F.col("day").alias("tday")),
                   ["event_type", "tidx"])
             .select("event_type", F.col("tday").alias("day"),
                     "event_id", "t_us", "cents"))

    # truncate to the true top-32-of-prefix per target day
    # (partition <= 32x32 rows by construction)
    wc = (Window.partitionBy("event_type", "day")
          .orderBy(F.desc("t_us"), F.desc("event_id")))
    carry = (carry.withColumn("rn", F.row_number().over(wc))
             .filter(F.col("rn") <= ZS_WIN).drop("rn")
             .withColumn("is_carry", F.lit(True)))

    u = base.withColumn("is_carry", F.lit(False)).unionByName(carry)
    w = (Window.partitionBy("event_type", "day")
         .orderBy("t_us", "event_id").rowsBetween(-ZS_WIN, -1))
    # identical moment math to rolling_zscore: DECIMAL(38,0) sums
    # (cents^2 wraps int64 at ~$30M), one cross-multiplied integer
    # comparison, no float/sqrt
    dcents = F.col("cents").cast("decimal(38,0)")
    stats = u.select(
        "event_id", "event_type", "cents", "is_carry",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(dcents).over(w).alias("s"),
        F.sum(dcents * F.col("cents")).over(w).alias("q"))
    dn = F.col("n").cast("decimal(38,0)")
    dx = F.col("cents").cast("decimal(38,0)")
    dev = dn * dx - F.col("s")
    var_n2 = dn * F.col("q") - F.col("s") * F.col("s")
    return (stats
            .filter((~F.col("is_carry"))
                    & (F.col("n") >= ZS_MIN_N)
                    & (dev * dev > ZS_K * ZS_K * var_n2))
            .select("event_id", "event_type", "cents", "n"))


def q_twavg(spark, sf_dir):
    """TIME-WEIGHTED average per user over the event stream — the
    TimescaleDB ``time_weight('LOCF')`` shape: each reading's value
    holds until the next reading, so the mean weights every value by
    its holding interval, not its sample count (the right aggregate
    for irregularly-sampled series; the arithmetic mean over-weights
    bursts).

    Integer-exact end to end: instants via unix_micros (TZ-safe on
    the LTZ events column), money in cents, the numerator
    accumulated in DECIMAL(38,0) (cents × a months-long microsecond
    interval overflows nothing at 38 digits), and the final average
    scaled to micro-cents by integer ``div`` — truncation toward
    zero agrees between engines (verified), where a rounded DECIMAL
    division would not.  One window (partitioned by the
    high-cardinality user_id) + one aggregate: two shuffles on the
    same key, no collect.  Streaming twin: streaming/jobs.py
    twavg_stream (O(1) LOCF state per user, last emission bit-equal
    to this query — flag-exact test in tests/test_streaming.py)."""
    from pyspark.sql import Window
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("us"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    iv = (e.withColumn("dt", F.lead("us").over(w) - F.col("us"))
          .filter(F.col("dt").isNotNull()))
    return (iv.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_intervals"),
                 F.sum("dt").alias("total_us"),
                 F.sum((F.col("cents").cast("decimal(20,0)")
                        * F.col("dt")).cast("decimal(38,0)"))
                 .alias("num"))
            .select("user_id", "n_intervals", "total_us",
                    F.expr("CAST(CAST(num * 1000000 AS DECIMAL(38,0)) "
                           "div CAST(total_us AS DECIMAL(38,0)) "
                           "AS BIGINT)").alias("twa_microcents"))
            .orderBy("user_id"))


SQL_TWAVG = """
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events),
iv AS (
  SELECT user_id, cents,
         lead(us) OVER (PARTITION BY user_id
                        ORDER BY us, event_id) - us AS dt
  FROM s)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dt) AS BIGINT) AS total_us,
       CAST((SUM(CAST(cents AS HUGEINT) * dt) * 1000000) // SUM(dt)
            AS BIGINT) AS twa_microcents
FROM iv WHERE dt IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


def q_state_agg(spark, sf_dir):
    """TIME-IN-STATE per (user, event_type) — the TimescaleDB
    ``state_agg`` shape under LOCF semantics: a user is "in" the
    state of their latest event until the next event, so each
    state's dwell time is the sum of its holding intervals.  Emits
    dwell microseconds, period count, and the share of the user's
    total tracked time in integer BASIS POINTS (state_us·10000 div
    user_us — exact integer division, engine-agreed truncation).

    Shape: the same single lead window as ``twavg`` (partitioned by
    the high-cardinality user), one aggregate on (user, state), and
    a user-total window over the AGGREGATED frame — whose partitions
    are at most |event_type| rows per user, so the second window is
    group-cardinality-sized, never event-sized.  Streaming twin:
    streaming/jobs.py state_agg_stream (bounded per-state dwell
    table, shares finalized from the last emissions — exactness test
    in tests/test_streaming.py)."""
    from pyspark.sql import Window
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros("ts").alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    iv = (e.withColumn("dt", F.lead("us").over(w) - F.col("us"))
          .filter(F.col("dt").isNotNull()))
    agg = (iv.groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).alias("n_periods"),
                F.sum("dt").alias("state_us")))
    return (agg.withColumn(
        "share_bp",
        F.expr("CAST(state_us * 10000 div "
               "SUM(state_us) OVER (PARTITION BY user_id) AS BIGINT)"))
        .orderBy("user_id", "event_type"))


SQL_STATE_AGG = """
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
  FROM events),
iv AS (
  SELECT user_id, event_type,
         lead(us) OVER (PARTITION BY user_id
                        ORDER BY us, event_id) - us AS dt
  FROM s),
agg AS (
  SELECT user_id, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_periods,
         CAST(SUM(dt) AS BIGINT) AS state_us
  FROM iv WHERE dt IS NOT NULL GROUP BY user_id, event_type)
SELECT user_id, event_type, n_periods, state_us,
       CAST(state_us * 10000 //
            SUM(state_us) OVER (PARTITION BY user_id) AS BIGINT)
         AS share_bp
FROM agg ORDER BY user_id, event_type
"""

# ------------------------------------------------------ pass@k ------

PASS_TASKS = 40
PASS_TRIALS = 20          # n ≤ 20: factorial stays exact in int64
PASS_KS = (1, 5, 10)


def q_eval_pass_at_k(spark, sf_dir):
    """pass@k over synthesized eval runs: orders group into
    PASS_TASKS tasks (o_custkey mod), the first PASS_TRIALS orders
    per task (by o_orderkey) are the trials, and a trial "passes"
    when its deterministic md5 coin lands in the 20% stratum.  The
    unbiased estimator 1 − C(n−c,k)/C(n,k) is computed in exact
    integers (factorial ≤ 20!, basis points via integer div) — the
    numerically-stable product form matters at real n (thousands),
    but at n ≤ 20 the binomial form is exact and ORACLE-CHECKABLE,
    which is the point of this entry.

    Scale shape: one narrow projection, one rank window partitioned
    by task (≤ PASS_TRIALS winners per task), one per-task
    aggregate; the binomial arithmetic is constant-time per task."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    trials = (o.select(
        (F.col("o_custkey") % PASS_TASKS).cast("int").alias("task"),
        "o_orderkey",
        (F.conv(F.substring(F.md5(F.concat(
            F.lit("pk:"), F.col("o_orderkey").cast("string"))),
            1, 12), 16, 10).cast("bigint") % 5 == 0)
        .cast("int").alias("correct"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("task").orderBy("o_orderkey")))
        .filter(F.col("rn") <= PASS_TRIALS))
    agg = (trials.groupBy("task")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("correct").alias("c"))
           .filter(F.col("n") == PASS_TRIALS))
    cols = [F.col("task"), F.col("n"), F.col("c")]
    for k in PASS_KS:
        # C(n-c,k)/C(n,k) in exact integers; n-c < k → pass@k = 1
        expr = (f"CASE WHEN n - c < {k} THEN CAST(10000 AS BIGINT) "
                f"ELSE CAST(10000 AS BIGINT) - (10000 * "
                f"(factorial(CAST(n - c AS INT)) div "
                f"(factorial({k}) * factorial(CAST(n - c - {k} AS INT))))"
                f") div (factorial(CAST(n AS INT)) div "
                f"(factorial({k}) * factorial(CAST(n - {k} AS INT)))) "
                f"END")
        cols.append(F.expr(expr).alias(f"pass{k}_bp"))
    return agg.select(*cols).orderBy("task")


def _sql_pass_at_k() -> str:
    # the outer CAST matters: DuckDB's factorial returns HUGEINT,
    # which would otherwise propagate to the CASE result and reach
    # pandas consumers as float64 (exact values, wrong dtype)
    passes = ",\n       ".join(
        f"CAST(CASE WHEN n - c < {k} THEN CAST(10000 AS BIGINT) "
        f"ELSE CAST(10000 AS BIGINT) - (10000 * "
        f"(factorial(CAST(n - c AS INT)) // "
        f"(factorial({k}) * factorial(CAST(n - c - {k} AS INT))))) // "
        f"(factorial(CAST(n AS INT)) // "
        f"(factorial({k}) * factorial(CAST(n - {k} AS INT)))) "
        f"END AS BIGINT) AS pass{k}_bp"
        for k in PASS_KS)
    return f"""
WITH trials AS (
  SELECT CAST(o_custkey % {PASS_TASKS} AS INT) AS task,
         CASE WHEN CAST('0x' || substr(md5('pk:' || o_orderkey), 1, 12)
                   AS BIGINT) % 5 = 0 THEN 1 ELSE 0 END AS correct,
         ROW_NUMBER() OVER (PARTITION BY o_custkey % {PASS_TASKS}
                            ORDER BY o_orderkey) AS rn
  FROM orders),
agg AS (
  SELECT task, COUNT(*) AS n, SUM(correct) AS c
  FROM trials WHERE rn <= {PASS_TRIALS}
  GROUP BY task HAVING COUNT(*) = {PASS_TRIALS})
SELECT task, CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c,
       {passes}
FROM agg ORDER BY task
"""


# ---------------------------------------------------- ROUGE-2 -------

ROUGE_MOD = 10       # docs with doc_id % MOD == 0 are references
ROUGE_SCALE = 10_000


def q_eval_rouge_n(spark, sf_dir):
    """ROUGE-2 over deterministic candidate→reference pairs: every
    doc whose id is ≡0 (mod ROUGE_MOD) is a reference; every other
    doc scores against the reference at floor-to-MOD of its own id
    (pairs whose reference doc does not exist are skipped — ids are
    not assumed dense).  Overlap is the CLIPPED bigram count —
    sum over grams of min(candidate count, reference count), the
    ROUGE-N definition — computed as one inner join on
    (ref_id, gram) between the two count tables.  recall =
    overlap/ref_total, precision = overlap/cand_total, F1 =
    2·overlap/(ref_total+cand_total), each in exact integer basis
    points (0 when the denominator is 0: a token-poor doc has no
    bigrams).  Zero-overlap pairs are kept via a left join from the
    pair universe.

    Scale shape: per-doc bigram counting is one explode + one
    map-side-combined aggregate; the overlap join shuffles on
    (ref_id, gram) — per-reference keys, so reducers are bounded by
    a single reference's vocabulary, never the corpus's.  No
    broadcast of anything data-sized."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")
    n_bi = F.size(toks) - F.lit(1)
    bigr = F.when(
        n_bi >= 1,
        F.transform(F.sequence(F.lit(1), n_bi),
                    lambda i: F.array_join(F.slice(toks, i, 2), " "))
    ).otherwise(F.array().cast("array<string>"))
    bg = (d.select("doc_id", F.explode(bigr).alias("g"))
          .groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c")))
    refs_ids = (d.filter(F.col("doc_id") % ROUGE_MOD == 0)
                .select(F.col("doc_id").alias("ref_id")))
    # pair universe: every non-reference doc whose reference EXISTS
    pairs = (d.filter(F.col("doc_id") % ROUGE_MOD != 0)
             .select("doc_id",
                     (F.col("doc_id") - F.col("doc_id") % ROUGE_MOD)
                     .alias("ref_id"))
             .join(refs_ids, "ref_id"))
    ctot = bg.groupBy("doc_id").agg(F.sum("c").alias("cand_tot"))
    rtot = (bg.withColumnRenamed("doc_id", "ref_id")
            .groupBy("ref_id").agg(F.sum("c").alias("ref_tot")))
    cg = (pairs.join(bg, "doc_id")
          .select("doc_id", "ref_id", "g", "c"))
    rg = (bg.select(F.col("doc_id").alias("ref_id"), "g",
                    F.col("c").alias("rc")))
    ov = (cg.join(rg, ["ref_id", "g"])
          .groupBy("doc_id", "ref_id")
          .agg(F.sum(F.least("c", "rc")).alias("overlap")))
    out = (pairs
           .join(ov, ["doc_id", "ref_id"], "left")
           .join(ctot, "doc_id", "left")
           .join(rtot, "ref_id", "left")
           .select("doc_id", "ref_id",
                   F.coalesce("overlap", F.lit(0)).cast("bigint")
                   .alias("overlap"),
                   F.coalesce("cand_tot", F.lit(0)).cast("bigint")
                   .alias("cand_tot"),
                   F.coalesce("ref_tot", F.lit(0)).cast("bigint")
                   .alias("ref_tot")))
    z = F.lit(0).cast("bigint")
    return out.select(
        "doc_id", "ref_id", "overlap",
        F.when(F.col("ref_tot") > 0,
               F.expr(f"(overlap * {ROUGE_SCALE}) div ref_tot"))
        .otherwise(z).alias("recall_bp"),
        F.when(F.col("cand_tot") > 0,
               F.expr(f"(overlap * {ROUGE_SCALE}) div cand_tot"))
        .otherwise(z).alias("precision_bp"),
        F.when(F.col("cand_tot") + F.col("ref_tot") > 0,
               F.expr(f"(2 * overlap * {ROUGE_SCALE}) div "
                      f"(cand_tot + ref_tot)"))
        .otherwise(z).alias("f1_bp"))


SQL_EVAL_ROUGE_N = f"""
WITH base AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
  FROM documents),
bg AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i+1])) AS g
    FROM base WHERE len(ws) - 1 >= 1)
  GROUP BY doc_id, g),
pairs AS (
  SELECT d.doc_id, d.doc_id - d.doc_id % {ROUGE_MOD} AS ref_id
  FROM documents d
  WHERE d.doc_id % {ROUGE_MOD} <> 0
    AND EXISTS (SELECT 1 FROM documents r
                WHERE r.doc_id = d.doc_id - d.doc_id % {ROUGE_MOD})),
ctot AS (SELECT doc_id, SUM(c) AS cand_tot FROM bg GROUP BY doc_id),
rtot AS (SELECT doc_id AS ref_id, SUM(c) AS ref_tot FROM bg
         GROUP BY doc_id),
ov AS (
  SELECT p.doc_id, p.ref_id, SUM(LEAST(cb.c, rb.c)) AS overlap
  FROM pairs p
  JOIN bg cb ON cb.doc_id = p.doc_id
  JOIN bg rb ON rb.doc_id = p.ref_id AND rb.g = cb.g
  GROUP BY p.doc_id, p.ref_id),
j AS (
  SELECT p.doc_id, p.ref_id,
         CAST(COALESCE(o.overlap, 0) AS BIGINT) AS overlap,
         CAST(COALESCE(ct.cand_tot, 0) AS BIGINT) AS cand_tot,
         CAST(COALESCE(rt.ref_tot, 0) AS BIGINT) AS ref_tot
  FROM pairs p
  LEFT JOIN ov o ON o.doc_id = p.doc_id AND o.ref_id = p.ref_id
  LEFT JOIN ctot ct ON ct.doc_id = p.doc_id
  LEFT JOIN rtot rt ON rt.ref_id = p.ref_id)
SELECT doc_id, ref_id, overlap,
       CAST(CASE WHEN ref_tot > 0
                 THEN (overlap * {ROUGE_SCALE}) // ref_tot
                 ELSE 0 END AS BIGINT) AS recall_bp,
       CAST(CASE WHEN cand_tot > 0
                 THEN (overlap * {ROUGE_SCALE}) // cand_tot
                 ELSE 0 END AS BIGINT) AS precision_bp,
       CAST(CASE WHEN cand_tot + ref_tot > 0
                 THEN (2 * overlap * {ROUGE_SCALE})
                      // (cand_tot + ref_tot)
                 ELSE 0 END AS BIGINT) AS f1_bp
FROM j
"""


# -------------------------------------------- Pareto skyline --------

SKY_BUCKETS = 32
SKY_SCALE = 10_000


def q_pareto_skyline(spark, sf_dir):
    """PARETO FRONTIER (skyline) over two maximize-criteria per
    document — token count (x) and type-token ratio in basis points
    (y = distinct·10⁴ div n, exact integer), the length-vs-
    vocabulary-richness trade-off a multi-criteria curation pass
    selects on (anti-correlated by construction, so the frontier is
    a real curve, not one corner point).  Emits the non-dominated
    (x, y) points with their doc multiplicity: a point survives iff
    no other point has x' ≥ x AND y' ≥ y with one strict.

    The PLAN is the point (the skew_distinct_split precedent): a
    naive skyline is an all-pairs dominance anti-join (quadratic)
    or one GLOBAL x-ordered window (a single reducer walks the
    whole table — the shape the registry plan audit bans).  Instead:

      1. distinct (x, y) points (map-side combined),
      2. x-RANGE buckets from a one-row (min, max) broadcast —
         bucket id is monotone in x, so every point in a higher
         bucket has strictly larger x than every point below
         (equal x always lands in one bucket),
      3. LOCAL skyline per bucket: window partitioned by bucket,
         ordered (x DESC, y DESC) — over distinct points a row is
         dominated iff the running max of y over preceding rows
         is ≥ its own y,
      4. cross-bucket pass: per-bucket y-maxima (≤ SKY_BUCKETS
         rows, a constant-bounded collect like the k-center
         centers) fold into a literal suffix-max CASE — a local
         survivor is global iff its y exceeds the best y of every
         higher bucket.

    Every stage is bounded: reducers see one bucket's points,
    never a global order, and the only cross-bucket state is
    SKY_BUCKETS integers.  The DuckDB oracle replays the same
    dominance rule as one ordered window (single-node, where a
    global window is fine), so a bucketing bug that dropped or
    resurrected a frontier point cannot hash-match."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")
    n = F.size(toks).cast("bigint")
    ttr = F.expr(f"(cast(size(array_distinct(split(lower(trim(text))"
                 f", ' '))) as bigint) * {SKY_SCALE}) div "
                 f"cast(size(split(lower(trim(text)), ' ')) as bigint)")
    pts = (d.select(n.alias("x"), ttr.alias("y"))
           .groupBy("x", "y")
           .agg(F.count(F.lit(1)).alias("n_docs"))
           # three consumers (min/max collect, the local skyline,
           # the bucket-maxima collect) — checkpoint the distinct
           # points once instead of re-scanning + re-tokenizing the
           # corpus per consumer (the tile_train precedent); the
           # table is distinct (x, y) pairs, tiny at any corpus size.
           # Lazy (r15): the min/max collect right below is the
           # first action and materializes it in the same job
           .localCheckpoint(eager=False))
    lo, hi = pts.agg(F.min("x"), F.max("x")).collect()[0]
    if lo is None:
        # empty documents table: the frontier is empty, not a crash
        return spark.createDataFrame([], "x long, y long, n_docs long")
    span = max(int(hi) - int(lo) + 1, 1)
    bx = ((F.col("x") - F.lit(int(lo))) * SKY_BUCKETS / span) \
        .cast("int")
    w = (Window.partitionBy("b").orderBy(F.desc("x"), F.desc("y"))
         .rowsBetween(Window.unboundedPreceding, -1))
    local = (pts.withColumn("b", bx)
             .withColumn("prev_maxy", F.max("y").over(w))
             .filter(F.col("prev_maxy").isNull()
                     | (F.col("prev_maxy") < F.col("y"))))
    # per-bucket y maxima: ≤ SKY_BUCKETS rows, bounded by a constant
    bmax = {int(r["b"]): int(r["my"]) for r in
            (pts.withColumn("b", bx).groupBy("b")
             .agg(F.max("y").alias("my")).collect())}
    suffix = {}
    best = None
    for b in sorted(bmax, reverse=True):
        suffix[b] = best           # best y of any STRICTLY higher bucket
        best = bmax[b] if best is None else max(best, bmax[b])
    expr = F.lit(None).cast("bigint")
    for b, s in suffix.items():
        if s is not None:
            expr = F.when(F.col("b") == b, F.lit(s)).otherwise(expr)
    return (local.withColumn("hi_y", expr)
            .filter(F.col("hi_y").isNull()
                    | (F.col("y") > F.col("hi_y")))
            .select("x", "y", "n_docs"))


SQL_PARETO_SKYLINE = """
WITH pts AS (
  SELECT CAST(len(ws) AS BIGINT) AS x,
         (CAST(len(list_distinct(ws)) AS BIGINT) * 10000)
           // CAST(len(ws) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM (SELECT string_split(lower(trim(text)), ' ') AS ws
        FROM documents)
  GROUP BY 1, 2),
r AS (
  SELECT x, y, n_docs,
         MAX(y) OVER (ORDER BY x DESC, y DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS prev_maxy
  FROM pts)
SELECT x, y, n_docs FROM r
WHERE prev_maxy IS NULL OR prev_maxy < y
"""


MRR_SCORE_DOM = 1 << 20   # score domain — keeps cum_below's
#                           level-2 prefix constant-bounded
MRR_PPM = 1_000_000


def q_eval_mrr_map(spark, sf_dir):
    """Grouped MRR + MAP — the two classic ranked-retrieval metrics
    missing from the eval family (beside eval_auc / eval_ndcg /
    eval_confusion): per order-priority "query", candidates carry a
    deterministic md5 score and a 10% md5 relevance coin, and the
    group reports the first-relevant rank, the reciprocal rank, and
    mean average precision.

    Exactness + scale contract: ranks are TIE-COLLAPSED competition
    ranks — rank(d) = 1 + #candidates with strictly greater score,
    rel_le(d) = #relevant with score ≥ — both derived from
    cum_below's per-value count pyramid (never a per-priority
    corpus-sized sort window: 5 partitions at 10^12 rows is the
    plan-audit trap).  Every AP term is the integer division
    (PPM·rel_le) div rank, summed as bigints and divided once per
    group, so both engines land on identical integers with no float
    accumulation order anywhere.  The per-group count frames are
    ≤5-row broadcasts (audited)."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").alias("k"),
        (_md48(F.concat(F.lit("r:"), F.col("o_orderkey")))
         % MRR_SCORE_DOM).alias("score"),
        (_md48(F.concat(F.lit("y:"), F.col("o_orderkey"))) % 10 == 0)
        .alias("rel"))
    cb = cum_below(o, "score", by=("grp",)).select(
        "grp", F.col("v").alias("score"), "c", "cum_lt")
    n = o.groupBy("grp").agg(F.count(F.lit(1)).alias("n_cands"))
    rel = o.filter("rel")
    rcb = cum_below(rel, "score", by=("grp",)).select(
        "grp", F.col("v").alias("score"),
        F.col("cum_lt").alias("rel_lt"))
    rtot = rel.groupBy("grp").agg(F.count(F.lit(1)).alias("n_rel"))
    j = (rel.join(cb, ["grp", "score"])
         .join(rcb, ["grp", "score"])
         .join(F.broadcast(n), "grp")
         .join(F.broadcast(rtot), "grp")
         .withColumn("rnk", F.col("n_cands") - F.col("cum_lt")
                     - F.col("c") + 1)
         .withColumn("rel_le", F.col("n_rel") - F.col("rel_lt"))
         .withColumn("term", F.expr(
             f"(CAST({MRR_PPM} AS BIGINT) * rel_le) div rnk")))
    agg = j.groupBy("grp").agg(
        F.first("n_cands").alias("n_cands"),
        F.first("n_rel").alias("n_rel"),
        F.min("rnk").alias("first_rel_rank"),
        F.sum("term").alias("ap_sum"))
    return agg.select(
        "grp", "n_cands", "n_rel", "first_rel_rank",
        F.expr(f"CAST({MRR_PPM} AS BIGINT) div first_rel_rank")
        .alias("rr_ppm"),
        F.expr("ap_sum div n_rel").alias("map_ppm"))


SQL_EVAL_MRR_MAP = f"""
WITH c AS (
  SELECT o_orderpriority AS grp, o_orderkey AS k,
         CAST('0x' || substr(md5('r:' || o_orderkey), 1, 12)
              AS BIGINT) % {MRR_SCORE_DOM} AS score,
         (CAST('0x' || substr(md5('y:' || o_orderkey), 1, 12)
               AS BIGINT) % 10 = 0) AS rel
  FROM orders),
ranked AS (
  SELECT grp, k, score, rel,
         RANK() OVER (PARTITION BY grp ORDER BY score DESC) AS rnk
  FROM c),
relranked AS (
  SELECT grp, k, score, rnk,
         COUNT(*) OVER (PARTITION BY grp ORDER BY score DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS rel_le
  FROM ranked WHERE rel),
agg AS (
  SELECT grp, COUNT(*) AS n_rel,
         MIN(rnk) AS first_rel_rank,
         SUM((CAST({MRR_PPM} AS BIGINT) * rel_le) // rnk) AS ap_sum
  FROM relranked GROUP BY grp),
n AS (SELECT grp, COUNT(*) AS n_cands FROM c GROUP BY grp)
SELECT n.grp, n.n_cands, a.n_rel,
       CAST(a.first_rel_rank AS BIGINT) AS first_rel_rank,
       CAST({MRR_PPM} // a.first_rel_rank AS BIGINT) AS rr_ppm,
       CAST(a.ap_sum // a.n_rel AS BIGINT) AS map_ppm
FROM n JOIN agg a USING (grp)
"""


register({
    "events_tumbling":   {"fn": q_events_tumbling,   "sql": SQL_EVENTS_TUMBLING},
    "sessionize":     {"fn": q_sessionize,     "sql": SQL_SESSIONIZE},
    "lead_lag":       {"fn": q_lead_lag,       "sql": SQL_LEAD_LAG},
    "running_sum":    {"fn": q_running_sum,    "sql": SQL_RUNNING_SUM},
    "topn_per_group": {"fn": q_topn_per_group, "sql": SQL_TOPN_PER_GROUP},
    "asof_join":      {"fn": q_asof_join,      "sql": SQL_ASOF_JOIN},
    "percentiles":    {"fn": q_percentiles,    "sql": SQL_PERCENTILES},
    "trailing_spend":    {"fn": q_trailing_spend,   "sql": SQL_TRAILING_SPEND},
    "window_ranks":      {"fn": q_window_ranks,     "sql": SQL_WINDOW_RANKS},
    "gap_fill":         {"fn": q_gap_fill,      "sql": SQL_GAP_FILL},
    "interpolate":      {"fn": q_interpolate,   "sql": SQL_INTERPOLATE},
    "rolling_corr":     {"fn": q_rolling_corr,  "sql": SQL_ROLLING_CORR},
    "funnel":           {"fn": q_funnel,        "sql": SQL_FUNNEL},
    "histogram_bins":   {"fn": q_histogram_bins, "sql": SQL_HISTOGRAM_BINS},
    "cohort_retention": {"fn": q_cohort_retention,
                         "sql": SQL_COHORT_RETENTION},
    "event_transitions": {"fn": q_event_transitions,
                          "sql": SQL_EVENT_TRANSITIONS},
    "funnel_steps":       {"fn": q_funnel_steps,
                           "sql": SQL_FUNNEL_STEPS},
    "mad_outliers":       {"fn": q_mad_outliers,
                           "sql": SQL_MAD_OUTLIERS},
    "chi2_abtest":        {"fn": q_chi2_abtest,  "sql": SQL_CHI2_ABTEST},
    "eval_brier":       {"fn": q_eval_brier,       "sql": SQL_EVAL_BRIER},
    "dq_checks":        {"fn": q_dq_checks,        "sql": SQL_DQ_CHECKS},
    "eval_auc":         {"fn": q_eval_auc,         "sql": SQL_EVAL_AUC},
    "eval_confusion":   {"fn": q_eval_confusion,
                         "sql": SQL_EVAL_CONFUSION},
    "eval_calibration": {"fn": q_eval_calibration,
                         "sql": SQL_EVAL_CALIBRATION},
    "kfold_split":     {"fn": q_kfold_split,     "sql": SQL_KFOLD_SPLIT},
    "group_split":     {"fn": q_group_split,     "sql": SQL_GROUP_SPLIT},
    "ewma_smooth":     {"fn": q_ewma_smooth,     "sql": _sql_ewma_smooth()},
    "quality_deciles": {"fn": q_quality_deciles,
                        "sql": SQL_QUALITY_DECILES},
    "attribution":       {"fn": q_attribution,    "sql": SQL_ATTRIBUTION},
    "ohlc_bars":         {"fn": q_ohlc_bars,      "sql": SQL_OHLC_BARS},
    "rfm_scores":        {"fn": q_rfm_scores,     "sql": SQL_RFM_SCORES},
    "focal_mean":     {"fn": q_focal_mean,   "sql": SQL_FOCAL_MEAN},
    "cusum_changepoints": {"fn": q_cusum_changepoints,
                           "sql": SQL_CUSUM},
    "wow_growth":     {"fn": q_wow_growth,   "sql": SQL_WOW_GROWTH},
    "eval_ndcg":    {"fn": q_eval_ndcg,    "sql": _sql_eval_ndcg()},
    "bootstrap_ci": {"fn": q_bootstrap_ci, "sql": _sql_bootstrap_ci()},
    "ab_ttest":     {"fn": q_ab_ttest,     "sql": SQL_AB_TTEST},
    "quality_deciles_bp": {"fn": q_quality_deciles_bp,
                           "sql": SQL_QUALITY_DECILES_BP},
    "rfm_scores_bp":      {"fn": q_rfm_scores_bp,
                           "sql": SQL_RFM_SCORES_BP},
    "rolling_zscore":     {"fn": q_rolling_zscore,
                           "sql": SQL_ROLLING_ZSCORE},
    "group_median_bp":    {"fn": q_group_median_bp,
                           "sql": SQL_GROUP_MEDIAN_BP},
    "mode_per_group":     {"fn": q_mode_per_group,
                           "sql": SQL_MODE_PER_GROUP},
    "group_quartiles_bp": {"fn": q_group_quartiles_bp,
                           "sql": SQL_GROUP_QUARTILES_BP},
    "seasonal_profile":   {"fn": q_seasonal_profile,
                           "sql": SQL_SEASONAL_PROFILE},
    "rank_ratios":        {"fn": q_rank_ratios,
                           "sql": SQL_RANK_RATIOS},
    "rank_ratios_bp": {"fn": q_rank_ratios_bp,
                       "sql": SQL_RANK_RATIOS_BP},
    # oracle = the NAIVE global-window SQL: the re-keyed plan must
    # reproduce it row-for-row, per the exactness proof above
    "rolling_zscore_bp": {"fn": q_rolling_zscore_bp,
                          "sql": SQL_ROLLING_ZSCORE},
    "twavg": {"fn": q_twavg, "sql": SQL_TWAVG},
    "state_agg": {"fn": q_state_agg, "sql": SQL_STATE_AGG},
    "eval_pass_at_k":      {"fn": q_eval_pass_at_k,
                            "sql": _sql_pass_at_k()},
    "eval_rouge_n":      {"fn": q_eval_rouge_n,
                          "sql": SQL_EVAL_ROUGE_N},
    "pareto_skyline":    {"fn": q_pareto_skyline,
                          "sql": SQL_PARETO_SKYLINE},
    "eval_mrr_map": {"fn": q_eval_mrr_map,
                     "sql": SQL_EVAL_MRR_MAP},
})
