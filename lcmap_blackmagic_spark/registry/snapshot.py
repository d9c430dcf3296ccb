"""Snapshot table-format registry entries: MERGE, deletes, CDF,
compaction, z-order, bloom skipping, time travel, restore, clone,
history, schema evolution, constraints, incremental materialized
views, and the snapshot-backed sources.

The notes below moved here with the queries they describe; a few
paragraphs describe queries that now live in sibling modules.

Fourteenth extension wave — incremental materialized-view
maintenance under the correctness gate.

``snapshot_mv`` drives the full MV lifecycle (mv.py) against a real
snapshot table: build the source in three commits, refresh the view
after each (first refresh = full build, the next two = incremental
merges that read ONLY the new commit dirs), replay the last refresh
to prove tag-idempotency, then return the finalized view.  The
oracle aggregates the source parquet directly — the hash-match
proves three incremental merges compose to exactly the one-shot
aggregate (the algebraic-IVM correctness property), not merely that
the plumbing runs.

Reference anchor: the per-tile rollups lcmap-blackmagic recomputes
wholesale per request (blackmagic/blueprints/prediction.py) — this
is the log-driven incremental form of that shape.

Fifteenth extension wave (round 9) — merge-on-read equality
deletes under the correctness gate.

``snapshot_delete`` drives storage.delete_from_snapshot end-to-end:
orders lands in two commits, every order row of a customer-key
residue class is equality-deleted WITHOUT rewriting a data file, and
a later append re-introduces rows carrying those same customer keys —
which must SURVIVE (sequence-number scoping, the Iceberg v2 rule).
The oracle reconstructs the final state declaratively, so the
hash-match proves both halves: the delete subtracted exactly the
pre-delete rows, and the post-delete append subtracted nothing.

Reference anchor: the reference's only delete shape is the
chip-level delete-then-insert overwrite (blackmagic/data.py); this is
its row-level, GDPR-shaped generalization on the repo's own table
format.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.merge import merge_into
from .base import _staging, _t, register


# ------------------------------------------------ reconciliation ----


def q_table_diff(spark, sf_dir):
    """Snapshot reconciliation: classify every key across two dataset
    versions as unchanged / changed / only-left / only-right — the
    anti-entropy check run after any backfill or migration.  The
    'right' snapshot is derived deterministically from orders (drop
    keys ≡0 mod 97, perturb totalprice for keys ≡0 mod 101) so both
    engines diff identical inputs.

    One full-outer join on the key, classification in a codegen CASE;
    the count rollup is a 4-group aggregate."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    left = o.select(F.col("o_orderkey").alias("k"),
                    F.col("o_totalprice").alias("lv"))
    right = (o.filter(F.col("o_orderkey") % 97 != 0)
              .select(F.col("o_orderkey").alias("rk"),
                      F.when(F.col("o_orderkey") % 101 == 0,
                             F.col("o_totalprice") + F.lit(1.0))
                       .otherwise(F.col("o_totalprice")).alias("rv")))
    j = left.join(right, left.k == right.rk, "full_outer")
    klass = (F.when(F.col("k").isNull(), "only_right")
              .when(F.col("rk").isNull(), "only_left")
              .when(F.col("lv") == F.col("rv"), "same")
              .otherwise("changed"))
    return (j.groupBy(klass.alias("diff_class"))
             .agg(F.count(F.lit(1)).alias("n"))
             .orderBy("diff_class"))


SQL_TABLE_DIFF = """
WITH l AS (SELECT o_orderkey AS k, o_totalprice AS lv FROM orders),
r AS (SELECT o_orderkey AS rk,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS rv
      FROM orders WHERE o_orderkey % 97 <> 0)
SELECT CASE WHEN k IS NULL THEN 'only_right'
            WHEN rk IS NULL THEN 'only_left'
            WHEN lv = rv THEN 'same'
            ELSE 'changed' END AS diff_class,
       CAST(COUNT(*) AS BIGINT) AS n
FROM l FULL OUTER JOIN r ON l.k = r.rk
GROUP BY diff_class
ORDER BY diff_class
"""


# ----------------------------------------------------- SCD2 build ---


def q_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension (type 2) builder: collapse each
    user's event-type sequence into validity intervals — a new row
    only when the type CHANGES, valid_to = next change (NULL while
    current).  Change detection is lag + conditional flag, run ids a
    running sum, interval bounds min/max per run — the sessionize
    machinery applied to dimension versioning.  All windows and the
    final group share the user_id partitioning."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                           "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
                .rowsBetween(Window.unboundedPreceding, 0)
    chg = F.when(F.lag("event_type").over(w).isNull()
                 | (F.lag("event_type").over(w) != F.col("event_type")),
                 1).otherwise(0)
    runs = e.withColumn("rid", F.sum(chg).over(run))
    iv = (runs.groupBy("user_id", "rid")
              .agg(F.first("event_type").alias("event_type"),
                   F.min("ts").alias("valid_from"),
                   F.count(F.lit(1)).alias("n_events")))
    nxt = Window.partitionBy("user_id").orderBy("rid")
    return (iv.select("user_id",
                      F.col("rid").cast("bigint").alias("version"),
                      "event_type", "valid_from",
                      F.lead("valid_from").over(nxt).alias("valid_to"),
                      "n_events"))


SQL_SCD2_INTERVALS = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type THEN 1
              ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS rid
  FROM flagged),
iv AS (
  SELECT user_id, rid, MIN(event_type) AS event_type,
         MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM runs GROUP BY user_id, rid)
SELECT user_id, rid AS version, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY rid)
         AS valid_to,
       n_events
FROM iv
"""


def q_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (o_custkey, order epoch
    day) — the data-layout primitive for multi-column scan pruning at
    scale (functions/zorder.py). Output keeps both inputs plus the
    interleaved key; production writes would
    ``repartitionByRange(zval).sortWithinPartitions(zval)`` so file
    min/max stats prune on EITHER column."""
    from ..functions.zorder import zvalue
    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.to_date("o_orderdate"),
                     F.lit("1970-01-01").cast("date"))
    return (o.select(
        "o_orderkey",
        F.col("o_custkey").alias("x"),
        day.cast("bigint").alias("y"),
        zvalue(F.col("o_custkey"), day).alias("zval")))


def _sql_zorder_key() -> str:
    from ..functions.zorder import sql_spread_steps
    steps = sql_spread_steps("zsrc", ("x", "y"), "o_orderkey, x0, y0")
    return f"""
WITH zsrc AS (
  SELECT o_orderkey,
         CAST(o_custkey AS BIGINT) AS x0,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS y0,
         CAST(o_custkey AS BIGINT) AS x,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS y
  FROM orders),
{steps}
SELECT o_orderkey, x0 AS x, y0 AS y, (x | (y << 1)) AS zval
FROM zs4
"""


SQL_ZORDER_KEY = _sql_zorder_key()


# ------------------------------------------------ CDC merge ---------

INS_OFFSET = 900_000_000  # past the TPC-H orderkey range at tested SFs


def _order_changes(orders):
    """Deterministic U/D/I change set derived from the orders table:
    every 7th key re-priced +5%, every 13th deleted (D wins on
    overlap), every 101st mirrored as a fresh insert key."""
    k = F.col("o_orderkey")
    price = F.col("price")
    upd = (orders.filter((k % 7 == 0) & (k % 13 != 0))
           .select(k.alias("o_orderkey"), "o_orderstatus",
                   F.round(price * F.lit(1.05).cast("decimal(3,2)"), 2)
                   .cast("decimal(18,2)").alias("price"),
                   F.lit("U").alias("op")))
    dele = (orders.filter(k % 13 == 0)
            .select("o_orderkey", "o_orderstatus", "price",
                    F.lit("D").alias("op")))
    ins = (orders.filter(k % 101 == 0)
           .select((k + INS_OFFSET).alias("o_orderkey"),
                   F.lit("N").alias("o_orderstatus"),
                   F.lit("777.77").cast("decimal(18,2)").alias("price"),
                   F.lit("I").alias("op")))
    return upd.unionByName(dele).unionByName(ins)


def q_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics: the change set applied to orders in one
    full-outer key join (operators/merge.py), summarized per status
    so the check covers deletes (row counts drop), updates (totals
    shift by exactly +5% on the touched keys), and inserts (the new
    'N' status appears)."""
    o = (_t(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderstatus",
                 F.col("o_totalprice").cast("decimal(18,2)")
                 .alias("price")))
    merged = merge_into(o, _order_changes(o), "o_orderkey")
    return (merged.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("price").cast("double").alias("total_price")))


SQL_MERGE_UPSERT = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders),
chg AS (
  SELECT k, status,
         CAST(ROUND(price * CAST(1.05 AS DECIMAL(3,2)), 2)
              AS DECIMAL(18,2)) AS price, 'U' AS op
  FROM base WHERE k % 7 = 0 AND k % 13 <> 0
  UNION ALL
  SELECT k, status, price, 'D' FROM base WHERE k % 13 = 0
  UNION ALL
  SELECT k + {INS_OFFSET}, 'N', CAST(777.77 AS DECIMAL(18,2)), 'I'
  FROM base WHERE k % 101 = 0),
merged AS (
  SELECT COALESCE(c.status, b.status) AS status,
         COALESCE(c.price, b.price) AS price
  FROM base b FULL OUTER JOIN chg c ON b.k = c.k
  WHERE c.op IS NULL OR c.op <> 'D')
SELECT status AS o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(price) AS DOUBLE) AS total_price
FROM merged GROUP BY status
"""


# ------------------------------------------- incremental view maint -


def q_ivm_agg(spark, sf_dir):
    """Incremental maintenance of the per-status (count, total)
    rollup under the SAME U/D/I change set as ``merge_upsert`` — and
    checked against the SAME oracle: re-aggregating the fully merged
    table must equal base aggregate + change-derived delta
    (operators/merge.py:incremental_agg_update). The incremental path
    touches only the change rows, the touched base keys, and the tiny
    aggregate table — never re-scans the merged facts."""
    from ..operators.merge import incremental_agg_update
    o = (_t(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderstatus",
                 F.col("o_totalprice").cast("decimal(18,2)")
                 .alias("price")))
    base_agg = (o.groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.sum("price").alias("total_dec")))
    out = incremental_agg_update(o, base_agg, _order_changes(o),
                                 "o_orderkey", "o_orderstatus",
                                 "price")
    return out.select("o_orderstatus", "n_orders",
                      F.col("total_dec").cast("double")
                      .alias("total_price"))


def _sql_ivm_agg() -> str:
    return SQL_MERGE_UPSERT


# ------------------------------------ snapshot-store roundtrip -----

def q_src_snapshot(spark, sf_dir):
    """Versioned-snapshot roundtrip under the correctness gate:
    write a typed projection of orders as snapshot v1, APPEND the
    rest as v2, read the LATEST snapshot back, and aggregate.  The
    oracle aggregates the parquet directly, so the hash-match proves
    the commit-dir + manifest store is lossless and the append
    lineage reconstructs the full table (the src_csv/src_orc
    write-then-read contract, table-format edition)."""
    from ..storage import read_snapshot, write_snapshot
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    table = _staging(sf_dir, "snap_orders")
    # double-run stability WITHIN a process: running this query
    # twice appends two more versions, and the overwrite commit
    # makes LATEST = exactly this run's pair while plans pinned to
    # older versions keep reading their own commit dirs — the
    # store's immutability doing the work other staged queries need
    # overwrite discipline for.  (Cross-build accumulation doesn't
    # arise: _staging is per-(uid,pid) and atexit-reaped, so each
    # process starts from an empty table dir.)
    write_snapshot(o.filter(F.col("o_orderkey") % 2 == 0), table)
    write_snapshot(o.filter(F.col("o_orderkey") % 2 == 1), table,
                   mode="append")
    back = read_snapshot(spark, table)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum("cents").cast("double") / 100).alias("total"))
            .orderBy("o_orderstatus"))


SQL_SRC_SNAPSHOT = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100 AS DOUBLE)
         AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_src_snapshot_stream(spark, sf_dir):
    """The snapshot store's STREAMING reader under the correctness
    gate (sources/snapshotstream.py): write a typed orders projection
    as an overwrite version plus an append version, TAIL the commit
    log from just before the overwrite with a real Structured
    Streaming query (availableNow drain into parquet), and aggregate
    the drained rows.  The overwrite version re-emits its full
    content and the append version streams its delta, so the drain
    reconstructs the table exactly once per row — the oracle
    aggregates the source parquet directly, proving end-to-end
    exactly-once delivery through manifest-offset tracking, not just
    storage losslessness (that is ``src_snapshot``'s job)."""
    import os
    import uuid

    from ..sources.snapshotstream import read_snapshot_stream
    from ..storage import write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    table = _staging(sf_dir, "snap_stream_orders")
    # start tailing just before this run's overwrite: double-running
    # the query appends two MORE versions, and the overwrite+delta
    # pair after start_version always reconstructs exactly one copy
    v_over = write_snapshot(o.filter(F.col("o_orderkey") % 2 == 0),
                            table)
    write_snapshot(o.filter(F.col("o_orderkey") % 2 == 1), table,
                   mode="append")
    # run-unique sink/checkpoint UNDER the reaped staging root (a
    # reused file sink would accumulate across double-runs; a bare
    # mkdtemp would leak past the process)
    run_dir = os.path.join(_staging(sf_dir, "snap_stream_runs"),
                           uuid.uuid4().hex[:12])
    out = os.path.join(run_dir, "out")
    q = (read_snapshot_stream(spark, table, start_version=v_over - 1)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", os.path.join(run_dir, "ck"))
         .trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        # awaitTermination returns False on TIMEOUT (it does not
        # raise) — reading the sink now would see a partial drain
        q.stop()
        raise TimeoutError("snapshot stream drain did not finish")
    back = spark.read.parquet(out)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum("cents").cast("double") / 100).alias("total"),
                 F.count_distinct("_snapshot_version")
                 .cast("bigint").alias("n_versions"))
            .orderBy("o_orderstatus"))


SQL_SRC_SNAPSHOT_STREAM = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100 AS DOUBLE)
         AS total,
       CAST(2 AS BIGINT) AS n_versions
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

MV_KEYS = ["o_orderstatus"]
MV_SPEC = [
    ("count", "*",          "n_orders"),
    ("sum",   "cents",      "sum_cents"),
    ("min",   "o_orderkey", "min_key"),
    ("max",   "o_orderkey", "max_key"),
    ("avg",   "cents",      "avg_cents"),
]


def q_snapshot_mv(spark, sf_dir):
    """Source commits split by o_orderkey % 3; a refresh after every
    commit, plus one replayed refresh (must be a tag-suppressed
    no-op).  The returned view therefore passed through two genuine
    incremental merges before finalization."""
    from ..mv import mv_read, mv_refresh, mv_watermark
    from ..storage import latest_version, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    src = _staging(sf_dir, "mv_src_orders")
    mv = _staging(sf_dir, "mv_orders_by_status")
    write_snapshot(o.filter(F.col("o_orderkey") % 3 == 0), src,
                   collect_stats=False)
    mv_refresh(spark, src, mv, MV_KEYS, MV_SPEC)          # full build
    write_snapshot(o.filter(F.col("o_orderkey") % 3 == 1), src,
                   mode="append", collect_stats=False)
    mv_refresh(spark, src, mv, MV_KEYS, MV_SPEC)          # incremental
    write_snapshot(o.filter(F.col("o_orderkey") % 3 == 2), src,
                   mode="append", collect_stats=False)
    v = mv_refresh(spark, src, mv, MV_KEYS, MV_SPEC)      # incremental
    replay = mv_refresh(spark, src, mv, MV_KEYS, MV_SPEC)
    if replay is not None:            # replayed refresh must be no-op
        raise AssertionError("replayed MV refresh committed a version")
    # compare against the LIVE latest version, not a literal: a
    # second run in the same process appends three more source
    # versions onto the per-process staging table (double-run
    # stability), and the watermark must track whatever is current
    if mv_watermark(mv) != latest_version(src) or v is None:
        raise AssertionError("MV watermark does not track the source")
    return (mv_read(spark, mv, MV_KEYS, MV_SPEC)
            .orderBy("o_orderstatus"))


SQL_SNAPSHOT_MV = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS DOUBLE)
         / COUNT(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS avg_cents
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_snapshot_mv_hll(spark, sf_dir):
    """Incrementally maintained approx-distinct: an MV with an
    ``hll`` aggregate (dense 256-register partials, element-wise-MAX
    merge) refreshed across three source commits must finalize to
    the one-shot sketch's exact estimate — the oracle recomputes the
    registers over the FULL table in SQL (the registry_ext4
    hll_sketch construction re-pointed at orders), so the hash-match
    proves register merging is lossless across refreshes, not just
    that the estimate is plausible."""
    from ..mv import mv_read, mv_refresh
    from ..storage import write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey",
        (F.col("o_orderkey") % 3).alias("slice"))
    src = _staging(sf_dir, "mv_hll_src")
    mv = _staging(sf_dir, "mv_hll_view")
    keys = ["o_orderstatus"]
    spec = [("count", "*", "n_orders"),
            ("hll", "o_custkey", "approx_customers")]
    for s in range(3):
        write_snapshot(o.filter(F.col("slice") == s).drop("slice"), src,
                       mode="overwrite" if s == 0 else "append",
                       collect_stats=False)
        mv_refresh(spark, src, mv, keys, spec)
    return (mv_read(spark, mv, keys, spec)
            .orderBy("o_orderstatus"))


def _sql_snapshot_mv_hll() -> str:
    from ..mv import MV_HLL_P
    from ..operators.sketches import H48, hll_alpha_numerator
    p = MV_HLL_P
    m = 1 << p
    rest = 48 - p
    wmod = 1 << rest
    return f"""
WITH h AS (
  SELECT o_orderstatus,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)
              AS BIGINT) AS h
  FROM orders),
r AS (
  SELECT o_orderstatus, h // {wmod} AS bucket,
         CASE WHEN h % {wmod} = 0 THEN {rest + 1}
              ELSE {rest + 1} - length(bin(h % {wmod})) END AS rho
  FROM h),
mx AS (SELECT o_orderstatus, bucket, MAX(rho) AS mreg
       FROM r GROUP BY o_orderstatus, bucket),
a AS (SELECT o_orderstatus,
             SUM(CAST(1 AS BIGINT) << (48 - mreg)) AS s,
             COUNT(*) AS nb
      FROM mx GROUP BY o_orderstatus),
n AS (SELECT o_orderstatus, COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderstatus)
SELECT n.o_orderstatus, n.n_orders,
       {hll_alpha_numerator(p)!r}
         / CAST(a.s + ({m} - a.nb) * {H48} AS DOUBLE)
         AS approx_customers
FROM n JOIN a USING (o_orderstatus)
ORDER BY o_orderstatus
"""


def q_snapshot_merge(spark, sf_dir):
    """Copy-on-write MERGE INTO on a snapshot table
    (storage.merge_into_snapshot) under the gate: orders lands in two
    key-ranged commits, the merge_upsert U/D/I change set
    (registry_ext4._order_changes) is applied as a ``merge`` commit,
    and the merged snapshot is read back and summarized per status —
    deletes, +5%% updates, and inserts all visible in the aggregate.
    Shares the change-set oracle with ``merge_upsert``
    (registry_ext4.SQL_MERGE_UPSERT), so the two entries pin that the
    table-format COW path and the plain DataFrame path produce the
    identical relation; dir-level rewrite pruning is pinned
    separately by tests/test_snapshot_merge.py."""
    from ..storage import merge_into_snapshot, read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"))
    mid = 3_000_000   # splits every sf's key space into two commits
    table = _staging(sf_dir, "snap_merge_orders")
    write_snapshot(o.filter(F.col("o_orderkey") <= mid), table)
    write_snapshot(o.filter(F.col("o_orderkey") > mid), table,
                   mode="append")
    merge_into_snapshot(spark, table, _order_changes(o), "o_orderkey")
    merged = read_snapshot(spark, table)
    return (merged.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("price").cast("double").alias("total_price")))


def _sql_snapshot_merge() -> str:
    return SQL_MERGE_UPSERT


def q_snapshot_mv_quantiles(spark, sf_dir):
    """Incrementally maintained approx-quantiles: an MV with q50/q90
    aggregates (dense bin-count partials summed across refreshes)
    over three source commits must finalize to the one-shot
    fixed-bin sketch's exact estimate — the oracle recomputes bins +
    the rank/interpolation walk over the FULL table in SQL, so the
    hash-match proves bin-array merging is lossless."""
    from ..mv import mv_read, mv_refresh
    from ..storage import write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice",
        (F.col("o_orderkey") % 3).alias("slice"))
    src = _staging(sf_dir, "mv_q_src")
    mv = _staging(sf_dir, "mv_q_view")
    keys = ["o_orderstatus"]
    spec = [("count", "*", "n_orders"),
            ("q50", "o_totalprice", "median_price"),
            ("q90", "o_totalprice", "p90_price")]
    for s in range(3):
        write_snapshot(o.filter(F.col("slice") == s).drop("slice"), src,
                       mode="overwrite" if s == 0 else "append",
                       collect_stats=False)
        mv_refresh(spark, src, mv, keys, spec)
    return (mv_read(spark, mv, keys, spec)
            .orderBy("o_orderstatus"))


def _sql_snapshot_mv_quantiles() -> str:
    from ..mv import MV_HIST_BINS, MV_HIST_HI, MV_HIST_LO, MV_HIST_SCALE
    width = int((MV_HIST_HI - MV_HIST_LO) * MV_HIST_SCALE) // MV_HIST_BINS
    lo_s = int(MV_HIST_LO * MV_HIST_SCALE)
    qsel, qjoin = [], []
    for q, alias in ((0.5, "median_price"), (0.9, "p90_price")):
        pct = int(q * 100)
        qsel.append(f"""q{pct} AS (
  SELECT o_orderstatus,
         ROUND(CAST({lo_s} + bin * {width}
                    + ({width} * (CAST(CEIL(n * {q}) AS BIGINT)
                                  - cum + c)) / c AS DOUBLE)
               / {MV_HIST_SCALE}, 6) AS {alias}
  FROM cum
  WHERE cum >= CAST(CEIL(n * {q}) AS BIGINT)
    AND cum - c < CAST(CEIL(n * {q}) AS BIGINT))""")
        qjoin.append(f"JOIN q{pct} USING (o_orderstatus)")
    return f"""
WITH s AS (
  SELECT o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * {MV_HIST_SCALE}
              AS BIGINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL),
b AS (
  SELECT o_orderstatus,
         LEAST({MV_HIST_BINS - 1},
               GREATEST(0, (v - {lo_s}) // {width})) AS bin
  FROM s),
bc AS (SELECT o_orderstatus, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
cum AS (SELECT o_orderstatus, bin, c,
               SUM(c) OVER (PARTITION BY o_orderstatus
                            ORDER BY bin) AS cum,
               SUM(c) OVER (PARTITION BY o_orderstatus) AS n
        FROM bc),
base AS (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY o_orderstatus),
{",".join(qsel)}
SELECT base.o_orderstatus, base.n_orders, median_price, p90_price
FROM base {" ".join(qjoin)}
ORDER BY o_orderstatus
"""


def q_snapshot_compact(spark, sf_dir):
    """OPTIMIZE under the gate: orders lands as FOUR appended
    commits, compact_snapshot rewrites them into one key-clustered
    dir, and the aggregate of the compacted latest must equal the
    plain orders aggregate — content neutrality proven against the
    source-of-truth oracle, not against the pre-compaction read.
    The CDF zero-diff and stats-tightening halves are pinned in
    tests/test_snapshot_changes.py."""
    from ..storage import (compact_snapshot, latest_version,
                           read_snapshot, write_snapshot)

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    table = _staging(sf_dir, "compact_orders")
    for s in range(4):
        write_snapshot(o.filter(F.col("o_orderkey") % 4 == s), table,
                       mode="overwrite" if s == 0 else "append",
                       collect_stats=False)
    v = compact_snapshot(spark, table, sort_by="o_orderkey")
    if v != latest_version(table):
        raise AssertionError("compaction did not publish latest")
    back = read_snapshot(spark, table)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("cents").alias("sum_cents"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key"))
            .orderBy("o_orderstatus"))


SQL_SNAPSHOT_COMPACT = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_snapshot_cdf(spark, sf_dir):
    """Change-data-feed under the gate, BOTH physical paths in one
    result: step 'append' diffs a pure-append range (fast path —
    delta commit dirs only, every change an insert) and step
    'overwrite' diffs across an overwrite (general path — join-free
    ±1 multiset diff).  Versions come from write_snapshot's returns,
    never literals, so a second run in the same process (three more
    versions on the staging table) diffs its own commits.  The
    oracle recomputes both deltas from the slice predicates — the
    hash-match proves the feed is exactly state difference."""
    from ..storage import snapshot_changes, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    k = F.col("o_orderkey")
    table = _staging(sf_dir, "cdf_orders")
    v1 = write_snapshot(o.filter(k % 3 == 0), table,
                        collect_stats=False)
    v2 = write_snapshot(o.filter(k % 3 == 1), table, mode="append",
                        collect_stats=False)
    v3 = write_snapshot(o.filter(k % 3 != 0), table,
                        collect_stats=False)

    def agg(df, step):
        return (df.groupBy("_change_type")
                .agg(F.sum("_n").alias("n_changes"),
                     F.sum(F.col("cents") * F.col("_n")).alias("cents_sum"),
                     F.min("o_orderkey").alias("min_key"),
                     F.max("o_orderkey").alias("max_key"))
                .select(F.lit(step).alias("step"), "_change_type",
                        "n_changes", "cents_sum", "min_key", "max_key"))

    return (agg(snapshot_changes(spark, table, v1, v2), "append")
            .unionByName(agg(snapshot_changes(spark, table, v1, v3),
                             "overwrite"))
            .orderBy("step", "_change_type"))


SQL_SNAPSHOT_CDF = """
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
ch AS (
  -- append range v1->v2: state adds exactly the k%3=1 slice
  SELECT 'append' AS step, 'insert' AS _change_type, k, cents
  FROM base WHERE k % 3 = 1
  UNION ALL
  -- overwrite range v1->v3: k%3=0 leaves, k%3 IN (1,2) arrives
  SELECT 'overwrite', 'delete', k, cents FROM base WHERE k % 3 = 0
  UNION ALL
  SELECT 'overwrite', 'insert', k, cents FROM base WHERE k % 3 <> 0)
SELECT step, _change_type,
       CAST(COUNT(*) AS BIGINT) AS n_changes,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       MIN(k) AS min_key, MAX(k) AS max_key
FROM ch GROUP BY step, _change_type ORDER BY step, _change_type
"""


def q_snapshot_delete(spark, sf_dir):
    """Two data commits -> equality-delete by o_custkey (keys taken
    FROM the live table, so the delete set exactly covers the
    residue class) -> append the remaining slice (same custkeys
    present: must survive) -> aggregate the MOR read."""
    from ..storage import (delete_from_snapshot, read_snapshot,
                           write_snapshot)

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    k = F.col("o_orderkey")
    table = _staging(sf_dir, "mor_orders")
    write_snapshot(o.filter(k % 3 == 0), table, collect_stats=False)
    write_snapshot(o.filter(k % 3 == 1), table, mode="append",
                   collect_stats=False)
    doomed = (read_snapshot(spark, table)
              .filter(F.col("o_custkey") % 10 == 3)
              .select("o_custkey"))
    delete_from_snapshot(spark, table, doomed, "o_custkey")
    write_snapshot(o.filter(k % 3 == 2), table, mode="append",
                   collect_stats=False)
    final = read_snapshot(spark, table)
    return (final.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("cents").alias("sum_cents"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key"))
            .orderBy("o_orderstatus"))


SQL_SNAPSHOT_DELETE = """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
kept AS (
  -- the two pre-delete commits minus the deleted residue class ...
  SELECT * FROM o
  WHERE o_orderkey % 3 IN (0, 1) AND o_custkey % 10 <> 3
  UNION ALL
  -- ... plus the post-delete append, UNTOUCHED by the older delete
  SELECT * FROM o WHERE o_orderkey % 3 = 2)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM kept GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_snapshot_zorder(spark, sf_dir):
    """OPTIMIZE ZORDER under the gate: orders lands unclustered,
    compact_snapshot_zorder rewrites it into 8 Morton-range commit
    dirs over (o_custkey, o_orderkey/10) — orderkey spans 10× the
    custkey range, so the narrower side is interleaved against the
    normalized wider one (the operator's documented contract) — and
    the result is a PRUNED point read on each key column.  The
    assertion inside checks the manifest pruner actually skipped
    dirs on BOTH columns (the z-layout property); the oracle pins
    that pruning changed nothing about the answer.  Thresholds are
    SF-relative (bottom tenth of custkeys, top tenth of orderkeys)
    so one fixed oracle covers every fixture."""
    from ..storage import (SNAP_MANIFESTS, compact_snapshot_zorder,
                           read_snapshot, write_snapshot)

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    table = _staging(sf_dir, "zorder_orders")
    write_snapshot(o, table, collect_stats=False)
    v = compact_snapshot_zorder(
        spark, table, "o_custkey",
        F.floor(F.col("o_orderkey") / 10).cast("bigint"), n_dirs=8)
    import json
    import os
    with open(os.path.join(table, SNAP_MANIFESTS, f"v{v}.json")) as fh:
        n_dirs = len(json.load(fh)["dirs"])
    # planning scalars (one tiny agg): the SF-relative thresholds the
    # oracle recomputes as subqueries
    mx = o.agg(F.max("o_custkey").alias("ck"),
               F.max("o_orderkey").alias("ok")).collect()[0]
    thr_ck, thr_ok = mx["ck"] // 10, mx["ok"] - mx["ok"] // 10

    def pruned(col, op, val, step):
        df = read_snapshot(spark, table, where=(col, op, val))
        scanned = {f.split("/data/")[-1].split("/")[0]
                   for f in df.inputFiles()}
        if not 0 < len(scanned) < n_dirs:
            raise AssertionError(
                f"z-order manifest pruning ineffective on {col}: "
                f"{len(scanned)}/{n_dirs} dirs scanned")
        return (df.agg(F.count(F.lit(1)).alias("n_orders"),
                       F.sum("cents").alias("sum_cents"),
                       F.min("o_orderkey").alias("min_key"),
                       F.max("o_orderkey").alias("max_key"))
                .select(F.lit(step).alias("step"), "*"))

    return (pruned("o_custkey", "<=", thr_ck, "by_custkey")
            .unionByName(pruned("o_orderkey", ">=", thr_ok,
                                "by_orderkey"))
            .orderBy("step"))


SQL_SNAPSHOT_ZORDER = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
thr AS (SELECT MAX(o_custkey) // 10 AS ck,
               MAX(o_orderkey) - MAX(o_orderkey) // 10 AS ok
        FROM o),
sides AS (
  SELECT 'by_custkey' AS step, o_orderkey, cents
  FROM o WHERE o_custkey <= (SELECT ck FROM thr)
  UNION ALL
  SELECT 'by_orderkey', o_orderkey, cents
  FROM o WHERE o_orderkey >= (SELECT ok FROM thr))
SELECT step, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM sides GROUP BY step ORDER BY step
"""


def q_snapshot_bloom(spark, sf_dir):
    """Per-commit BLOOM SIDECARS under the gate: orders lands in 4
    append commits HASH-split on o_custkey (custkey % 4 — every dir's
    custkey [min, max] spans the whole key space, so manifest stats
    cannot prune an id equality), each commit written with
    ``bloom_cols=["o_custkey"]``.  A point read of a planned custkey
    must scan a STRICT SUBSET of the commit dirs (asserted in-query —
    the bloom finds the one hash bucket the key lives in), and a
    probe past the key space must bloom-exclude essentially
    everything; the oracle pins that pruning changed no answer.
    Complements ``snapshot_zorder`` (range pruning on clustered
    columns) with the id-lookup half of data skipping."""
    from ..storage import read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    table = _staging(sf_dir, "bloom_orders")
    for b in range(4):
        write_snapshot(o.filter(F.col("o_custkey") % 4 == b), table,
                       mode="append" if b else "overwrite",
                       bloom_cols=["o_custkey"])
    # planned probes (one tiny agg): the custkey of the smallest
    # orderkey (definitely present), and one past the key space
    row = o.agg(F.min("o_orderkey").alias("ok0"),
                F.max("o_custkey").alias("mx")).collect()[0]
    ck0 = o.filter(F.col("o_orderkey") == row["ok0"]) \
           .agg(F.max("o_custkey")).collect()[0][0]
    absent = row["mx"] + 1009

    def probe(ck, step, max_dirs):
        df = read_snapshot(spark, table, where=("o_custkey", "=", ck))
        scanned = {f.split("/data/")[-1].split("/")[0]
                   for f in df.inputFiles()}
        if len(scanned) > max_dirs:
            raise AssertionError(
                f"bloom pruning ineffective for {step}: "
                f"{len(scanned)} dirs scanned (cap {max_dirs})")
        return (df.agg(F.count(F.lit(1)).alias("n_orders"),
                       F.sum("cents").alias("sum_cents"),
                       F.min("o_orderkey").alias("min_key"),
                       F.max("o_orderkey").alias("max_key"))
                .select(F.lit(step).alias("step"), "*"))

    # present key: its hash bucket (+~0.8% fp per other dir); absent
    # key: everything excluded up to the same fp allowance
    return (probe(ck0, "present", max_dirs=2)
            .unionByName(probe(absent, "absent", max_dirs=1))
            .orderBy("step"))


SQL_SNAPSHOT_BLOOM = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
ck AS (SELECT MAX(o_custkey) AS v FROM o
       WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM o)),
absent AS (SELECT MAX(o_custkey) + 1009 AS v FROM o)
SELECT 'absent' AS step, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM o WHERE o_custkey = (SELECT v FROM absent)
UNION ALL
SELECT 'present', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(cents) AS BIGINT),
       MIN(o_orderkey), MAX(o_orderkey)
FROM o WHERE o_custkey = (SELECT v FROM ck)
ORDER BY step
"""


EXPECT_MIN_CHARS = 120
EXPECT_LANGS = ("en", "de", "fr")


def q_snapshot_expectations(spark, sf_dir):
    """CHECK constraints under the gate: documents land in a snapshot
    table through the QUARANTINE expectation policy (two registered
    constraints — a min-length rule and a language allowlist), and
    the query emits the ingestion funnel: rows kept, rows
    dead-lettered, and per-constraint violation counts read back from
    the quarantine table's ``__violated`` reasons.  Every number is a
    deterministic integer function of the documents table, so the
    whole flow carries a bit-exact oracle.  Self-contained staging
    (registry._staging), built ONCE per process: quarantine appends
    per commit, so an unconditional rebuild would double the
    dead-letter counts — the latest_version gate keeps double runs
    byte-stable (the pattern every snapshot_* query uses)."""
    import os

    from ..storage import (SNAP_QUARANTINE, latest_version,
                           read_snapshot, set_snapshot_constraint,
                           write_snapshot)

    d = _t(spark, sf_dir, "documents")
    table = _staging(sf_dir, "expect_docs")
    if latest_version(table) is None:
        set_snapshot_constraint(table, "min_len",
                                f"n_chars >= {EXPECT_MIN_CHARS}")
        set_snapshot_constraint(
            table, "lang_allowed",
            "lang IN ("
            + ", ".join(f"'{x}'" for x in EXPECT_LANGS) + ")")
        write_snapshot(d.select("doc_id", "lang", "n_chars"), table,
                       on_violation="quarantine")
    kept = read_snapshot(spark, table)
    dead = read_snapshot(spark, os.path.join(table, SNAP_QUARANTINE))
    funnel = (kept.agg(F.lit("kept").alias("bucket"),
                       F.count(F.lit(1)).alias("n"))
              .unionByName(
                  dead.agg(F.lit("quarantined").alias("bucket"),
                           F.count(F.lit(1)).alias("n")))
              .unionByName(
                  dead.select(F.explode("__violated").alias("c"))
                  .groupBy("c")
                  .agg(F.count(F.lit(1)).alias("n"))
                  .select(F.concat(F.lit("violated:"), F.col("c"))
                          .alias("bucket"), "n")))
    return funnel.orderBy("bucket")


def _sql_snapshot_expectations() -> str:
    langs = ", ".join(f"'{x}'" for x in EXPECT_LANGS)
    return f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         n_chars >= {EXPECT_MIN_CHARS} AS ok_len,
         lang IN ({langs}) AS ok_lang
  FROM documents)
SELECT 'kept' AS bucket, CAST(COUNT(*) AS BIGINT) AS n
FROM d WHERE ok_len AND ok_lang
UNION ALL
SELECT 'quarantined', CAST(COUNT(*) AS BIGINT)
FROM d WHERE NOT (ok_len AND ok_lang)
UNION ALL
SELECT 'violated:min_len', CAST(COUNT(*) AS BIGINT)
FROM d WHERE NOT ok_len
UNION ALL
SELECT 'violated:lang_allowed', CAST(COUNT(*) AS BIGINT)
FROM d WHERE NOT ok_lang
ORDER BY bucket
"""


# ---------------------------------------------------- timetravel ----

TT_SLICES = 4


def q_snapshot_timetravel(spark, sf_dir):
    """Commit orders in TT_SLICES key-sliced appends, then read the
    table TIMESTAMP AS OF an instant inside each inter-commit gap
    (plus one after the last) and aggregate what each pinned instant
    sees.  A second run in the same process appends onto the same
    staging table (double-run stability): the as_of instants are
    recomputed from THIS run's manifests, and the first write is an
    overwrite, so every run's four reads see exactly slices
    0..k-1."""
    import json
    import os
    import time

    from ..storage import SNAP_MANIFESTS, read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    t = _staging(sf_dir, "tt_orders")
    versions = []
    ts = []
    for s in range(TT_SLICES):
        # manifest ts rounds to 1 ms (_commit_ts); two commits that
        # round to the SAME ms would make the midpoint instant equal
        # both and version_as_of resolve to the LATER — spin until
        # the clock strictly advances past the previous commit's ts
        while ts and round(time.time(), 3) <= ts[-1]:
            time.sleep(0.001)
        v = write_snapshot(o.filter(F.col("o_orderkey") % TT_SLICES == s),
                           t, mode="append" if s else "overwrite",
                           collect_stats=False)
        versions.append(v)
        with open(os.path.join(t, SNAP_MANIFESTS, f"v{v}.json")) as fh:
            ts.append(json.load(fh)["ts"])
    # midpoints between consecutive commit instants (and +1 s after
    # the last) — strictly-increasing ts asserted above makes each
    # midpoint land strictly between its two commits
    instants = [(a + b) / 2 for a, b in zip(ts, ts[1:])] + [ts[-1] + 1.0]
    out = None
    for k, inst in enumerate(instants, start=1):
        part = (read_snapshot(spark, t, as_of=inst)
                .agg(F.lit(k).alias("n_slices"),
                     F.count(F.lit(1)).alias("n_orders"),
                     F.sum("cents").alias("sum_cents")))
        out = part if out is None else out.unionByName(part)
    return out.orderBy("n_slices")


SQL_SNAPSHOT_TIMETRAVEL = f"""
SELECT v.k AS n_slices,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders, (SELECT UNNEST(range(1, {TT_SLICES + 1})) AS k) v
WHERE o_orderkey % {TT_SLICES} < v.k
GROUP BY v.k
ORDER BY n_slices
"""

# ------------------------------------------------------- restore ----

RST_SLICES = 4


def q_snapshot_restore(spark, sf_dir):
    """Commit RST_SLICES key-sliced appends, RESTORE to the second
    commit (metadata-only), then append the first slice AGAIN —
    duplicating its rows, which makes the post-restore lineage
    distinguishable from every pre-restore version.  Reads every
    version of THIS run by its returned version number (not an
    absolute constant), so a second run in the same process — whose
    versions continue the staged table's log — sees the same six
    contents (the first write is an overwrite)."""
    from ..storage import read_snapshot, restore_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    t = _staging(sf_dir, "rst_orders")
    versions = []
    for s in range(RST_SLICES):
        versions.append(write_snapshot(
            o.filter(F.col("o_orderkey") % RST_SLICES == s), t,
            mode="append" if s else "overwrite", collect_stats=False))
    versions.append(restore_snapshot(t, versions[1]))   # back to k=2
    versions.append(write_snapshot(                     # slice 0 again
        o.filter(F.col("o_orderkey") % RST_SLICES == 0), t,
        mode="append", collect_stats=False))
    out = None
    for step, v in enumerate(versions, start=1):
        part = (read_snapshot(spark, t, version=v)
                .agg(F.lit(step).alias("step"),
                     F.count(F.lit(1)).alias("n_orders"),
                     F.sum("cents").alias("sum_cents")))
        out = part if out is None else out.unionByName(part)
    return out.orderBy("step")


SQL_SNAPSHOT_RESTORE = f"""
WITH c AS (
  SELECT o_orderkey % {RST_SLICES} AS s,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
steps(step) AS (SELECT UNNEST(range(1, 7))),
sel AS (
  -- steps 1..4: slices 0..step-1; step 5 (restore to v2): slices
  -- 0..1; step 6: slices 0..1 plus slice 0 a second time
  SELECT st.step, c.cents,
         CASE WHEN st.step <= {RST_SLICES} AND c.s < st.step THEN 1
              WHEN st.step = 5 AND c.s < 2 THEN 1
              WHEN st.step = 6 AND c.s < 2 THEN 1
              ELSE 0 END
         + CASE WHEN st.step = 6 AND c.s = 0 THEN 1 ELSE 0 END
           AS copies
  FROM steps st, c)
SELECT step, CAST(SUM(copies) AS BIGINT) AS n_orders,
       CAST(SUM(copies * cents) AS BIGINT) AS sum_cents
FROM sel GROUP BY step ORDER BY step
"""

# ------------------------------------------------- shallow clone ----

CLN_SLICES = 4


def q_snapshot_clone(spark, sf_dir):
    """Stage a snapshot table (overwrite slice 0, append slice 1),
    SHALLOW-CLONE it, then diverge: append slice 2 to the CLONE and
    slice 3 to the SOURCE.  Emits (side, n_orders, sum_cents) for
    the source's latest read, the clone's latest read, and the
    clone's own v1 (time travel INSIDE the clone) — three contents
    that only come out right if the clone referenced exactly the
    pre-divergence dirs and neither side's append leaked into the
    other.  The clone target is a fresh uuid dir per call (a clone
    is a new table; re-runs must not collide), while the source
    follows the snapshot_restore convention: reads pin THIS run's
    returned versions, so a second run in the same process sees
    identical content."""
    import os
    import uuid

    from ..storage import clone_snapshot, read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))

    def sl(s):
        return o.filter(F.col("o_orderkey") % CLN_SLICES == s)

    src = _staging(sf_dir, "cln_orders")
    write_snapshot(sl(0), src, mode="overwrite", collect_stats=False)
    v2 = write_snapshot(sl(1), src, mode="append", collect_stats=False)
    # clone targets must be fresh (a clone is a NEW table), but
    # repeated runs must not leak one slice-2 data copy per call:
    # drop the previous runs' clones before creating this one
    # (registry queries execute sequentially per process, and the
    # staging root is per-process, so nothing can hold a live scan)
    import shutil
    clone_base = _staging(sf_dir, "cln_clone")
    shutil.rmtree(clone_base, ignore_errors=True)
    dst = os.path.join(clone_base, uuid.uuid4().hex[:12])
    clone_snapshot(src, dst, version=v2)
    write_snapshot(sl(2), dst, mode="append", collect_stats=False)
    v_src = write_snapshot(sl(3), src, mode="append",
                           collect_stats=False)

    def side(name, df):
        return df.agg(F.lit(name).alias("side"),
                      F.count(F.lit(1)).alias("n_orders"),
                      F.sum("cents").alias("sum_cents"))

    return (side("clone_latest", read_snapshot(spark, dst))
            .unionByName(side("clone_v1",
                              read_snapshot(spark, dst, version=1)))
            .unionByName(side("src_latest",
                              read_snapshot(spark, src, version=v_src)))
            .orderBy("side"))


SQL_SNAPSHOT_CLONE = f"""
WITH c AS (
  SELECT o_orderkey % {CLN_SLICES} AS s,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
sides(side) AS (
  SELECT UNNEST(['clone_latest', 'clone_v1', 'src_latest'])),
sel AS (
  -- clone_latest: slices 0,1 (cloned) + 2 (clone-side append);
  -- clone_v1: slices 0,1; src_latest: slices 0,1 + 3
  SELECT sd.side, c.cents,
         CASE WHEN c.s < 2 THEN 1
              WHEN sd.side = 'clone_latest' AND c.s = 2 THEN 1
              WHEN sd.side = 'src_latest' AND c.s = 3 THEN 1
              ELSE 0 END AS copies
  FROM sides sd, c)
SELECT side, CAST(SUM(copies) AS BIGINT) AS n_orders,
       CAST(SUM(copies * cents) AS BIGINT) AS sum_cents
FROM sel GROUP BY side ORDER BY side
"""


# ------------------------------------------------ DESCRIBE HISTORY --

HIST_SLICES = 3


def q_snapshot_history(spark, sf_dir):
    """Drive a staged table through all four commit modes —
    overwrite, append, RESTORE, append — then read the manifest log
    back through storage.snapshot_history and join each history row
    with its version's actual content aggregate.  A history that
    misreported modes, dir counts, delete counts, or order could not
    hash-match the slice arithmetic.  Follows the snapshot_restore
    re-run convention: history rows are filtered to THIS run's
    returned versions and renumbered to steps 1-4, so a second run
    in the same process (whose versions continue the staged log)
    emits identical rows."""
    from ..storage import (read_snapshot, restore_snapshot,
                           snapshot_history, write_snapshot)

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))

    def sl(s):
        return o.filter(F.col("o_orderkey") % HIST_SLICES == s)

    t = _staging(sf_dir, "hist_orders")
    va = write_snapshot(sl(0), t, mode="overwrite",
                        collect_stats=False)
    vb = write_snapshot(sl(1), t, mode="append", collect_stats=False)
    vc = restore_snapshot(t, va)
    vd = write_snapshot(sl(2), t, mode="append", collect_stats=False)
    vs = [va, vb, vc, vd]
    steps = spark.createDataFrame(
        [(v, i + 1) for i, v in enumerate(vs)], "version int, step int")
    hist = (snapshot_history(spark, t)
            .filter(F.col("version").isin(vs))
            .join(F.broadcast(steps), "version")
            .select("step", "mode", "n_dirs", "n_deletes"))
    content = None
    for i, v in enumerate(vs, start=1):
        part = (read_snapshot(spark, t, version=v)
                .agg(F.lit(i).alias("step"),
                     F.count(F.lit(1)).alias("n_rows"),
                     F.sum("cents").alias("sum_cents")))
        content = part if content is None else content.unionByName(part)
    return hist.join(content, "step").orderBy("step")


SQL_SNAPSHOT_HISTORY = f"""
WITH c AS (
  SELECT o_orderkey % {HIST_SLICES} AS s,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders),
steps(step, mode, n_dirs, n_deletes) AS (
  VALUES (1, 'overwrite', 1, 0), (2, 'append', 2, 0),
         (3, 'restore', 1, 0), (4, 'append', 2, 0)),
sel AS (
  -- step 1: slice 0; step 2: slices 0,1; step 3 (restore to step
  -- 1): slice 0; step 4 (append onto the restore): slices 0,2
  SELECT st.step, st.mode, st.n_dirs, st.n_deletes, c.cents,
         CASE WHEN st.step = 1 AND c.s = 0 THEN 1
              WHEN st.step = 2 AND c.s < 2 THEN 1
              WHEN st.step = 3 AND c.s = 0 THEN 1
              WHEN st.step = 4 AND c.s IN (0, 2) THEN 1
              ELSE 0 END AS copies
  FROM steps st, c)
SELECT step, mode, CAST(n_dirs AS INTEGER) AS n_dirs,
       CAST(n_deletes AS INTEGER) AS n_deletes,
       CAST(SUM(copies) AS BIGINT) AS n_rows,
       CAST(SUM(copies * cents) AS BIGINT) AS sum_cents
FROM sel GROUP BY step, mode, n_dirs, n_deletes ORDER BY step
"""


# ------------------------------------- snapshot schema evolution ----

EVO_SLICES = 3


def q_snapshot_evolution(spark, sf_dir):
    """SCHEMA EVOLUTION under the snapshot store, hash-checked
    end-to-end: v1 overwrites (o_orderkey, cents); v2 APPENDS a
    commit that ADDS column ``disc``; v3 appends one that adds
    ``qty`` — additive evolution, the contract
    ``read_snapshot(merge_schema=True)`` documents (older commits
    read the new columns as NULL).  Each version is then read back
    with merge_schema and aggregated: row/sum totals plus the NULL
    back-fill counts of both evolved columns.  A reader that dropped
    an evolved column, back-filled non-NULL, leaked a later commit
    into an earlier version (time travel × evolution), or unioned
    dirs positionally instead of by name could not hash-match.
    Pre-evolution versions genuinely lack the columns (their dirs
    predate them), so the reader treats a missing column as NULL —
    exactly what a production consumer of an evolving table does.

    Scale shape: the store's evolution is O(manifest) — no data
    rewrite ever happens; merge_schema costs one footer read per
    commit dir.  Re-run convention: aggregates are keyed to THIS
    run's returned versions (the snapshot_history precedent), so a
    second in-process run hash-matches."""
    from ..storage import read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))

    def sl(s):
        return o.filter(F.col("o_orderkey") % EVO_SLICES == s)

    disc = (F.col("o_orderkey") % 97).cast("bigint").alias("disc")
    qty = (F.col("o_orderkey") % 7).cast("bigint").alias("qty")
    t = _staging(sf_dir, "evo_orders")
    v1 = write_snapshot(sl(0), t, mode="overwrite",
                        collect_stats=False)
    v2 = write_snapshot(sl(1).select("o_orderkey", "cents", disc),
                        t, mode="append", collect_stats=False)
    v3 = write_snapshot(sl(2).select("o_orderkey", "cents", disc, qty),
                        t, mode="append", collect_stats=False)

    def colw(df, name):
        return (F.col(name) if name in df.columns
                else F.lit(None).cast("bigint"))

    out = None
    for i, v in enumerate((v1, v2, v3), start=1):
        df = read_snapshot(spark, t, version=v, merge_schema=True)
        part = df.agg(
            F.lit(i).alias("step"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
            F.sum(F.when(colw(df, "disc").isNull(), 1).otherwise(0))
            .alias("n_disc_null"),
            F.sum(colw(df, "disc")).alias("sum_disc"),
            F.sum(F.when(colw(df, "qty").isNull(), 1).otherwise(0))
            .alias("n_qty_null"),
            F.sum(colw(df, "qty")).alias("sum_qty"))
        out = part if out is None else out.unionByName(part)
    return out.orderBy("step")


SQL_SNAPSHOT_EVOLUTION = f"""
WITH c AS (
  SELECT o_orderkey % {EVO_SLICES} AS s,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         CAST(o_orderkey % 97 AS BIGINT) AS disc,
         CAST(o_orderkey % 7 AS BIGINT) AS qty
  FROM orders),
sel AS (
  -- step 1: slice 0, neither evolved column exists (all NULL);
  -- step 2: slices 0,1 — disc live on slice 1 only; step 3: all
  -- slices — disc live on 1,2, qty live on 2 only
  SELECT st.step, c.cents,
         CASE WHEN st.step >= 2 AND c.s >= 1 THEN c.disc END AS disc,
         CASE WHEN st.step = 3 AND c.s = 2 THEN c.qty END AS qty,
         c.s
  FROM (VALUES (1), (2), (3)) st(step)
  JOIN c ON c.s < st.step)
SELECT step,
       COUNT(*) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(SUM(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_disc_null,
       CAST(SUM(disc) AS BIGINT) AS sum_disc,
       CAST(SUM(CASE WHEN qty IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_qty_null,
       CAST(SUM(qty) AS BIGINT) AS sum_qty
FROM sel GROUP BY step ORDER BY step
"""


register({
    "zorder_key":       {"fn": q_zorder_key,    "sql": SQL_ZORDER_KEY},
    "table_diff":       {"fn": q_table_diff,    "sql": SQL_TABLE_DIFF},
    "scd2_intervals":   {"fn": q_scd2_intervals, "sql": SQL_SCD2_INTERVALS},
    "merge_upsert":     {"fn": q_merge_upsert, "sql": SQL_MERGE_UPSERT},
    "ivm_agg":            {"fn": q_ivm_agg, "sql": _sql_ivm_agg()},
    "src_snapshot":       {"fn": q_src_snapshot,
                           "sql": SQL_SRC_SNAPSHOT},
    "src_snapshot_stream": {"fn": q_src_snapshot_stream,
                            "sql": SQL_SRC_SNAPSHOT_STREAM},
    "snapshot_mv":     {"fn": q_snapshot_mv, "sql": SQL_SNAPSHOT_MV},
    "snapshot_mv_hll": {"fn": q_snapshot_mv_hll,
                        "sql": _sql_snapshot_mv_hll()},
    "snapshot_merge":  {"fn": q_snapshot_merge,
                        "sql": _sql_snapshot_merge()},
    "snapshot_cdf":    {"fn": q_snapshot_cdf, "sql": SQL_SNAPSHOT_CDF},
    "snapshot_compact": {"fn": q_snapshot_compact,
                         "sql": SQL_SNAPSHOT_COMPACT},
    "snapshot_mv_quantiles": {"fn": q_snapshot_mv_quantiles,
                              "sql": _sql_snapshot_mv_quantiles()},
    "snapshot_delete": {"fn": q_snapshot_delete,
                        "sql": SQL_SNAPSHOT_DELETE},
    "snapshot_zorder": {"fn": q_snapshot_zorder,
                        "sql": SQL_SNAPSHOT_ZORDER},
    "snapshot_bloom":  {"fn": q_snapshot_bloom,
                        "sql": SQL_SNAPSHOT_BLOOM},
    "snapshot_expectations": {"fn": q_snapshot_expectations,
                              "sql": _sql_snapshot_expectations()},
    "snapshot_timetravel": {"fn": q_snapshot_timetravel,
                            "sql": SQL_SNAPSHOT_TIMETRAVEL},
    "snapshot_restore":    {"fn": q_snapshot_restore,
                            "sql": SQL_SNAPSHOT_RESTORE},
    "snapshot_clone":   {"fn": q_snapshot_clone,
                         "sql": SQL_SNAPSHOT_CLONE},
    "snapshot_history":  {"fn": q_snapshot_history,
                          "sql": SQL_SNAPSHOT_HISTORY},
    "snapshot_evolution": {"fn": q_snapshot_evolution,
                           "sql": SQL_SNAPSHOT_EVOLUTION},
})
