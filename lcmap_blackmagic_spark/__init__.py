"""lcmap_blackmagic_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of USGS-EROS/lcmap-blackmagic.

The reference (/root/reference, v1.0.1) is a Flask HTTP server running a
fixed land-change dataflow DAG (scan → filter → join → aggregate →
sample → train/predict → sink) over per-chip partitions. This package
re-expresses every operator of that DAG Spark-first:

- declarative DataFrame/SQL plans (Catalyst handles pushdown/pruning),
- broadcast hash joins for the small aux dimension (segaux.py:113-126),
- window-function stratified sampling (tile.py:228-284),
- Arrow-batched pandas UDFs only at the irreducible ML/science boundary
  (segment.py:107-116 detect, prediction.py:186-197 batch predict),
- Parquet partitioned by (cx, cy) replacing per-chip gzip JSON objects
  (data/ceph.py:338-351),
- a Structured Streaming front-end replacing the request/response
  worker pool (app.py:21-25).

Layout:
  schemas     — StructTypes for ard/aux/segments/predictions/... (FIXTURES.md)
  storage     — partition-level read/overwrite/delete (ceph.py parity)
  functions/  — scalar/date/array helpers (segaux.py scalar fns)
  operators/  — joins, filters, sampling, stats, unions (SURVEY §2)
  plans/      — the three pipelines: segment, tile(training), prediction
  ml/         — train/predict boundary (xgboost if present, else a
                deterministic fallback classifier)
  sources/    — fixture loaders + Chipmunk-protocol source skeleton
  streaming/  — work-item stream → foreachBatch over the batch plans
  llm/        — scale-out training-data ops: dedup, similarity search,
                text analysis, multimodal column plumbing
"""

__version__ = "0.1.0"

# Default engine tuning. At cluster scale these are set per-job; the
# values here are sized for local[32] test runs but the *shape* of the
# config (AQE on, partition count ~ cores, Arrow on) is the scale design.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # the engine's celled joins (SemDeDup / IVF / IVF-PQ candidate
    # generation) are equi-joins on cell FOLLOWED by a same-key
    # aggregation; in that shape OptimizeSkewedJoin declines to split
    # a hot cell because the split breaks the downstream distribution
    # requirement (measured round 14 — tests/test_hot_cell_skew.py
    # pins both behaviors).  Forcing the split re-shuffles the join
    # output once, which is the right trade exactly when one cell
    # holds a disproportionate share of the corpus; with no skewed
    # partition detected this config changes nothing.
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # dynamic partition overwrite = the reference's delete-then-write
    # idempotency (ceph.py:250-263) without a separate delete pass.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # let Python DataSources (sources/chipmunk.py) receive pushed
    # filters — off by default in Spark 4.1
    "spark.sql.python.filterPushdown.enabled": "true",
    # TIMESTAMP(NANOS) parquet (older events fixtures) reads as long
    # instead of failing; the registry's events loader truncates it to
    # micros.  timestamp[us] files are unaffected.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}
