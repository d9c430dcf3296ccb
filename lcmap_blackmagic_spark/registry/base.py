"""Shared helpers of the query registry: the fixture-table loader
(``_t``), the per-input staging paths (``_staging``), the temp-view
catalog (``register_views``) and the one registration path
(``register``).  Every domain module imports from here; this module
imports no domain module, so any of them can be imported first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The fixture's ts encoding has varied across generations:
        # TIMESTAMP(NANOS) (unsupported by the vectorized reader — read
        # as long via nanosAsLong and truncate) vs plain timestamp[us]
        # (read as TIMESTAMP_NTZ — cast through; session TZ is UTC so
        # epoch math matches DuckDB's epoch_us exactly). Branch on the
        # dtype actually read, not the encoding we expect.
        # nanosAsLong is set once in ENGINE_CONF: a table read must not
        # change the session's conf.
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            # integer `div`, not `/`: nano timestamps exceed double's
            # 2^53 mantissa, so float division is off by ~1 µs.
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type == "timestamp":
            # already an instant (tz-adjusted parquet) — the epoch is
            # correct as-is; rebuilding would shift it by the session
            # offset on non-UTC sessions.
            return df
        # TIMESTAMP_NTZ: NOT cast("timestamp") — an NTZ→LTZ cast
        # interprets the wall value in the SESSION timezone (off by
        # 6 h under the America/Chicago probe). Rebuild the instant
        # field-by-field pinned at UTC so the epoch equals the stored
        # micros — same contract as the nanos path and as DuckDB's
        # epoch_us.
        return df.withColumn("ts", F.expr(
            "make_timestamp_ltz(year(ts), month(ts), day(ts), "
            "hour(ts), minute(ts), extract(SECOND FROM ts), 'UTC')"))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _staging(sf_dir: str, name: str) -> str:
    """Staging dir for the materialize-once query forms, keyed by the
    INPUT path: a plan built against sf_dir A must never read data a
    later call staged for sf_dir B (caught in review — the fixed
    shared path did exactly that across tmp-fixture tests), and two
    fixtures never clobber each other's files.

    The root also carries a per-process (uid, pid) token: the path
    must be predictable WITHIN a session (staging is a cache across a
    query's consumers and reruns) but never SHARED across sessions —
    a concurrent session's overwrite would delete parquet files under
    this session's deferred scan, and a fixed world-writable /tmp
    path is squattable on multi-user hosts.  ``LCMAP_SPARK_SCRATCH``
    overrides the root for clusters with a managed scratch volume."""
    import hashlib
    import tempfile
    h = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:10]
    root = os.environ.get("LCMAP_SPARK_SCRATCH") or os.path.join(
        tempfile.gettempdir(), "lcmap_spark_staging")
    uid = os.getuid() if hasattr(os, "getuid") else 0
    mine = os.path.join(root, f"u{uid}-p{os.getpid()}")
    _reap_staging(mine)
    return os.path.join(mine, f"{name}-{h}")


_STAGING_REGISTERED = False


def _reap_staging(mine: str) -> None:
    """Per-pid staging roots would otherwise accumulate forever
    (pids rarely recycle; the old fixed path was self-bounding via
    overwrite): remove THIS process's root at exit.  Stale roots
    from crashed siblings fall to tmp reaping / LCMAP_SPARK_SCRATCH
    retention — they cannot be deleted safely here, since a live
    process with a recycled-looking pid may still be scanning."""
    global _STAGING_REGISTERED
    if _STAGING_REGISTERED:
        return
    _STAGING_REGISTERED = True
    import atexit
    import shutil
    atexit.register(shutil.rmtree, mine, ignore_errors=True)


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Publish every fixture table as a session temp view (idempotent;
    re-registering swaps the underlying sf_dir)."""
    for t in TABLES:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)


QUERIES: dict[str, dict] = {}


def register(entries: dict[str, dict]) -> None:
    """Add one domain module's entries to ``QUERIES``.  A name that is
    already registered raises at import time: a plain ``dict.update``
    would let the later module silently shadow the earlier query."""
    for name, spec in entries.items():
        if name in QUERIES:
            raise ValueError(f"registry query {name!r} is registered twice")
        QUERIES[name] = spec
