"""Structured Streaming front-end.

The reference is strictly request/response (gunicorn workers,
bin/blackmagic.sh:4) — one HTTP POST per chip/tile. The Spark-native
replacement (BASELINE.json north-star) is a streaming *work queue*:
work items (cx, cy, acquired) arrive on a stream and ``foreachBatch``
runs the batch pipelines of plans/ over each micro-batch — all
reference semantics stay batch inside the micro-batch, so parity
needs no stateful operators.

Also provides the canonical event-stream rollup (watermarked tumbling
window) whose batch twin is registry.q_events_tumbling — same
aggregation expression, so the two can be cross-checked.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

HDFS_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                 "HDFSBackedStateStoreProvider")
ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


def configure_state_store(spark: SparkSession,
                          provider: str = "rocksdb") -> None:
    """Select the streaming state-store backend for queries started
    AFTER this call (``providerClass`` is read from the session conf
    at query start; running queries keep their store).

    The default HDFS-backed store keeps EVERY key's state in executor
    heap — fine for bounded windowed aggs, an OOM for 100 TB-scale
    sessionization/dedup state (one entry per user / per event key
    inside the watermark horizon). RocksDB keeps the working set on
    executor-local disk with a bounded block cache, and changelog
    checkpointing uploads per-commit deltas instead of full
    snapshots, so commit cost tracks the micro-batch, not total
    state. Every stateful operator in this module (session_windows,
    dedup_stream, dedup_within_watermark, rollups, attribution_join)
    runs unchanged under either provider — pinned by the parametrized
    batch-twin tests in tests/test_streaming.py. Also reachable via
    ``SPARK_GRAFT_STATE_STORE=rocksdb`` at session build
    (session.get_session).
    """
    if provider not in ("hdfs", "rocksdb"):
        raise ValueError(f"unknown state-store provider {provider!r}")
    if provider == "rocksdb":
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                       ROCKSDB_PROVIDER)
        spark.conf.set("spark.sql.streaming.stateStore.rocksdb."
                       "changelogCheckpointing.enabled", "true")
    else:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                       HDFS_PROVIDER)


WORK_ITEM = T.StructType([
    T.StructField("kind", T.StringType()),      # segment|tile|prediction
    T.StructField("cx", T.LongType()),
    T.StructField("cy", T.LongType()),
    T.StructField("acquired", T.StringType()),
])

EVENT = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def work_queue(spark: SparkSession, queue_dir: str,
               process: Callable[[DataFrame, int], None],
               checkpoint_dir: str,
               available_now: bool = True) -> StreamingQuery:
    """File-based work queue: JSON work items dropped into
    ``queue_dir`` are processed per micro-batch by ``process`` (which
    runs the batch pipelines and persists results idempotently —
    dynamic partition overwrite makes re-delivery safe).

    ``available_now=True`` drains the backlog and stops (test mode);
    False runs continuously.
    """
    stream = (spark.readStream.schema(WORK_ITEM)
              .option("maxFilesPerTrigger", 64)
              .json(queue_dir))
    writer = (stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def events_stream(spark: SparkSession, events_dir: str,
                  max_files_per_trigger: int = 8) -> DataFrame:
    """Parquet-directory event stream with the EVENT schema."""
    return (spark.readStream.schema(EVENT)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(events_dir))


SESSION_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
])

SESSION_STATE = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("end_us", T.LongType()),
    T.StructField("n", T.LongType()),
])


EWMA_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("ewma", T.DoubleType()),
])

# NOTE: last_eid was added to the state (composite late-drop key) —
# a STATE SCHEMA CHANGE. A checkpoint written by the earlier 2-field
# (s, last_us) schema cannot restart under this one (Spark's state
# schema check rejects it); restarting deployments must either drain
# under the old version or start a fresh checkpoint (the stream is
# replayable from the source, and the fold is deterministic, so a
# re-run converges to identical output).
EWMA_STATE = T.StructType([
    T.StructField("s", T.DoubleType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("last_eid", T.LongType()),
])


def ewma_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming EWMA (alpha = 1/2) of event values per
    user: s = (x + s_prev) / 2 — the O(1)-state streaming twin of the
    batch window smoother (registry.analytics.q_ewma_smooth keeps 8 lags;
    the recursion keeps ONE double per user regardless of stream
    length).  Emits one row per event.

    Ordering contract: events are folded in (ts, event_id) order
    within each micro-batch, and an event at or before the last
    folded (ts, event_id) COMPOSITE is DROPPED (the late-data
    policy — state carries both keys, so a ts tie straddling a
    micro-batch boundary folds iff its event_id is later, exactly as
    the offline (ts, event_id) replay would order it; a bare-ts
    check would fold boundary ties after already-processed same-ts
    rows with larger ids and silently diverge).  Dyadic alpha keeps
    every update exact: the stream and an offline replay produce
    bit-identical doubles."""
    def fn(key, pdf_iter, state):
        import pandas as pd
        user_id = key[0]
        if state.exists:
            s, last_us, last_eid = state.get
        else:
            s, last_us, last_eid = None, -1, -1
        # a group bigger than one Arrow batch arrives as SEVERAL
        # chunks; each is internally ordered at best — concatenate
        # the whole micro-batch BEFORE the one sort, or chunk 2's
        # earlier rows would hit the late-event drop below
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        ids, vals = [], []
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   .sort_values(["ts", "event_id"]))
            ts_us = (pdf["ts"].astype("datetime64[ns]").astype("int64")
                     // 1000)
            for t, eid, x in zip(ts_us, pdf["event_id"], pdf["value"]):
                t, eid = int(t), int(eid)
                if (t, eid) <= (last_us, last_eid):
                    continue  # late or re-delivered: never rewind state
                last_us, last_eid = t, eid
                x = float(x) if x == x else 0.0
                s = x if s is None else (x + s) / 2
                ids.append(eid)
                vals.append(s)
        if s is not None:
            state.update((s, last_us, last_eid))
        if ids:
            yield pd.DataFrame({"user_id": [user_id] * len(ids),
                                "event_id": ids, "ewma": vals})

    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(fn, EWMA_OUT, EWMA_STATE, "append",
                                    _no_timeout()))


def _no_timeout():
    from pyspark.sql.streaming.state import GroupStateTimeout
    return GroupStateTimeout.NoTimeout


def have_transform_with_state() -> bool:
    """Spark 4's transformWithStateInPandas needs the protobuf
    package on the PYTHON side (its state-API client speaks proto to
    the JVM: pyspark/sql/streaming/proto/StateMessage_pb2) —
    import-gated exactly like xgboost/pyccd: absent in this
    environment (installs prohibited), verified by the live crash
    'ImportError: cannot import name descriptor from google.protobuf'
    out of the TransformWithStateInPySpark driver worker."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


def ewma_stream_tws(events: DataFrame,
                    watermark: str = "2 hours") -> DataFrame:
    """``ewma_stream`` on Spark 4's transformWithStateInPandas — the
    NEW arbitrary-state API (StatefulProcessor + typed state
    variables) that supersedes applyInPandasWithState: state is a
    named ValueState the runtime manages (schema-checked, RocksDB-
    backed under the provider flag, TTL-capable), the processor is a
    class with an explicit lifecycle, and composite/list/map state
    and timers hang off the same handle.  Semantics are IDENTICAL to
    ewma_stream — same (ts, event_id) fold order, same composite
    late-drop, same dyadic alpha — pinned output-equal by
    tests/test_streaming_tws.py (skipped where protobuf is absent:
    ``have_transform_with_state``), so the two APIs are
    interchangeable here and the repo demonstrates both stateful
    surfaces."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class EwmaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("ewma", EWMA_STATE)

        def handleInputRows(self, key, rows, timer_values):
            cur = self._s.get()
            if cur is not None:
                s, last_us, last_eid = cur
            else:
                s, last_us, last_eid = None, -1, -1
            user_id = key[0]
            chunks = [pdf for pdf in rows if not pdf.empty]
            ids, vals = [], []
            if chunks:
                pdf = (pd.concat(chunks, ignore_index=True)
                       .sort_values(["ts", "event_id"]))
                ts_us = (pdf["ts"].astype("datetime64[ns]")
                         .astype("int64") // 1000)
                for t, eid, x in zip(ts_us, pdf["event_id"],
                                     pdf["value"]):
                    t, eid = int(t), int(eid)
                    if (t, eid) <= (last_us, last_eid):
                        continue
                    last_us, last_eid = t, eid
                    x = float(x) if x == x else 0.0
                    s = x if s is None else (x + s) / 2
                    ids.append(eid)
                    vals.append(s)
            if s is not None:
                self._s.update((s, last_us, last_eid))
            if ids:
                yield pd.DataFrame({"user_id": [user_id] * len(ids),
                                    "event_id": ids, "ewma": vals})

        def close(self) -> None:
            pass

    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .transformWithStateInPandas(EwmaProcessor(), EWMA_OUT,
                                        "Append", "None"))


ZSCORE_OUT = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("cents", T.LongType()),
    T.StructField("n", T.LongType()),
])

ZSCORE_STATE = T.StructType([
    T.StructField("hist", T.ArrayType(T.LongType())),
    T.StructField("last_us", T.LongType()),
    T.StructField("last_eid", T.LongType()),
])


def zscore_stream(events: DataFrame, watermark: str = "2 hours",
                  win: int = 32, min_n: int = 8,
                  k: int = 3) -> DataFrame:
    """Stateful streaming anomaly detector — the streaming twin of
    the batch ``rolling_zscore`` query (registry.analytics): an event is
    flagged when its integer-cent value deviates more than k·σ from
    the trailing ``win`` events of its type, with mean/variance from
    exact integer sums and the test cross-multiplied to ONE integer
    comparison ((n·x − S)² > k²·(n·Q − S²)) — Python ints are
    arbitrary-precision, so the stream is flag-identical to the
    batch query's DECIMAL(38) arithmetic.

    State per event_type is the bounded ring of the last ``win``
    cent values plus the (ts, event_id) ordering watermark — ≤32
    longs per key regardless of stream length, sharded by key in the
    state store.  Ordering contract as ``ewma_stream``: in-order
    fold on the (ts, event_id) composite, late events dropped, never
    rewound."""
    def fn(key, pdf_iter, state):
        import pandas as pd
        etype = key[0]
        if state.exists:
            hist, last_us, last_eid = state.get
            hist = list(hist)
        else:
            hist, last_us, last_eid = [], -1, -1
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        out_ids, out_cents, out_n = [], [], []
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   .sort_values(["ts", "event_id"]))
            ts_us = (pdf["ts"].astype("datetime64[ns]").astype("int64")
                     // 1000)
            for t, eid, x in zip(ts_us, pdf["event_id"], pdf["value"]):
                t, eid = int(t), int(eid)
                if (t, eid) <= (last_us, last_eid):
                    continue  # late or re-delivered: drop
                if x != x:
                    continue  # null/NaN value: excluded as in batch
                last_us, last_eid = t, eid
                # decimal(18,2)*100 twin: shortest-repr decimal of
                # the double, HALF_UP at 2 dp exactly like Spark's
                # decimal cast, then exact integer scaling
                from decimal import ROUND_HALF_UP, Decimal
                cents = int(Decimal(repr(float(x)))
                            .quantize(Decimal("0.01"), ROUND_HALF_UP)
                            * 100)
                n = len(hist)
                if n >= min_n:
                    s = sum(hist)
                    q = sum(v * v for v in hist)
                    dev = n * cents - s
                    if dev * dev > k * k * (n * q - s * s):
                        out_ids.append(eid)
                        out_cents.append(cents)
                        out_n.append(n)
                hist.append(cents)
                if len(hist) > win:
                    hist.pop(0)
        state.update((hist, last_us, last_eid))
        if out_ids:
            yield pd.DataFrame({
                "event_type": [etype] * len(out_ids),
                "event_id": out_ids, "cents": out_cents, "n": out_n})

    return (events
            .withWatermark("ts", watermark)
            .groupBy("event_type")
            .applyInPandasWithState(fn, ZSCORE_OUT, ZSCORE_STATE,
                                    "append", _no_timeout()))


def _cents(x) -> int | None:
    """decimal(18,2)*100 twin of the batch cast: shortest-repr
    decimal of the double, HALF_UP at 2 dp exactly like Spark's
    decimal cast, then exact integer scaling.  NaN/None -> None
    (SQL NULL semantics carry through the fold)."""
    if x is None or x != x:
        return None
    from decimal import ROUND_HALF_UP, Decimal
    return int(Decimal(repr(float(x)))
               .quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)


def _div_trunc(a: int, b: int) -> int:
    """Integer division truncating toward zero — the semantics of
    SQL ``div`` in BOTH engines (and of the batch twins' DECIMAL
    div), where Python's ``//`` floors."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


TWAVG_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("n_intervals", T.LongType()),
    T.StructField("total_us", T.LongType()),
    T.StructField("twa_microcents", T.LongType()),
])

# num (Σ cents·dt) exceeds int64 at cents × months-of-microseconds —
# the batch twin accumulates it in DECIMAL(38,0); here it rides as a
# decimal STRING (Python ints are arbitrary-precision, the state
# store sees an opaque value)
TWAVG_STATE = T.StructType([
    T.StructField("num_str", T.StringType()),
    T.StructField("total_us", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("last_eid", T.LongType()),
    T.StructField("last_cents", T.LongType()),
])


def twavg_stream(events: DataFrame,
                 watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming TIME-WEIGHTED AVERAGE per user — the
    O(1)-state LOCF twin of the batch ``twavg`` query
    (registry.analytics.q_twavg, the TimescaleDB time_weight('LOCF')
    shape): each reading's value holds until the next reading, so an
    arriving event CLOSES the previous reading's interval and the
    running average re-emits.  State per user is six scalars (the
    LOCF holder: last (ts, event_id, cents) + the running Σdt, count,
    and Σcents·dt as a decimal string) regardless of stream length.

    Exactness contract: integer microseconds × integer cents,
    accumulated in Python's arbitrary-precision ints (the batch
    twin's DECIMAL(38,0)), final average by truncating division —
    the stream's LAST emission per user is bit-equal to the batch
    query over the same replayed events.  NULL values hold NULL (the
    interval counts toward total time, contributes nothing to the
    numerator), matching the batch NULL-skipping sum.  Ordering
    contract as ``ewma_stream``: in-order fold on the (ts, event_id)
    composite, late events dropped, never rewound."""
    def fn(key, pdf_iter, state):
        import pandas as pd
        user_id = key[0]
        if state.exists:
            num_s, total, n, last_us, last_eid, last_cents = state.get
            num = int(num_s)
        else:
            num, total, n = 0, 0, 0
            last_us, last_eid, last_cents = -1, -1, None
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        out = {"event_id": [], "n_intervals": [], "total_us": [],
               "twa_microcents": []}
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   .sort_values(["ts", "event_id"]))
            ts_us = (pdf["ts"].astype("datetime64[ns]").astype("int64")
                     // 1000)
            for t, eid, x in zip(ts_us, pdf["event_id"], pdf["value"]):
                t, eid = int(t), int(eid)
                if (t, eid) <= (last_us, last_eid):
                    continue  # late or re-delivered: never rewind
                if last_us >= 0:
                    dt = t - last_us
                    total += dt
                    n += 1
                    if last_cents is not None:
                        num += last_cents * dt
                    out["event_id"].append(eid)
                    out["n_intervals"].append(n)
                    out["total_us"].append(total)
                    out["twa_microcents"].append(
                        _div_trunc(num * 1_000_000, total)
                        if total > 0 else None)
                last_us, last_eid, last_cents = t, eid, _cents(x)
            state.update((str(num), total, n,
                          last_us, last_eid, last_cents))
        if out["event_id"]:
            yield pd.DataFrame(
                {"user_id": [user_id] * len(out["event_id"]), **out})

    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(fn, TWAVG_OUT, TWAVG_STATE,
                                    "append", _no_timeout()))


STATE_AGG_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("state_us", T.LongType()),
    T.StructField("n_periods", T.LongType()),
    T.StructField("user_us", T.LongType()),
])

STATE_AGG_STATE = T.StructType([
    T.StructField("states", T.ArrayType(T.StringType())),
    T.StructField("dwell", T.ArrayType(T.LongType())),
    T.StructField("counts", T.ArrayType(T.LongType())),
    T.StructField("last_us", T.LongType()),
    T.StructField("last_eid", T.LongType()),
    T.StructField("last_state", T.StringType()),
])


def state_agg_stream(events: DataFrame,
                     watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming TIME-IN-STATE per (user, event_type) — the
    LOCF twin of the batch ``state_agg`` query (registry.analytics.
    q_state_agg, the TimescaleDB state_agg shape): a user is "in"
    the state of their latest event until the next event, so an
    arriving event closes the PREVIOUS state's dwell period and that
    state's row re-emits with its updated dwell, period count, and
    the user's running total tracked time (the share denominator —
    shares are a ratio of FINAL totals, so they finalize at read
    time: take each (user, state)'s LAST emission for state_us, but
    the denominator is the user's MAXIMUM user_us across ALL of that
    user's emissions — a state that stops recurring carries only the
    running total as of its last emission, not the user's final
    total; then share_bp = state_us·10000 div max(user_us), exactly
    the batch query's integer basis points, as
    test_state_agg_stream_matches_batch computes it).

    State per user is the bounded per-state dwell table (|distinct
    event_type| entries — a handful) plus the LOCF holder.  Ordering
    contract as ``ewma_stream``."""
    def fn(key, pdf_iter, state):
        import pandas as pd
        user_id = key[0]
        if state.exists:
            states, dwell, counts, last_us, last_eid, last_state = \
                state.get
            states, dwell, counts = \
                list(states), list(dwell), list(counts)
        else:
            states, dwell, counts = [], [], []
            last_us, last_eid, last_state = -1, -1, None
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        out = {"event_id": [], "event_type": [], "state_us": [],
               "n_periods": [], "user_us": []}
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   .sort_values(["ts", "event_id"]))
            ts_us = (pdf["ts"].astype("datetime64[ns]").astype("int64")
                     // 1000)
            for t, eid, etype in zip(ts_us, pdf["event_id"],
                                     pdf["event_type"]):
                t, eid = int(t), int(eid)
                if (t, eid) <= (last_us, last_eid):
                    continue  # late or re-delivered: never rewind
                if last_us >= 0:
                    dt = t - last_us
                    try:
                        i = states.index(last_state)
                    except ValueError:
                        states.append(last_state)
                        dwell.append(0)
                        counts.append(0)
                        i = len(states) - 1
                    dwell[i] += dt
                    counts[i] += 1
                    out["event_id"].append(eid)
                    out["event_type"].append(last_state)
                    out["state_us"].append(dwell[i])
                    out["n_periods"].append(counts[i])
                    out["user_us"].append(sum(dwell))
                last_us, last_eid, last_state = t, eid, etype
            state.update((states, dwell, counts,
                          last_us, last_eid, last_state))
        if out["event_id"]:
            yield pd.DataFrame(
                {"user_id": [user_id] * len(out["event_id"]), **out})

    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(fn, STATE_AGG_OUT, STATE_AGG_STATE,
                                    "append", _no_timeout()))


DOCUMENT = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def gdpr_delete_stream(spark: SparkSession, requests_dir: str,
                       table_dir: str, checkpoint_dir: str,
                       key: str = "user_id",
                       available_now: bool = True,
                       max_files_per_trigger: int = 1,
                       schema: T.StructType | None = None) -> StreamingQuery:
    """Streaming DELETION REQUESTS applied to a snapshot table as
    tagged MERGE-ON-READ equality-delete commits
    (storage.delete_from_snapshot): each micro-batch of key values
    becomes one delete commit — a key-list file plus a manifest,
    zero data rewrites — and the batch-id tag makes crash-replay a
    no-op (a replayed batch finds its tag in the log, including the
    tombstoned tags of vacuumed versions).  The GDPR shape at
    100 TB: the erasure stream costs kilobytes per trigger; rows
    appended AFTER a request's commit survive it (sequence scoping),
    so a re-registered user is not retro-deleted.  Compaction on its
    own schedule materializes the accumulated deletes away.

    ``schema`` pins the request-file schema up front — the right call
    for a feed whose directory may be EMPTY (or not yet created) when
    the stream starts, the normal state for an erasure-request inbox.
    When omitted, it falls back to eager inference, which requires at
    least one request file to exist; the key's type is taken from the
    target table's latest snapshot so the anti-join key types line
    up either way."""
    from .. import storage

    if schema is None:
        try:
            schema = spark.read.parquet(requests_dir).schema
        except Exception:
            # empty/absent inbox: a single-column schema typed from
            # the target table keeps delete keys comparable
            key_field = storage.read_snapshot(
                spark, table_dir).schema[key]
            schema = T.StructType([key_field])
            os.makedirs(requests_dir, exist_ok=True)
    req = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .parquet(requests_dir))

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        storage.delete_from_snapshot(spark, table_dir,
                                     batch_df.select(key), key,
                                     tag=f"del-batch-{batch_id}")

    writer = (req.writeStream.foreachBatch(fb)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def documents_stream(spark: SparkSession, docs_dir: str,
                     max_files_per_trigger: int = 1) -> DataFrame:
    """Parquet-directory document stream with the DOCUMENTS schema —
    the ingest feed of a streaming curation pipeline."""
    return (spark.readStream.schema(DOCUMENT)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(docs_dir))


def ingest_dedup_stream(docs: DataFrame, signature_dir: str,
                        out_dir: str, threshold: float = 0.2,
                        update_store: bool = True):
    """STREAMING ingest dedup: per micro-batch, hash the incoming
    documents ONCE (the per-doc minhash aggregate) and flag any that
    near-duplicate the persisted SIGNATURE STORE — the streaming
    twin of the batch `llm_incremental_dedup` query, via
    ``foreachBatch`` (the blessed pattern for stream ⨝ static with
    an aggregate inside; the store itself is exactly what
    ``minhash_pairs_staged`` checkpoints).

    Per batch: incoming docs are hashed (one explode + hash-agg) and
    the signatures are persisted FIRST, under the batch's own
    ``batch_id=`` partition of ``<signature_dir>_updates`` (dynamic
    partition overwrite — a replayed batch rewrites its own
    partition, so the store never double-counts).  Flags are then
    computed from that staged parquet (the hash pass runs once, not
    once per consumer) against base store ∪ updates from STRICTLY
    EARLIER batches — so a duplicate arriving two micro-batches
    after its partner is caught, and a crash-replay never compares a
    batch against itself.  Flags land in ``out_dir`` partitioned by
    batch_id with the same dynamic-overwrite idempotency as the
    persisted_* rollup sinks.  O(batch) hashing per trigger
    regardless of corpus size; the base store is never re-hashed.
    ``update_store=False`` pins the static-store twin semantics
    (flags exactly equal batch ``llm_incremental_dedup``).
    Returns the DataStreamWriter (caller starts it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(batch_df, batch_id, signature_dir, out_dir,
                           threshold=threshold,
                           update_store=update_store)

    return docs.writeStream.foreachBatch(fb)


def ingest_dedup_batch(batch_df: DataFrame, batch_id: int,
                       signature_dir: str, out_dir: str,
                       threshold: float = 0.2,
                       update_store: bool = True) -> None:
    """One micro-batch of the ingest-dedup protocol, module-level so
    crash-replay idempotency is directly testable (re-running the
    same (batch_df, batch_id) must leave the store and flags
    byte-identical — both writes land in the batch's own partition
    under dynamic overwrite)."""
    from ..llm.dedup import _minhash_doc_aggregate, minhash_cross_flags
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    base = spark.read.parquet(signature_dir)
    updates_dir = signature_dir.rstrip("/") + "_updates"
    inc = _minhash_doc_aggregate(batch_df, "doc_id", "text", 3, 8)
    store = base
    if update_store:
        (inc.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(updates_dir))
        updates = spark.read.parquet(updates_dir)
        inc = (updates.filter(F.col("batch_id") == batch_id)
               .drop("batch_id"))
        store = base.unionByName(
            updates.filter(F.col("batch_id") < batch_id)
            .drop("batch_id"))
    flags = minhash_cross_flags(inc, store, threshold=threshold)
    (flags.withColumnRenamed("inc_id", "incoming_id")
     .withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(out_dir))


def winnow_dedup_stream(docs: DataFrame, store_dir: str,
                        out_dir: str, min_shared: int | None = None,
                        update_store: bool = True):
    """STREAMING winnowing ingest dedup: per micro-batch, fingerprint
    the incoming documents ONCE (robust winnowing —
    registry.dedup.winnow_fingerprints, the batch `llm_winnow_pairs`
    selection) and flag any that near-duplicate the persisted
    FINGERPRINT STORE.  Third member of the streaming dedup family
    beside the MinHash signature store (ingest_dedup_stream) and the
    Bloom decontaminator — winnowing is the one with the positional
    guarantee (any shared run of ≥ w+k−1 words is caught), which
    MinHash's whole-doc similarity threshold does not give.

    Same exactly-once protocol as ingest_dedup_stream: incoming
    fingerprints land FIRST under the batch's own ``batch_id=``
    partition of ``<store_dir>_updates`` (dynamic partition
    overwrite — a replayed batch rewrites its own partition), flags
    are computed against base store ∪ STRICTLY EARLIER batches (a
    crash-replay never compares a batch against itself), and flags
    land in ``out_dir`` under the same idempotent partitioning.
    O(batch) fingerprinting per trigger; the store is never
    re-fingerprinted, and the store-side df-cap inside
    winnow_cross_flags bounds every fp join key's fan-out.
    ``update_store=False`` pins the static-store twin semantics.
    Returns the DataStreamWriter (caller starts it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        winnow_dedup_batch(batch_df, batch_id, store_dir, out_dir,
                           min_shared=min_shared,
                           update_store=update_store)

    return docs.writeStream.foreachBatch(fb)


def winnow_dedup_batch(batch_df: DataFrame, batch_id: int,
                       store_dir: str, out_dir: str,
                       min_shared: int | None = None,
                       update_store: bool = True) -> None:
    """One micro-batch of the winnowing ingest-dedup protocol,
    module-level so crash-replay idempotency is directly testable
    (re-running the same (batch_df, batch_id) must leave the store
    and flags byte-identical)."""
    from ..llm.dedup import (WIN_T, winnow_cross_flags,
                             winnow_fingerprints)
    if min_shared is None:
        min_shared = WIN_T     # stay pinned to the batch query's knob
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    base = spark.read.parquet(store_dir)
    updates_dir = store_dir.rstrip("/") + "_updates"
    inc = winnow_fingerprints(batch_df)
    store = base
    if update_store:
        (inc.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(updates_dir))
        updates = spark.read.parquet(updates_dir)
        inc = (updates.filter(F.col("batch_id") == batch_id)
               .drop("batch_id"))
        store = base.unionByName(
            updates.filter(F.col("batch_id") < batch_id)
            .drop("batch_id"))
    flags = winnow_cross_flags(inc, store, min_shared=min_shared)
    (flags.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(out_dir))


def build_line_store(docs: DataFrame, store_dir: str) -> None:
    """Freeze the line-segment store from an existing corpus: one
    (doc_id, n_segs, i, seg) row per segment slot
    (llm/dedup.py:line_segments — the SAME segmentation as the batch
    llm_line_dedup query).  Doc-keyed granular rows, not aggregated
    counts, so the GDPR delete path is the family's plain id filter
    (store_delete) and within-doc segment multiplicity stays exact."""
    from ..llm.dedup import line_segments
    line_segments(docs).write.mode("overwrite").parquet(store_dir)


def line_dedup_stream(docs: DataFrame, store_dir: str,
                      out_dir: str, update_store: bool = True):
    """STREAMING line-level (boilerplate) dedup: per micro-batch,
    segment the incoming documents ONCE and emit each document's
    REWRITE — boilerplate segments excised, survivors reassembled —
    against occurrence counts over the persisted LINE STORE plus the
    batch itself.  Fifth member of the streaming dedup family
    (MinHash / Bloom / winnowing / semantic), and the continuous
    form of the batch ``llm_line_dedup`` query: a segment becomes
    boilerplate the moment its count across (base corpus ∪ batches
    so far ∪ this batch) reaches LINE_MAXOCC, so the stream's batch-k
    emissions exactly equal the batch rewrite over the corpus as of
    batch k, restricted to batch k's documents (pinned in
    tests/test_line_dedup_stream.py).  Documents already emitted are
    not retroactively rewritten — the ingest-dedup contract shared
    by the whole family (flags/rewrites reflect the store at
    trigger time).

    Same exactly-once protocol as ingest_dedup_stream: incoming
    segments land FIRST under the batch's own ``batch_id=``
    partition of ``<store_dir>_updates`` (dynamic partition
    overwrite — a replayed batch rewrites its own partition), the
    rewrite is computed from that staged parquet against base ∪
    STRICTLY EARLIER batches, and output lands in ``out_dir`` under
    the same idempotent partitioning.

    Per-trigger cost: segmentation is O(batch); the store-side count
    reads only store rows whose segment OCCURS IN THE BATCH (a
    left-semi equi-join on the batch's distinct segments, map-side
    combined into per-segment counts before the exchange).
    Boilerplate-hot segments are the heavy keys by definition — AQE
    skew-join splits them, and at production scale the aggregated
    count table is maintained incrementally instead of re-derived
    (the mv.py count-MV over a snapshot-store corpus — kilobytes per
    refresh), with this granular store remaining the delete-exact
    source of truth.  ``update_store=False`` pins the static-store
    twin.  Returns the DataStreamWriter (caller starts it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        line_dedup_batch(batch_df, batch_id, store_dir, out_dir,
                         update_store=update_store)

    return docs.writeStream.foreachBatch(fb)


def _line_rewrite_stage(batch_df: DataFrame, batch_id: int,
                        store_dir: str,
                        update_store: bool = True) -> DataFrame | None:
    """Shared core of the line-store protocol (line_dedup_stream and
    curation_batch's optional line stage): stage the batch's
    segments under the store's own batch partition, then return the
    (doc_id, n_segs, n_kept, cleaned) rewrite computed against base
    ∪ strictly-earlier batches ∪ the batch itself.  Returns None
    when the batch yields no segment rows (all NULL text) — an empty
    dynamic overwrite creates no partition, and the unconditional
    updates read would raise on the first such batch (the
    semdedup_batch lesson)."""
    from ..llm.dedup import line_rewrite_segments, line_segments
    spark = batch_df.sparkSession
    base = spark.read.parquet(store_dir)
    updates_dir = store_dir.rstrip("/") + "_updates"
    inc = line_segments(batch_df)
    if inc.isEmpty():
        return None
    store = base
    if update_store:
        (inc.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(updates_dir))
        updates = spark.read.parquet(updates_dir)
        inc = (updates.filter(F.col("batch_id") == batch_id)
               .drop("batch_id"))
        store = base.unionByName(
            updates.filter(F.col("batch_id") < batch_id)
            .drop("batch_id"))
    store_cnt = (store
                 .join(inc.select("seg").distinct(), "seg",
                       "left_semi")
                 .groupBy("seg").agg(F.count(F.lit(1)).alias("occ")))
    return line_rewrite_segments(inc, extra_seg_counts=store_cnt)


def line_dedup_batch(batch_df: DataFrame, batch_id: int,
                     store_dir: str, out_dir: str,
                     update_store: bool = True) -> None:
    """One micro-batch of the streaming line-dedup protocol,
    module-level so crash-replay idempotency is directly testable
    (re-running the same (batch_df, batch_id) must leave the store
    and rewrites byte-identical)."""
    if batch_df.isEmpty():
        return
    rewrite = _line_rewrite_stage(batch_df, batch_id, store_dir,
                                  update_store=update_store)
    if rewrite is None:
        return
    (rewrite.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(out_dir))


def build_dsir_store(target_docs: DataFrame, raw_docs: DataFrame,
                     store_dir: str) -> None:
    """Freeze the DSIR weight table (llm/text.dsir_weights — ≤
    DSIR_B = 4096 rows, a constant) from a target split and a
    reference raw corpus, persisted for the streaming scorer.  Run
    once (or on a slow refresh cadence); the stream never re-counts
    either corpus."""
    from ..llm.text import dsir_weights
    dsir_weights(target_docs, raw_docs).write.mode("overwrite") \
        .parquet(store_dir)


def dsir_score_stream(docs: DataFrame, store_dir: str,
                      out_dir: str):
    """STREAMING DSIR importance scoring: per micro-batch, score
    incoming documents against the FROZEN weight store — the online
    half of importance-resampling data selection (score at ingest,
    sample downstream).  O(batch) work per trigger: one feature
    hash + one broadcast join against the ≤4096-row store; neither
    corpus is ever re-counted.  Scores land under the batch's own
    ``batch_id=`` partition (dynamic overwrite — replays rewrite
    their own partition, byte-idempotent).  Flag-exact with the
    batch operator by construction: both ends call
    llm/text.dsir_doc_scores against the same store.  Returns the
    DataStreamWriter (caller starts it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        dsir_score_batch(batch_df, batch_id, store_dir, out_dir)

    return docs.writeStream.foreachBatch(fb)


def dsir_score_batch(batch_df: DataFrame, batch_id: int,
                     store_dir: str, out_dir: str) -> None:
    """One micro-batch of the streaming DSIR scorer, module-level so
    crash-replay idempotency is directly testable."""
    from ..llm.text import dsir_doc_scores
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    wtab = spark.read.parquet(store_dir)
    (dsir_doc_scores(batch_df, wtab)
     .withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(out_dir))


def build_bloom_store(bench_docs: DataFrame, store_dir: str) -> None:
    """Fold a benchmark split's word n-grams into the persisted Bloom
    WORD table (w, bits) — the decontamination signature store a
    streaming curation job probes per batch (llm/bloomfilter.py;
    m/64 rows total, kilobytes on disk)."""
    from ..llm.bloomfilter import BLOOM_M, DECON_N
    from ..llm.dedup import shingles
    from ..operators.sketches import bloom_words

    grams = (bench_docs
             .select(F.explode(shingles("text", DECON_N)).alias("g"))
             .distinct())
    bloom_words(grams, F.col("g"), BLOOM_M).coalesce(1) \
        .write.mode("overwrite").parquet(store_dir)


def bloom_decontam_stream(docs: DataFrame, store_dir: str,
                          out_dir: str):
    """STREAMING decontamination: per micro-batch, probe incoming
    documents' n-grams against the persisted Bloom store
    (``build_bloom_store``) and land per-doc keep/drop flags — the
    streaming twin of the batch ``llm_bloom_decontam`` query, sharing
    its probe (llm/bloomfilter.doc_hit_flags) so the decision is
    flag-exact by construction.

    Per trigger: one tiny store read (m/64 word rows → broadcast
    bitset), one vectorized probe pass over the batch's grams —
    O(batch) work regardless of corpus size, the benchmark never
    re-hashed.  Flags land under the batch's own ``batch_id=``
    partition via dynamic overwrite, so a replayed batch rewrites
    itself (idempotent), like the ingest-dedup sink.  Returns the
    DataStreamWriter (caller starts it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        bloom_decontam_batch(batch_df, batch_id, store_dir, out_dir)

    return docs.writeStream.foreachBatch(fb)


_BLOOM_STORE_CACHE: dict = {}


def _load_bloom_bits(spark, store_dir: str):
    """Driver-side bitset cache keyed by the store's latest mtime: a
    per-micro-batch trigger must not re-collect (and re-unpack) the
    word table when the store hasn't changed — at a production bloom
    size (~GB for 10^9 reference grams) that collect would dominate
    every trigger.  A rebuilt store (newer mtime) invalidates."""
    import os as _os

    from ..llm.bloomfilter import BLOOM_M
    from ..operators.sketches import bloom_bitsets
    mt = max((e.stat().st_mtime_ns for e in _os.scandir(store_dir)),
             default=0)
    hit = _BLOOM_STORE_CACHE.get(store_dir)
    if hit is None or hit[0] != mt:
        bits = bloom_bitsets(spark.read.parquet(store_dir), BLOOM_M)[None]
        _BLOOM_STORE_CACHE[store_dir] = (mt, bits)
        return bits
    return hit[1]


def bloom_decontam_batch(batch_df: DataFrame, batch_id: int,
                         store_dir: str, out_dir: str) -> None:
    """One micro-batch of the streaming decontam protocol,
    module-level so crash-replay idempotency is directly testable."""
    from ..llm.bloomfilter import doc_hit_flags
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    bits = _load_bloom_bits(spark, store_dir)
    # per-doc flag from the gram probe's aggregate + UNFORCED left
    # join — the dropped set is bounded by the micro-batch here, but
    # the helper is shared with the batch query, where a forced
    # broadcast of a data-dependent side is an OOM-at-100× shape
    flags = (batch_df.select("doc_id", "source")
             .join(doc_hit_flags(batch_df, bits), "doc_id", "left")
             .withColumn("dropped",
                         F.coalesce(F.col("__hit"), F.lit(False)))
             .drop("__hit"))
    (flags.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(out_dir))


def session_windows(events: DataFrame, gap_minutes: int = 30,
                    watermark: str = "2 hours") -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` — the streaming twin of the batch
    ``registry.analytics.q_sessionize`` (same 30-min inactivity rule).

    State per user is one open session (start, end, count) — O(1) per
    key regardless of stream length. A session is emitted when a later
    event opens a new one, or when the event-time timeout (watermark
    passing session_end + gap) proves no in-order event can extend it.
    At 100 TB-scale ingest the state store shards by user_id across
    executors; per-key state is 24 bytes.
    """
    import pandas as pd  # noqa: F401 — documents the UDF contract
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state):
        user_id = key[0]
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield _session_pdf(user_id, [(start_us, end_us, n)])
            return
        cur = state.getOption  # (start_us, end_us, n) or None
        closed = []
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            ts_us = (pdf["ts"].astype("datetime64[ns]").astype("int64")
                     // 1000).sort_values()
            for t in ts_us:
                t = int(t)
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] > gap_us:
                    closed.append(cur)
                    cur = (t, t, 1)
                else:
                    cur = (cur[0], max(cur[1], t), cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # timeout must sit above the current watermark; if the
            # watermark already passed session_end+gap the timeout
            # fires on the next micro-batch, which is the earliest
            # legal flush anyway.
            state.setTimeoutTimestamp(
                max((cur[1] + gap_us) // 1000 + 1,
                    state.getCurrentWatermarkMs() + 1))
        if closed:
            yield _session_pdf(user_id, closed)

    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(fn, SESSION_OUT, SESSION_STATE,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))


def _session_pdf(user_id, sessions):
    import pandas as pd
    return pd.DataFrame({
        "user_id": [user_id] * len(sessions),
        "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
        "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
        "n_events": [n for _, _, n in sessions],
    })


def dedup_stream(events: DataFrame, keys: list[str] | None = None,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact-dedup: drop re-deliveries of the same event id
    within the watermark horizon (built-in stateful dropDuplicates —
    state is one entry per key, expired as the watermark passes).
    The stream-time twin of the batch ``dedup_exact`` operator: at
    ingest time this is how a 100 TB/day feed sheds duplicate
    deliveries before they reach storage."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicates(keys or ["event_id"]))


def persisted_hourly_rollup(spark: SparkSession, events_dir: str,
                            root: str, checkpoint_dir: str,
                            available_now: bool = True) -> StreamingQuery:
    """Streaming rollup with EXACTLY-ONCE-equivalent persistence: each
    micro-batch writes its per-(hour, event_type) PARTIAL aggregate to
    storage partitioned by batch_id.  A replayed batch (restart after
    crash mid-commit) overwrites its own partition — dynamic partition
    overwrite makes the write idempotent, so totals never double-count
    without any transactional sink.  ``read_rollup`` merges partials
    at read time (sum of sums is exact: counts are longs, values are
    decimal-summed before the final double cast).

    This is the lambda-convergence pattern: the persisted streaming
    result must equal the one-shot batch rollup over the same files —
    asserted in tests/test_streaming.py."""
    from .. import storage

    stream = events_stream(spark, events_dir)

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        part = (batch_df
                .groupBy(F.date_trunc("hour", "ts").alias("bucket"),
                         "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("value").cast("decimal(18,2)"))
                      .alias("total_dec"))
                .withColumn("batch_id", F.lit(batch_id)))
        storage.overwrite_partitions(part, root, "rollup_partial")

    writer = (stream.writeStream.foreachBatch(write_partial)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def snapshot_rollup_stream(spark: SparkSession, events_dir: str,
                           table_dir: str, checkpoint_dir: str,
                           available_now: bool = True,
                           max_files_per_trigger: int = 1
                           ) -> StreamingQuery:
    """Streaming rollup committed into the VERSIONED SNAPSHOT STORE:
    each micro-batch's per-(hour, type) partial aggregate lands as
    one appended, TAGGED table version (storage.write_snapshot_tagged
    — a replayed batch finds its tag in the log and becomes a
    no-op), so the table's commit history IS the ingest history:
    readers time-travel to any micro-batch boundary, and the merged
    latest equals the one-shot batch rollup (asserted in tests).
    The table-format twin of ``persisted_hourly_rollup`` (which gets
    the same idempotency from dynamic partition overwrite).
    ``max_files_per_trigger`` defaults to 1 so the commit history
    tracks ingest at file granularity."""
    from .. import storage

    stream = events_stream(spark, events_dir,
                           max_files_per_trigger=max_files_per_trigger)

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        part = (batch_df
                .groupBy(F.date_trunc("hour", "ts").alias("bucket"),
                         "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("value").cast("decimal(18,2)"))
                      .alias("total_dec")))
        # collect_stats=False: per-commit min/max stats would add a
        # read-back aggregate to every micro-batch's critical path,
        # and the rollup table is read whole, never point-pruned
        storage.write_snapshot_tagged(part, table_dir,
                                      f"batch-{batch_id}",
                                      mode="append",
                                      collect_stats=False)

    writer = (stream.writeStream.foreachBatch(fb)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def snapshot_ingest_stream(spark: SparkSession, events_dir: str,
                           table_dir: str, checkpoint_dir: str,
                           available_now: bool = True,
                           max_files_per_trigger: int = 1,
                           on_violation: str = "quarantine"
                           ) -> StreamingQuery:
    """STREAMING EXPECTATIONS: land raw events into a CHECK-
    constrained snapshot table — one TAGGED append per micro-batch —
    with the table's constraint policy enforced ON THE INGEST PATH
    (storage._validate_constraints via write_snapshot_tagged's
    on_violation passthrough).  Under the default ``quarantine``
    policy a malformed event dead-letters to ``<table>/_quarantine``
    with its ``__violated`` reasons instead of failing the stream or
    landing in the table; under ``fail`` the batch raises and the
    query stops (the strict-contract variant); ``drop`` discards
    silently.  Replayed batches no-op entirely — the tag precheck
    runs before validation, so a replay re-appends to NEITHER the
    table NOR the quarantine (exactly-once on both, outside the
    crash window write_snapshot documents).

    The streaming twin of the batch ``snapshot_expectations`` funnel
    (registry.snapshot): the same rows streamed through this job and
    committed in one batch write must leave identical kept /
    quarantined / per-constraint-count states
    (tests/test_streaming_expectations.py)."""
    from .. import storage

    stream = events_stream(spark, events_dir,
                           max_files_per_trigger=max_files_per_trigger)

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        storage.write_snapshot_tagged(batch_df, table_dir,
                                      f"batch-{batch_id}",
                                      mode="append",
                                      collect_stats=False,
                                      on_violation=on_violation)

    writer = (stream.writeStream.foreachBatch(fb)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_snapshot_rollup(spark: SparkSession, table_dir: str,
                         version: int | None = None) -> DataFrame:
    """Merge the snapshot table's partials into final totals — at
    the latest version or any time-traveled one."""
    from .. import storage

    return (storage.read_snapshot(spark, table_dir, version=version)
            .groupBy("bucket", "event_type")
            .agg(F.sum("n").alias("n"),
                 F.sum("total_dec").cast("double").alias("total_value")))


def read_rollup(spark: SparkSession, root: str) -> DataFrame:
    """Merge the partial store into final per-hour totals."""
    from .. import storage

    return (storage.read(spark, root, "rollup_partial")
            .groupBy("bucket", "event_type")
            .agg(F.sum("n").alias("n"),
                 F.sum("total_dec").cast("double").alias("total_value")))


def persisted_distinct_rollup(spark: SparkSession, events_dir: str,
                              root: str, checkpoint_dir: str,
                              available_now: bool = True,
                              p: int = 8) -> StreamingQuery:
    """Streaming APPROXIMATE-DISTINCT rollup: per micro-batch, the
    per-hour HyperLogLog REGISTER partial (operators/sketches) is
    persisted under the batch's own partition — same idempotent
    dynamic-overwrite scheme as ``persisted_hourly_rollup``, so a
    replayed batch replaces itself and never double-counts.

    Registers merge by MAX, so ``read_distinct_rollup`` re-merging
    partials at read time is EXACTLY the sketch over all events —
    bit-equal to the one-shot batch estimate (the mergeability
    contract; asserted against the batch twin in
    tests/test_streaming.py). This is what an exact streaming
    distinct cannot do at 100 TB/day: exact per-key state grows with
    cardinality, while the register partial is ≤ 2^p rows per hour
    regardless of traffic."""
    from .. import storage
    from ..operators.sketches import hll_registers

    stream = events_stream(spark, events_dir)

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        part = (hll_registers(
                    batch_df.select(
                        F.date_trunc("hour", "ts").alias("bucket"),
                        "user_id"),
                    ["bucket"], "user_id", p=p)
                .withColumn("batch_id", F.lit(batch_id)))
        storage.overwrite_partitions(part, root, "distinct_partial")

    writer = (stream.writeStream.foreachBatch(write_partial)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_distinct_rollup(spark: SparkSession, root: str,
                         p: int = 8) -> DataFrame:
    """Merge register partials into per-hour distinct-user estimates."""
    from .. import storage
    from ..operators.sketches import hll_estimate

    return hll_estimate(storage.read(spark, root, "distinct_partial"),
                        ["bucket"], p=p)


def dedup_within_watermark(events: DataFrame, keys: list[str] | None = None,
                           watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup for *timestamp-jittered* re-deliveries: two
    records with the same key count as duplicates if they arrive
    within the watermark delay of each other, even when their event
    times differ (a retry that re-stamps ``ts`` would slip past
    plain ``dropDuplicates`` on (key, ts)).  State per key expires
    ``watermark`` after last sighting — bounded, unlike an
    ever-growing exact-dedup ledger."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys or ["event_id"]))


def attribution_join(views: DataFrame, clicks: DataFrame,
                     window_minutes: int = 10,
                     watermark: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: each click joins the view(s) by
    the same user in the preceding ``window_minutes`` — the classic
    view→click attribution shape.

    Both sides carry watermarks and the join condition bounds
    click_ts to [view_ts, view_ts + window], so Spark can expire
    join state on both sides (state is O(users × window), not
    O(stream)).  Without the time bound the join would buffer both
    streams forever — the unbounded-state trap this wrapper exists
    to prevent."""
    v = (views.select("user_id",
                      F.col("ts").alias("view_ts"),
                      F.col("event_id").alias("view_id"))
              .withWatermark("view_ts", watermark))
    c = (clicks.select(F.col("user_id").alias("c_user_id"),
                       F.col("ts").alias("click_ts"),
                       F.col("event_id").alias("click_id"))
               .withWatermark("click_ts", watermark))
    cond = F.expr(f"""user_id = c_user_id
        AND click_ts >= view_ts
        AND click_ts <= view_ts + interval {int(window_minutes)} minutes""")
    return v.join(c, cond).drop("c_user_id")


def enrich_stream(events: DataFrame, dim: DataFrame,
                  on: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the
    stream against a STATIC dimension snapshot (re-read per batch for
    file sources, broadcast when small — Catalyst plans it like any
    batch join inside the micro-batch).  No watermark or join state
    needed: the static side is not a stream, so nothing buffers.
    The standard shape for attaching reference data (user profile,
    model version, grid metadata) at ingest."""
    return events.join(F.broadcast(dim), on, "left")


def sliding_rollup(events: DataFrame, width: str = "1 hour",
                   slide: str = "15 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Watermarked *sliding*-window rollup (each event lands in
    width/slide overlapping windows).  Streaming twin of a batch
    RANGE-frame window; state per key is (watermark + width) / slide
    windows — bounded."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value"))
            .select(F.col("win.start").alias("bucket"), "event_type",
                    "n", "total_value"))


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup — the streaming twin of
    registry.q_events_tumbling. Late events beyond the watermark are
    dropped; state is bounded by (watermark / window) per key."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value"))
            .select(F.col("win.start").alias("bucket"), "event_type",
                    "n", "total_value"))


QB_BINS = 64
QB_HI = 1024.0  # events.value domain


def persisted_quantile_rollup(spark: SparkSession, events_dir: str,
                              root: str, checkpoint_dir: str,
                              available_now: bool = True) -> StreamingQuery:
    """Streaming APPROXIMATE-QUANTILE rollup: per micro-batch, the
    per-hour fixed-bin histogram partial of ``value``
    (operators/sketches.histogram_quantiles' bin stage) persists
    under the batch's partition; bin counts merge by SUM at read, so
    the merged estimate is bit-equal to the one-shot batch sketch —
    the quantile member of the mergeable-sketch family beside
    ``persisted_distinct_rollup`` (HLL registers, merge by MAX).
    State is O(bins) per hour regardless of traffic."""
    from .. import storage
    from pyspark.sql import functions as FF

    stream = events_stream(spark, events_dir)
    width = int(QB_HI * 100) // QB_BINS

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        v = (FF.col("value").cast("decimal(18,2)") * 100).cast("bigint")
        b = FF.least(FF.lit(QB_BINS - 1),
                     FF.greatest(FF.lit(0),
                                 FF.expr(f"v_scaled div {width}")))
        part = (batch_df
                .select(FF.date_trunc("hour", "ts").alias("bucket"),
                        v.alias("v_scaled"))
                .select("bucket", b.alias("bin"))
                .groupBy("bucket", "bin")
                .agg(FF.count(FF.lit(1)).alias("c"))
                .withColumn("batch_id", FF.lit(batch_id)))
        storage.overwrite_partitions(part, root, "quantile_partial")

    writer = (stream.writeStream.foreachBatch(write_partial)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_quantile_rollup(spark: SparkSession, root: str,
                         quantiles=(0.5, 0.9)) -> DataFrame:
    """Merge histogram partials into per-hour quantile estimates —
    the same finalize as the batch sketch, over SUM-merged bins."""
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    from .. import storage
    width = int(QB_HI * 100) // QB_BINS
    bins = (storage.read(spark, root, "quantile_partial")
            .groupBy("bucket", "bin").agg(FF.sum("c").alias("c")))
    w_cum = (Window.partitionBy("bucket").orderBy("bin")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("bucket")
    cum = (bins.withColumn("cum", FF.sum("c").over(w_cum))
           .withColumn("n", FF.sum("c").over(w_all)))
    out = cum.select("bucket", "n").distinct()
    for q in quantiles:
        pct = int(q * 100)
        rank = FF.ceil(FF.col("n") * FF.lit(q)).cast("bigint")
        hit = (cum.filter((FF.col("cum") >= rank)
                          & (FF.col("cum") - FF.col("c") < rank))
               .select("bucket",
                       ((FF.col("bin") * width
                         + FF.lit(width) * (rank - FF.col("cum")
                                            + FF.col("c")) / FF.col("c"))
                        .cast("double") / 100).alias("est"))
               .select("bucket", FF.round("est", 6).alias(f"q_{pct}")))
        out = out.join(hit, ["bucket"])
    return out


def persisted_cms_rollup(spark: SparkSession, events_dir: str,
                         root: str, checkpoint_dir: str,
                         available_now: bool = True,
                         depth: int = 4, width: int = 256) -> StreamingQuery:
    """Streaming HEAVY-HITTER rollup: per micro-batch, the per-hour
    Count-Min counter-grid partial (operators/sketches.cms_counters)
    persists under the batch's own partition — the same idempotent
    dynamic-overwrite scheme as the other persisted rollups, so a
    replayed batch replaces itself and never double-counts.

    Counter cells merge by SUM, so ``read_cms_rollup`` re-merging
    partials at read time is EXACTLY the sketch over all events —
    bit-equal to the one-shot batch grid (asserted against the batch
    twin in tests/test_streaming.py). Exact streaming per-key counts
    keep state per DISTINCT KEY; the grid is ≤ depth·width rows per
    hour no matter the key cardinality — the frequency member of the
    mergeable-sketch family beside the HLL (distinct) and histogram
    (quantile) rollups."""
    from .. import storage
    from ..operators.sketches import cms_counters

    stream = events_stream(spark, events_dir)

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        part = (cms_counters(
                    batch_df.select(
                        F.date_trunc("hour", "ts").alias("bucket"),
                        "user_id"),
                    "user_id", depth=depth, width=width,
                    group_cols=["bucket"])
                .withColumn("batch_id", F.lit(batch_id)))
        storage.overwrite_partitions(part, root, "cms_partial")

    writer = (stream.writeStream.foreachBatch(write_partial)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_cms_rollup(spark: SparkSession, root: str, keys: DataFrame,
                    depth: int = 4, width: int = 256) -> DataFrame:
    """Merge counter partials and estimate per-(hour, key)
    frequencies for the probed ``keys``."""
    from .. import storage
    from ..operators.sketches import cms_estimate

    return cms_estimate(storage.read(spark, root, "cms_partial"),
                        keys, "user_id", depth=depth, width=width,
                        group_cols=["bucket"])


def priority_sample_batch(batch_df: DataFrame, batch_id: int,
                          store_dir: str, weight_col: str,
                          id_col: str, k: int,
                          group_col: str | None = None) -> None:
    """One micro-batch of the STREAMING deterministic weighted
    sampler — the streaming twin of ``operators.sampling.
    priority_sample`` (Ohlsson sequential-Poisson with md5-derived
    integer priorities): merge the batch's per-group top-k winners
    with the persisted winner store and rewrite the store.

    Correctness by construction: a row's priority is a pure function
    of (id, weight) and the per-id weight folds through max() — a
    commutative idempotent semilattice — so top-k over (persisted
    winners plus new candidates) equals top-k over everything ever
    seen, the state IS the sample (O(k · groups) regardless of
    stream length), and a re-delivered batch merges to the identical
    store (idempotent replay without tags, whatever the delivery
    order).  Flag-exact with the batch operator over the same rows,
    pinned by tests/test_priority_sample_stream.py.

    Scale: the store is winner-sized (k per group), so the per-batch
    rewrite is tiny; the batch-side top-k is the same per-partition
    heap / per-group window the batch operator uses."""
    import os as _os

    from ..operators.sampling import priority_sample
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    cand = priority_sample(batch_df, weight_col, id_col, k, group_col)
    cols = cand.columns
    # ONLY a genuinely absent store means "first batch" — any other
    # read failure (IO hiccup, store torn by a crash mid-overwrite)
    # must propagate and fail the micro-batch so the stream retries,
    # never silently discard every previously folded winner
    prev = (spark.read.parquet(store_dir).select(*cols)
            if _os.path.isdir(store_dir) else None)
    pool = cand if prev is None else cand.unionByName(prev)
    # A row already in the store re-arrives on replay (and a batch's
    # own winners land in both sides next round): top-k by row_number
    # would count the copy as a second slot and evict a real winner —
    # dedupe on identity first.  The weight is folded DETERMINISTICALLY
    # (max per id): if the same id ever re-arrives with a different
    # weight, an arbitrary-copy dropDuplicates would make the winner
    # store depend on execution order; max() makes the fold a
    # commutative/idempotent semilattice, so any replay converges.
    keys = ([group_col] if group_col else []) + [id_col]
    deduped = (pool.drop("priority")
               .groupBy(*keys)
               .agg(F.max(weight_col).alias(weight_col)))
    winners = priority_sample(deduped, weight_col, id_col, k, group_col)
    # the pool reads lazily from the store being overwritten —
    # materialize before the rewrite
    rows = winners.collect()                # O(k · groups), bounded
    spark.createDataFrame(rows, winners.schema) \
        .coalesce(1).write.mode("overwrite").parquet(store_dir)


def priority_sample_stream(rows: DataFrame, store_dir: str,
                           weight_col: str, id_col: str, k: int,
                           group_col: str | None = None):
    """STREAMING reservoir-style weighted sampling: per micro-batch,
    fold incoming rows into the persisted per-group winner store
    (``priority_sample_batch``).  Returns the DataStreamWriter
    (caller starts it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        priority_sample_batch(batch_df, batch_id, store_dir,
                              weight_col, id_col, k, group_col)

    return rows.writeStream.foreachBatch(fb)


# ------------------------------------------- streaming SemDeDup -----

EMBEDDING = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])


def embeddings_stream(spark: SparkSession, emb_dir: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """Parquet-directory embedding stream with the EMBEDDINGS schema —
    the ingest feed of a streaming semantic-dedup pipeline."""
    return (spark.readStream.schema(EMBEDDING)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(emb_dir))


def build_semdedup_store(emb: DataFrame, store_dir: str) -> None:
    """Freeze the semantic-dedup store from an existing corpus: fit
    the integer-Lloyd cells ONCE (ml/intlloyd — the batch
    `llm_semdedup` clustering) and persist the cell-assigned
    quantized vectors at ``store_dir`` plus the fitted centroids at
    ``<store_dir>_centroids`` (a model constant, SEM_CELLS × SEM_DIM
    ints).  Run once or on a slow refresh cadence; the stream never
    re-fits the clustering — incoming vectors are assigned to the
    FROZEN cells, the IVF pattern at ingest.

    The store corpus is an ARBITRARY subset (dedup survivors, a
    sampled bootstrap …), so the fit seeds from the SEM_CELLS
    smallest vec_ids actually present (``seed_smallest=True`` —
    intlloyd's subset contract); the dense-id default would silently
    under-seed any id space missing low ids and fail outright on one
    whose minimum id is ≥ SEM_CELLS."""
    from ..llm.semdedup import (SEM_CELLS, SEM_DIM, SEM_ITERS,
                                assign_cells, quantize)
    from ..ml.intlloyd import integer_lloyd
    spark = emb.sparkSession
    arrq = quantize(emb)
    cents = integer_lloyd(arrq, SEM_CELLS, SEM_ITERS, SEM_DIM,
                          seed_smallest=True)
    if len(cents) != SEM_CELLS:
        raise ValueError(
            f"semdedup store corpus has only {len(cents)} usable "
            f"vectors; need at least SEM_CELLS={SEM_CELLS} to seed")
    assign_cells(arrq, cents).write.mode("overwrite").parquet(store_dir)
    spark.createDataFrame(
        [(cid, c) for cid, c in cents], "cid BIGINT, qa ARRAY<BIGINT>"
    ).coalesce(1).write.mode("overwrite") \
        .parquet(store_dir.rstrip("/") + "_centroids")


def _load_centroids(spark: SparkSession,
                    store_dir: str) -> list[tuple[int, list[int]]]:
    return sorted(
        (int(r["cid"]), [int(v) for v in r["qa"]])
        for r in spark.read.parquet(
            store_dir.rstrip("/") + "_centroids").collect())


def semdedup_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
                   out_dir: str, tau2_bp: int | None = None,
                   update_store: bool = True) -> None:
    """One micro-batch of the streaming SemDeDup protocol, module-
    level so crash-replay idempotency is directly testable (re-running
    the same (batch_df, batch_id) must leave the store and flags
    byte-identical).  Same exactly-once protocol as the MinHash /
    Bloom / winnowing dedup streams: incoming cell-assigned vectors
    land FIRST under the batch's own ``batch_id=`` partition of
    ``<store_dir>_updates`` (dynamic partition overwrite — a replayed
    batch rewrites its own partition), flags are computed against
    base store ∪ STRICTLY EARLIER batches (a crash-replay never
    compares a batch against itself), and flags land in ``out_dir``
    under the same idempotent partitioning.  O(batch) work per
    trigger: one quantize + frozen-cell assignment (the centroid
    table is ≤ SEM_CELLS rows) and one equi-join on cell whose
    per-key fan-out is the probed cell's store population."""
    from ..llm.semdedup import (SEM_TAU2_BP, assign_cells, quantize,
                                semdedup_cross_flags)
    if tau2_bp is None:
        tau2_bp = SEM_TAU2_BP  # stay pinned to the batch query's knob
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    cents = _load_centroids(spark, store_dir)
    base = spark.read.parquet(store_dir)
    updates_dir = store_dir.rstrip("/") + "_updates"
    inc = assign_cells(quantize(batch_df), cents)
    if inc.isEmpty():
        # assign_cells drops zero-norm vectors, so a nonempty batch
        # can still produce an empty increment; writing it would
        # create no _updates partition and the unconditional read
        # below would raise on a never-created directory (the same
        # hardening curation_batch carries).  Nothing to flag, and a
        # replay of the same batch takes this branch again — still
        # idempotent.
        return
    store = base
    if update_store:
        (inc.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(updates_dir))
        updates = spark.read.parquet(updates_dir)
        inc = (updates.filter(F.col("batch_id") == batch_id)
               .drop("batch_id"))
        store = base.unionByName(
            updates.filter(F.col("batch_id") < batch_id)
            .drop("batch_id"))
    flags = semdedup_cross_flags(inc, store, tau2_bp=tau2_bp)
    (flags.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(out_dir))


def semdedup_stream(emb: DataFrame, store_dir: str, out_dir: str,
                    tau2_bp: int | None = None,
                    update_store: bool = True):
    """STREAMING semantic ingest dedup: per micro-batch, quantize the
    incoming embeddings, assign them to the FROZEN integer-Lloyd
    cells, and flag any with same-cell cosine ≥ τ against the
    persisted vector store — the streaming twin of the batch
    ``llm_semdedup`` funnel and the FOURTH member of the streaming
    dedup family (MinHash signatures / Bloom decontamination /
    winnowing fingerprints / semantic cells), covering the dup class
    the lexical three cannot see: same meaning, different words.
    ``update_store=False`` pins the static-store twin semantics.
    Returns the DataStreamWriter (caller starts it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        semdedup_batch(batch_df, batch_id, store_dir, out_dir,
                       tau2_bp=tau2_bp, update_store=update_store)

    return emb.writeStream.foreachBatch(fb)


def mix_budget_batch(batch_df: DataFrame, batch_id: int,
                     out_dir: str, budget_tok: int) -> None:
    """One micro-batch of TOKEN-BUDGET enforcement at ingest — the
    streaming twin of the batch ``llm_mix_balanced`` selection: a
    document is accepted while its source's cumulative accepted
    token count (across ALL strictly earlier batches plus the docs
    before it in this batch, doc_id order) is still under
    ``budget_tok``; the crossing doc is included, matching the batch
    operator's greedy rule, so a stream delivered in doc_id order
    folds to exactly the batch selection.

    State needs no separate store: the per-source offsets are an
    aggregate OVER THE ACCEPTED OUTPUT itself (batch_id < current),
    so a crash-replay recomputes the identical selection and
    rewrites only its own partition (the family's dynamic-overwrite
    idempotency) — there is no counter to double-apply.  The
    within-batch running sum windows over (source) of ONE
    micro-batch only — bounded by the trigger size; a pipeline with
    giant triggers swaps in llm_mix_balanced's two-phase bucketed
    prefix sum, same selection rule."""
    import os as _os

    from ..llm.text import token_count
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    b = batch_df.select("doc_id", "source",
                        token_count("text").cast("long").alias("tok"))
    if _os.path.isdir(out_dir):
        off = (spark.read.parquet(out_dir)
               .filter(F.col("batch_id") < batch_id)
               .groupBy("source").agg(F.sum("tok").alias("off")))
    else:
        off = None
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = b.withColumn("bcum", F.sum("tok").over(w))
    if off is not None:
        cum = (cum.join(off, "source", "left")
               .withColumn("off", F.coalesce(F.col("off"), F.lit(0))))
    else:
        cum = cum.withColumn("off", F.lit(0).cast("bigint"))
    accepted = (cum
                .filter(F.col("off") + F.col("bcum") - F.col("tok")
                        < F.lit(int(budget_tok)))
                .select("doc_id", "source", "tok",
                        (F.col("off") + F.col("bcum"))
                        .alias("cum_tok")))
    (accepted.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(out_dir))


def mix_budget_stream(docs: DataFrame, out_dir: str,
                      budget_tok: int):
    """STREAMING per-domain token-budget enforcement: accept
    arriving documents until their source's token budget is spent,
    then drop the rest — the ingest-side form of balanced mixture
    selection (a crawl frontier that stops pulling a domain once its
    share is filled).  Returns the DataStreamWriter (caller starts
    it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        mix_budget_batch(batch_df, batch_id, out_dir, budget_tok)

    return docs.writeStream.foreachBatch(fb)


ANN_SERVE_K = 3      # neighbors returned per incoming vector
ANN_SERVE_PROBE = 2  # frozen cells probed per incoming vector


def ann_serve_batch(batch_df: DataFrame, batch_id: int,
                    store_dir: str, out_dir: str,
                    k: int = ANN_SERVE_K,
                    probe: int = ANN_SERVE_PROBE,
                    update_store: bool = True) -> None:
    """One micro-batch of SEARCH-AT-INGEST: each arriving vector
    retrieves its top-k cosine neighbors from the persisted IVF
    store (base ∪ STRICTLY EARLIER batches), then joins the store
    itself — the continuous form of ``llm_ann_ivf_exact`` and the
    ingest pattern of a retrieval/recommendation pipeline (every new
    document immediately queries the index it is about to enter).

    The store is ``build_semdedup_store``'s (same schema, same
    frozen integer-Lloyd cells — ONE vector store serves both the
    dedup flags and the ANN results), and the batch protocol is the
    dedup family's exactly-once contract: incoming cell-assigned
    vectors land FIRST under their own ``batch_id=`` partition of
    ``<store_dir>_updates`` (dynamic overwrite — replays rewrite
    their own partition), results are ranked against base ∪ strictly
    earlier only (a replay never retrieves from itself), and land in
    ``out_dir`` under the same idempotent partitioning.
    ``store_compact`` and ``semdedup_store_delete`` apply unchanged.
    O(batch · probed-cell population) ranking work per trigger; the
    store is never re-ranked."""
    from ..llm.semdedup import assign_cells, quantize
    from ..llm.similarity import ann_store_topk
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    cents = _load_centroids(spark, store_dir)
    base = spark.read.parquet(store_dir)
    updates_dir = store_dir.rstrip("/") + "_updates"
    inc = assign_cells(quantize(batch_df), cents)
    if inc.isEmpty():
        # assign_cells drops zero-norm vectors (semdedup_batch's
        # never-created-updates-dir hardening); replays converge
        return
    store = base
    if update_store:
        (inc.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(updates_dir))
        updates = spark.read.parquet(updates_dir)
        inc = (updates.filter(F.col("batch_id") == batch_id)
               .drop("batch_id"))
        store = base.unionByName(
            updates.filter(F.col("batch_id") < batch_id)
            .drop("batch_id"))
    hits = ann_store_topk(inc, store, cents, k=k, probe=probe)
    (hits.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(out_dir))


def ann_serve_stream(emb: DataFrame, store_dir: str, out_dir: str,
                     k: int = ANN_SERVE_K,
                     probe: int = ANN_SERVE_PROBE,
                     update_store: bool = True):
    """STREAMING ANN serve over the shared semantic vector store:
    per micro-batch, each incoming embedding is quantized, assigned
    to the frozen cells, and answered with its top-k neighbors from
    the store before joining it.  ``update_store=False`` pins the
    static-index twin (pure query traffic against a fixed store).
    Returns the DataStreamWriter (caller starts it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        ann_serve_batch(batch_df, batch_id, store_dir, out_dir,
                        k=k, probe=probe, update_store=update_store)

    return emb.writeStream.foreachBatch(fb)


# ------------------------------------ streaming curation pipeline ---

def curation_batch(batch_df: DataFrame, batch_id: int,
                   signature_dir: str, bloom_store_dir: str,
                   dsir_store_dir: str, docs_dir: str,
                   metrics_dir: str, tok_min: int = 30,
                   tok_max: int = 100, threshold: float = 0.2,
                   update_store: bool = True,
                   sem_store_dir: str | None = None,
                   line_store_dir: str | None = None) -> None:
    """One micro-batch of the COMPOSED streaming curation pipeline —
    the streaming twin of the batch ``llm_curation`` funnel, built
    from the family's existing per-stage members:

      1. quality cut (token count in [tok_min, tok_max]),
      2. lexical ingest dedup against the persisted MinHash
         SIGNATURE store (ingest_dedup_batch's exactly-once updates
         protocol: quality survivors' signatures land FIRST under
         the batch's own partition; flags are computed against base
         ∪ STRICTLY EARLIER batches, never the batch itself),
      3. Bloom decontamination against the benchmark store
         (bloom_decontam_batch's probe — flag-exact with the batch
         query by sharing doc_hit_flags),
      4. DSIR importance scoring of the survivors against the frozen
         weight store (score at ingest; sample downstream).

    ``sem_store_dir`` inserts the SEMANTIC stage between dedup and
    decontamination — the streaming twin of the batch
    ``llm_curation_sem`` funnel: lexical survivors carrying an
    ``embedding`` column are quantized, assigned to the store's
    FROZEN cells, staged under the semantic store's own batch
    partition (semdedup_batch's protocol), and dropped when a
    same-cell cosine dup exists in store ∪ strictly earlier batches;
    docs with no (or zero-norm) embedding PASS the stage — no
    vector, no evidence — exactly the batch rule.

    ``line_store_dir`` inserts the LINE-LEVEL boilerplate stage
    BEFORE the quality cut (the C4 ordering — cleaning precedes
    filtering, so every downstream stage judges the CLEANED text):
    each batch is rewritten through ``_line_rewrite_stage`` (the
    line store's own staged-updates protocol, counts over base ∪
    strictly earlier ∪ the batch), documents whose every segment is
    boilerplate drop (n_kept = 0 — the empty-doc removal every line
    pipeline ends with), and the funnel gains a ``linededup`` row.
    FACTORIZATION CONTRACT (pinned in tests/test_curation_line_
    stream.py): this batch with the stage ON is byte-equal to
    rewriting the batch through ``line_dedup_batch`` first and then
    running THIS batch with the stage OFF against identically-seeded
    downstream stores.

    Curated+scored docs land under ``docs_dir``'s batch partition;
    the per-stage funnel (stage_id, stage, n_docs — the batch
    funnel's verifiable summary, one row set per batch) lands under
    ``metrics_dir``'s.  All sinks and the signature updates use
    batch_id dynamic-partition overwrite, so a crash-replay rewrites
    its own partitions byte-identically.  O(batch) work per trigger:
    the base signature store is never re-hashed, the Bloom store is
    a cached constant-size bitset, the DSIR table ≤ 4096 rows."""
    from ..llm.bloomfilter import doc_hit_flags
    from ..llm.dedup import _minhash_doc_aggregate, minhash_cross_flags
    from ..llm.text import dsir_doc_scores
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession

    src = batch_df
    if line_store_dir is not None:
        rew = _line_rewrite_stage(batch_df, batch_id, line_store_dir,
                                  update_store=update_store)
        if rew is not None:
            # replace text with the cleaned reassembly; drop docs
            # left with nothing (fully-boilerplate)
            src = (batch_df.drop("text")
                   .join(rew.filter(F.col("n_kept") > 0)
                         .select("doc_id",
                                 F.col("cleaned").alias("text")),
                         "doc_id").localCheckpoint())

    ntok = F.size(F.split(F.lower(F.trim("text")), " "))
    # FIVE downstream consumers (signature hash, dedup anti-join,
    # decontam probe, metrics, sink) — checkpoint the micro-batch's
    # quality survivors once; batch-sized, not corpus-sized
    q = src.filter(ntok.between(tok_min, tok_max)).localCheckpoint()

    def stage(i, name, df):
        return df.agg(F.lit(i).alias("stage_id"),
                      F.lit(name).alias("stage"),
                      F.count(F.lit(1)).alias("n_docs"))

    def write_metrics(deduped_df, clean_df, sem_df=None):
        names = [("start", batch_df)]
        if line_store_dir is not None:
            names.append(("linededup", src))
        names += [("quality", q), ("dedup", deduped_df)]
        if sem_store_dir is not None:
            names.append(("semdedup",
                          deduped_df if sem_df is None else sem_df))
        names.append(("decontam", clean_df))
        metrics = stage(1, names[0][0], names[0][1])
        for i, (nm, df) in enumerate(names[1:], start=2):
            metrics = metrics.unionByName(stage(i, nm, df))
        (metrics.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(metrics_dir))

    if q.isEmpty():
        # nothing survives quality: no signatures to stage (an empty
        # dynamic-overwrite write creates NO partition, and reading a
        # never-created _updates dir would raise on the next batch),
        # no docs to sink — but the funnel row set still lands, all
        # downstream stages at zero
        write_metrics(q, q, q)
        return

    base = spark.read.parquet(signature_dir)
    updates_dir = signature_dir.rstrip("/") + "_updates"
    inc = _minhash_doc_aggregate(q, "doc_id", "text", 3, 8)
    store = base
    if update_store:
        (inc.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(updates_dir))
        updates = spark.read.parquet(updates_dir)
        inc = (updates.filter(F.col("batch_id") == batch_id)
               .drop("batch_id"))
        store = base.unionByName(
            updates.filter(F.col("batch_id") < batch_id)
            .drop("batch_id"))
    flagged = minhash_cross_flags(inc, store, threshold=threshold) \
        .select(F.col("inc_id").alias("doc_id"))
    deduped = q.join(flagged, "doc_id", "left_anti").localCheckpoint()

    sem_kept = deduped
    if sem_store_dir is not None:
        from ..llm.semdedup import (assign_cells, quantize,
                                    semdedup_cross_flags)
        cents = _load_centroids(spark, sem_store_dir)
        emb_in = (deduped.filter(F.col("embedding").isNotNull())
                  .select(F.col("doc_id").alias("vec_id"),
                          "embedding"))
        inc_vec = assign_cells(quantize(emb_in), cents)
        if not inc_vec.isEmpty():
            sem_store = spark.read.parquet(sem_store_dir)
            sem_updates = sem_store_dir.rstrip("/") + "_updates"
            if update_store:
                (inc_vec.withColumn("batch_id", F.lit(batch_id))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id").parquet(sem_updates))
                sem_upd = spark.read.parquet(sem_updates)
                inc_vec = (sem_upd
                           .filter(F.col("batch_id") == batch_id)
                           .drop("batch_id"))
                sem_store = sem_store.unionByName(
                    sem_upd.filter(F.col("batch_id") < batch_id)
                    .drop("batch_id"))
            sem_flag = semdedup_cross_flags(inc_vec, sem_store) \
                .select(F.col("incoming_id").alias("doc_id"))
            sem_kept = deduped.join(sem_flag, "doc_id", "left_anti") \
                .localCheckpoint()

    bits = _load_bloom_bits(spark, bloom_store_dir)
    hit = doc_hit_flags(sem_kept, bits)
    clean = (sem_kept.join(hit, "doc_id", "left")
             .filter(~F.coalesce(F.col("__hit"), F.lit(False)))
             .drop("__hit").localCheckpoint())

    wtab = spark.read.parquet(dsir_store_dir)
    scored = clean.join(dsir_doc_scores(clean, wtab), "doc_id")
    (scored.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(docs_dir))

    write_metrics(deduped, clean, sem_kept)


def curation_stream(docs: DataFrame, signature_dir: str,
                    bloom_store_dir: str, dsir_store_dir: str,
                    docs_dir: str, metrics_dir: str,
                    tok_min: int = 30, tok_max: int = 100,
                    threshold: float = 0.2,
                    update_store: bool = True,
                    sem_store_dir: str | None = None,
                    line_store_dir: str | None = None):
    """STREAMING corpus curation END-TO-END — quality cut → MinHash
    ingest dedup → Bloom decontamination → DSIR scoring, composed
    from the streaming family's per-stage members into ONE
    foreachBatch job emitting curated+scored documents plus the
    per-batch survival funnel.  This is the continuous form of the
    batch ``llm_curation`` query: a corpus ingested through this
    stream converges to the same quality/dedup/decontam decisions
    the batch funnel makes, with each decision O(batch) per trigger
    against persisted stores.  With ``sem_store_dir`` set (docs
    carrying an ``embedding`` column — documents_emb_stream), the
    SEMANTIC stage runs between dedup and decontamination and this
    becomes the continuous form of ``llm_curation_sem`` instead.
    With ``line_store_dir`` set, the LINE-LEVEL boilerplate rewrite
    runs first (C4 ordering — see curation_batch), so every
    downstream stage judges the cleaned text.
    Returns the DataStreamWriter (caller
    starts it)."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        curation_batch(batch_df, batch_id, signature_dir,
                       bloom_store_dir, dsir_store_dir, docs_dir,
                       metrics_dir, tok_min=tok_min, tok_max=tok_max,
                       threshold=threshold, update_store=update_store,
                       sem_store_dir=sem_store_dir,
                       line_store_dir=line_store_dir)

    return docs.writeStream.foreachBatch(fb)


def documents_emb_stream(spark: SparkSession, docs_dir: str,
                         max_files_per_trigger: int = 1) -> DataFrame:
    """Document stream whose rows also carry their ``embedding``
    (array<float>, nullable) — the feed of a curation pipeline with
    the semantic stage enabled (in production the embedding arrives
    with the document from the upstream encoder)."""
    schema = T.StructType(
        DOCUMENT.fields
        + [T.StructField("embedding", T.ArrayType(T.FloatType()))])
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(docs_dir))


# ------------------- deletion through the dedup signature stores ----
#
# The four streaming dedup stores (MinHash signatures, winnowing
# fingerprints, semantic cells, Bloom decontamination) only GROW
# through their ingest protocols; without a delete path, a
# GDPR-deleted document's signatures keep suppressing future
# near-dups forever.  The jobs below are the engine-side completion
# of gdpr_delete_stream: run them with the owning stream quiesced
# (between triggers or stopped — the same discipline as any offline
# compaction), and the next micro-batch flags EXACTLY as if the
# deleted documents had never been ingested (pinned by
# tests/test_store_delete.py against a recompute from the surviving
# corpus).


def store_delete(spark: SparkSession, store_dir: str, ids,
                 id_col: str) -> dict:
    """Remove every row of ``store_dir`` (and, if present, of its
    ``<store_dir>_updates`` batch-partitioned sibling) whose
    ``id_col`` is in ``ids`` (an iterable or a one-column DataFrame).

    Scale shape: the BASE rewrite is O(store) — unavoidable for a
    flat parquet store; it lands in ``<store_dir>_pending`` first and
    swaps in with two directory renames (on an object store this
    swap is the snapshot store's MERGE/equality-delete commit — see
    storage.py — which is the right tool once the store outgrows a
    flat directory).  The UPDATES rewrite is O(affected partitions)
    only: batch partitions containing none of the ids are never read
    past their footers, surviving rows of affected partitions are
    re-written through dynamic partition overwrite, and partitions
    emptied entirely are dropped explicitly (dynamic overwrite
    leaves a partition it writes no rows for untouched — the classic
    silent-resurrection bug).

    Replay-idempotent: deleting ids already gone is a no-op, so a
    crashed-and-rerun delete job converges to the identical store.
    Returns {"base_removed": n, "updates_removed": m}."""
    import os as _os
    import shutil as _shutil

    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} BIGINT")
    idsd = ids.select(id_col).distinct().localCheckpoint()

    base = spark.read.parquet(store_dir)
    kept = base.join(idsd, id_col, "left_anti")
    n_base = base.count()
    pending = store_dir.rstrip("/") + "_pending"
    kept.write.mode("overwrite").parquet(pending)
    removed_base = n_base - spark.read.parquet(pending).count()
    trash = store_dir.rstrip("/") + "_trash"
    _shutil.rmtree(trash, ignore_errors=True)
    _os.rename(store_dir, trash)
    _os.rename(pending, store_dir)
    _shutil.rmtree(trash)

    removed_upd = 0
    updates_dir = store_dir.rstrip("/") + "_updates"
    if _os.path.isdir(updates_dir):
        upd = spark.read.parquet(updates_dir)
        affected = sorted(
            r["batch_id"] for r in upd.join(idsd, id_col, "semi")
            .select("batch_id").distinct().collect())
        if affected:
            hit = upd.filter(F.col("batch_id").isin(affected))
            n_aff = hit.count()
            # materialize BEFORE the dynamic overwrite reads race
            # with the rewrite of their own partitions
            kept_upd = hit.join(idsd, id_col, "left_anti") \
                          .localCheckpoint()
            removed_upd = n_aff - kept_upd.count()
            survivors = {r["batch_id"] for r in kept_upd
                         .select("batch_id").distinct().collect()}
            if survivors:
                (kept_upd.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id").parquet(updates_dir))
            for bid in affected:
                if bid not in survivors:
                    _shutil.rmtree(
                        _os.path.join(updates_dir, f"batch_id={bid}"),
                        ignore_errors=True)
            # an updates dir with NO partitions left is unreadable
            # (schema inference fails on it) — drop it entirely,
            # restoring the pre-first-batch state every ingest job
            # already handles (the next batch's write recreates it)
            if not any(e.name.startswith("batch_id=")
                       for e in _os.scandir(updates_dir)):
                _shutil.rmtree(updates_dir)
    return {"base_removed": removed_base,
            "updates_removed": removed_upd}


def store_compact(spark: SparkSession, store_dir: str,
                  through_batch: int | None = None) -> dict:
    """Fold committed ``<store_dir>_updates`` batch partitions into
    the base store — the maintenance job every long-running ingest
    stream needs: the exactly-once protocol writes ONE directory per
    micro-batch, so after N triggers every batch job's "base ∪
    updates" read lists and unions N partition directories of small
    files.  Compaction rewrites that read set as one base store and
    drops the folded partitions; read SEMANTICS are untouched
    because every batch job reads base ∪ updates[batch_id < current]
    — for any future batch the union is identical before and after.

    Replay safety: Structured Streaming replays AT MOST the last
    uncommitted micro-batch, so folding a batch that may still
    replay would make the store compare that batch against itself.
    The default ``through_batch`` therefore keeps the NEWEST present
    partition in place (folds everything strictly below it); pass an
    explicit checkpoint-derived watermark to fold further.  A replay
    of the retained batch sees exactly the pre-compaction read set:
    base (now holding batches ≤ through) ∪ updates[< its id].

    Crash convergence: the fold writes base ∪ folded as
    ``_pending`` first and swaps in with the same two-rename commit
    as ``store_delete``; if the job dies AFTER the swap but BEFORE
    the folded partitions are removed, those rows exist on both
    sides — re-running the compaction converges because the fold is
    a set UNION (``distinct`` over full rows), which is exact for
    these stores: each is row-distinct by construction (MinHash: one
    row per doc_id; winnowing: array_distinct fingerprints per doc;
    semantic: one row per vec_id).

    Run BETWEEN triggers (foreachBatch is serial per query, so any
    gap is one): a batch whose base read races the swap could see
    new-base ∪ not-yet-removed folded partitions — duplicated store
    rows for that one read.  The delete jobs share this contract
    (their swap is the same two renames); on an object store both
    become the snapshot store's MERGE commit and the caveat
    disappears.  Returns {"folded_batches": n, "folded_rows": m,
    "base_rows": total_after}."""
    import os as _os
    import shutil as _shutil

    updates_dir = store_dir.rstrip("/") + "_updates"
    if not _os.path.isdir(updates_dir) or not any(
            e.name.startswith("batch_id=")
            for e in _os.scandir(updates_dir)):
        # absent OR present-but-partitionless (externally emptied):
        # a partitionless parquet dir is unreadable, and there is
        # nothing to fold either way
        return {"folded_batches": 0, "folded_rows": 0,
                "base_rows": spark.read.parquet(store_dir).count()}
    upd = spark.read.parquet(updates_dir)
    bids = sorted(r["batch_id"] for r in
                  upd.select("batch_id").distinct().collect())
    if through_batch is None:
        through_batch = bids[-1] - 1
    fold = [b for b in bids if b <= through_batch]
    if not fold:
        return {"folded_batches": 0, "folded_rows": 0,
                "base_rows": spark.read.parquet(store_dir).count()}

    base = spark.read.parquet(store_dir)
    folded = (upd.filter(F.col("batch_id").isin(fold))
              .drop("batch_id"))
    n_folded = folded.count()
    new_base = base.unionByName(folded).distinct()

    pending = store_dir.rstrip("/") + "_pending"
    new_base.write.mode("overwrite").parquet(pending)
    n_after = spark.read.parquet(pending).count()
    trash = store_dir.rstrip("/") + "_trash"
    _shutil.rmtree(trash, ignore_errors=True)
    _os.rename(store_dir, trash)
    _os.rename(pending, store_dir)
    _shutil.rmtree(trash)

    for bid in fold:
        _shutil.rmtree(_os.path.join(updates_dir, f"batch_id={bid}"),
                       ignore_errors=True)
    # same unreadable-empty-dir rule as store_delete: no partitions
    # left means the dir must go (the next batch's write recreates it)
    if not any(e.name.startswith("batch_id=")
               for e in _os.scandir(updates_dir)):
        _shutil.rmtree(updates_dir)
    return {"folded_batches": len(fold), "folded_rows": n_folded,
            "base_rows": n_after}


def minhash_store_delete(spark: SparkSession, signature_dir: str,
                         doc_ids) -> dict:
    """Delete documents from the MinHash SIGNATURE store
    (ingest_dedup_stream's state): one (doc_id, m0..mB, si) row per
    doc in base and updates — a plain id filter removes every trace,
    so the next batch's LSH banding and exact-Jaccard verify behave
    as if the docs were never hashed."""
    return store_delete(spark, signature_dir, doc_ids, "doc_id")


def winnow_store_delete(spark: SparkSession, store_dir: str,
                        doc_ids) -> dict:
    """Delete documents from the winnowing FINGERPRINT store
    (winnow_dedup_stream's state): a doc owns multiple (doc_id, fp)
    rows; the id filter removes them all, so a future doc sharing
    only the deleted doc's runs is no longer flagged (and the store-
    side df-cap in winnow_cross_flags sees the lower true df)."""
    return store_delete(spark, store_dir, doc_ids, "doc_id")


def line_store_delete(spark: SparkSession, store_dir: str,
                      doc_ids) -> dict:
    """Delete documents from the LINE-SEGMENT store
    (line_dedup_stream's state): the granular (doc_id, n_segs, i,
    seg) layout makes this the family's plain id filter — removing a
    doc's rows lowers every affected segment's occurrence count by
    exactly that doc's multiplicity, so a segment that was
    boilerplate only because of deleted documents stops being
    excised from future batches (exact-as-recount, pinned in
    tests/test_line_dedup_stream.py).  An aggregated (seg, count)
    store could not delete without the doc's text; this one needs
    only the id."""
    return store_delete(spark, store_dir, doc_ids, "doc_id")


def semdedup_store_delete(spark: SparkSession, store_dir: str,
                          vec_ids) -> dict:
    """Delete vectors from the SEMANTIC store (semdedup_stream's
    state): removes the (vec_id, qa, cell, n2) rows from base and
    updates.  The FROZEN centroid table (<store_dir>_centroids) is
    deliberately untouched: the cells are a fitted model constant —
    the IVF contract — and future assignments must stay consistent
    with the vectors already filed under them; deletion changes what
    a probe can MATCH, never where a vector files."""
    return store_delete(spark, store_dir, vec_ids, "vec_id")


def bloom_store_rebuild(surviving_docs: DataFrame,
                        store_dir: str) -> None:
    """The deletion answer for the Bloom decontamination store is a
    REBUILD from the surviving benchmark corpus: a standard Bloom
    filter cannot unset a bit (each bit is the OR of every inserted
    key's hashes — clearing one would also delete the other keys
    that set it).  The two textbook options are (a) rebuild — O(|
    surviving corpus|), exact, chosen here because the store is
    kilobytes and the corpus pass is one shingle explode — or (b) a
    counting Bloom filter (per-slot counters instead of bits,
    decrement on delete), which quadruples-or-worse the store for a
    delete path that still needs the false-positive audit after
    heavy churn.  Rebuild keeps ``bloom_decontam_batch`` exact-as-
    if-never-inserted (pinned in tests/test_store_delete.py), and
    the mtime-keyed _BLOOM_STORE_CACHE picks the new table up on the
    next batch without a process restart."""
    build_bloom_store(surviving_docs, store_dir)


def dedup_store_delete_stream(spark: SparkSession, requests_dir: str,
                              checkpoint_dir: str,
                              stores: dict[str, str],
                              available_now: bool = True,
                              max_files_per_trigger: int = 1,
                              out_dir: str | None = None):
    """Streaming DELETION REQUESTS applied to the dedup signature
    stores — the continuous form of the per-store delete jobs above,
    and the signature-store counterpart of ``gdpr_delete_stream``
    (which erases the DATA rows; this erases the derived signatures
    that would otherwise keep flagging against the deleted docs).

    ``stores`` maps store kind → directory; kinds: ``"minhash"``,
    ``"winnow"``, ``"line"`` (doc_id-keyed), ``"semantic"``
    (vec_id-keyed).  The
    request feed is a parquet directory of (doc_id) — and (vec_id)
    when a semantic store is registered; either column may be absent
    from a given request file.  Bloom is deliberately NOT in the map:
    its delete is a rebuild from the surviving corpus
    (``bloom_store_rebuild``), a batch job on its own cadence, not a
    per-request operation.

    Per micro-batch, each registered store gets one ``store_delete``
    pass.  Crash-replay is idempotent WITHOUT tags because deletion
    is: a replayed batch deletes ids that are already gone — a no-op
    by ``store_delete``'s contract (pinned in
    tests/test_store_delete.py).  ``out_dir`` (optional) records a
    per-batch audit row per store under the family's batch_id
    dynamic-overwrite protocol.

    Run it while the owning INGEST streams are quiesced, or accept
    the same read-uncommitted window any out-of-band store rewrite
    has — the ingest protocol itself never requires cross-batch
    coordination with deletes (flags are computed from whatever the
    store holds at trigger time, exactly the semantics of deleting
    between two batch jobs)."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("vec_id", T.LongType()),
    ])
    os.makedirs(requests_dir, exist_ok=True)
    req = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .parquet(requests_dir))

    kinds = {"minhash": "doc_id", "winnow": "doc_id",
             "line": "doc_id", "semantic": "vec_id"}
    unknown = set(stores) - set(kinds)
    if unknown:
        raise ValueError(f"unknown dedup store kinds: {sorted(unknown)}"
                         f" (bloom deletes by rebuild, not by stream)")

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        audit = []
        for kind, store_dir in sorted(stores.items()):
            id_col = kinds[kind]
            ids = (batch_df.select(id_col)
                   .filter(F.col(id_col).isNotNull()).distinct())
            if ids.isEmpty():
                continue
            res = store_delete(spark, store_dir, ids, id_col)
            audit.append((kind, res["base_removed"],
                          res["updates_removed"]))
        if out_dir and audit:
            (spark.createDataFrame(
                audit, "kind STRING, base_removed BIGINT, "
                       "updates_removed BIGINT")
             .withColumn("batch_id", F.lit(batch_id))
             .coalesce(1).write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id").parquet(out_dir))

    writer = (req.writeStream.foreachBatch(fb)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
