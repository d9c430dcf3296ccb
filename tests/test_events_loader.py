"""The events fixture's ts encoding has changed between driver
generations (TIMESTAMP(NANOS) → timestamp[us]); `_t` must normalize
either encoding to a proper TimestampType column with identical epoch
values. Regression test for the round-3 breakage where the loader
hard-coded the nanos path."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from lcmap_blackmagic_spark.registry import _t

EPOCH_US = [1_700_000_000_000_000, 1_700_000_123_456_789]


def _write_events(path: str, ts_array: pa.Array) -> None:
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": ts_array,
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["a", "b"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(['{"k":1}', '{"k":2}']),
    })
    pq.write_table(table, path)


@pytest.mark.parametrize("encoding", ["us", "ns", "us_utc"])
def test_t_events_normalizes_ts(spark, tmp_path, encoding):
    if encoding == "us":
        ts = pa.array(EPOCH_US, pa.timestamp("us"))
    elif encoding == "us_utc":  # tz-adjusted instant → Spark reads LTZ
        ts = pa.array(EPOCH_US, pa.timestamp("us", tz="UTC"))
    else:
        ts = pa.array([v * 1000 for v in EPOCH_US], pa.timestamp("ns"))
    _write_events(str(tmp_path / "events.parquet"), ts)
    df = _t(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    got = sorted(r.ts for r in df.select("ts").collect())
    micros = [int(t.timestamp() * 1_000_000) for t in got]
    # both encodings must land on identical microsecond epochs
    assert micros == EPOCH_US


def test_t_events_on_driver_fixture(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert df.count() > 0


class _NoConfSpark:
    """Spark stand-in: reads return a frame whose ts column has the
    given type name; any ``conf.set`` fails the test."""

    def __init__(self, ts_type):
        ts_type_name = ts_type

        class _Type:
            def typeName(self):
                return ts_type_name

        class _Field:
            dataType = _Type()

        class _Frame:
            schema = {"ts": _Field()}

            def withColumn(self, name, col):
                return self

        class _Reader:
            def parquet(self, path):
                return _Frame()

        class _Conf:
            def set(self, key, value):
                raise AssertionError(f"_t changed session conf {key}")

        self.read, self.conf = _Reader(), _Conf()


@pytest.mark.parametrize("ts_type", ["long", "timestamp", "timestamp_ntz"])
@pytest.mark.parametrize("table", ["events", "orders"])
def test_t_leaves_session_conf_unchanged(monkeypatch, table, ts_type):
    """Spark-free: reading a table must not mutate the session conf
    (nanosAsLong lives in ENGINE_CONF instead)."""
    import types

    from lcmap_blackmagic_spark import ENGINE_CONF
    from lcmap_blackmagic_spark.registry import base
    monkeypatch.setattr(base, "F", types.SimpleNamespace(
        timestamp_micros=lambda c: c, expr=lambda s: s))
    base._t(_NoConfSpark(ts_type), "/nonexistent", table)
    assert ENGINE_CONF["spark.sql.legacy.parquet.nanosAsLong"] == "true"
