"""Bloom-sidecar file skipping: point lookups must read a strict
subset of files and return exactly the full-scan answer."""

from pyspark.sql import functions as F

from lcmap_blackmagic_spark import storage
from lcmap_blackmagic_spark.registry import _t


def test_bloom_prunes_and_answers_exactly(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_bloom")
    orders = _t(spark, sf_dir, "orders")
    n_files = storage.write_with_bloom(orders, out, "o_orderkey",
                                       n_files=8)
    assert n_files == 8

    keys = [r["o_orderkey"] for r in
            orders.select("o_orderkey").orderBy("o_orderkey")
            .limit(5).collect()]
    pruned_counts = []
    for k in keys:
        df, read, total = storage.read_bloom_pruned(spark, out, k)
        assert total == 8
        pruned_counts.append(read)
        got = sorted(map(tuple, df.collect()))
        want = sorted(map(tuple,
                          orders.filter(F.col("o_orderkey") == k).collect()))
        assert got == want and len(got) >= 1
    # hash-repartitioned: each key lives in ONE file; blooms may add
    # false-positive files but must never read all of them
    assert max(pruned_counts) < 8
    assert min(pruned_counts) >= 1


def test_bloom_absent_key_reads_nothing_or_fp(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_bloom2")
    orders = _t(spark, sf_dir, "orders")
    storage.write_with_bloom(orders, out, "o_orderkey", n_files=4)
    df, read, total = storage.read_bloom_pruned(spark, out, -99999)
    # an absent key may hit false-positive files, but the result is
    # still exactly empty (blooms skip, never answer)
    assert df.count() == 0
    assert read <= total


def _bloomed(spark, tmp_path, rows, schema):
    out = str(tmp_path / "bloomed")
    storage.write_with_bloom(spark.createDataFrame(rows, schema), out,
                             "x", n_files=4)
    return out


def test_int_probe_on_double_key_returns_the_row(spark, tmp_path):
    """The build hashed Spark's "107.0"; an int probe renders "107",
    so it must not prune — Spark's equality still matches 107.0.  A
    null key sets no bit (and no longer fails the build)."""
    out = _bloomed(spark, tmp_path,
                   [(float(i), i) for i in range(200)] + [(None, -1)],
                   "x double, n long")
    df, read, total = storage.read_bloom_pruned(spark, out, 107)
    assert [r["n"] for r in df.collect()] == [107]
    assert read == total


def test_true_probe_on_boolean_key_returns_every_match(spark, tmp_path):
    out = _bloomed(spark, tmp_path, [(i % 2 == 0, i) for i in range(200)],
                   "x boolean, n long")
    df, _, _ = storage.read_bloom_pruned(spark, out, True)
    assert sorted(r["n"] for r in df.collect()) == list(range(0, 200, 2))


def test_file_sidecar_typed_and_capped(spark, tmp_path, monkeypatch):
    """m is capped by the same constant as the snapshot sidecar's; a
    sidecar with no recorded key type never prunes."""
    import json
    import os

    monkeypatch.setattr(storage, "SNAP_BLOOM_MAX_BITS", 128)
    out = _bloomed(spark, tmp_path, [(i, i) for i in range(200)],
                   "x long, n long")
    p = os.path.join(out, storage.BLOOM_SIDECAR)
    with open(p) as fh:
        sc = json.load(fh)
    assert (sc["type"], sc["m"]) == ("bigint", 128)   # uncapped: 500
    df, read, total = storage.read_bloom_pruned(spark, out, 107)
    assert [r["n"] for r in df.collect()] == [107]
    del sc["type"]
    with open(p, "w") as fh:
        json.dump(sc, fh)
    df, read, total = storage.read_bloom_pruned(spark, out, -5)
    assert read == total and df.count() == 0


def test_driver_positions_equal_spark_positions(spark):
    """The hashlib form reproduces the Spark expression bit for bit —
    the contract every sidecar probe and the DuckDB oracle rely on."""
    from lcmap_blackmagic_spark.operators.sketches import (
        bloom_positions, bloom_positions_of)

    for keys, ty in (([0, 107, -42, 2 ** 40], "long"),
                     (["user-1-7", "", "naïve"], "string")):
        df = spark.createDataFrame([(k,) for k in keys], f"k {ty}")
        got = df.select("k", *[bloom_positions(F.col("k"), m).alias(f"m{m}")
                               for m in (1000, 1 << 27)]).collect()
        for r in got:
            for m in (1000, 1 << 27):
                assert r[f"m{m}"] == bloom_positions_of(str(r["k"]), m)


def test_bitset_layout_matches_byte_probe():
    """The sidecar's byte form keeps bit p at byte p >> 3, bit p & 7:
    the word probe on a decoded sidecar agrees with a byte-by-byte
    probe of the same base64 for present and absent positions."""
    import base64
    import random

    import numpy as np

    from lcmap_blackmagic_spark.operators.sketches import (
        bloom_decode, bloom_encode, bloom_test)

    m = 1000                                    # not a multiple of 64
    rng = random.Random(7)
    words = np.zeros((m + 63) // 64, dtype="<u8")
    for p in rng.sample(range(m), 500):
        words[p >> 6] |= np.uint64(1 << (p & 63))
    b64 = bloom_encode(words, m)
    raw = base64.b64decode(b64)
    assert len(raw) == (m + 7) // 8
    probes = np.array([rng.sample(range(m), 3) for _ in range(300)])
    want = [all(raw[p >> 3] & (1 << (p & 7)) for p in row)
            for row in probes]
    assert bloom_test(bloom_decode(b64), probes).tolist() == want
    assert any(want) and not all(want)
