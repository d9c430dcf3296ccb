"""Compaction must collapse a streaming-accreted pile of small files
into one file per partition without changing the data."""

import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark import storage


def test_compact_collapses_files_and_preserves_rows(spark, tmp_path):
    from functools import reduce

    from lcmap_blackmagic_spark.sources.fixtures import synth_segments

    root = str(tmp_path)
    base = storage.path(root, "segment")
    # simulate 5 micro-batch appends: each adds a file per partition.
    # The rows carry the declared segment schema, which storage.read
    # reads them with.
    for batch in range(5):
        df = reduce(lambda a, b: a.unionByName(b), [
            synth_segments(spark, cx=cx, cy=cy, side=3, seed=batch)
            for cx in (0, 3000) for cy in (0, 3000)])
        (df.write.mode("append")
           .partitionBy("cx", "cy").parquet(base))

    before_rows = sorted(
        tuple(r) for r in storage.read(spark, root, "segment").collect())
    before, after = storage.compact_partitions(spark, root, "segment")

    assert before >= 4 * 5          # ≥1 file per partition per batch
    assert after == 4               # one file per (cx, cy) partition
    after_rows = sorted(
        tuple(r) for r in storage.read(spark, root, "segment").collect())
    assert after_rows == before_rows

    # partition pruning still works on the compacted layout
    pruned = storage.read_partition(spark, root, "segment", cx=0, cy=3000)
    want = sorted(r for r in before_rows       # keys are read last
                  if (r[-2], r[-1]) == (0, 3000))
    assert want and sorted(tuple(r) for r in pruned.collect()) == want


def test_zorder_compaction_prunes_on_both_columns(spark):
    """OPTIMIZE ZORDER: after compact_snapshot_zorder the MANIFEST
    pruner skips most commit dirs for a point predicate on EITHER
    key column, and the content is the identical multiset (deletes
    materialized away)."""
    import tempfile

    from pyspark.sql import functions as F

    from lcmap_blackmagic_spark import storage

    t = tempfile.mkdtemp(prefix="zcomp_")
    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
        F.col("id").alias("v"))
    storage.write_snapshot(df, t)
    storage.delete_from_snapshot(
        spark, t, spark.range(5).select(F.col("id").alias("v")), "v")
    want = sorted((r["x"], r["y"], r["v"]) for r in
                  storage.read_snapshot(spark, t).collect())
    v = storage.compact_snapshot_zorder(spark, t, "x", "y", n_dirs=8)
    assert v == storage.latest_version(t)
    import json
    import os
    with open(os.path.join(t, storage.SNAP_MANIFESTS,
                           f"v{v}.json")) as fh:
        man = json.load(fh)
    assert len(man["dirs"]) == 8 and "deletes" not in man
    got = sorted((r["x"], r["y"], r["v"]) for r in
                 storage.read_snapshot(spark, t).collect())
    assert got == want and len(got) == n - 5
    # manifest pruning is now selective on BOTH columns
    for col, val in (("x", 3), ("y", 60)):
        pruned = storage.read_snapshot(spark, t, where=(col, "=", val))
        scanned = {f.split("/data/")[-1].split("/")[0]
                   for f in pruned.inputFiles()}
        assert 0 < len(scanned) < 8, (col, scanned)
        want_rows = sorted(r for r in got if r[0 if col == "x" else 1]
                           == val)
        assert sorted((r["x"], r["y"], r["v"])
                      for r in pruned.collect()) == want_rows
    # prior versions still time-travel
    assert len(storage.read_snapshot(spark, t, version=1).collect()) == n


def test_where_list_prunes_on_both_columns_at_once(spark):
    """AND-combined predicate list: a two-column point read on a
    z-ordered table intersects both columns' dir sets and applies
    both residual filters."""
    import tempfile

    from pyspark.sql import functions as F

    from lcmap_blackmagic_spark import storage

    t = tempfile.mkdtemp(prefix="zcomp_")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
        F.col("id").alias("v"))
    storage.write_snapshot(df, t)
    storage.compact_snapshot_zorder(spark, t, "x", "y", n_dirs=8)
    got = storage.read_snapshot(
        spark, t, where=[("x", "=", 3), ("y", "=", 60)])
    rows = [(r["x"], r["y"], r["v"]) for r in got.collect()]
    assert rows == [(3, 60, 60 * 64 + 3)]
    both = {f.split("/data/")[-1].split("/")[0] for f in got.inputFiles()}
    one = {f.split("/data/")[-1].split("/")[0] for f in
           storage.read_snapshot(spark, t,
                                 where=("x", "=", 3)).inputFiles()}
    assert both <= one and len(both) < 8


def _ztable(spark, n=512):
    import tempfile

    from pyspark.sql import functions as F

    from lcmap_blackmagic_spark import storage

    t = tempfile.mkdtemp(prefix="zrace_")
    df = spark.range(n).select(
        (F.col("id") % 16).alias("x"),
        (F.col("id") / 16).cast("bigint").alias("y"),
        F.col("id").alias("v"))
    storage.write_snapshot(df, t)
    return t


def _referenced_dirs(t):
    import json
    import os

    from lcmap_blackmagic_spark import storage

    ref = set()
    for f in os.listdir(os.path.join(t, storage.SNAP_MANIFESTS)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(t, storage.SNAP_MANIFESTS, f)) as fh:
                ref.update(json.load(fh)["dirs"])
    return ref


def test_zorder_compaction_aborts_on_concurrent_commit(spark,
                                                       monkeypatch):
    """A commit that lands between the z-order rewrite read and its
    publish changes the table's content — publishing the rewrite
    would silently drop it (last-writer-wins), so the compaction must
    ABORT like merge does, clean up its staged dirs, and leave the
    winner's commit as latest."""
    import os

    from pyspark.sql import functions as F

    from lcmap_blackmagic_spark import storage

    t = _ztable(spark)
    want = sorted((r["x"], r["y"], r["v"]) for r in
                  storage.read_snapshot(spark, t).collect())
    orig = storage._snap_commit_stats
    fired = {"n": 0}

    def hook(sp, d):
        # first stats call = after the rewrite read, before publish:
        # land a foreign append exactly in the race window
        if fired["n"] == 0:
            fired["n"] = 1
            monkeypatch.setattr(storage, "_snap_commit_stats", orig)
            storage.write_snapshot(
                spark.createDataFrame([(99, 99, 9999)],
                                      "x long, y long, v long"),
                t, mode="append")
            monkeypatch.setattr(storage, "_snap_commit_stats", hook)
        return orig(sp, d)

    monkeypatch.setattr(storage, "_snap_commit_stats", hook)
    with pytest.raises(storage.ConcurrentSnapshotCompaction):
        storage.compact_snapshot_zorder(spark, t, "x", "y", n_dirs=4)
    monkeypatch.setattr(storage, "_snap_commit_stats", orig)
    # the append won; nothing of the aborted rewrite is visible
    assert storage.latest_version(t) == 2
    got = sorted((r["x"], r["y"], r["v"]) for r in
                 storage.read_snapshot(spark, t).collect())
    assert got == sorted(want + [(99, 99, 9999)])
    # staged z-dirs were removed: every dir under data/ is referenced
    on_disk = {d for d in os.listdir(os.path.join(t, "data"))
               if not d.startswith(".")}
    assert on_disk <= _referenced_dirs(t)
    # a retry against the new latest succeeds and keeps the append
    v = storage.compact_snapshot_zorder(spark, t, "x", "y", n_dirs=4)
    assert v == 3
    got = sorted((r["x"], r["y"], r["v"]) for r in
                 storage.read_snapshot(spark, t).collect())
    assert got == sorted(want + [(99, 99, 9999)])


def test_zorder_compaction_survives_content_neutral_commit(spark,
                                                           monkeypatch):
    """An intervening commit that left dirs and deletes UNCHANGED
    (e.g. an empty merge carrying every dir forward) is content-
    neutral: the rewrite is still an exact snapshot of latest, so
    the compaction publishes instead of aborting."""
    import json
    import os

    from lcmap_blackmagic_spark import storage

    t = _ztable(spark)
    want = sorted((r["x"], r["y"], r["v"]) for r in
                  storage.read_snapshot(spark, t).collect())
    orig = storage._snap_commit_stats
    fired = {"n": 0}

    def hook(sp, d):
        if fired["n"] == 0:
            fired["n"] = 1
            mdir = os.path.join(t, storage.SNAP_MANIFESTS)
            with open(os.path.join(mdir, "v1.json")) as fh:
                man = json.load(fh)
            man["version"] = 2
            man["mode"] = "merge"      # empty merge: same dirs
            with open(os.path.join(mdir, "v2.json"), "w") as fh:
                json.dump(man, fh)
        return orig(sp, d)

    monkeypatch.setattr(storage, "_snap_commit_stats", hook)
    v = storage.compact_snapshot_zorder(spark, t, "x", "y", n_dirs=4)
    monkeypatch.setattr(storage, "_snap_commit_stats", orig)
    assert v == 3
    got = sorted((r["x"], r["y"], r["v"]) for r in
                 storage.read_snapshot(spark, t).collect())
    assert got == want


def test_zorder_staging_cleaned_up_on_failure(spark, monkeypatch):
    """A rewrite that dies mid-flight (here: the stats read raises)
    must not orphan its .zstage-* staging directory under data/ —
    and, because stats are computed before any rename, must leave NO
    unreferenced commit dirs either."""
    import os

    from lcmap_blackmagic_spark import storage

    t = _ztable(spark)

    def boom(sp, d):
        raise RuntimeError("injected stats failure")

    monkeypatch.setattr(storage, "_snap_commit_stats", boom)
    with pytest.raises(RuntimeError, match="injected"):
        storage.compact_snapshot_zorder(spark, t, "x", "y", n_dirs=4)
    entries = os.listdir(os.path.join(t, "data"))
    assert not [e for e in entries if e.startswith(".zstage")]
    assert set(e for e in entries
               if not e.startswith(".")) == _referenced_dirs(t)
    assert storage.latest_version(t) == 1


def test_cdf_ranges_spanning_compaction_stay_multiset_exact(spark):
    """25 seeded schedules of append / MOR-delete / OPTIMIZE-ZORDER
    ops, with a pure-Python multiset model per version.  Invariants:

    - compaction is CDF-NEUTRAL: the range (v_compact - 1, v_compact)
      is an empty delta (same visible multiset, rewritten layout);
    - a CDF range SPANNING a compaction replays exactly: applying the
      delta's ±_n rows to the model's from-state reproduces the
      to-state, multiset-exact — the property the fixed-schedule
      pins in this file generalize to arbitrary interleavings.
    """
    import random
    import tempfile
    from collections import Counter

    from lcmap_blackmagic_spark import storage

    def apply_delta(state, delta_rows):
        out = Counter(state)
        for r in delta_rows:
            key = (r["x"], r["y"], r["v"])
            n = r["_n"]
            if r["_change_type"] == "insert":
                out[key] += n
            else:
                out[key] -= n
                if out[key] == 0:
                    del out[key]
        return out

    for seed in range(25):
        rng = random.Random(1000 + seed)
        t = tempfile.mkdtemp(prefix="cdfz_")
        nxt = 0

        def fresh_rows(n):
            nonlocal nxt
            rows = []
            for _ in range(n):
                v = nxt
                nxt += 1
                copies = 2 if rng.random() < 0.3 else 1
                rows += [(rng.randrange(16), rng.randrange(16), v)
                         ] * copies
            return rows

        rows = fresh_rows(4)
        ver = storage.write_snapshot(
            spark.createDataFrame(rows, "x long, y long, v long"), t)
        states = {ver: Counter(rows)}
        compactions = []
        ops = [rng.choice(["append", "delete", "compact"])
               for _ in range(5)]
        if "compact" not in ops:
            ops[rng.randrange(5)] = "compact"
        for op in ops:
            cur = states[max(states)]
            if op == "append":
                rows = fresh_rows(rng.randint(1, 3))
                ver = storage.write_snapshot(
                    spark.createDataFrame(rows,
                                          "x long, y long, v long"),
                    t, mode="append")
                states[ver] = cur + Counter(rows)
            elif op == "delete":
                res = rng.randrange(3)
                # live keys of a residue class + two FUTURE keys (the
                # sequence-scoping trap: later appends must survive)
                keys = sorted({v for _x, _y, v in cur if v % 3 == res}
                              | {nxt, nxt + 1})
                ver = storage.delete_from_snapshot(
                    spark, t,
                    spark.createDataFrame([(k,) for k in keys],
                                          "v long"), "v")
                states[ver] = Counter({k: n for k, n in cur.items()
                                       if k[2] % 3 != res})
            else:
                ver = storage.compact_snapshot_zorder(
                    spark, t, "x", "y", n_dirs=3)
                states[ver] = Counter(cur)
                compactions.append(ver)
        # (a) compaction commits are CDF-neutral
        for c in compactions:
            assert storage.snapshot_changes(
                spark, t, c - 1, c).collect() == [], (seed, c)
        # (b) the full range (spans >=1 compaction) replays the model
        lo, hi = min(states), max(states)
        delta = storage.snapshot_changes(spark, t, lo, hi).collect()
        assert apply_delta(states[lo], delta) == states[hi], seed
        # (c) a random sub-range bracketing one compaction
        c = rng.choice(compactions)
        a = rng.randint(lo, c - 1) if c > lo else lo
        b = rng.randint(c, hi)
        delta = storage.snapshot_changes(spark, t, a, b).collect()
        assert apply_delta(states[a], delta) == states[b], (seed, a, b)
