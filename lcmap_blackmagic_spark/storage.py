"""Partition-level storage — the Spark equivalent of
``blackmagic/data/ceph.py``.

The reference stores one gzip-JSON object per chip under
``bucket/{entity}/{x}-{y}.json`` (ceph.py:17-49, 338-351) and gets
idempotency by delete-then-write (ceph.py:250-263). Here every entity
is a Parquet dataset partitioned by its spatial key; idempotent rewrite
is dynamic partition overwrite (one atomic job, no separate delete).

Scale notes: partition pruning on (cx, cy) / (tx, ty) makes the
single-chip reads of the reference (select_segments ceph.py:125-129)
metadata-only lookups; a whole-tile read is 2500 pruned partitions
scanned in parallel. Writers sort within partitions so parquet
row-group stats enable pixel-range skipping.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# entity → partition columns (mirrors the URL scheme ceph.py:17-49);
# rollup_partial is the streaming-rollup partial store, partitioned by
# micro-batch id so a replayed batch overwrites ITS OWN partition
# (idempotent at-least-once → exactly-once-equivalent totals).
PARTITION_KEYS = {
    "chip": ("cx", "cy"),
    "pixel": ("cx", "cy"),
    "segment": ("cx", "cy"),
    "aux": ("cx", "cy"),
    "prediction": ("cx", "cy"),
    "tile": ("tx", "ty"),
    "rollup_partial": ("batch_id",),
    "distinct_partial": ("batch_id",),
    "quantile_partial": ("batch_id",),
    "cms_partial": ("batch_id",),
}


def path(root: str, entity: str) -> str:
    return os.path.join(root, entity)


def read(spark: SparkSession, root: str, entity: str) -> DataFrame:
    """Whole-entity scan.  Partition discovery types the key
    directories as INT; they are read as BIGINT instead, the type of
    the chip/tile keys every plan compares them with
    (``plans.training.chips_predicate``).  The type goes into the read
    schema rather than a cast over the scan: with the cast, a
    /prediction request measured about 1 s slower (4-core host)."""
    p = path(root, entity)
    df = spark.read.parquet(p)
    keys = set(PARTITION_KEYS.get(entity, ())) & set(df.columns)
    if not keys:
        return df
    return spark.read.schema(StructType([
        StructField(f.name, LongType(), f.nullable) if f.name in keys else f
        for f in df.schema])).parquet(p)


def read_partition(spark: SparkSession, root: str, entity: str,
                   **key_values) -> DataFrame:
    """Partition-pruned scan — parity with select_* (ceph.py:107-135).
    e.g. ``read_partition(spark, root, 'segment', cx=-2061585, cy=1922805)``.
    """
    df = read(spark, root, entity)
    for k, v in key_values.items():
        df = df.filter(F.col(k) == v)
    return df


def overwrite_partitions(df: DataFrame, root: str, entity: str) -> None:
    """Idempotent per-partition rewrite — replaces the reference's
    delete-then-put pairs (ceph.py:250-263 + insert_*). With
    ``partitionOverwriteMode=dynamic`` only partitions present in ``df``
    are replaced, concurrently-safe at the job level.

    The mode is set on the writer itself, not inherited from session
    conf: on a session without the dynamic default, a plain
    ``mode('overwrite') + partitionBy`` would statically truncate the
    ENTIRE entity dataset."""
    keys = list(PARTITION_KEYS[entity])
    (df.repartition(*[F.col(k) for k in keys])
       .sortWithinPartitions(*keys)
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*keys)
       .parquet(path(root, entity)))


def delete_partitions(spark: SparkSession, root: str, entity: str,
                      **key_values) -> None:
    """Explicit partition delete for parity with ceph.py:250-263 —
    normally unnecessary (overwrite_partitions covers the idempotent
    rewrite); provided for retention-style maintenance."""
    import shutil
    keys = PARTITION_KEYS[entity]
    base = path(root, entity)
    sub = os.path.join(base, *[f"{k}={key_values[k]}" for k in keys
                               if k in key_values])
    if os.path.exists(sub):
        shutil.rmtree(sub)


def write_json_gzip(df: DataFrame, out_dir: str) -> None:
    """Gzip JSON-lines sink (many part files). Kept for bulk interop —
    Parquet is the engine format; for the reference's exact object
    layout use ``write_chip_json_objects``."""
    df.write.mode("overwrite").option("compression", "gzip").json(out_dir)


def _jsonable(v):
    if hasattr(v, "tolist"):  # numpy array / scalar
        return v.tolist()
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


def write_chip_json_objects(df: DataFrame, root: str, entity: str) -> int:
    """Byte-parity object sink: ONE gzip JSON object per chip (or
    tile) under ``{entity}/{x}-{y}.json`` — the reference's Ceph key
    scheme and encoding (``_put_json`` + ``_{entity}_key``,
    ceph.py:306-351: body is gzip of ``json.dumps(records)``, key
    keeps the .json name with gzip as a transfer encoding).

    Executed as one distributed job: each (x, y) group serializes and
    writes its own object from the executor — the same per-chip put
    the reference does, minus the driver loop. Records are sorted by
    their serialized form so object bytes are deterministic under
    shuffle. Returns the number of objects written. In production the
    local write becomes an object-store put with
    ContentEncoding=gzip; the key scheme and bytes are identical."""
    import gzip
    import json

    import pandas as pd

    kx, ky = PARTITION_KEYS[entity]
    out_base = os.path.join(root, entity)
    os.makedirs(out_base, exist_ok=True)

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        x, y = int(pdf[kx].iloc[0]), int(pdf[ky].iloc[0])
        records = sorted(
            ({c: _jsonable(v) for c, v in zip(pdf.columns, row)}
             for row in pdf.itertuples(index=False, name=None)),
            key=lambda r: json.dumps(r, sort_keys=True))
        # mtime=0: gzip otherwise stamps wall-clock time into the
        # header, so raw object bytes would differ across reruns
        body = gzip.compress(json.dumps(records).encode("utf-8"),
                             mtime=0)
        path = os.path.join(out_base, f"{x}-{y}.json")
        with open(path, "wb") as f:
            f.write(body)
        return pd.DataFrame({"x": [x], "y": [y], "n": [len(records)]})

    acks = (df.groupBy(kx, ky)
            .applyInPandas(write_group, schema="x long, y long, n long"))
    return acks.count()


def read_chip_json(root: str, entity: str, x: int, y: int) -> list[dict]:
    """Read one chip object back (``_get_json`` parity,
    ceph.py:296-305)."""
    import gzip
    import json
    with open(os.path.join(root, entity, f"{x}-{y}.json"), "rb") as f:
        return json.loads(gzip.decompress(f.read()).decode("utf-8"))


def _count_part_files(base: str) -> int:
    n = 0
    for dirpath, _, files in os.walk(base):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def write_zordered(df: DataFrame, out_dir: str, x_col: str, y_col: str,
                   n_files: int = 8) -> int:
    """Write a dataset laid out along the Z-order curve of two key
    columns: range-partition by the interleaved-bit Morton key, sort
    within each file by it, and drop the key before writing. Each
    parquet file then carries TIGHT min/max footer stats on BOTH key
    columns, so a reader's predicate on EITHER column prunes whole
    files (the property plain single-column sorting gives one column
    only) — the Delta/Iceberg ``ZORDER BY`` layout expressed as plain
    Spark writes. Returns the file count written.

    ``repartitionByRange`` samples the key distribution, so files are
    balanced even when the key space is skewed; the z-key itself is
    whole-stage-codegen bitwise arithmetic (functions/zorder.py).
    """
    from .functions.zorder import zvalue
    keyed = df.withColumn("__z", zvalue(F.col(x_col), F.col(y_col)))
    (keyed.repartitionByRange(n_files, F.col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode("overwrite").parquet(out_dir))
    return _count_part_files(out_dir)


def compact_partitions(spark: SparkSession, root: str,
                       entity: str) -> tuple[int, int]:
    """Small-file compaction: rewrite an entity so each spatial
    partition holds ONE sorted parquet file instead of the many small
    files a streaming ``foreachBatch`` ingest accretes (every
    micro-batch append adds a file per touched partition; at
    100 TB-scale ingest, scan task count and parquet footer overhead
    grow with file count, not data size — periodic compaction is what
    keeps read amplification flat).

    Spark refuses to overwrite a path it is reading
    ("Cannot overwrite a path that is also being read from"), so the
    compacted copy lands in a sibling dataset and is swapped in with
    two renames — the same read-shape guarantee as
    ``overwrite_partitions`` (repartition by key → one file per
    partition, sorted so row-group stats allow range skipping).
    On a real object store the swap step would be a table-format
    commit (Iceberg/Delta rewrite-files); the partition layout and
    job shape are identical.

    Returns (files_before, files_after).
    """
    import shutil

    base = path(root, entity)
    before = _count_part_files(base)
    keys = list(PARTITION_KEYS[entity])
    tmp = base + "__compacting"
    backup = base + "__pre_compact"
    (read(spark, root, entity)
     .repartition(*[F.col(k) for k in keys])
     .sortWithinPartitions(*keys)
     .write.mode("overwrite")
     .partitionBy(*keys)
     .parquet(tmp))
    os.rename(base, backup)
    os.rename(tmp, base)
    shutil.rmtree(backup)
    return before, _count_part_files(base)


# ------------------------------------------ bloom file skipping ----

BLOOM_SIDECAR = "_blooms.json"
BLOOM_K = 7  # hash functions; with m = 10 bits/key, fpp ~ 0.8%


def _bloom_positions(key: F.Column, m: int):
    """The K deterministic bit positions of a key: independent
    md5-derived 48-bit hashes mod m (engine-portable, no JVM-only
    hash so a non-Spark writer could produce identical sidecars)."""
    return F.array(*[
        (F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"),
                                           key.cast("string"))),
                            1, 12), 16, 10).cast("bigint")
         % F.lit(m)).cast("int")
        for i in range(BLOOM_K)])


def write_with_bloom(df: DataFrame, out_dir: str, key_col: str,
                     n_files: int = 8,
                     bits_per_key: int = 10) -> int:
    """Point-lookup file skipping for a HIGH-CARDINALITY key that the
    physical layout is NOT sorted by (parquet min/max footer stats
    prune range predicates on the sort/z-order columns; they are
    useless for an id equality on a randomly-placed key — every
    file's [min, max] spans the whole id space). Hash-repartition on
    the key (each key lives in exactly one file), then build a Bloom
    filter PER FILE as a sidecar (`_blooms.json`): a point lookup
    tests k bits per sidecar and reads only matching files — at
    100 TB that turns an all-files scan into ~1 file + a false
    positive rate of ~0.8% (k=7, 10 bits/key), the same file-skipping
    contract as Parquet's optional bloom_filter column metadata or
    Delta's BLOOMFILTER index, expressed engine-side so ANY layout
    gets it. The bloom build is one distributed pass over the written
    files with the bitset packed EXECUTOR-SIDE (positions fold into
    64-bit words via bit_or partial aggregation), so the driver
    collects exactly m/8 bytes per file — never the O(k·rows)
    position stream. Returns the file count."""
    import base64
    import json

    spark = df.sparkSession
    n_rows = df.count()
    (df.repartition(n_files, F.col(key_col))
       .write.mode("overwrite").parquet(out_dir))
    m = max(64, int(bits_per_key * n_rows / n_files))
    words = (spark.read.parquet(out_dir)
             .select(F.input_file_name().alias("f"),
                     F.explode(_bloom_positions(F.col(key_col), m))
                     .alias("pos"))
             .groupBy("f", F.shiftright(F.col("pos"), 6).alias("w"))
             .agg(F.bit_or(F.expr(
                 "shiftleft(CAST(1 AS BIGINT), pos % 64)")).alias("bits"))
             .collect())
    n_words = (m + 63) // 64
    per_file: dict[str, list[int]] = {}
    for row in words:
        per_file.setdefault(os.path.basename(row["f"]),
                            [0] * n_words)[row["w"]] = row["bits"]
    blooms = {}
    for name, ws in per_file.items():
        bits = bytearray((m + 7) // 8)
        for wi, word in enumerate(ws):
            bits[wi * 8:wi * 8 + 8] = (word & 0xFFFFFFFFFFFFFFFF
                                       ).to_bytes(8, "little")
        blooms[name] = base64.b64encode(
            bytes(bits[: (m + 7) // 8])).decode("ascii")
    sidecar = {"key_col": key_col, "m": m, "k": BLOOM_K,
               "files": blooms}
    with open(os.path.join(out_dir, BLOOM_SIDECAR), "w") as fh:
        json.dump(sidecar, fh)
    return len(blooms)


def read_bloom_pruned(spark: SparkSession, out_dir: str,
                      value) -> tuple[DataFrame, int, int]:
    """Point lookup through the bloom sidecar: test the key's k bit
    positions against each file's filter and scan ONLY the files
    that might contain it. Returns (df, files_read, files_total);
    the df still carries the exact equality filter — blooms only
    skip, never answer. An empty candidate set returns an empty
    DataFrame with the dataset's schema (driver-side planning cost
    is one tiny JSON, no file footers touched)."""
    import base64
    import hashlib
    import json

    with open(os.path.join(out_dir, BLOOM_SIDECAR)) as fh:
        sc = json.load(fh)
    m, k, key_col = sc["m"], sc["k"], sc["key_col"]
    positions = [int(hashlib.md5(f"{i}:{value}".encode())
                     .hexdigest()[:12], 16) % m for i in range(k)]
    keep = []
    for name, b64 in sc["files"].items():
        bits = base64.b64decode(b64)
        if all(bits[p >> 3] & (1 << (p & 7)) for p in positions):
            keep.append(os.path.join(out_dir, name))
    total = len(sc["files"])
    if not keep:
        empty = spark.read.parquet(out_dir).limit(0)
        return empty, 0, total
    df = spark.read.parquet(*keep).filter(F.col(key_col) == value)
    return df, len(keep), total


# ---- versioned snapshot store (manifest-committed time travel) -----

SNAP_MANIFESTS = "_manifests"


SNAP_CONSTRAINTS = "_constraints.json"


class SnapshotConstraintViolation(ValueError):
    """A commit's rows violate a table CHECK constraint — the commit
    is refused before any data lands (the no-partial-writes contract
    extended to data QUALITY, Delta's CHECK/NOT NULL shape).  The
    message carries per-constraint violation counts and up to three
    example rows per violated constraint."""


def set_snapshot_constraint(table_dir: str, name: str,
                            expr: str) -> None:
    """Register a CHECK constraint on a snapshot table: ``expr`` is a
    Spark SQL boolean over the table's columns that every row of
    every FUTURE commit must satisfy (rows where it is false OR NULL
    violate — stricter than the SQL-standard null-passes rule, the
    right default for a data contract; spell nullable columns
    explicitly, e.g. ``v IS NULL OR v > 0``).  Existing data is not
    re-validated (as in Delta, adding a constraint is cheap; backfill
    checks are a read-side query)."""
    import json
    os.makedirs(table_dir, exist_ok=True)
    p = os.path.join(table_dir, SNAP_CONSTRAINTS)
    cons = {}
    if os.path.exists(p):
        with open(p) as fh:
            cons = json.load(fh)
    cons[name] = expr
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(cons, fh)
    os.replace(tmp, p)


def drop_snapshot_constraint(table_dir: str, name: str) -> bool:
    import json
    p = os.path.join(table_dir, SNAP_CONSTRAINTS)
    if not os.path.exists(p):
        return False
    with open(p) as fh:
        cons = json.load(fh)
    if name not in cons:
        return False
    del cons[name]
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(cons, fh)
    os.replace(tmp, p)
    return True


def snapshot_constraints(table_dir: str) -> dict[str, str]:
    import json
    p = os.path.join(table_dir, SNAP_CONSTRAINTS)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


SNAP_QUARANTINE = "_quarantine"


def _violations_col(cons: dict[str, str]):
    """Array of the constraint names each row violates (false-or-NULL
    evaluation violates)."""
    return F.array_compact(F.array(*[
        F.when(~F.coalesce(F.expr(expr), F.lit(False)), F.lit(name))
        for name, expr in cons.items()]))


def _validate_constraints(df: DataFrame, table_dir: str,
                          on_violation: str = "fail") -> DataFrame:
    """Enforce the table's CHECK constraints on a commit's rows —
    the three expectation policies of production quality gates:

    - ``fail`` (default): ONE aggregate pass counts violations of
      every constraint at once; any violation refuses the whole
      commit (loudly, with per-constraint counts and example rows).
    - ``drop``: violating rows are silently filtered out of the
      commit; the survivors land.
    - ``quarantine``: like drop, but the violating rows are ALSO
      appended — with a ``__violated`` array column naming the failed
      constraints — to the table's quarantine snapshot table
      (``<table>/_quarantine``, itself time-travelable), for triage
      and replay.  The quarantine append publishes before the main
      commit, so a crash between the two can duplicate quarantined
      rows but never lose them (at-least-once on the dead-letter
      side, exactly-once on the table — the standard DLQ trade).

    Returns the (possibly filtered) DataFrame to commit.  Tables
    without a constraints file cost one os.path.exists."""
    cons = snapshot_constraints(table_dir)
    if not cons:
        return df
    if on_violation not in ("fail", "drop", "quarantine"):
        raise ValueError(f"unknown on_violation {on_violation!r}")
    if on_violation == "fail":
        names = list(cons)
        viol = [F.sum(F.when(~F.coalesce(F.expr(cons[n]),
                                         F.lit(False)),
                             1).otherwise(0)).alias(n) for n in names]
        row = df.agg(*viol).collect()[0]
        bad = {n: int(row[n] or 0) for n in names if row[n]}
        if not bad:
            return df
        examples = {}
        for n in bad:
            examples[n] = [tuple(r) for r in df.filter(
                ~F.coalesce(F.expr(cons[n]), F.lit(False))).take(3)]
        raise SnapshotConstraintViolation(
            f"commit to {table_dir} violates CHECK constraints "
            f"{bad} (counts); examples: {examples}")
    flagged = df.withColumn("__violated", _violations_col(cons))
    if on_violation == "quarantine":
        dead = flagged.filter(F.size("__violated") > 0)
        if not dead.isEmpty():
            write_snapshot(dead, os.path.join(table_dir,
                                              SNAP_QUARANTINE),
                           mode="append" if latest_version(
                               os.path.join(table_dir,
                                            SNAP_QUARANTINE))
                           else "overwrite")
    return (flagged.filter(F.size("__violated") == 0)
            .drop("__violated"))


def _commit_ts() -> float:
    """Wall-clock commit timestamp stamped into every manifest —
    what TIMESTAMP AS OF resolves against.  Single-writer wall clock,
    the same contract Delta's timestamp travel has: a skewed clock
    skews resolution, never correctness of a pinned-version read."""
    import time
    return round(time.time(), 3)


def version_as_of(table_dir: str, ts) -> int:
    """Resolve TIMESTAMP AS OF: the LATEST version whose manifest
    commit time is <= ``ts`` (float epoch seconds, datetime, or ISO
    string).  Manifests written before timestamps existed count as
    arbitrarily old (they provably predate the feature, hence any
    queried instant of interest).  Raises when every surviving
    version is newer than ``ts`` — same contract as reading a
    vacuumed version: loud, never silently-latest.

    Commit timestamps for versions at or below the manifest-log
    checkpoint come from the checkpoint's rolled-up map; only the
    TAIL manifests (written since the last checkpoint) are opened —
    O(tail), not O(versions), per resolution.  Resolution still
    ranges over the SURVIVING versions only (directory listing), so
    a vacuumed version never wins even though the checkpoint may
    remember its timestamp."""
    import datetime as _dt
    import json
    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts).timestamp()
    elif isinstance(ts, _dt.datetime):
        ts = ts.timestamp()
    cp = _snap_read_checkpoint(table_dir)
    cp_v = cp["version"] if cp else 0
    cp_ts = _cp_maps(table_dir, cp)[0] if cp else {}
    best = None
    for v in _snap_versions(table_dir):
        if v <= cp_v and str(v) in cp_ts:
            mts = cp_ts[str(v)]
        else:
            with open(os.path.join(table_dir, SNAP_MANIFESTS,
                                   f"v{v}.json")) as fh:
                mts = json.load(fh).get("ts")
        if mts is None or mts <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no snapshot of {table_dir} at or before {ts}")
    return best


def _snap_versions(table_dir: str) -> list[int]:
    import re
    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    if not os.path.isdir(mdir):
        return []
    return sorted(int(m.group(1)) for f in os.listdir(mdir)
                  if (m := re.fullmatch(r"v(\d+)\.json", f)))


def latest_version(table_dir: str) -> int | None:
    vs = _snap_versions(table_dir)
    return vs[-1] if vs else None


# --------------------------------- manifest-log checkpoints --------
# Every manifest is self-contained (read_snapshot opens exactly ONE),
# but two resolution paths walk the whole log: version_as_of reads
# every manifest's commit ts, and _committed_tags reads every
# manifest's tag ON EVERY TAGGED WRITE — a streaming pump committing
# per micro-batch pays O(versions) file opens per commit, O(V²)
# over the stream's life.  The checkpoint is the Delta
# `_last_checkpoint` idea applied to those two maps: every
# SNAP_CHECKPOINT_EVERY commits the writer rolls {version → ts} and
# the committed-tag set forward from the PREVIOUS checkpoint plus the
# tail manifests (amortized O(1) opens per commit), and readers
# resolve from checkpoint + tail.  Purely advisory: manifests are
# immutable and versions monotone, so ANY published checkpoint is a
# correct prefix summary — losing a checkpoint write (crash, race)
# only means a longer tail walk, never a wrong answer.

SNAP_CHECKPOINT = "_checkpoint.json"
SNAP_CHECKPOINT_EVERY = 32
# Versions per checkpoint SEGMENT file.  The rollup is chunked so a
# checkpoint on the cadence rewrites only the LAST (partial) segment
# plus a tiny pointer — O(SNAP_CP_SEG) bytes per checkpoint, CONSTANT
# in total version count, instead of re-serializing every version's
# ts and every tag forever (a year-long per-batch CDC pump would
# otherwise pay O(V/EVERY) amortized write bytes per commit, growing
# without bound).  Full segments are immutable prefix summaries.
SNAP_CP_SEG = 256


def _snap_read_checkpoint(table_dir: str) -> dict | None:
    import json
    p = os.path.join(table_dir, SNAP_MANIFESTS, SNAP_CHECKPOINT)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as fh:
            cp = json.load(fh)
    except (OSError, ValueError):
        return None         # torn/unreadable checkpoint: walk the log
    # structural validation: a malformed checkpoint must read as
    # "no checkpoint" (full log walk), never poison a reader or an
    # on-cadence commit — the file is purely advisory
    if not isinstance(cp.get("version"), int):
        return None
    if "ts" in cp and not isinstance(cp["ts"], dict):  # legacy inline
        return None
    if "tags" in cp and not isinstance(cp["tags"], list):
        return None
    if "segs" in cp and not isinstance(cp["segs"], dict):
        return None
    return cp


def _cp_read_seg_file(mdir: str, name: str) -> dict | None:
    """One segment file's rolled-up maps ({"ts": {...}, "tags":
    [...]}); None if missing/torn — the caller must treat the WHOLE
    checkpoint as incomplete then (a GC'd segment under a stale
    pointer must degrade to the full manifest walk, never to a
    silently smaller tag set)."""
    import json
    try:
        with open(os.path.join(mdir, name)) as fh:
            seg = json.load(fh)
        if not isinstance(seg.get("ts"), dict) or \
                not isinstance(seg.get("tags"), list):
            return None
        return seg
    except (OSError, ValueError):
        return None


def _cp_maps(table_dir: str, cp: dict) -> tuple[dict, set, bool]:
    """The checkpoint's rolled-up ({version -> ts}, tag set,
    complete?) — inline for a legacy single-file checkpoint, merged
    from the POINTER-NAMED immutable segment files for the chunked
    format.  The pointer atomically names the exact segment files
    that make up this summary (uuid-named, never rewritten in
    place), so a racing checkpointer can never splice a stale
    segment under a newer pointer; a reader holding a stale pointer
    whose segments were GC'd sees ``complete=False`` and falls back
    to the full walk.  Segment count is V/SNAP_CP_SEG: a few file
    opens even at thousands of commits, and zero MANIFEST opens."""
    if "ts" in cp:                       # legacy inline checkpoint
        return dict(cp["ts"]), set(cp.get("tags", [])), True
    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    ts: dict = {}
    tags: set = set()
    complete = True
    for name in cp.get("segs", {}).values():
        seg = _cp_read_seg_file(mdir, name)
        if seg is None:
            complete = False
            continue
        ts.update(seg["ts"])
        tags.update(seg["tags"])
    if "segs" not in cp:
        complete = False          # interim numbered-file format
    return ts, tags, complete


def _snap_maybe_checkpoint(table_dir: str, version: int) -> None:
    """Publish a checkpoint if ``version`` is on the cadence.  Builds
    incrementally: previous checkpoint + the manifests after it (a
    vacuumed tail manifest contributes nothing — its ts is dropped,
    which only matters for versions that can no longer be read
    anyway, and its tag is already in the tombstone file).  The
    rollup is SEGMENTED (SNAP_CP_SEG versions per file): only the
    segments the new tail touches are rewritten — normally just the
    last partial one — so checkpoint bytes stay constant as the log
    grows.  Each file publishes via tmp + os.replace: concurrent
    checkpointers last-write-win and every candidate is a valid
    prefix summary.  NEVER raises: the checkpoint is advisory and
    runs AFTER the commit has published its manifest — an exception
    here would make the caller misclassify a successful commit (and
    in the merge path trigger a cleanup that rmtree's data the
    just-published manifest references)."""
    try:
        _snap_checkpoint_unsafe(table_dir, version)
    except Exception:                          # noqa: BLE001
        pass         # advisory: worst case is a longer tail walk


def _snap_checkpoint_unsafe(table_dir: str, version: int) -> None:
    import json
    import uuid

    if version % SNAP_CHECKPOINT_EVERY:
        return
    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    prev = _snap_read_checkpoint(table_dir) or {"version": 0}
    if prev["version"] >= version:
        return
    # accumulate the new tail's (ts, tag) per segment; a legacy
    # inline checkpoint migrates by distributing its maps once
    per_seg: dict[int, dict] = {}

    def _slot(v: int) -> dict:
        return per_seg.setdefault((v - 1) // SNAP_CP_SEG,
                                  {"ts": {}, "tags": set()})

    if "ts" in prev:                     # one-time legacy migration
        for vs, t in prev["ts"].items():
            _slot(int(vs))["ts"][vs] = t
        for tag in prev.get("tags", []):
            # legacy tags lost their version attribution; park them
            # in segment 0 (the tag SET is what readers consume)
            _slot(1)["tags"].add(tag)
    # roll forward from the manifests, starting below prev["version"]
    # when the previous pointer's coverage is incomplete (interim
    # format / GC'd segment) so the rollup HEALS instead of carrying
    # the gap forever
    prev_ts, _prev_tags, prev_complete = _cp_maps(table_dir, prev)
    start = prev["version"] + 1 if ("ts" in prev or prev_complete) \
        else 1
    for v in range(start, version + 1):
        if str(v) in prev_ts and "ts" not in prev:
            continue                     # already covered by a seg
        p = os.path.join(mdir, f"v{v}.json")
        if not os.path.exists(p):
            continue                     # vacuumed mid-build
        try:
            with open(p) as fh:
                man = json.load(fh)
        except (OSError, ValueError):
            continue
        _slot(v)["ts"][str(v)] = man.get("ts")
        if man.get("tag") is not None:
            _slot(v)["tags"].add(man["tag"])
    # publish: NEW immutable uuid-named files for touched segments,
    # then ONE atomic pointer naming the exact segment files — a
    # racing checkpointer's files can never be spliced under this
    # pointer, so every published (pointer, segments) pair is a
    # consistent prefix summary; the replaced files are GC'd
    # best-effort (a stale reader sees complete=False and full-walks)
    segs: dict[str, str] = dict(prev.get("segs", {}))
    replaced = [segs[str(n)] for n in per_seg if str(n) in segs]
    for n, add in sorted(per_seg.items()):
        cur = (_cp_read_seg_file(mdir, segs[str(n)])
               if str(n) in segs else None) or {"ts": {}, "tags": []}
        cur["ts"].update(add["ts"])
        cur["tags"] = sorted(set(cur["tags"]) | add["tags"])
        name = f"_cp_seg_{n:06d}-{uuid.uuid4().hex[:12]}.json"
        tmp = os.path.join(mdir, f".cpseg-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as fh:
            json.dump(cur, fh)
        os.replace(tmp, os.path.join(mdir, name))
        segs[str(n)] = name
    tmp = os.path.join(mdir, f".cp-{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as fh:
        json.dump({"version": version, "segs": segs}, fh)
    os.replace(tmp, os.path.join(mdir, SNAP_CHECKPOINT))
    for old in replaced:                 # best-effort GC
        try:
            os.remove(os.path.join(mdir, old))
        except OSError:
            pass


SNAP_STATS_MAX_COLS = 32   # Delta's dataSkippingNumIndexedCols default

# Max distinct keys routed through an IN-list skip predicate (exact
# per-value stats + bloom pruning) before falling back to [min, max]
# bounds — isin past ~1k values bloats the expression for no gain.
SNAP_IN_PRUNE_CAP = 1024

SNAP_BLOOM = "_bloom.json"

# Hard cap on a snapshot bloom sidecar's bitset size (bits).  The
# build collects the bitset's non-zero 64-bit words on the driver
# (plus the m/8-byte bytearray), so an UNCAPPED m = 10 bits/row
# means a 10^9-row bulk-load commit materializes ~1.2 GB per bloom
# column driver-side.  2^27 bits = 16 MB bitset / ~2M words max per
# column — bounded regardless of commit size.  Past the cap the
# effective bits/key drops below 10 and the false-positive rate
# degrades toward 1 (the filter saturates): pruning weakens
# gracefully to "never prunes", it never turns wrong.
SNAP_BLOOM_MAX_BITS = 1 << 27

# Spark storage types a probe Python value may prune against: the
# write side hashes Spark's CAST(col AS STRING), which provably
# equals Python's str() only when the probe's type matches the
# column's storage family (an int probe against a double column
# renders "107" vs the sidecar's "107.0" — the bloom would 'prove'
# absence of a value that IS present).  Anything else → no prune.
_SNAP_BLOOM_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _snap_commit_bloom(spark: SparkSession, data_dir: str,
                       cols: list[str],
                       bits_per_key: int = 10) -> None:
    """Per-COMMIT-DIR Bloom sidecar for point-lookup dir skipping on
    HIGH-CARDINALITY columns the layout is not sorted by — manifest
    min/max stats prune range predicates on clustered columns but are
    useless for an id equality on a randomly-placed key (every dir's
    [min, max] spans the id space).  One filter per column over the
    whole dir, the ``write_with_bloom`` construction at dir
    granularity: md5-derived positions (engine-portable), bitset
    packed executor-side via bit_or word partials, the driver
    collects m/8 bytes per column.  The sidecar lives INSIDE the
    commit dir (a leading-underscore file — invisible to parquet
    scans), so it is immutable with the dir, rides through manifest
    carry-forward, and vanishes with vacuum; dirs written without one
    (merge rewrites, compactions, old commits) simply never prune —
    conservative by construction.

    m is capped at ``SNAP_BLOOM_MAX_BITS`` so the driver-side build
    (word partials + bytearray) stays bounded no matter how large the
    commit is; each column also records its Spark storage type so the
    probe side can refuse cross-type pruning (see
    ``_snap_bloom_may_match``)."""
    import base64
    import json

    back = spark.read.parquet(data_dir)
    types = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    n_rows = back.count()
    m = max(64, min(int(bits_per_key * n_rows), SNAP_BLOOM_MAX_BITS))
    n_words = (m + 63) // 64
    out = {}
    for col in cols:
        words = (back.filter(F.col(col).isNotNull())
                 .select(F.explode(_bloom_positions(F.col(col), m))
                         .alias("pos"))
                 .groupBy(F.shiftright(F.col("pos"), 6).alias("w"))
                 .agg(F.bit_or(F.expr(
                     "shiftleft(CAST(1 AS BIGINT), pos % 64)"))
                     .alias("bits"))
                 .collect())
        ws = [0] * n_words
        for row in words:
            ws[row["w"]] = row["bits"]
        bits = bytearray((m + 7) // 8)
        for wi, word in enumerate(ws):
            bits[wi * 8:wi * 8 + 8] = (word & 0xFFFFFFFFFFFFFFFF
                                       ).to_bytes(8, "little")
        out[col] = {"m": m, "k": BLOOM_K, "type": types.get(col),
                    "bits": base64.b64encode(
                        bytes(bits[:(m + 7) // 8])).decode("ascii")}
    with open(os.path.join(data_dir, SNAP_BLOOM), "w") as fh:
        json.dump(out, fh)


def _snap_bloom_load(table_dir: str, d: str,
                     cache: dict | None = None) -> dict | None:
    """Load + base64-decode one commit dir's Bloom sidecar ONCE per
    read: an IN-list probe of up to SNAP_IN_PRUNE_CAP values over
    many dirs would otherwise re-open/re-parse/re-decode the same
    JSON per (dir, value) pair.  ``cache`` (per-read_snapshot-call
    dict, keyed by dir) memoizes the decoded form; None = no sidecar."""
    import base64
    import json

    if cache is not None and d in cache:
        return cache[d]
    p = os.path.join(table_dir, "data", d, SNAP_BLOOM)
    sc = None
    if os.path.exists(p):
        with open(p) as fh:
            raw = json.load(fh)
        sc = {col: {"m": e["m"], "k": e["k"], "type": e.get("type"),
                    "bits": base64.b64decode(e["bits"])}
              for col, e in raw.items()}
    if cache is not None:
        cache[d] = sc
    return sc


def _snap_bloom_may_match(table_dir: str, d: str, col: str,
                          value, cache: dict | None = None) -> bool:
    """Probe one commit dir's Bloom sidecar for ``col = value``:
    False ONLY when the sidecar proves the value absent.  Missing
    sidecar / untracked column / unprovable probe → True.

    Pruning requires BOTH representations to provably agree: the
    write side hashed Spark's CAST(col AS STRING), so the probe's
    Python str() must match that rendering — which holds only when
    the probe's type matches the column's recorded storage type
    (int probe ↔ integral column, str ↔ string, bool ↔ boolean).
    A cross-typed probe (e.g. int 107 against a double column
    holding 107.0 — Spark renders "107.0") or a legacy sidecar with
    no recorded type never prunes; the residual filter still runs,
    so the answer stays right."""
    import hashlib

    sc = _snap_bloom_load(table_dir, d, cache)
    if sc is None:
        return True
    e = sc.get(col)
    if e is None:
        return True
    ctype = e.get("type")
    if isinstance(value, bool):
        if ctype != "boolean":
            return True
        probe = "true" if value else "false"
    elif isinstance(value, int):
        if ctype not in _SNAP_BLOOM_INT_TYPES:
            return True
        probe = str(value)
    elif isinstance(value, str):
        if ctype != "string":
            return True
        probe = value
    else:
        return True
    m, bits = e["m"], e["bits"]
    positions = [int(hashlib.md5(f"{i}:{probe}".encode())
                     .hexdigest()[:12], 16) % m
                 for i in range(e["k"])]
    return all(bits[pos >> 3] & (1 << (pos & 7)) for pos in positions)


def _snap_commit_stats(spark: SparkSession, data_dir: str) -> dict:
    """Per-commit column min/max for data skipping, computed from
    the files ACTUALLY WRITTEN (read-back, not the input plan, so
    the stats describe what is on disk).  JSON-native orderable
    types only (int/float/string/bool — dates/timestamps are out of
    scope, documented); capped at the first SNAP_STATS_MAX_COLS
    eligible columns, the same bound Delta places on indexed stats
    columns.  A column that is all-NULL in the commit records
    [None, None] — distinguishable from 'no stats collected', and
    prunable under any comparison predicate (NULL never satisfies
    one)."""
    back = spark.read.parquet(data_dir)
    ok = ("tinyint", "smallint", "int", "bigint", "float", "double",
          "string", "boolean")
    cols = [f.name for f in back.schema.fields
            if f.dataType.simpleString() in ok][:SNAP_STATS_MAX_COLS]
    if not cols:
        return {}
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    row = back.agg(*aggs).collect()[0]
    return {c: [row[f"mn_{c}"], row[f"mx_{c}"]] for c in cols}


def write_snapshot(df: DataFrame, table_dir: str,
                   mode: str = "overwrite",
                   tag: str | None = None,
                   dedupe_tag: bool = False,
                   collect_stats: bool = True,
                   bloom_cols: list[str] | None = None,
                   on_violation: str = "fail") -> int | None:
    """Transactional snapshot write — the minimal table-format
    commit protocol (what Delta/Iceberg do under their logs),
    expressed with nothing but parquet + one JSON manifest:

    1. data lands in an immutable, uniquely named commit directory
       (never touching live files — readers of any version are
       undisturbed),
    2. the version manifest (the list of commit dirs that make up
       the snapshot; prior dirs carried forward under ``append``,
       plus the optional idempotency ``tag``) is written COMPLETE to
       a temp file and published by ``os.link`` — the link is atomic
       AND exclusive, so two writers racing to a version cannot both
       win, a reader can never observe a partial manifest, and a
       crash mid-publish leaves no wedged empty claim (the first-cut
       ``open(x)`` + write had exactly that window).  The loser
       re-reads the log and retries at the next version.

    Readers pin a version with ``read_snapshot(..., version=n)`` —
    TIME TRAVEL over the unchanged old commit dirs.  On an object
    store the link maps to a put-if-absent of the full body;
    everything else is identical.  Returns the committed version.

    ``dedupe_tag=True`` (used by ``write_snapshot_tagged``) re-checks
    the tag INSIDE the retry loop: a writer that loses the os.link
    race re-reads the log, and if the tag has meanwhile been
    committed by the racing twin (a zombie driver replaying a
    micro-batch alongside its successor), it aborts — deleting its
    staged commit dir — and returns None instead of double-
    publishing the batch.  A check only BEFORE staging would be
    check-then-commit: the manifest link serializes version numbers,
    not tags.

    ``on_violation`` selects the CHECK-constraint policy when the
    table has registered constraints: ``fail`` (refuse the commit —
    default), ``drop`` (filter violating rows), or ``quarantine``
    (drop + dead-letter them to ``<table>/_quarantine`` with a
    ``__violated`` column) — see ``_validate_constraints``.

    ``bloom_cols`` additionally writes a per-commit Bloom sidecar
    over the named columns (``_snap_commit_bloom``): point (=) reads
    through ``read_snapshot(where=)`` then skip commit dirs whose
    filter proves the value absent — the id-lookup complement to the
    min/max stats, for high-cardinality columns the layout is not
    sorted by."""
    import json
    import shutil
    import uuid

    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown snapshot mode {mode!r}")
    # replayed tag: no-op BEFORE validation so a quarantine-policy
    # replay cannot re-append its dead rows to the DLQ (the in-loop
    # re-check below still closes the concurrent-twin race)
    if dedupe_tag and tag is not None \
            and tag in _committed_tags(table_dir):
        return None
    df = _validate_constraints(df, table_dir, on_violation)
    commit = f"c-{uuid.uuid4().hex[:12]}"
    data_dir = os.path.join(table_dir, "data", commit)
    df.write.mode("error").parquet(data_dir)
    # per-commit min/max stats for read-side data skipping, computed
    # once at write time from the files just written
    stats = (_snap_commit_stats(df.sparkSession, data_dir)
             if collect_stats else {})
    if bloom_cols:
        _snap_commit_bloom(df.sparkSession, data_dir, bloom_cols)
    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    os.makedirs(mdir, exist_ok=True)
    while True:
        vs = _snap_versions(table_dir)
        if dedupe_tag and tag is not None \
                and tag in _committed_tags(table_dir):
            shutil.rmtree(data_dir, ignore_errors=True)
            return None
        version = (vs[-1] + 1) if vs else 1
        dirs = [commit]
        all_stats = {commit: stats}
        seq = {commit: version}
        deletes: list = []
        if mode == "append" and vs:
            # carry forward the prior dirs, their stats, their commit
            # sequence numbers, AND any outstanding equality-delete
            # files — re-read inside the retry loop so a lost race
            # appends onto whatever actually won
            with open(os.path.join(mdir, f"v{vs[-1]}.json")) as fh:
                prior = json.load(fh)
            dirs = prior["dirs"] + dirs
            all_stats = {**prior.get("stats", {}), **all_stats}
            seq = {**prior.get("seq", {}), **seq}
            deletes = _live_deletes(prior.get("deletes", []), dirs, seq)
        man = {"version": version, "mode": mode, "dirs": dirs,
               "stats": all_stats, "seq": seq, "ts": _commit_ts()}
        if deletes:
            man["deletes"] = deletes
        if tag is not None:
            man["tag"] = tag
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as fh:
            json.dump(man, fh)
        try:
            os.link(tmp, os.path.join(mdir, f"v{version}.json"))
            _snap_maybe_checkpoint(table_dir, version)
            return version
        except FileExistsError:
            continue        # lost the race: re-read the log, retry
        finally:
            os.remove(tmp)


# op -> (bounds test over [lo, hi], Column predicate) — ONE table
# for both halves of data skipping, so the prune rule and the
# residual filter cannot drift apart.  "in" takes a LIST/SET of
# values: a dir survives if ANY value may match (an empty list
# matches nothing — every dir prunes, the residual filter agrees).
_SNAP_OPS = {
    "=":  (lambda lo, hi, v: lo <= v <= hi, lambda c, v: c == v),
    "==": (lambda lo, hi, v: lo <= v <= hi, lambda c, v: c == v),
    "<":  (lambda lo, hi, v: lo < v,        lambda c, v: c < v),
    "<=": (lambda lo, hi, v: lo <= v,       lambda c, v: c <= v),
    ">":  (lambda lo, hi, v: hi > v,        lambda c, v: c > v),
    ">=": (lambda lo, hi, v: hi >= v,       lambda c, v: c >= v),
    "in": (lambda lo, hi, v: any(lo <= x <= hi for x in v),
           lambda c, v: c.isin(list(v))),
}


def _snap_dir_may_match(stats: dict, col: str, op: str, value) -> bool:
    """Conservative skip decision for one commit dir: False ONLY
    when the recorded [min, max] proves no row can satisfy
    ``col op value``.  Missing stats → True (dir predates stats, or
    the column was past the indexing cap).  [None, None] (all-NULL
    commit) → False for every comparison (NULL satisfies none).
    Non-ASCII strings → True: Spark orders strings by UTF-8 bytes,
    Python by code point — identical on ASCII, not provably so
    beyond it, and pruning must never be wrong.  NaN anywhere → True:
    Spark's max() propagates NaN (NaN sorts LARGEST there), while
    every Python comparison against NaN is False — so a NaN bound
    would silently prune a dir that contains matching rows."""
    if col not in stats:
        return True
    lo, hi = stats[col]
    if lo is None and hi is None:
        return False
    probes = list(value) if op == "in" else [value]
    for s in (lo, hi, *probes):
        if isinstance(s, str) and not s.isascii():
            return True
        if isinstance(s, float) and s != s:      # NaN bound/probe
            return True
    try:
        return _SNAP_OPS[op][0](lo, hi, value)
    except TypeError:       # cross-type comparison — don't prune
        return True


def _live_deletes(deletes: list, dirs: list, seq: dict) -> list:
    """Drop DEAD equality-delete entries: a delete applies only to
    dirs with a SMALLER sequence number, so once every live dir's
    seq is >= the delete's (the dirs it targeted were rewritten or
    overwritten away), the entry subtracts nothing and carrying it
    would grow the read-side anti-join list without bound.  Dirs
    missing from the seq map default to 0 (pre-feature commits),
    which keeps every delete alive — conservative, never wrong."""
    if not deletes:
        return []
    if not dirs:
        return []
    min_seq = min(seq.get(d, 0) for d in dirs)
    return [e for e in deletes if e["seq"] > min_seq]


def _apply_equality_deletes(spark: SparkSession, table_dir: str,
                            man: dict, base: DataFrame) -> DataFrame:
    """MERGE-ON-READ: subtract the manifest's equality-delete files
    from a data scan.  ``base`` must carry ``__snap_fp`` (the scan's
    ``_metadata.file_path``).  A row from commit dir d is dropped iff
    some delete file with ``seq > seq(d)`` contains its key — the
    Iceberg v2 equality-delete rule, so a key re-inserted AFTER the
    delete survives.  Dirs missing from the ``seq`` map (pre-feature
    commits) default to 0: every delete applies to them.

    Scale shape: delete files are key lists (GDPR-size, not
    table-size) — they BROADCAST into hash anti-joins against the
    one data scan; the per-row sequence number is a map lookup on a
    metadata column, all whole-stage-codegen.  The data side never
    shuffles and is scanned exactly once."""
    dels = man.get("deletes", [])
    if not dels:
        return base.drop("__snap_fp")
    import operator
    from functools import reduce

    seqs = man.get("seq", {})
    # greedy .* pins the LAST /data/ segment: the table path itself
    # may contain a /data/ component
    dircol = F.regexp_extract(F.col("__snap_fp"), r".*/data/([^/]+)/", 1)
    if seqs:
        m = F.create_map(*[F.lit(x) for kv in seqs.items() for x in kv])
        seqcol = F.coalesce(m[dircol], F.lit(0)).cast("bigint")
    else:
        seqcol = F.lit(0).cast("bigint")
    base = base.withColumn("__snap_seq", seqcol)
    groups: dict[tuple, list[dict]] = {}
    for spec in dels:
        groups.setdefault(tuple(spec["key"]), []).append(spec)
    for keys, specs in groups.items():
        parts = []
        for s in specs:
            p = os.path.join(table_dir, "data", s["dir"])
            parts.append(
                spark.read.parquet(p).select(
                    *[F.col(k).alias(f"__dk_{k}") for k in keys],
                    F.lit(int(s["seq"])).cast("bigint").alias("__dseq")))
        dd = parts[0]
        for extra in parts[1:]:
            dd = dd.unionByName(extra)
        cond = reduce(operator.and_,
                      [base[k] == dd[f"__dk_{k}"] for k in keys])
        cond = cond & (dd["__dseq"] > base["__snap_seq"])
        base = base.join(F.broadcast(dd), cond, "left_anti")
    return base.drop("__snap_fp", "__snap_seq")


def read_snapshot(spark: SparkSession, table_dir: str,
                  version: int | None = None,
                  merge_schema: bool = False,
                  where: tuple | None = None,
                  as_of=None, tag: str | None = None) -> DataFrame:
    """Read a pinned snapshot version (default: latest). The
    returned plan lists exactly the manifest's commit dirs, so later
    commits — even overwrites — cannot change what this DataFrame
    scans.  ``merge_schema=True`` unions the commit dirs' parquet
    schemas (SCHEMA EVOLUTION: an appended commit may add columns;
    older commits read them as NULL — additive evolution only, the
    same contract Delta/Iceberg default to).

    ``where=(col, op, value)`` with op in =,<,<=,>,>=,in is DATA
    SKIPPING (``in`` takes a list of values — the batched point
    lookup a GDPR audit or id back-fill runs; a dir survives if any
    value may match its stats/bloom): commit dirs whose manifest
    min/max stats prove no row
    can match are dropped from the scan BEFORE Spark ever lists
    their files (Delta-style file skipping on the store's own
    manifest), and the predicate is then applied to the surviving
    dirs — so the result always equals the unpruned read plus the
    same filter, pruning or not.  On a sorted- or partitioned-write
    table a point lookup scans 1 of N commit dirs; on a table with
    no clustering it degrades to the plain filtered read, never to a
    wrong answer (missing/unprovable stats keep the dir).

    MERGE-ON-READ: when the pinned manifest carries equality-delete
    files (``delete_from_snapshot``), they are subtracted here via
    broadcast anti-joins (``_apply_equality_deletes``) — every reader
    (CDF, MV rebuild, compaction, bench queries) sees the deleted
    rows gone without any data file having been rewritten.  Stats
    pruning stays conservative: a dir whose matching rows were all
    deleted may still be scanned, never the reverse.

    ``where`` also accepts a LIST of (col, op, value) triples,
    AND-combined: a dir survives only if every predicate may match
    it — the two-column point read a z-ordered layout
    (``compact_snapshot_zorder``) exists for.

    ``as_of`` (float epoch seconds, datetime, or ISO string) is
    TIMESTAMP AS OF travel: the read pins the latest version whose
    manifest commit time is at or before the instant
    (``version_as_of``) — mutually exclusive with ``version``."""
    import json

    if sum(x is not None for x in (version, as_of, tag)) > 1:
        raise ValueError("pass version OR as_of OR tag, not both")
    if as_of is not None:
        version = version_as_of(table_dir, as_of)
    if tag is not None:
        version = version_of_tag(table_dir, tag)
    if version is None:
        version = latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no snapshots in {table_dir}")
    with open(os.path.join(table_dir, SNAP_MANIFESTS,
                           f"v{version}.json")) as fh:
        man = json.load(fh)
    dirs = man["dirs"]
    preds = None
    if where is not None:
        preds = [where] if isinstance(where, tuple) else list(where)
        for _, op, _v in preds:
            if op not in _SNAP_OPS:
                raise ValueError(f"unsupported skip predicate op {op!r}")
        st = man.get("stats", {})
        dirs = [d for d in dirs
                if all(_snap_dir_may_match(st.get(d, {}), col, op, value)
                       for col, op, value in preds)]
        # equality and IN-list predicates additionally consult
        # per-dir Bloom sidecars (written via bloom_cols): an
        # unsorted id column whose [min, max] spans every dir still
        # prunes to the dirs whose filter admits some probed value
        eq = ([(c, [v]) for c, op, v in preds if op in ("=", "==")]
              + [(c, list(v)) for c, op, v in preds if op == "in"])
        if eq:
            bcache: dict = {}   # dir -> decoded sidecar, one load each
            dirs = [d for d in dirs
                    if all(any(_snap_bloom_may_match(table_dir, d, c, x,
                                                     cache=bcache)
                               for x in vs) or not vs
                           for c, vs in eq)]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", True)
    mor = bool(man.get("deletes"))

    def _scan(paths):
        df = reader.parquet(*paths)
        if mor:
            # merge-on-read needs each row's commit dir (for its
            # sequence number) — taken from the scan's metadata
            # column, so it costs nothing at the parquet level
            df = df.select("*",
                           F.col("_metadata.file_path").alias("__snap_fp"))
        return df

    if where is not None and len(dirs) < len(man["dirs"]):
        # pruning dropped dirs: the result SCHEMA must still be the
        # unpruned read's (under schema evolution a pruned dir may be
        # the only one carrying a column — without this, the output
        # would lose columns, or the residual filter would fail to
        # resolve).  A limit(0) read of ALL dirs is footer-metadata
        # only; unionByName back-fills the missing columns with NULL,
        # exactly what the unpruned merged read yields for those rows.
        full0 = _scan([os.path.join(table_dir, "data", d)
                       for d in man["dirs"]]).limit(0)
        if dirs:
            base = full0.unionByName(
                _scan([os.path.join(table_dir, "data", d) for d in dirs]),
                allowMissingColumns=True)
        else:
            # every dir provably excluded: empty, correct schema
            base = full0
    else:
        base = _scan([os.path.join(table_dir, "data", d) for d in dirs])
    if mor:
        base = _apply_equality_deletes(spark, table_dir, man, base)
    if preds is not None:
        for col, op, value in preds:
            # raw value, not F.lit: comparisons auto-lit scalars, and
            # "in" needs the Python list for Column.isin
            base = base.filter(_SNAP_OPS[op][1](F.col(col), value))
    return base


SNAP_TOMBSTONES = "_vacuumed_tags.json"


def _committed_tags(table_dir: str) -> set[str]:
    """Every tag ever committed: the manifest-log checkpoint's
    rolled-up tag set, live manifests AFTER the checkpoint (the
    tail), PLUS the tombstone file vacuum leaves behind (a vacuumed
    version's tag must keep suppressing replays, or a stream re-run
    after retention would double-count its batches).  This runs on
    EVERY tagged write — a per-micro-batch streaming pump — so the
    checkpoint turns its cost from O(versions) manifest opens per
    commit into O(tail)."""
    import json

    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    tags: set[str] = set()
    if not os.path.isdir(mdir):
        return tags
    cp = _snap_read_checkpoint(table_dir)
    cp_v = 0
    if cp:
        cp_ts, cp_tags, complete = _cp_maps(table_dir, cp)
        tags.update(cp_tags)
        # an INCOMPLETE rollup (stale pointer whose segments were
        # GC'd, or the interim format) must not shorten the walk: a
        # missing segment could hide a committed tag, and a replayed
        # batch would double-publish — fall back to the full walk
        if complete:
            cp_v = cp["version"]
    for v in _snap_versions(table_dir):
        if v <= cp_v:
            continue
        with open(os.path.join(mdir, f"v{v}.json")) as fh:
            t = json.load(fh).get("tag")
            if t is not None:
                tags.add(t)
    ts = os.path.join(mdir, SNAP_TOMBSTONES)
    if os.path.exists(ts):
        with open(ts) as fh:
            tags.update(json.load(fh))
    return tags


def write_snapshot_tagged(df: DataFrame, table_dir: str, tag: str,
                          mode: str = "append",
                          collect_stats: bool = True,
                          bloom_cols: list[str] | None = None,
                          on_violation: str = "fail") -> int | None:
    """Replay-safe snapshot commit for streaming ``foreachBatch``
    sinks: ``tag`` (e.g. ``batch-{batch_id}``) is recorded IN the
    atomically published manifest, and a commit whose tag already
    exists in the log (or in the vacuum tombstones) is a no-op — so
    a micro-batch re-delivered after a crash cannot publish a second
    version: a crash before publish left nothing behind (re-commit
    is correct), a crash after publish left the tag in place
    (re-commit is suppressed).  The exactly-once property the
    persisted_* rollup sinks get from dynamic partition overwrite,
    at table-commit granularity.  Returns the committed version, or
    None when the tag was already committed.

    The tag check runs twice: here (fast path — skip staging
    entirely) AND inside ``write_snapshot``'s publish-retry loop
    (``dedupe_tag=True``), which closes the check-then-commit window
    where two concurrent writers with the same tag both pass this
    precheck: the one that loses the manifest-link race re-reads the
    log, sees the tag, and aborts instead of publishing a second
    tagged version.

    ``on_violation`` carries the table's CHECK-constraint policy into
    the streaming path — ``quarantine`` is the expectations contract
    for ingest (a malformed event dead-letters instead of failing the
    stream).  The tag precheck running BEFORE validation matters
    here: a replayed batch no-ops without re-appending its dead rows
    to the quarantine table, so DLQ duplication is confined to the
    crash window write_snapshot documents, never ordinary replays."""
    if tag in _committed_tags(table_dir):
        return None
    return write_snapshot(df, table_dir, mode=mode, tag=tag,
                          dedupe_tag=True, collect_stats=collect_stats,
                          bloom_cols=bloom_cols,
                          on_violation=on_violation)


def version_of_tag(table_dir: str, tag: str) -> int:
    """Resolve a commit tag to its version — tag-based time travel
    (Iceberg's named refs): tags are unique (the idempotent-write
    contract suppresses re-commits), so the first match wins.  Walks
    the SURVIVING manifests newest-first — recent tags resolve in
    O(recency); a vacuumed tag raises (its version is gone; the tag
    itself lives on in the tombstones only to suppress replays).
    This is an interactive-read path, not a per-commit one — the
    checkpoint keeps the per-commit paths (version_as_of,
    _committed_tags) O(tail), and deliberately stores only the tag
    SET, not a version map."""
    import json

    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    for v in reversed(_snap_versions(table_dir)):
        try:
            with open(os.path.join(mdir, f"v{v}.json")) as fh:
                if json.load(fh).get("tag") == tag:
                    return v
        except (OSError, ValueError):
            continue    # vacuumed between listdir and open, or torn
    raise ValueError(f"no surviving snapshot of {table_dir} carries "
                     f"tag {tag!r} (never committed, or vacuumed)")


def restore_snapshot(table_dir: str, version: int) -> int:
    """Delta-style RESTORE TABLE ... TO VERSION AS OF: commit a NEW
    version whose content IS an earlier version's — METADATA-ONLY.
    The new manifest re-references the old version's commit dirs,
    stats, sequence numbers, and outstanding equality-delete files
    verbatim; zero data moves, so the operation is O(manifest) at
    any table size (the shape Delta/Iceberg RESTORE has — a rewrite
    would be O(table)).  History is preserved: the restored-over
    versions remain readable via time travel, and vacuum keeps every
    data dir the restore manifest references live (its survivor scan
    walks manifest ``dirs``).  Constraint validation is skipped by
    design — RESTORE republishes rows exactly as a previous commit
    validated them.  Raises if the target version's manifest is
    vacuumed/absent (loud, like reading a vacuumed version).
    Returns the new version."""
    import json
    import uuid

    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    src = os.path.join(mdir, f"v{version}.json")
    if not os.path.exists(src):
        raise ValueError(f"cannot restore {table_dir} to version "
                         f"{version}: manifest is vacuumed or absent")
    with open(src) as fh:
        old = json.load(fh)
    while True:
        vs = _snap_versions(table_dir)
        new_v = (vs[-1] + 1) if vs else 1
        man = {"version": new_v, "mode": "restore",
               "dirs": old["dirs"], "stats": old.get("stats", {}),
               "seq": old.get("seq", {}), "ts": _commit_ts(),
               "restored_from": version}
        if old.get("deletes"):
            man["deletes"] = old["deletes"]
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as fh:
            json.dump(man, fh)
        try:
            os.link(tmp, os.path.join(mdir, f"v{new_v}.json"))
            _snap_maybe_checkpoint(table_dir, new_v)
            return new_v
        except FileExistsError:
            continue        # lost the race: re-read the log, retry
        finally:
            os.remove(tmp)


def clone_snapshot(src_dir: str, dst_dir: str,
                   version: int | None = None) -> int:
    """Delta-style SHALLOW CLONE: create a NEW table whose v1
    manifest references the source version's commit dirs IN PLACE —
    metadata-only, O(manifest bytes) at any table size, zero data
    movement, zero Spark jobs (the same shape as restore_snapshot).
    The clone's dir entries are paths RELATIVE to its own data/
    root, so every existing reader (read_snapshot incl. stats/bloom
    pruning, CDF, compaction, z-order) resolves them with the
    unchanged ``os.path.join(table_dir, "data", d)`` — no reader
    changes at all.  After the clone the two tables diverge freely:
    appends/overwrites/deletes on either side never touch the
    other's manifests, and the clone's vacuum can never delete
    source data (its survivor scan only removes children of its OWN
    data/ directory, which external refs are not).

    Sequence numbers: every cloned dir enters the clone's lineage at
    seq 0 — exact, because nothing in the clone can predate the
    clone, so any clone-side equality delete (seq ≥ 2) applies to
    all cloned rows, and a post-delete re-insert still wins.  (The
    MOR reader's dir-basename seq lookup misses relative keys and
    defaults to 0 — the same value — so both paths agree.)

    Two refusals, both loud: the target must be snapshot-free (a
    clone is a NEW table, not a merge), and the source version must
    carry no live equality deletes (run compact_snapshot first to
    materialize them; re-pointing delete files across tables is not
    worth the seq-map ambiguity).  Like Delta shallow clones,
    vacuuming the SOURCE can remove dirs a clone still references —
    the documented retention caveat; compact the clone to
    materialize it and drop the dependency.  Returns the clone's
    version (always 1)."""
    import json
    import uuid

    if version is None:
        version = latest_version(src_dir)
        if version is None:
            raise FileNotFoundError(f"no snapshots in {src_dir}")
    src_man = os.path.join(src_dir, SNAP_MANIFESTS, f"v{version}.json")
    if not os.path.exists(src_man):
        raise ValueError(f"cannot clone {src_dir} at version "
                         f"{version}: manifest is vacuumed or absent")
    with open(src_man) as fh:
        man = json.load(fh)
    if man.get("deletes"):
        raise ValueError(
            "shallow clone requires a delete-free source version — "
            "run compact_snapshot on the source first")
    if _snap_versions(dst_dir):
        raise ValueError(f"clone target {dst_dir} already has "
                         "snapshots")
    dst_data = os.path.join(dst_dir, "data")
    os.makedirs(dst_data, exist_ok=True)
    rel = os.path.relpath(os.path.join(src_dir, "data"), dst_data)
    dirs = [os.path.join(rel, d) for d in man["dirs"]]
    stats = {os.path.join(rel, d): man.get("stats", {}).get(d, {})
             for d in man["dirs"]}
    new_man = {"version": 1, "mode": "clone", "dirs": dirs,
               "stats": stats, "seq": {d: 0 for d in dirs},
               "ts": _commit_ts(),
               "cloned_from": {"table": os.path.abspath(src_dir),
                               "version": version}}
    mdir = os.path.join(dst_dir, SNAP_MANIFESTS)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as fh:
        json.dump(new_man, fh)
    try:
        os.link(tmp, os.path.join(mdir, "v1.json"))
    except FileExistsError:
        raise ValueError(f"clone target {dst_dir} already has "
                         "snapshots") from None
    finally:
        os.remove(tmp)
    return 1


def snapshot_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY for the snapshot store: the manifest log as
    a DataFrame — one row per live (un-vacuumed) version with its
    commit mode, commit-dir count, commit timestamp, idempotency
    tag, and lineage annotations (restore source version / clone
    origin).  Pure metadata: O(live versions) manifest reads on the
    driver, zero data files touched — the audit-trail read every
    table format exposes (Delta DESCRIBE HISTORY, Iceberg
    ``snapshots``).  Rows arrive version-ascending."""
    import json

    rows = []
    for v in _snap_versions(table_dir):
        with open(os.path.join(table_dir, SNAP_MANIFESTS,
                               f"v{v}.json")) as fh:
            man = json.load(fh)
        cloned = man.get("cloned_from") or {}
        rows.append((int(man["version"]), man.get("mode"),
                     len(man["dirs"]),
                     len(man.get("deletes", [])),
                     float(man["ts"]) if "ts" in man else None,
                     man.get("tag"),
                     man.get("restored_from"),
                     cloned.get("table")))
    return spark.createDataFrame(
        rows, "version int, mode string, n_dirs int, n_deletes int, "
              "commit_ts double, tag string, restored_from int, "
              "cloned_from string")


def compact_snapshot_zorder(spark: SparkSession, table_dir: str,
                            x_col, y_col,
                            n_dirs: int = 8,
                            bloom_cols: list[str] | None = None) -> int:
    """OPTIMIZE ZORDER BY for snapshot tables: rewrite the latest
    version into ``n_dirs`` commit dirs that each cover one range of
    the Morton key of (x_col, y_col), published together as ONE
    overwrite version.  Plain ``compact_snapshot(sort_by=)`` tightens
    MANIFEST min/max stats on one column; z-range DIRS make the
    manifest pruner (``read_snapshot(where=...)``) selective on BOTH
    columns — a point predicate on either key now skips most commit
    dirs before Spark lists a file, the Delta `OPTIMIZE ZORDER`
    effect expressed on the store's own manifest.  Outstanding
    equality deletes are applied by the rewrite (MOR-aware read) and
    the fresh manifest carries none.

    Layout mechanics: one Spark job writes the whole rewrite
    partitioned by z-bucket (bucket bounds from approxQuantile over
    the z key — sampled, so skewed keys still yield balanced dirs);
    the bucket subdirs are then RENAMED into data/ as ordinary
    commit dirs and the manifest publishes through the same atomic
    os.link as every commit.  Time travel over prior versions is
    untouched.

    ``x_col``/``y_col`` take a name or a Column: bit interleaving
    only balances dimensions of COMPARABLE ranges (the Morton key's
    top bits all come from whichever input spans more bits, which
    degenerates to single-column clustering) — when ranges differ,
    pass a normalizing expression for the wider one, e.g.
    ``F.floor(F.col("o_orderkey") / 10)`` against a 10×-narrower
    custkey.  Stats (and therefore pruning) are always on the REAL
    columns, read back from the written files.

    ``bloom_cols`` re-creates per-dir Bloom sidecars on the z-range
    dirs (a rewrite drops the input dirs' sidecars): the z-order
    layout prunes RANGE predicates on the two Morton inputs, and the
    sidecars keep point lookups on an unclustered id column pruning
    too — the two skip structures compose per dir."""
    import json
    import shutil
    import uuid

    from .functions.zorder import zvalue

    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    with open(os.path.join(table_dir, SNAP_MANIFESTS,
                           f"v{version}.json")) as fh:
        base_man = json.load(fh)
    df = read_snapshot(spark, table_dir, version=version,
                       merge_schema=True)
    xc = F.col(x_col) if isinstance(x_col, str) else x_col
    yc = F.col(y_col) if isinstance(y_col, str) else y_col
    keyed = df.withColumn("__z", zvalue(xc, yc))
    cuts = keyed.stat.approxQuantile(
        "__z", [i / n_dirs for i in range(1, n_dirs)], 0.01)
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + F.when(F.col("__z") > F.lit(c), 1).otherwise(0)
    staging = os.path.join(table_dir, "data",
                           f".zstage-{uuid.uuid4().hex[:12]}")
    dirs, stats = [], {}
    try:
        (keyed.withColumn("__zb", bucket)
         .repartition(n_dirs, "__zb")
         .sortWithinPartitions("__zb", "__z")
         .drop("__z")
         .write.partitionBy("__zb").mode("error").parquet(staging))
        # stats are computed on the staging subdirs FIRST (read-back
        # is path-independent), so the renames into data/ are the
        # final step — any failure before them leaves nothing outside
        # staging for the finally below to miss
        pending = []
        for sub in sorted(os.listdir(staging)):
            if not sub.startswith("__zb="):
                continue
            if bloom_cols:
                _snap_commit_bloom(spark, os.path.join(staging, sub),
                                   bloom_cols)
            pending.append((sub, f"c-{uuid.uuid4().hex[:12]}",
                            _snap_commit_stats(
                                spark, os.path.join(staging, sub))))
        for sub, commit, st in pending:
            os.rename(os.path.join(staging, sub),
                      os.path.join(table_dir, "data", commit))
            dirs.append(commit)
            stats[commit] = st
    finally:
        # a failed write/rename must not orphan the staging dir under
        # data/ until vacuum's age-gated reaper finds it
        shutil.rmtree(staging, ignore_errors=True)
    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    while True:
        vs = _snap_versions(table_dir)
        new_v = vs[-1] + 1
        if vs[-1] != version:
            # a commit landed after the rewrite read.  Compaction is
            # only content-neutral against the state it READ: if the
            # latest manifest's dirs or deletes differ from the base
            # version's, publishing would silently drop the winner's
            # commit (last-writer-wins) — abort like merge does, the
            # staged dirs are unreferenced and removed.
            with open(os.path.join(mdir, f"v{vs[-1]}.json")) as fh:
                cur = json.load(fh)
            if (cur["dirs"] != base_man["dirs"]
                    or cur.get("deletes", []) !=
                    base_man.get("deletes", [])):
                for d in dirs:
                    shutil.rmtree(os.path.join(table_dir, "data", d),
                                  ignore_errors=True)
                raise ConcurrentSnapshotCompaction(
                    f"{table_dir} changed concurrently (v{version} → "
                    f"v{vs[-1]}); z-order rewrite computed against "
                    f"v{version} aborted")
        man = {"version": new_v, "mode": "overwrite", "dirs": dirs,
               "stats": stats, "seq": {d: new_v for d in dirs},
               "ts": _commit_ts()}
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as fh:
            json.dump(man, fh)
        try:
            os.link(tmp, os.path.join(mdir, f"v{new_v}.json"))
            _snap_maybe_checkpoint(table_dir, new_v)
            return new_v
        except FileExistsError:
            continue        # lost the race: re-check content, retry
        finally:
            os.remove(tmp)


def compact_snapshot(spark: SparkSession, table_dir: str,
                     sort_by: str | None = None,
                     bloom_cols: list[str] | None = None) -> int | None:
    """OPTIMIZE for snapshot tables: rewrite the LATEST version's
    commit dirs (accumulated by many small appends/merges — the
    small-files problem every log-structured table grows) into ONE
    fresh commit dir, published as a new overwrite version with the
    identical row multiset.  Old versions keep their dirs — time
    travel is untouched; retention (vacuum_snapshots) reclaims them
    on its own schedule.

    ``sort_by`` additionally CLUSTERS the rewrite (repartitionByRange
    + sortWithinPartitions on the column), which tightens the
    manifest min/max stats that both read-side data skipping and
    MERGE's dir-level pruning key on — the OPTIMIZE ZORDER analogue
    on one dimension (compose with functions/zorder.zorder_key for
    multi-column layouts).

    ``bloom_cols`` re-creates the point-lookup Bloom sidecar on the
    rewritten commit dir: a rewrite DROPS the input dirs' sidecars
    (they are per-dir and immutable), so without this an OPTIMIZE on
    a bloom-indexed table silently turns its id point reads back
    into full scans.

    Returns the new version, or None when the latest version already
    has a single commit dir and no sort was requested (nothing to
    do).  Content neutrality is pinned by tests; note a downstream
    MV sees changed dirs and takes its full-rebuild path — correct,
    and the reason to schedule compaction between refresh cycles,
    not inside them."""
    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    import json

    with open(os.path.join(table_dir, SNAP_MANIFESTS,
                           f"v{version}.json")) as fh:
        man = json.load(fh)
    if len(man["dirs"]) <= 1 and not man.get("deletes") \
            and sort_by is None:
        return None
    # read_snapshot is merge-on-read aware: outstanding equality
    # deletes are applied here and MATERIALIZED AWAY by the rewrite —
    # the fresh overwrite manifest carries no deletes, so compaction
    # is also how a delete-heavy table sheds its read-side anti-joins
    df = read_snapshot(spark, table_dir, version=version,
                       merge_schema=True)
    if sort_by is not None:
        df = (df.repartitionByRange(F.col(sort_by))
              .sortWithinPartitions(sort_by))
    return write_snapshot(df, table_dir, mode="overwrite",
                          bloom_cols=bloom_cols)


def snapshot_changes(spark: SparkSession, table_dir: str,
                     v_from: int, v_to: int) -> DataFrame:
    """CHANGE DATA FEED between two pinned versions: the multiset
    delta ``state(v_to) − state(v_from)`` as one row per distinct
    changed row with ``_change_type`` ('insert' | 'delete') and
    ``_n`` (how many copies appeared/disappeared) — what Delta's
    table_changes exposes, derived here from nothing but the
    manifests and commit dirs.

    Three physical paths, ONE logical relation (pinned equal by
    tests/test_snapshot_changes.py, and trivially so: all group the
    same multiset difference):

    - APPEND FAST PATH — every manifest in (v_from, v_to] exists and
      is mode 'append': the delta is exactly the rows of the commit
      dirs added in the range, so only THOSE dirs are scanned (at
      100 TB: the micro-batches, not the lake) and every change is
      an insert.
    - DELETE FAST PATH — the range is equality-delete commits only
      (dirs unchanged): the delta is the v_from-visible rows whose
      keys the NEW delete files carry — one pinned merge-on-read
      scan plus broadcast semi-joins, every change a 'delete'.
    - GENERAL PATH — an overwrite or merge commit in the range, a
      mixed range, or a vacuumed intermediate manifest (chain
      unverifiable): exact multiset diff of the two pinned reads,
      computed join-free by tagging each side ±1 and summing per
      whole-row group (one shuffle on the row values).

    Deletes in a merge commit surface as 'delete' rows; an updated
    row is a delete of the old values plus an insert of the new —
    row-identity CDC (update pairing) needs a declared primary key,
    which the store does not track (documented limit).  Rows must be
    groupable (no map-typed columns)."""
    if not 0 < v_from <= v_to:
        raise ValueError(f"bad version range {v_from}..{v_to}")
    import json

    mdir = os.path.join(table_dir, SNAP_MANIFESTS)

    def _man(v: int) -> dict | None:
        p = os.path.join(mdir, f"v{v}.json")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    chain = [_man(v) for v in range(v_from, v_to + 1)]
    append_only = (all(m is not None for m in chain)
                   and all(m["mode"] == "append" for m in chain[1:]))
    if append_only:
        base = set(chain[0]["dirs"])
        delta = [d for d in chain[-1]["dirs"] if d not in base]
        if not delta:
            # merge_schema: all three paths (this empty fast path, the
            # non-empty fast path, the general diff) must agree on the
            # evolved column set or an empty range returns a narrower
            # schema and breaks downstream unions.
            empty = read_snapshot(spark, table_dir, version=v_to,
                                  merge_schema=True).limit(0)
            return empty.select(
                "*", F.lit("insert").alias("_change_type"),
                F.lit(0).cast("bigint").alias("_n"))
        rows = spark.read.option("mergeSchema", True).parquet(
            *[os.path.join(table_dir, "data", d) for d in delta])
        return (rows.groupBy(*rows.columns)
                .agg(F.count(F.lit(1)).alias("_n"))
                .select(*rows.columns,
                        F.lit("insert").alias("_change_type"), "_n"))
    delete_only = (all(m is not None for m in chain)
                   and all(m["mode"] == "delete" for m in chain[1:])
                   and chain[-1]["dirs"] == chain[0]["dirs"])
    if delete_only and len(chain) > 1:
        # DELETE FAST PATH — the range is equality-delete commits
        # only (the GDPR-stream shape): the delta is exactly the
        # v_from-visible rows whose key a NEW delete file carries, so
        # ONE pinned MOR read plus broadcast semi-joins replaces the
        # general path's two reads and whole-row shuffle.  Entries
        # already in v_from's manifest cannot re-delete (their rows
        # are gone from the pinned read); commit-time dead-entry
        # pruning never drops an entry inside an all-delete range
        # (dirs — and therefore the min sequence — are unchanged).
        have = {e["dir"] for e in chain[0].get("deletes", [])}
        new_dels = [e for e in chain[-1].get("deletes", [])
                    if e["dir"] not in have]
        if not new_dels:
            base = read_snapshot(spark, table_dir, version=v_from,
                                 merge_schema=True)
            return base.limit(0).select(
                "*", F.lit("delete").alias("_change_type"),
                F.lit(0).cast("bigint").alias("_n"))
        groups: dict[tuple, list[dict]] = {}
        for e in new_dels:
            groups.setdefault(tuple(e["key"]), []).append(e)
        where = None
        if len(groups) == 1:
            # single key tuple (the GDPR shape): bound the pinned MOR
            # scan by the delete keys so manifest pruning cuts the
            # base read to the dirs that can hold a deleted key — on
            # a key-clustered table the delta costs a dir SUBSET, not
            # a table scan.  A small SINGLE-column key set rides an
            # IN-list predicate (exact per-value stats AND bloom-
            # sidecar pruning); larger or composite keys fall back to
            # [min, max] bounds.  Multi-group ranges keep the
            # unpruned read (a row may match a later group's keys
            # outside the first group's bounds).
            (g_keys, g_specs), = groups.items()
            kd = spark.read.parquet(
                *[os.path.join(table_dir, "data", e["dir"])
                  for e in g_specs])
            where = None
            if len(g_keys) == 1:
                k = g_keys[0]
                vals = [r[0] for r in kd.select(k).distinct()
                        .limit(SNAP_IN_PRUNE_CAP + 1).collect()]
                if 0 < len(vals) <= SNAP_IN_PRUNE_CAP \
                        and all(v is not None for v in vals):
                    where = [(k, "in", vals)]
            if where is None:
                b = kd.agg(*[f for k in g_keys
                             for f in (F.min(k).alias(f"__lo_{k}"),
                                       F.max(k).alias(f"__hi_{k}"))]) \
                    .collect()[0]
                where = [p for k in g_keys
                         if b[f"__lo_{k}"] is not None
                         for p in ((k, ">=", b[f"__lo_{k}"]),
                                   (k, "<=", b[f"__hi_{k}"]))]
        base = read_snapshot(spark, table_dir, version=v_from,
                             merge_schema=True, where=where or None)
        matched, rest = None, base
        for keys, specs in groups.items():
            dd = spark.read.parquet(
                *[os.path.join(table_dir, "data", e["dir"])
                  for e in specs]).select(*keys).distinct()
            hit = rest.join(F.broadcast(dd), list(keys), "left_semi")
            matched = hit if matched is None \
                else matched.unionByName(hit)
            if len(groups) > 1:      # later groups must not re-count
                rest = rest.join(F.broadcast(dd), list(keys),
                                 "left_anti")
        return (matched.groupBy(*matched.columns)
                .agg(F.count(F.lit(1)).alias("_n"))
                .select(*matched.columns,
                        F.lit("delete").alias("_change_type"), "_n"))
    a = read_snapshot(spark, table_dir, version=v_from,
                      merge_schema=True)
    b = read_snapshot(spark, table_dir, version=v_to, merge_schema=True)
    # allowMissingColumns: additive schema evolution means either
    # pinned version may lack columns the other has — a missing
    # column diffs as NULL, exactly what the evolved read yields
    tagged = (a.withColumn("__d", F.lit(-1))
              .unionByName(b.withColumn("__d", F.lit(1)),
                           allowMissingColumns=True))
    cols = [c for c in tagged.columns if c != "__d"]
    net = (tagged.groupBy(*cols)
           .agg(F.sum("__d").cast("bigint").alias("__net"))
           .filter(F.col("__net") != 0))
    return net.select(
        *cols,
        F.when(F.col("__net") > 0, "insert").otherwise("delete")
        .alias("_change_type"),
        F.abs(F.col("__net")).alias("_n"))


def pump_changes(spark: SparkSession, src_dir: str,
                 out_dir: str, on_violation: str = "fail") -> list[int]:
    """CONTINUOUS CDC: materialize the change-data-feed of every
    source version not yet pumped into ``out_dir`` — itself a
    snapshot table of change rows — one TAGGED append per source
    version.  The tag ``cdf-v{n}`` is both the WATERMARK (the next
    run reads the committed tags, including vacuum tombstones, and
    resumes after the highest) and the IDEMPOTENCY key (a replayed
    or concurrently-racing pump finds the tag and no-ops), so
    scheduling this at-least-once — cron, Airflow retry, a
    foreachBatch hook — yields an exactly-once change log.  Version
    1 pumps as the initial snapshot (every row an 'insert'); later
    versions pump ``snapshot_changes(v-1, v)``, inheriting its three
    physical paths (append/delete fast paths, general diff).  Each
    batch carries ``_src_version``.

    Retention contract (same as the snapshot STREAM): pumping
    version v needs manifest v-1, so run the pump inside the
    source's vacuum horizon — a vacuumed gap raises instead of
    silently skipping changes.  Returns the versions pumped.

    ``on_violation`` is the OUT table's CHECK-constraint policy (the
    change log can carry expectations like any snapshot table);
    ``quarantine`` dead-letters malformed change rows instead of
    halting the pump."""
    import re

    src_latest = latest_version(src_dir)
    if src_latest is None:
        raise FileNotFoundError(f"no snapshots in {src_dir}")
    done = {int(m.group(1)) for t in _committed_tags(out_dir)
            if (m := re.fullmatch(r"cdf-v(\d+)", t))}
    start = max(done) + 1 if done else 1
    pumped: list[int] = []
    for v in range(start, src_latest + 1):
        if v == 1:
            rows = read_snapshot(spark, src_dir, version=1,
                                 merge_schema=True)
            ch = (rows.groupBy(*rows.columns)
                  .agg(F.count(F.lit(1)).alias("_n"))
                  .select(*rows.columns,
                          F.lit("insert").alias("_change_type"), "_n"))
        else:
            ch = snapshot_changes(spark, src_dir, v - 1, v)
        out = ch.select("*", F.lit(v).cast("bigint")
                        .alias("_src_version"))
        write_snapshot_tagged(out, out_dir, f"cdf-v{v}", mode="append",
                              collect_stats=False,
                              on_violation=on_violation)
        pumped.append(v)
    return pumped


class ConcurrentSnapshotCompaction(RuntimeError):
    """A z-order compaction lost the manifest race to a concurrent
    commit that changed the table's content (dirs or deletes) after
    the rewrite read.  Publishing the rewrite would silently drop the
    winner's rows — the compaction aborts (staged commit dirs
    removed) and the caller re-runs against the new latest.  A
    content-neutral intervening commit (e.g. an empty merge that
    carried every dir forward) does NOT abort: the rewrite is still
    an exact snapshot of the latest state."""


class ConcurrentSnapshotMerge(RuntimeError):
    """A snapshot MERGE lost the manifest race to a concurrent
    commit.  The merged data was computed against a version that is
    no longer latest, so publishing it could silently drop the
    winner's rows — the merge aborts (staged dir removed) and the
    caller retries against the new latest.  This is the
    write-serializable conflict behavior of real table formats, not
    an internal error."""


def merge_into_snapshot(spark: SparkSession, table_dir: str,
                        source: DataFrame, key: str,
                        op_col: str = "op",
                        tag: str | None = None) -> int | None:
    """Row-level ``MERGE INTO`` on a snapshot table — copy-on-write
    at COMMIT-DIR granularity, the way Delta/Iceberg rewrite only
    the files a merge touches:

    1. the change set's key range [min, max] is computed (one tiny
       aggregate over the CDC batch — never the table);
    2. each commit dir of the latest version is classified from its
       manifest min/max stats alone: dirs that provably contain no
       source key are CARRIED FORWARD untouched (no read, no
       rewrite); the rest are the rewrite set (missing stats →
       conservatively rewritten);
    3. only the rewrite set is read, merged with the U/D/I batch
       (operators/merge.merge_into — its matched/unmatched matrix,
       including unmatched-U drop, applies verbatim), and staged as
       ONE new commit dir;
    4. the new manifest (carried dirs + the new dir, carried stats +
       fresh stats) publishes through the same atomic os.link as
       every other commit.  Mode is recorded as ``"merge"``.

    Scale: a merge on a key-clustered table reads and rewrites only
    the overlapping dirs — the 100 TB shape; on an unclustered table
    it degrades to a full copy-on-write rewrite, never to a wrong
    answer.  Unmatched inserts are safe under pruning: if key k
    lives in dir d, d's stats bracket k, so d is always in the
    rewrite set — a key absent from every rewritten dir is absent
    from the table.

    Concurrency: losing the manifest race raises
    :class:`ConcurrentSnapshotMerge` instead of retrying — the merge
    result depends on the version it read, so a blind retry after a
    conflicting commit would be write skew.  ``tag`` gives replayed
    merges (streaming ``foreachBatch``) the same idempotency as
    ``write_snapshot_tagged``.

    Downstream contracts: an MV over the table detects the merge
    (rewritten dirs leave the manifest, so the append-only subset
    check fails) and falls back to a full rebuild; the snapshot
    STREAM emits the new dir's full content without retracting the
    replaced dirs' rows — the same no-retraction re-sync contract an
    overwrite commit already has (documented in snapshotstream.py).

    NULL source keys are rejected: NULL never equals any key, so
    such rows could only dead-letter (D/U) or create an unmatchable
    row (I) — Delta raises on them too.
    """
    import json
    import shutil
    import uuid

    from .operators.merge import merge_into

    version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    if tag is not None and tag in _committed_tags(table_dir):
        return None
    bounds = source.agg(
        F.count(F.when(F.col(key).isNull(), 1)).alias("nulls"),
        F.min(key).alias("lo"), F.max(key).alias("hi")).collect()[0]
    if bounds["nulls"]:
        raise ValueError(f"MERGE source has {bounds['nulls']} NULL "
                         f"{key!r} keys")
    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    with open(os.path.join(mdir, f"v{version}.json")) as fh:
        man = json.load(fh)
    st = man.get("stats", {})
    lo, hi = bounds["lo"], bounds["hi"]
    rewrite, carried = [], []
    for d in man["dirs"]:
        ds = st.get(d, {})
        # overlap test: dir may hold a key in [lo, hi] ⇔ it may hold
        # a key >= lo AND a key <= hi.  An empty source (lo is None
        # after the NULL-key rejection ⇒ zero rows) matches nothing
        # and inserts nothing: every dir carries forward and the
        # commit is an empty rewrite — NOT a full-table copy.
        if lo is not None and (_snap_dir_may_match(ds, key, ">=", lo)
                               and _snap_dir_may_match(ds, key, "<=", hi)):
            rewrite.append(d)
        else:
            carried.append(d)
    if rewrite:
        # mergeSchema: under additive evolution the rewrite dirs can
        # have heterogeneous schemas; a footer-inferred read would
        # silently drop columns absent from the sampled file and the
        # rewritten commit would persist that loss.
        target = (spark.read.option("mergeSchema", True)
                  .parquet(*[os.path.join(table_dir, "data", d)
                             for d in rewrite])
                  .select("*", F.col("_metadata.file_path")
                          .alias("__snap_fp")))
        # outstanding equality deletes apply to the rewrite read, or
        # the rewritten dir (whose sequence number EXCEEDS theirs)
        # would resurrect deleted rows
        target = _apply_equality_deletes(spark, table_dir, man, target)
    else:
        target = read_snapshot(spark, table_dir, version=version,
                               merge_schema=True).limit(0)
    merged = merge_into(target, source, key, op_col=op_col)
    # the merge's OWN rows must honor the table's CHECK constraints
    # (an upsert can introduce violating values the append path would
    # have refused); MERGE is always fail-policy — dropping rows from
    # a rewrite would silently delete pre-existing data.  Validation
    # scopes to rows whose key is in the source batch (the rows this
    # merge inserted or updated): pre-existing rows written before a
    # constraint was registered are NOT re-validated, matching the
    # set_snapshot_constraint contract — otherwise one legacy
    # violating row would permanently refuse every future merge with
    # no path to fix the data via merge itself.  The source is
    # CDC-batch-sized, so the semi-join broadcasts.
    _validate_constraints(
        merged.join(F.broadcast(source.select(key).dropDuplicates()),
                    key, "left_semi"),
        table_dir)
    commit = f"c-{uuid.uuid4().hex[:12]}"
    data_dir = os.path.join(table_dir, "data", commit)
    merged.write.mode("error").parquet(data_dir)
    stats = _snap_commit_stats(spark, data_dir)
    prior_seq = man.get("seq", {})
    new_man = {"version": version + 1, "mode": "merge",
               "ts": _commit_ts(),
               "dirs": carried + [commit],
               "stats": {**{d: st[d] for d in carried if d in st},
                         commit: stats},
               # carried dirs keep their sequence numbers (outstanding
               # deletes still apply to them); the rewritten dir is
               # post-delete clean, so its FRESH seq is correct
               "seq": {**{d: prior_seq[d] for d in carried
                          if d in prior_seq},
                       commit: version + 1}}
    live_dels = _live_deletes(man.get("deletes", []),
                              new_man["dirs"], new_man["seq"])
    if live_dels:
        new_man["deletes"] = live_dels
    if tag is not None:
        new_man["tag"] = tag
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as fh:
        json.dump(new_man, fh)
    try:
        os.link(tmp, os.path.join(mdir, f"v{version + 1}.json"))
        _snap_maybe_checkpoint(table_dir, version + 1)
        return version + 1
    except FileExistsError:
        shutil.rmtree(data_dir, ignore_errors=True)
        # the race we lost may have been our own replayed twin (same
        # tag): that is the write_snapshot_tagged no-op contract, not
        # a conflict — only a FOREIGN commit aborts with an error
        if tag is not None and tag in _committed_tags(table_dir):
            return None
        raise ConcurrentSnapshotMerge(
            f"version {version + 1} of {table_dir} was committed "
            f"concurrently; merge computed against v{version} aborted")
    finally:
        os.remove(tmp)


def delete_from_snapshot(spark: SparkSession, table_dir: str,
                         keys_df: DataFrame, key: str | list[str],
                         tag: str | None = None) -> int | None:
    """MERGE-ON-READ delete — the third write path next to COW MERGE
    and overwrite: an EQUALITY-DELETE commit (Iceberg v2 semantics)
    that stores only the deleted KEYS and touches zero data files.

    ``keys_df`` holds the key values to delete (its ``key`` column(s)
    are taken, de-duplicated); the commit publishes a manifest of
    mode ``"delete"`` whose ``dirs`` are unchanged and whose
    ``deletes`` list grows by one entry ``{dir, key, seq}``.  Readers
    subtract the keys at scan time (``_apply_equality_deletes``):
    a data row is dropped iff a delete file with a HIGHER sequence
    number carries its key, so rows appended after the delete —
    including re-inserts of a deleted key — survive.  NULL keys are
    rejected (NULL equals no key; same rule as MERGE).

    Scale: this is the GDPR shape — deleting one user from a 100 TB
    table writes a kilobyte-sized key file and one manifest; the cost
    moves to reads (one broadcast anti-join) until ``compact_snapshot``
    or a covering MERGE materializes the deletes away.  Copy-on-write
    (``merge_into_snapshot`` with D rows) remains the right call when
    deletes are large or reads vastly outnumber writes.

    Concurrency: a lost manifest race REBASES onto the new latest and
    retries (like append) — the commit means "delete these keys as of
    commit time", so applying it after a racing append correctly also
    deletes matching rows that append introduced.  This is the
    opposite choice from MERGE, whose result is computed FROM a
    pinned version and must abort instead.  ``tag`` dedupes replays.

    Downstream: an MV refresh sees a changed ``deletes`` list and
    takes its full-rebuild path; the CDF general path diffs MOR reads
    so deletions surface as 'delete' rows; the snapshot STREAM emits
    nothing for a delete commit (no new dirs — the documented
    no-retraction contract, Delta's ``ignoreDeletes``)."""
    import json
    import shutil
    import uuid

    key_cols = [key] if isinstance(key, str) else list(key)
    if latest_version(table_dir) is None:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    if tag is not None and tag in _committed_tags(table_dir):
        return None
    import operator
    from functools import reduce

    ks = keys_df.select(*key_cols).distinct()
    n_null = ks.filter(reduce(operator.or_,
                              [F.col(k).isNull() for k in key_cols])).count()
    if n_null:
        raise ValueError(f"delete key set has {n_null} NULL rows in "
                         f"{key_cols}")
    dcommit = f"d-{uuid.uuid4().hex[:12]}"
    ddir = os.path.join(table_dir, "data", dcommit)
    ks.coalesce(1).write.mode("error").parquet(ddir)
    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    while True:
        vs = _snap_versions(table_dir)
        if tag is not None and tag in _committed_tags(table_dir):
            shutil.rmtree(ddir, ignore_errors=True)
            return None
        version = vs[-1] + 1
        with open(os.path.join(mdir, f"v{vs[-1]}.json")) as fh:
            prior = json.load(fh)
        man = {"version": version, "mode": "delete",
               "ts": _commit_ts(),
               "dirs": prior["dirs"], "stats": prior.get("stats", {}),
               "seq": prior.get("seq", {}),
               "deletes": _live_deletes(prior.get("deletes", []),
                                        prior["dirs"],
                                        prior.get("seq", {}))
               + [{"dir": dcommit, "key": key_cols, "seq": version}]}
        if tag is not None:
            man["tag"] = tag
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as fh:
            json.dump(man, fh)
        try:
            os.link(tmp, os.path.join(mdir, f"v{version}.json"))
            _snap_maybe_checkpoint(table_dir, version)
            return version
        except FileExistsError:
            continue        # rebase onto the new latest and retry
        finally:
            os.remove(tmp)


def vacuum_snapshots(table_dir: str, keep: int = 2,
                     min_age_s: float = 3600.0) -> int:
    """Retention: drop all but the last ``keep`` versions and delete
    commit directories no surviving manifest references — the VACUUM
    half of the table-format lifecycle.  Readers pinned to a
    surviving version are untouched (their dirs remain); readers of
    vacuumed versions fail loudly, which is the retention contract
    every table format has.  Two safety rails:

    - only commit dirs OLDER than ``min_age_s`` are deleted — an
      in-flight writer stages its data dir BEFORE publishing the
      manifest, so an unreferenced young dir may be a commit about
      to happen, not garbage (the same retention horizon real table
      formats vacuum behind);
    - vacuumed versions' idempotency tags move to a tombstone file,
      so a stream replayed after retention still treats its old
      batches as committed.

    Returns the number of commit dirs removed."""
    import json
    import shutil
    import time
    import uuid

    vs = _snap_versions(table_dir)
    mdir = os.path.join(table_dir, SNAP_MANIFESTS)
    survivors = vs[-keep:] if keep else []
    doomed = vs[:-keep] if keep else vs
    live: set[str] = set()
    for v in survivors:
        with open(os.path.join(mdir, f"v{v}.json")) as fh:
            m = json.load(fh)
        live.update(m["dirs"])
        # equality-delete files live under data/ too — removing one a
        # surviving manifest still references would RESURRECT rows
        live.update(d["dir"] for d in m.get("deletes", []))
    # tombstone the doomed versions' tags BEFORE removing manifests
    # (crash between the two steps must err toward suppression)
    doomed_tags: set[str] = set()
    for v in doomed:
        with open(os.path.join(mdir, f"v{v}.json")) as fh:
            t = json.load(fh).get("tag")
            if t is not None:
                doomed_tags.add(t)
    if doomed_tags:
        ts = os.path.join(mdir, SNAP_TOMBSTONES)
        have: set[str] = set()
        if os.path.exists(ts):
            with open(ts) as fh:
                have = set(json.load(fh))
        tmp = ts + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(sorted(have | doomed_tags), fh)
        os.replace(tmp, ts)                    # atomic swap
    removed = 0
    now = time.time()
    data = os.path.join(table_dir, "data")
    for d in os.listdir(data) if os.path.isdir(data) else []:
        p = os.path.join(data, d)
        if d not in live and now - os.path.getmtime(p) >= min_age_s:
            shutil.rmtree(p, ignore_errors=True)
            removed += 1
    for v in doomed:
        os.remove(os.path.join(mdir, f"v{v}.json"))
    return removed
