"""Deterministic synthetic fixtures shaped like the reference's data
(FIXTURES.md; Chipmunk /chips + /registry responses recorded in the
reference's deps/nginxcache/).

A chip is ``side × side`` pixels at 30 m pitch with origin (cx, cy) at
the upper-left (px grows east, py grows *south*, i.e. decreasing y —
blackmagic/blueprints/segment.py:64-67). Tests use side=10 for speed;
the real grid is side=100 (10,000 pixels — test_A_segment.py:51).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schemas import ARD, AUX, BANDS, DEFAULT_DAY

PIXEL_M = 30

# ubid → canonical band name for one mission (Landsat-8 style; the
# reference's registry lists LT04/LT05/LE07/LC08 SRB*/BTB*/PIXELQA).
UBID_BANDS = {
    "LC08_SRB2": "blue",
    "LC08_SRB3": "green",
    "LC08_SRB4": "red",
    "LC08_SRB5": "nir",
    "LC08_SRB6": "swir1",
    "LC08_SRB7": "swir2",
    "LC08_BTB10": "thermal",
    "LC08_PIXELQA": "qa",
}

QA_CLEAR = 66  # PyCCD-accepted clear-land code
QA_CLOUD = 322


def synth_ard(spark: SparkSession, cx: int = -2061585, cy: int = 1922805,
              side: int = 10, n_acq: int = 40, seed: int = 42) -> DataFrame:
    """One chip of raster time series: a row per (ubid, acquisition),
    ``data`` = row-major side×side values. Values follow a linear
    trend + noise per pixel so the stub detector recovers non-trivial
    slopes; ~15% of acquisitions are cloudy per pixel."""
    rng = np.random.RandomState(seed)
    n_px = side * side
    # acquisition dates across 1984-2018, deterministic spacing
    days = np.sort(rng.choice(np.arange(0, 12400), size=n_acq, replace=False))
    base_ord = 724276  # 1984-01-01 proleptic ordinal
    slope = rng.uniform(-0.05, 0.05, size=(len(UBID_BANDS) - 1, n_px))
    intercept = rng.uniform(500, 3000, size=(len(UBID_BANDS) - 1, n_px))
    cloudy = rng.rand(n_acq, n_px) < 0.15

    rows = []
    for a, day in enumerate(days):
        for b, ubid in enumerate(UBID_BANDS):
            if UBID_BANDS[ubid] == "qa":
                data = np.where(cloudy[a], QA_CLOUD, QA_CLEAR)
            else:
                noise = rng.normal(0, 20, size=n_px)
                data = intercept[b] + slope[b] * day + noise
            rows.append({
                "ubid": ubid, "cx": cx, "cy": cy,
                "acquired": pd.Timestamp.fromordinal(base_ord + int(day)),
                "data": data.astype(np.int32).tolist(),
            })
    return spark.createDataFrame(pd.DataFrame(rows), schema=ARD)


def synth_ard_hash(spark: SparkSession, cx: int = 0, cy: int = 0,
                   side: int = 10, n_acq: int = 40) -> DataFrame:
    """SQL-expressible twin of ``synth_ard``: every raster cell is a
    deterministic md5 function of (band, pixel-index, day) — no numpy
    RNG — so a DuckDB oracle can regenerate the identical chip with
    SQL alone (registry.pipelines._sql_segment_detect). Acquisition
    days are 17 + 311·a (a < n_acq, same 1984-2018 span as synth_ard);
    spectral values are 500 + (h mod 3000); ~15% of cells are cloudy
    (h mod 100 < 15 on the qa band)."""
    from pyspark.sql import functions as F
    base_ord = 724276  # 1984-01-01 proleptic ordinal
    acq = spark.range(n_acq).select(
        (F.lit(17) + F.col("id") * 311).alias("day"))
    ub = spark.createDataFrame(list(UBID_BANDS.items()),
                               "ubid string, band string")

    def h(key):  # first 8 md5 hex digits as a non-negative bigint
        return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")

    def cell(pos):
        key = F.concat_ws(":", F.col("band"), pos.cast("string"),
                          F.col("day").cast("string"))
        return (F.when(F.col("band") == "qa",
                       F.when(h(key) % 100 < 15, F.lit(QA_CLOUD))
                        .otherwise(F.lit(QA_CLEAR)))
                .otherwise(F.lit(500) + h(key) % 3000)).cast("int")

    data = F.transform(F.sequence(F.lit(0), F.lit(side * side - 1)), cell)
    return (ub.crossJoin(acq).select(
        "ubid",
        F.lit(cx).cast("long").alias("cx"),
        F.lit(cy).cast("long").alias("cy"),
        F.date_add(F.to_date(F.lit("0001-01-01")),
                   (F.lit(base_ord - 1) + F.col("day")).cast("int"))
         .cast("timestamp").alias("acquired"),
        data.alias("data")))


def synth_chip_rows(cx: int, cy: int, side: int = 10, n_acq: int = 40,
                    base_seed: int = 42):
    """Row-generator form of ``synth_ard`` for the chipmunk
    DataSource: yields (ubid, cx, cy, acquired, data) tuples for ONE
    chip, deterministically seeded by the chip key so any executor
    reading the same chip produces identical rows."""
    rng = np.random.RandomState(
        (base_seed + (cx // PIXEL_M) * 1_000_003 + cy // PIXEL_M)
        % (2 ** 31 - 1))
    n_px = side * side
    days = np.sort(rng.choice(np.arange(0, 12400), size=n_acq, replace=False))
    base_ord = 724276
    slope = rng.uniform(-0.05, 0.05, size=(len(UBID_BANDS) - 1, n_px))
    intercept = rng.uniform(500, 3000, size=(len(UBID_BANDS) - 1, n_px))
    cloudy = rng.rand(n_acq, n_px) < 0.15
    for a, day in enumerate(days):
        for b, ubid in enumerate(UBID_BANDS):
            if UBID_BANDS[ubid] == "qa":
                data = np.where(cloudy[a], QA_CLOUD, QA_CLEAR)
            else:
                noise = rng.normal(0, 20, size=n_px)
                data = intercept[b] + slope[b] * day + noise
            # plain datetime, not pd.Timestamp: the DataSource row
            # converter rejects tz-naive pandas timestamps
            import datetime as _dt
            yield (ubid, cx, cy,
                   _dt.datetime.fromordinal(base_ord + int(day)),
                   [int(v) for v in data.astype(np.int32)])


def synth_aux(spark: SparkSession, cx: int = -2061585, cy: int = 1922805,
              side: int = 10, seed: int = 43,
              dup_fraction: float = 0.0) -> DataFrame:
    """Static per-pixel aux layers; ~70% of pixels labeled
    (nlcdtrn ≠ 0 — FIXTURES.md §2). ``dup_fraction`` injects
    duplicate keys to exercise the last-wins dedupe of J1."""
    rng = np.random.RandomState(seed)
    recs = []
    for r in range(side):
        for c in range(side):
            recs.append({
                "cx": cx, "cy": cy,
                "px": cx + c * PIXEL_M, "py": cy - r * PIXEL_M,
                "nlcdtrn": int(rng.randint(1, 9)) if rng.rand() < 0.7 else 0,
                "nlcd": int(rng.randint(11, 95)),
                "aspect": int(rng.randint(0, 360)),
                "posidex": float(rng.rand() * 10),
                "slope": float(rng.rand() * 45),
                "mpw": int(rng.randint(0, 100)),
                "dem": float(rng.rand() * 3000),
            })
    if dup_fraction > 0:
        n_dup = int(len(recs) * dup_fraction)
        for rec in recs[:n_dup]:
            clone = dict(rec)
            clone["nlcdtrn"] = (rec["nlcdtrn"] % 8) + 1
            recs.append(clone)
    return spark.createDataFrame(pd.DataFrame(recs), schema=AUX)


def synth_segments(spark: SparkSession, cx: int = -2061585,
                   cy: int = 1922805, side: int = 10,
                   seed: int = 44, default_fraction: float = 0.08,
                   training_date: str = "2001-07-01") -> DataFrame:
    """Segments table with the randomized-coefficient recipe of
    test/test_D_prediction.py:32-63: 1-3 segments per pixel, ~8%
    default segments, intervals that mostly span ``training_date``."""
    from ..schemas import SEGMENTS
    rng = np.random.RandomState(seed)
    recs = []
    for r in range(side):
        for c in range(side):
            px, py = cx + c * PIXEL_M, cy - r * PIXEL_M
            if rng.rand() < default_fraction:
                rec = {"cx": cx, "cy": cy, "px": px, "py": py,
                       "sday": DEFAULT_DAY, "eday": DEFAULT_DAY,
                       "bday": DEFAULT_DAY, "chprob": 0.0, "curqa": 0}
                for b in BANDS:
                    rec |= {f"{b}mag": 0.0, f"{b}rmse": 0.0,
                            f"{b}int": 0.0, f"{b}coef": []}
                recs.append(rec)
                continue
            n_seg = rng.randint(1, 4)
            bounds = sorted(rng.choice(np.arange(1985, 2018), size=n_seg + 1,
                                       replace=False))
            for s in range(n_seg):
                rec = {"cx": cx, "cy": cy, "px": px, "py": py,
                       "sday": f"{bounds[s]}-03-01",
                       "eday": f"{bounds[s + 1]}-11-01",
                       "bday": f"{bounds[s + 1]}-11-01",
                       "chprob": float(rng.rand()),
                       "curqa": int(rng.randint(0, 50))}
                for b in BANDS:
                    rec |= {f"{b}mag": float(rng.rand()),
                            f"{b}rmse": float(rng.rand()),
                            f"{b}int": float(rng.rand() * 90),
                            f"{b}coef": [float(x) for x in rng.rand(7)]}
                recs.append(rec)
    return spark.createDataFrame(pd.DataFrame(recs), schema=SEGMENTS)


def _h8(key):
    """First 8 md5 hex digits of a key Column as a non-negative
    bigint — the engine-portable coin every *_hash fixture draws."""
    from pyspark.sql import functions as F
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")


def synth_aux_hash(spark: SparkSession, cx: int = -2061585,
                   cy: int = 1922805, side: int = 10) -> DataFrame:
    """SQL-expressible twin of ``synth_aux``: every field is a
    deterministic md5 function of the pixel index (no numpy RNG), so
    a DuckDB oracle regenerates the identical table with SQL alone —
    the ``synth_ard_hash`` idea applied to the aux layers.  Same
    shape contract: ~70% of pixels labeled (nlcdtrn in 1..8), the
    numeric layers integer-valued (exact in any engine)."""
    from pyspark.sql import functions as F

    def h(tag):
        return _h8(F.concat_ws(":", F.lit(f"aux:{tag}"),
                               F.col("id").cast("string")))

    return spark.range(side * side).select(
        F.lit(cx).cast("long").alias("cx"),
        F.lit(cy).cast("long").alias("cy"),
        (F.lit(cx) + (F.col("id") % side) * PIXEL_M)
        .cast("long").alias("px"),
        (F.lit(cy) - F.expr(f"id div {side}") * PIXEL_M)
        .cast("long").alias("py"),
        F.when(h("lab") % 100 < 70, F.lit(1) + h("trn") % 8)
        .otherwise(F.lit(0)).cast("int").alias("nlcdtrn"),
        (F.lit(11) + h("nlcd") % 84).cast("int").alias("nlcd"),
        (h("asp") % 360).cast("int").alias("aspect"),
        (h("pos") % 10).cast("float").alias("posidex"),
        (h("slp") % 45).cast("float").alias("slope"),
        (h("mpw") % 100).cast("int").alias("mpw"),
        (h("dem") % 3000).cast("float").alias("dem"))


def synth_segments_hash(spark: SparkSession, cx: int = -2061585,
                        cy: int = 1922805, side: int = 10) -> DataFrame:
    """SQL-expressible twin of ``synth_segments``: per pixel, ~8%
    default segments; otherwise 1-3 segments with DISJOINT intervals
    [Mar(b0 + s·step), Feb(b0 + (s+1)·step)] — b0 in 1986..1995, step
    in 2..7, all md5-derived — so at most ONE segment spans any
    mid-year training date and a DuckDB oracle can regenerate the
    keys, dates, and label joins exactly.  Band values are
    integer-valued doubles (the fit consumes them; checked outputs
    never do)."""
    from pyspark.sql import functions as F

    def h(tag, *extra):
        parts = [F.lit(f"seg:{tag}"), F.col("id").cast("string")]
        parts += [e if isinstance(e, F.Column) else F.lit(str(e))
                  for e in extra]
        return _h8(F.concat_ws(":", *parts))

    p = spark.range(side * side)
    is_def = h("def") % 100 < 8
    n_seg = (F.lit(1) + h("n") % 3).cast("int")
    segs = F.when(is_def, F.array(F.lit(-1))).otherwise(
        F.sequence(F.lit(0), n_seg - 1))
    df = p.select(
        "id",
        (F.lit(1986) + h("b") % 10).alias("b0"),
        (F.lit(2) + h("s") % 6).alias("st"),
        F.explode(segs).alias("s"))
    sc = F.col("s").cast("string")

    def hs(tag):
        return _h8(F.concat_ws(":", F.lit(f"seg:{tag}"),
                               F.col("id").cast("string"), sc))

    d = F.col("s") < 0
    y0 = F.col("b0") + F.col("s") * F.col("st")
    y1 = F.col("b0") + (F.col("s") + 1) * F.col("st")
    eday = F.when(d, F.lit(DEFAULT_DAY)).otherwise(
        F.concat(y1.cast("string"), F.lit("-02-01")))
    cols = [
        F.lit(cx).cast("long").alias("cx"),
        F.lit(cy).cast("long").alias("cy"),
        (F.lit(cx) + (F.col("id") % side) * PIXEL_M)
        .cast("long").alias("px"),
        (F.lit(cy) - F.expr(f"id div {side}") * PIXEL_M)
        .cast("long").alias("py"),
        F.when(d, F.lit(DEFAULT_DAY)).otherwise(
            F.concat(y0.cast("string"), F.lit("-03-01"))).alias("sday"),
        eday.alias("eday"),
        eday.alias("bday"),
        F.when(d, F.lit(0.0)).otherwise(
            (hs("cp") % 100).cast("double")).alias("chprob"),
        F.when(d, F.lit(0)).otherwise(hs("qa") % 50)
        .cast("int").alias("curqa"),
    ]
    for b in BANDS:
        cols += [
            F.when(d, F.lit(0.0)).otherwise(
                (hs(f"{b}mag") % 100).cast("double")).alias(f"{b}mag"),
            F.when(d, F.lit(0.0)).otherwise(
                (hs(f"{b}rmse") % 100).cast("double")).alias(f"{b}rmse"),
            F.when(d, F.lit(0.0)).otherwise(
                (hs(f"{b}int") % 3000).cast("double")).alias(f"{b}int"),
            F.when(d, F.array().cast("array<double>")).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.lit(6)),
                    lambda i: (_h8(F.concat_ws(
                        ":", F.lit(f"seg:{b}coef"),
                        F.col("id").cast("string"), sc,
                        i.cast("string"))) % 100).cast("double")))
            .alias(f"{b}coef"),
        ]
    return df.select(*cols)
