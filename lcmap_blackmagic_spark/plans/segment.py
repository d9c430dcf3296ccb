"""The /segment pipeline (blackmagic/blueprints/segment.py:253-264):
raster time series → per-pixel assembly → change detection → 38-col
segment records + chip/pixel side outputs.

Reference shape: merlin assembles 10,000 pixel time series per chip
(segment.py:109-116), a multiprocessing Pool maps PyCCD over pixels
(segment.py:188-195, __init__.py:29-30), ``format()`` flattens results
(segment.py:61-104).

Spark shape:
- A2 assembly: posexplode of the chip raster → (pixel, acquisition)
  rows → pivot bands → one shuffle keyed (px, py), sorted arrays.
- UD1 detection: ``mapInPandas`` over the assembly aggregate's
  existing partitioning (see detect() — pixels are independent, so
  Arrow batches replace the former salted grouping and its payload
  shuffle) — the Pool boundary becomes the executor task boundary;
  a single chip spreads across executors, a tile run is 2500 chips
  in one job.  Parallelism note for PLUGGABLE (slow, PyCCD-like)
  detectors: the stage width is the assembly's post-AQE partition
  count, which AQE may coalesce low on a small single-chip job —
  repartition the assembly output first when plugging a detector
  whose per-pixel cost dwarfs a shuffle (the stub path is cheap
  enough not to care).
- P1 projection: plain select; defaults handled by the detector
  contract (a pixel with no fitted model yields one default segment,
  sday=eday=bday=0001-01-01 — segment.py:52-53, 68-70).

The detector is pluggable: ``stub_detector`` is a deterministic
linear-fit stand-in (the pinned lcmap-pyccd==2018.10.17 isn't in this
environment); a PyCCD adapter drops in with the same signature.
"""

from __future__ import annotations

import datetime
import math
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import BANDS, SEGMENTS
from ..sources.fixtures import PIXEL_M, QA_CLEAR, UBID_BANDS

# spectral order used by the detector contract (merlin's parallel
# arrays at segment.py:109-116): blues greens reds nirs swir1s swir2s
# thermals; BANDS maps to short names bl gr ni re s1 s2 th.
SPECTRA = ("blue", "green", "red", "nir", "swir1", "swir2", "thermal")
SPEC_TO_SHORT = {"blue": "bl", "green": "gr", "nir": "ni", "red": "re",
                 "swir1": "s1", "swir2": "s2", "thermal": "th"}


def pixel_timeseries(ard: DataFrame, side: int = 100,
                     ubid_bands: dict[str, str] = UBID_BANDS) -> DataFrame:
    """A2: chip rasters → one row per pixel with aligned per-band
    arrays sorted by date (duplicate same-day acquisitions dropped,
    as merlin does).

    Output: cx, cy, px, py, dates array<int> (ordinals), one
    array<int> per spectral band + qas.
    """
    band_expr = F.create_map(*[x for u, b in ubid_bands.items()
                               for x in (F.lit(u), F.lit(b))])
    px = F.col("cx") + (F.col("pos") % side) * PIXEL_M
    py = F.col("cy") - F.floor(F.col("pos") / side) * PIXEL_M
    cells = (ard
             .withColumn("band", band_expr[F.col("ubid")])
             .withColumn("ordinal",
                         F.datediff(F.to_date("acquired"),
                                    F.to_date(F.lit("0001-01-01"))) + 1)
             .select("cx", "cy", "band", "ordinal",
                     F.posexplode("data").alias("pos", "val"))
             .withColumn("px", px).withColumn("py", py))
    # the pivot aggregate IS the duplicate-acquisition dedupe (merlin
    # drops same-day re-acquisitions): min(val) is deterministic where
    # a separate dropDuplicates-then-first was an arbitrary pick AND
    # cost its own full shuffle of the exploded cells
    pivoted = (cells.groupBy("cx", "cy", "px", "py", "ordinal")
               .pivot("band", list(dict.fromkeys(ubid_bands.values())))
               .agg(F.min("val")))
    per_pixel = (pivoted.groupBy("cx", "cy", "px", "py")
                 .agg(F.sort_array(F.collect_list(F.struct(
                     "ordinal", *SPECTRA, "qa"))).alias("obs")))
    return per_pixel.select(
        "cx", "cy", "px", "py",
        F.col("obs.ordinal").alias("dates"),
        *[F.col(f"obs.{s}").alias(f"{s}s") for s in SPECTRA],
        F.col("obs.qa").alias("qas"))


def stub_detector(dates: np.ndarray, bands: dict[str, np.ndarray],
                  qas: np.ndarray) -> list[dict]:
    """Deterministic change-detection stand-in with PyCCD's contract:
    given one pixel's time series, return segment dicts (possibly
    empty → caller emits a default segment). Fits one linear model
    per band over clear observations; requires ≥ 12 clear points
    (PyCCD's minimum window).

    The fit is CLOSED-FORM OLS over exact integer sums (dates are int
    ordinals, values int raster cells), not np.polyfit: every sum is
    an exact Python int, and the float expressions below are written
    in the precise left-associative order the DuckDB oracle SQL uses,
    so both engines execute the identical IEEE-754 sequence and
    produce bit-identical doubles — this is what makes the
    ``lcmap_segment_detect`` registry entry fully oracle-checkable.
    Do not reorder the arithmetic.
    """
    clear = qas == QA_CLEAR
    n = int(clear.sum())
    if n < 12:
        return []
    x = dates[clear]
    sx = int(x.sum())
    sxx = int((x.astype(np.int64) * x).sum())
    seg: dict = {
        "sday": int(x.min()), "eday": int(x.max()), "bday": int(x.max()),
        "chprob": 0.0, "curqa": int(QA_CLEAR),
    }
    for spec, short in SPEC_TO_SHORT.items():
        y = bands[spec][clear]
        sy = int(y.sum())
        syy = int((y.astype(np.int64) * y).sum())
        sxy = int((x.astype(np.int64) * y).sum())
        # exact-int numerator/denominator, ONE double division
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        intercept = (sy - slope * sx) / n
        # Σ resid² expanded over the integer sums (no per-point float
        # accumulation → no summation-order divergence across engines)
        ss = (syy - 2.0 * intercept * sy - 2.0 * slope * sxy
              + n * intercept * intercept + 2.0 * slope * intercept * sx
              + slope * slope * sxx)
        rmse = math.sqrt(ss / n) if ss > 0 else 0.0
        seg[short] = {
            "magnitude": 0.0,
            "rmse": rmse,
            "intercept": intercept,
            "coefficients": [slope] + [0.0] * 6,
        }
    return [seg]


def _iso_cache() -> dict:
    return {1: "0001-01-01"}


def _stub_batch_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized twin of ``stub_detector`` over a whole pixel GROUP:
    the same exact-integer sums and the same left-associative float
    expressions, evaluated elementwise across pixels (numpy int64
    sums are exact here — every intermediate is < 2^53, so the int→
    float conversions are exact and each elementwise division equals
    the scalar path's correctly-rounded quotient; bit-equality with
    the per-pixel path is pinned by the lcmap_segment_detect /
    lcmap_detect_chip oracles and a direct A/B test).  Falls back to
    the row loop when the group's series are ragged (per-pixel
    lengths differ — possible under duplicate-day drops)."""
    lens = {len(d) for d in pdf["dates"]}
    if len(lens) != 1:
        return _loop_group(pdf, stub_detector)
    dates = np.stack(pdf["dates"].to_numpy()).astype(np.int64)
    # int64 headroom guard: the largest intermediate is n*sxx ≤
    # T²·M² (T = series length, M = max |ordinal| ≈ 7.3e5); numpy
    # wraps int64 SILENTLY past that, diverging from the scalar
    # stub_detector's exact Python ints (wrap starts near T ≈ 4100
    # clear obs at Landsat-era ordinals).  Exact-int check in Python;
    # overflow-risk groups take the loop path, mirroring the ragged
    # fallback.  Realistic stacks (~1-2k obs) never trip it.
    T = dates.shape[1] if dates.ndim == 2 else 0
    M = int(np.abs(dates).max()) if dates.size else 0
    if T * T * M * M >= 2 ** 63:
        return _loop_group(pdf, stub_detector)
    qas = np.stack(pdf["qas"].to_numpy())
    clear = qas == QA_CLEAR
    n = clear.sum(axis=1).astype(np.int64)
    ok = n >= 12
    x = np.where(clear, dates, 0)
    sx = x.sum(1)
    sxx = (x * x).sum(1)
    big = np.iinfo(np.int64)
    minx = np.where(clear, dates, big.max).min(1)
    maxx = np.where(clear, dates, big.min).max(1)
    P = len(pdf)
    cache = _iso_cache()

    def iso(arr):
        out = []
        for o, k in zip(arr, ok):
            o = int(o) if k else 1
            s = cache.get(o)
            if s is None:
                s = cache[o] = datetime.date.fromordinal(o).isoformat()
            out.append(s)
        return out

    rec = {
        "cx": pdf["cx"].to_numpy(), "cy": pdf["cy"].to_numpy(),
        "px": pdf["px"].to_numpy(), "py": pdf["py"].to_numpy(),
        "sday": iso(minx), "eday": iso(maxx), "bday": iso(maxx),
        "chprob": np.zeros(P),
        "curqa": np.where(ok, int(QA_CLEAR), 0).astype(np.int64),
    }
    zero = np.zeros(P)
    with np.errstate(divide="ignore", invalid="ignore"):
        for spec, short in SPEC_TO_SHORT.items():
            band = np.stack(pdf[f"{spec}s"].to_numpy()).astype(np.int64)
            # same headroom check for the band-valued intermediates
            # (n*sxy ≤ T²·M·Y, syy ≤ T·Y²) — exact Python ints
            Y = int(np.abs(band).max()) if band.size else 0
            if T * T * M * Y >= 2 ** 63 or T * Y * Y >= 2 ** 63:
                return _loop_group(pdf, stub_detector)
            y = np.where(clear, band, 0)
            sy = y.sum(1)
            syy = (y * y).sum(1)
            sxy = (x * y).sum(1)
            # identical op order to stub_detector — do not reorder
            slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
            intercept = (sy - slope * sx) / n
            ss = (syy - 2.0 * intercept * sy - 2.0 * slope * sxy
                  + n * intercept * intercept
                  + 2.0 * slope * intercept * sx
                  + slope * slope * sxx)
            # scalar path computes sqrt(ss / n) — mirror it exactly
            # (the inner where guards keep masked lanes finite)
            rmse = np.where(ss > 0,
                            np.sqrt(np.where(ss > 0, ss, 1.0)
                                    / np.where(n > 0, n, 1)), 0.0)
            rec[f"{short}mag"] = zero
            rec[f"{short}rmse"] = np.where(ok, rmse, 0.0)
            rec[f"{short}int"] = np.where(ok, intercept, 0.0)
            rec[f"{short}coef"] = [
                [float(s)] + [0.0] * 6 if k else []
                for s, k in zip(slope, ok)]
    cols = [f.name for f in SEGMENTS.fields]
    return pd.DataFrame(rec, columns=cols)


def _loop_group(pdf: pd.DataFrame, detector: Callable) -> pd.DataFrame:
    """Row-at-a-time group runner for PLUGGABLE detectors (PyCCD
    adapter, contract fakes) and the ragged fallback."""
    out = []
    for row in pdf.itertuples(index=False):
        dates = np.asarray(row.dates)
        bands = {s: np.asarray(getattr(row, f"{s}s")) for s in SPECTRA}
        qas = np.asarray(row.qas)
        segs = detector(dates, bands, qas) or [{}]
        for s in segs:
            rec = {
                "cx": row.cx, "cy": row.cy, "px": row.px, "py": row.py,
                "sday": _iso(s.get("sday")), "eday": _iso(s.get("eday")),
                "bday": _iso(s.get("bday")),
                "chprob": float(s.get("chprob", 0.0)),
                "curqa": int(s.get("curqa", 0)),
            }
            for spec, short in SPEC_TO_SHORT.items():
                b = s.get(short, {})
                rec[f"{short}mag"] = float(b.get("magnitude", 0.0))
                rec[f"{short}rmse"] = float(b.get("rmse", 0.0))
                rec[f"{short}int"] = float(b.get("intercept", 0.0))
                rec[f"{short}coef"] = list(b.get("coefficients", []))
            out.append(rec)
    cols = [f.name for f in SEGMENTS.fields]
    return pd.DataFrame(out, columns=cols)


def _iso(ordinal):
    # ordinal→ISO with the reference's default-1 sentinel
    # (segment.py:68-70: missing dates default to ordinal 1).
    return datetime.date.fromordinal(int(ordinal or 1)).isoformat()


def detect(timeseries: DataFrame,
           detector: Callable = stub_detector) -> DataFrame:
    """UD1: run the detector per pixel via mapInPandas. A pixel
    whose detector returns no models yields one default segment
    (segment.py:52-53 defaults()).

    No grouping at all (r14): pixels are independent and both
    runners are row-wise, so the detector rides the assembly
    aggregate's existing partitioning — the earlier salted
    64-bucket applyInPandas (itself the fix for 10,000 singleton
    groups) still paid one full shuffle of the assembled per-pixel
    arrays, the fattest rows in the pipeline, purely to batch
    pixels, which Arrow batching provides for free.  Parallelism is
    the assembly's post-AQE partition count (the reference's
    Pool-per-chip shape, segment.py:188-195, without its one-machine
    cap).  The default stub detector runs a vectorized whole-batch
    fast path (``_stub_batch_group``, bit-equal by oracle);
    pluggable detectors run the row loop."""
    if detector is stub_detector:
        run_group = _stub_batch_group
    else:
        def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
            return _loop_group(pdf, detector)

    from ..session import ensure_worker_imports
    ensure_worker_imports(timeseries.sparkSession)

    # mapInPandas over the assembly's EXISTING partitioning (r14):
    # pixels are independent and both runners are row-wise, so the
    # detector needs no grouping at all — the former salted
    # groupBy(cx, cy, __pg).applyInPandas paid one full extra shuffle
    # of the assembled per-pixel arrays (the fattest rows in the
    # pipeline) purely to batch pixels, which Arrow batching already
    # does.  Output rows are identical (pinned A/B at side=100); the
    # detect stage now starts where the assembly aggregate ended.
    def run_batches(batches):
        for pdf in batches:
            if len(pdf):
                yield run_group(pdf)

    return timeseries.mapInPandas(run_batches, schema=SEGMENTS)


def chip_record(detections: DataFrame) -> DataFrame:
    """S6: one {cx, cy, dates} row per chip (ceph.py:150-161) — the
    distinct observation dates of the chip."""
    return (detections.groupBy("cx", "cy")
            .agg(F.sort_array(F.collect_set("sday")).alias("dates")))


def pixel_records(timeseries: DataFrame) -> DataFrame:
    """S7: per-pixel {cx,cy,px,py,mask} (ceph.py:163-176) — the
    processing mask is 1 where the QA value is clear."""
    mask = F.transform(F.col("qas"),
                       lambda q: (q == QA_CLEAR).cast("int"))
    return timeseries.select("cx", "cy", "px", "py", mask.alias("mask"))


def segment_pipeline(ard: DataFrame, side: int = 100,
                     detector: Callable = stub_detector) -> DataFrame:
    """End-to-end /segment: assembly → detection. Returns the 38-col
    segments DataFrame (callers persist via storage.overwrite_partitions
    and derive chip/pixel records).  The plan is lazy: a caller that
    derives several sinks from it should stage it once (persist, then
    unpersist when done, as ``api.run_segment_job`` does), or each
    sink re-runs the assembly shuffle and the detector."""
    ts = pixel_timeseries(ard, side)
    return detect(ts, detector)
