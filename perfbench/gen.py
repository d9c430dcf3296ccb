"""Seeded input generators for the benchmark.

Everything the program receives is made here from the run's ``--seed``
and written as parquet with pyarrow, so staging needs no Spark job and
the same seed always stages byte-identical inputs.

- ``stage_ard``: one chip of raster time series in the ARD schema
  (one row per band and acquisition), plus the numpy arrays the
  segment output check replays ``stub_detector`` on.
- ``segment_table`` / ``aux_table`` + ``write_partition``: per-chip
  segment and aux tables, written as ``(cx, cy)``-partitioned datasets
  under a storage root, the layout ``storage.overwrite_partitions``
  produces.
- ``centroid_model``: a tile model in ``ml.train``'s centroid format.
"""

from __future__ import annotations

import datetime
import os
import pickle

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from lcmap_blackmagic_spark.schemas import (BANDS, DEFAULT_DAY, N_FEATURES,
                                            NUM_CLASSES)
from lcmap_blackmagic_spark.sources.fixtures import (PIXEL_M, QA_CLEAR,
                                                     QA_CLOUD, UBID_BANDS)

SIDE = 100                      # pixels per chip edge (the real grid)
CHIP_X0, CHIP_Y0 = -2061585, 1922805
CHIP_M = SIDE * PIXEL_M
BASE_ORD = 724276               # 1984-01-01 proleptic ordinal
SPECTRA = [b for b in UBID_BANDS.values() if b != "qa"]


def chip_keys(n: int) -> list[tuple[int, int]]:
    """``n`` adjacent chip upper-left corners along one grid row."""
    return [(CHIP_X0 + i * CHIP_M, CHIP_Y0) for i in range(n)]


def pixel_xy(cx: int, cy: int, side: int = SIDE
             ) -> tuple[np.ndarray, np.ndarray]:
    pos = np.arange(side * side)
    return cx + (pos % side) * PIXEL_M, cy - (pos // side) * PIXEL_M


# --------------------------------------------------------------- ARD

def ard_arrays(rng: np.random.Generator, n_acq: int, side: int) -> dict:
    """Per-pixel linear trend + noise per band, ~15% cloudy cells.
    Returns ordinals (n_acq,), bands {name: (n_acq, n_px) int32} and
    qas (n_acq, n_px) — the detector's view of the chip."""
    n_px = side * side
    days = np.sort(rng.choice(12400, size=n_acq, replace=False))
    slope = rng.uniform(-0.05, 0.05, size=(len(SPECTRA), n_px))
    icept = rng.uniform(500, 3000, size=(len(SPECTRA), n_px))
    bands = {}
    for b, name in enumerate(SPECTRA):
        noise = rng.normal(0, 20, size=(n_acq, n_px))
        bands[name] = (icept[b] + slope[b] * days[:, None]
                       + noise).astype(np.int32)
    qas = np.where(rng.random((n_acq, n_px)) < 0.15,
                   QA_CLOUD, QA_CLEAR).astype(np.int32)
    return {"ordinals": (BASE_ORD + days).astype(np.int64),
            "bands": bands, "qas": qas}


def stage_ard(path: str, rng: np.random.Generator, cx: int, cy: int,
              n_acq: int, side: int = SIDE) -> dict:
    """Write one chip's ARD rows under directory ``path``, one parquet
    file per band (ubid), as a per-band chip source delivers them."""
    arr = ard_arrays(rng, n_acq, side)
    os.makedirs(path)
    acquired = pa.array([datetime.datetime.fromordinal(int(o))
                         for o in arr["ordinals"]],
                        pa.timestamp("us", tz="UTC"))
    offsets = pa.array(np.arange(0, (n_acq + 1) * side * side, side * side,
                                 dtype=np.int32))
    for ubid, band in UBID_BANDS.items():
        cells = arr["qas"] if band == "qa" else arr["bands"][band]
        table = pa.table({
            "ubid": pa.array([ubid] * n_acq, pa.string()),
            "cx": pa.array(np.full(n_acq, cx), pa.int64()),
            "cy": pa.array(np.full(n_acq, cy), pa.int64()),
            "acquired": acquired,
            "data": pa.ListArray.from_arrays(
                offsets, pa.array(cells.ravel(), pa.int32())),
        })
        pq.write_table(table, os.path.join(path, f"{ubid}.parquet"))
    return arr


# ---------------------------------------------------- segments / aux

def _iso(years: np.ndarray, mmdd: str) -> list[str]:
    return [f"{int(y)}-{mmdd}" for y in years]


def segment_table(rng: np.random.Generator, cx: int, cy: int) -> pa.Table:
    """1-3 segments per pixel over disjoint year ranges, ~8% default
    segments (sentinel dates, empty coefficients)."""
    n_px = SIDE * SIDE
    px, py = pixel_xy(cx, cy)
    is_def = rng.random(n_px) < 0.08
    n_seg = np.where(is_def, 1, rng.integers(1, 4, n_px))
    pix = np.repeat(np.arange(n_px), n_seg)
    rank = np.arange(len(pix)) - np.repeat(np.cumsum(n_seg) - n_seg, n_seg)
    y0 = np.repeat(rng.integers(1985, 1995, n_px), n_seg)
    step = np.repeat(rng.integers(3, 8, n_px), n_seg)
    default = is_def[pix]
    s_year, e_year = y0 + rank * step, y0 + (rank + 1) * step
    sday = np.where(default, DEFAULT_DAY, _iso(s_year, "03-01"))
    eday = np.where(default, DEFAULT_DAY, _iso(e_year, "02-01"))
    n = len(pix)
    live = ~default

    def real(values):
        return np.where(live, values, 0.0)

    cols = {
        "px": pa.array(px[pix], pa.int64()),
        "py": pa.array(py[pix], pa.int64()),
        "sday": pa.array(sday, pa.string()),
        "eday": pa.array(eday, pa.string()),
        "bday": pa.array(eday, pa.string()),
        "chprob": pa.array(real(rng.random(n))),
        "curqa": pa.array(np.where(live, rng.integers(0, 50, n), 0)
                          .astype(np.int32)),
    }
    for b in BANDS:
        coef = rng.random((n, 7))
        lens = np.where(live, 7, 0).astype(np.int32)
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        cols |= {
            f"{b}mag": pa.array(real(rng.random(n))),
            f"{b}rmse": pa.array(real(rng.random(n))),
            f"{b}int": pa.array(real(rng.random(n) * 90)),
            f"{b}coef": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(coef[live].ravel())),
        }
    return pa.table(cols)


def aux_table(rng: np.random.Generator, cx: int, cy: int) -> pa.Table:
    """Static per-pixel layers; ~70% of pixels carry a training label."""
    n = SIDE * SIDE
    px, py = pixel_xy(cx, cy)
    label = np.where(rng.random(n) < 0.7, rng.integers(1, 9, n), 0)
    return pa.table({
        "px": pa.array(px, pa.int64()),
        "py": pa.array(py, pa.int64()),
        "nlcdtrn": pa.array(label.astype(np.int32)),
        "nlcd": pa.array(rng.integers(11, 95, n).astype(np.int32)),
        "aspect": pa.array(rng.integers(0, 360, n).astype(np.int32)),
        "posidex": pa.array((rng.random(n) * 10).astype(np.float32)),
        "slope": pa.array((rng.random(n) * 45).astype(np.float32)),
        "mpw": pa.array(rng.integers(0, 100, n).astype(np.int32)),
        "dem": pa.array((rng.random(n) * 3000).astype(np.float32)),
    })


def write_partition(root: str, entity: str, cx: int, cy: int,
                    table: pa.Table) -> None:
    d = os.path.join(root, entity, f"cx={cx}", f"cy={cy}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"))


def centroid_model(rng: np.random.Generator) -> str:
    """Hex-encoded centroid model (``ml.train._train_centroid``'s
    format) over the N_FEATURES inputs; class 0 is unseen, as no aux
    pixel carries training label 0."""
    return pickle.dumps({
        "kind": "centroid",
        "centroids": rng.normal(size=(NUM_CLASSES, N_FEATURES)),
        "seen": np.arange(NUM_CLASSES) > 0,
    }).hex()
