"""Explicit StructTypes for every persisted entity.

The reference's schemas are implicit (hard-coded key lists in
``blackmagic/blueprints/segment.py:61-104`` ``format()`` and
``blackmagic/data/ceph.py:137-247`` ``insert_*``). Here they are
declared once; all plans and sinks use these.

Band order is contractual everywhere features are flattened:
bl, gr, ni, re, s1, s2, th (``blackmagic/segaux.py:248-275``
``standard_format`` — note ni before re).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Spectral bands in standard_format order (segaux.py:248-275).
BANDS = ("bl", "gr", "ni", "re", "s1", "s2", "th")

# Aux fields in standard_format slot order (segaux.py:248-254).
AUX_FEATURES = ("aspect", "posidex", "slope", "mpw", "dem")

# Sentinel date for "no model fitted" default segments
# (segment.py:68-70: date.fromordinal(1)).
DEFAULT_DAY = "0001-01-01"

# 1 label + 5 aux + 7 bands * (7 coefs + rmse + avg-reflectance) = 69.
N_FEATURES = 68  # independent variables (test_D_prediction.py:599)
NUM_CLASSES = 9  # blackmagic/__init__.py:21

_key_fields = [
    T.StructField("cx", T.LongType(), False),
    T.StructField("cy", T.LongType(), False),
    T.StructField("px", T.LongType(), False),
    T.StructField("py", T.LongType(), False),
]

# ard: one row per (band, acquisition); `data` is the decoded 100x100
# chip raster, row-major (FIXTURES.md §1; Chipmunk /chips response shape).
ARD = T.StructType([
    T.StructField("ubid", T.StringType(), False),
    T.StructField("cx", T.LongType(), False),
    T.StructField("cy", T.LongType(), False),
    T.StructField("acquired", T.TimestampType(), False),
    T.StructField("data", T.ArrayType(T.IntegerType()), False),
])

# aux: static per-pixel reference layers (segaux.py:86-102, 248-254).
AUX = T.StructType(_key_fields + [
    T.StructField("nlcdtrn", T.IntegerType(), True),
    T.StructField("nlcd", T.IntegerType(), True),
    T.StructField("aspect", T.IntegerType(), True),
    T.StructField("posidex", T.FloatType(), True),
    T.StructField("slope", T.FloatType(), True),
    T.StructField("mpw", T.IntegerType(), True),
    T.StructField("dem", T.FloatType(), True),
])


def _segment_band_fields() -> list:
    fields = []
    for b in BANDS:
        fields += [
            T.StructField(f"{b}mag", T.DoubleType(), True),
            T.StructField(f"{b}rmse", T.DoubleType(), True),
            T.StructField(f"{b}int", T.DoubleType(), True),
            T.StructField(f"{b}coef", T.ArrayType(T.DoubleType()), True),
        ]
    return fields


# segments: the central fact table — one row per (pixel x change model)
# (segment.py:61-104 format(), ceph.py:178-223 insert_segments).
SEGMENTS = T.StructType(_key_fields + [
    T.StructField("sday", T.StringType(), False),
    T.StructField("eday", T.StringType(), False),
    T.StructField("bday", T.StringType(), False),
    T.StructField("chprob", T.DoubleType(), True),
    T.StructField("curqa", T.IntegerType(), True),
] + _segment_band_fields())

# chip record: one per chip (ceph.py:150-161 insert_chip).
CHIP = T.StructType([
    T.StructField("cx", T.LongType(), False),
    T.StructField("cy", T.LongType(), False),
    T.StructField("dates", T.ArrayType(T.StringType()), True),
])

# pixel record (ceph.py:163-176 insert_pixels).
PIXELS = T.StructType(_key_fields + [
    T.StructField("mask", T.ArrayType(T.IntegerType()), True),
])

# tile/model record (ceph.py:137-148): the model bytes are stored as
# their hex string, the reference's JSON encoding.
TILE = T.StructType([
    T.StructField("tx", T.LongType(), False),
    T.StructField("ty", T.LongType(), False),
    T.StructField("model", T.StringType(), True),
])

# predictions (ceph.py:225-247): prob is 9 class probabilities, or []
# for default segments (prediction.py:237-242).
PREDICTIONS = T.StructType(_key_fields + [
    T.StructField("sday", T.StringType(), False),
    T.StructField("eday", T.StringType(), False),
    T.StructField("pday", T.StringType(), False),
    T.StructField("prob", T.ArrayType(T.FloatType()), True),
])


def standard_format_columns() -> list[str]:
    """The 69 positional slots of the training matrix, in contract order
    (segaux.py:248-275). Slot 0 is the label; 1..68 are features."""
    cols = ["nlcdtrn"] + list(AUX_FEATURES)
    for b in BANDS:
        cols += [f"{b}coef{i}" for i in range(7)] + [f"{b}rmse", f"{b}ar"]
    return cols
