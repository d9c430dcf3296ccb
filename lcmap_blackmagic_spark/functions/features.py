"""Feature-engineering scalar/array functions — all JVM-side expressions.

Implements the training-matrix feature contract of the reference's
``segaux.py``: spectral slope (176-186), average reflectance (189-209),
and the positional standard format (248-275). The slot order is
contractual — band order bl, gr, ni, re, s1, s2, th, each contributing
7 coefficients, rmse, then average reflectance.

The fixed-shape expressions are written as SQL text and parsed once
(``F.expr``): building the same trees Column by Column costs one py4j
round trip per node, several thousand per request.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import AUX_FEATURES, BANDS
from .dates import ordinal_sql


def _slope_sql(band: str) -> str:
    """First harmonic coefficient of ``band``, or 0.0 when the segment
    has no model (default segments carry empty/null coef arrays —
    segaux.py:176-186)."""
    return f"coalesce(try_element_at({band}coef, 1), 0D)"


def average_reflectance(df: DataFrame, date_col: str = "date") -> DataFrame:
    """Add ``{b}ar = {b}int + slope_b * ordinal(date)`` for all 7 bands
    (segaux.py:189-209; golden test test_C_segaux.py:288-419).

    One ``withColumns`` call — a single projection, no per-band passes.
    """
    ordinal = f"CAST({ordinal_sql(date_col)} AS DOUBLE)"
    return df.withColumns({
        f"{b}ar": F.expr(f"{b}int + {_slope_sql(b)} * {ordinal}")
        for b in BANDS
    })


def standard_format_array() -> Column:
    """The 68 independent slots of the training vector as
    array<double>, in contract order (segaux.py:248-275; the label,
    slot 0 of the reference's 69, is a column of its own):

      aspect, posidex, slope, mpw, dem,
      then per band b in (bl, gr, ni, re, s1, s2, th):
        b.coef[0..6], b.rmse, b.ar
    """
    # Missing/short coef arrays and null elements read as 0.0 — default
    # segments have no coefficients but still occupy matrix rows
    # (segaux.py:176-186).
    slots = [f"CAST({c} AS DOUBLE)" for c in AUX_FEATURES]
    for b in BANDS:
        slots += [f"coalesce(try_element_at({b}coef, {i}), 0D)"
                  for i in range(1, 8)]
        slots += [f"coalesce({b}rmse, 0D)", f"coalesce({b}ar, 0D)"]
    return F.expr(f"array({', '.join(slots)})")
