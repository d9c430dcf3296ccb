"""The /tile training-data plan (blackmagic/blueprints/tile.py:88-109)
as one declarative DataFrame query.

Reference shape (per chip, in a multiprocessing pool):
  segments(read) → segments_filter → aux(read) → aux_filter
  → combine(join) → add_training_dates → add_average_reflectance
  → training_format → flatten across chips

Spark shape: one plan over *all* requested chips — the per-chip Pool
fan-out (tile.py:172-188) becomes partition parallelism, and the
cross-chip flatten (U1) is simply the absence of any per-chip split.
Filters sit before the join so Catalyst pushes them into the scans;
aux is broadcast (J1).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.features import average_reflectance, standard_format_array
from ..operators.filters import aux_filter, segments_filter
from ..operators.joins import combine


def chips_predicate(chips: Sequence[tuple[int, int]] | None):
    """WHERE (cx, cy) IN chips — the request's chip list
    (tile.py:151-170). None = whole extent.

    One SQL expression with BIGINT literals (the key columns' type),
    built in one py4j call: a tile-only request lists 2,500 chips, and
    a Column-built ``struct(...).isin(...)`` makes about ten calls per
    chip (about 10 s on a 4-core host)."""
    if not chips:
        return F.lit(True)
    keys = ", ".join(f"({int(cx)}L, {int(cy)}L)" for cx, cy in chips)
    return F.expr(f"(cx, cy) IN ({keys})")


def training_data(segments: DataFrame, aux: DataFrame, date: str,
                  chips: Sequence[tuple[int, int]] | None = None,
                  keep_keys: bool = False) -> DataFrame:
    """Label + 68-feature rows for training date ``date``.

    Output: ``label tinyint, features array<double>(68)`` (+ pixel keys
    when ``keep_keys``). Feature order is the contractual 69-slot
    layout minus the label (segaux.py:248-275).
    """
    on_chips = chips_predicate(chips)
    segs = segments_filter(segments.filter(on_chips), date)
    dim = aux_filter(aux.filter(on_chips))
    joined = combine(segs, dim)                      # J1 broadcast join
    dated = joined.withColumn("date", F.lit(date))   # F5 training date
    with_ar = average_reflectance(dated)             # F7
    out = with_ar.select(
        *(["cx", "cy", "px", "py"] if keep_keys else []),
        F.col("nlcdtrn").cast("tinyint").alias("label"),
        standard_format_array().alias("features"),
    )
    return out
