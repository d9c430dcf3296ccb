"""The /prediction feature plan (blackmagic/blueprints/prediction.py:129-146)
as one declarative DataFrame query.

Reference shape: segments(read) → aux(read) → combine → prediction_dates
(annual-date row explode, the reference's only row-multiplying operator)
→ average_reflectance → prediction_format. The classifier boundary
(broadcast booster + batch predict) lives in ``ml.predict``; this module
is the pure-relational part, oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dates import prediction_dates_sql
from ..functions.features import average_reflectance, standard_format_array
from ..operators.joins import combine
from ..operators.unions import is_default, is_default_sql
from ..schemas import DEFAULT_DAY, PREDICTIONS


def explode_prediction_dates(df: DataFrame, month: int, day: int) -> DataFrame:
    """Per-segment annual date explode (segaux.py:149-163, F4): default
    segments yield exactly one row with the sentinel date; real segments
    yield one row per in-interval annual date (F2)."""
    dates = (f"CASE WHEN {is_default_sql()}"
             f" THEN array(to_date('{DEFAULT_DAY}'))"
             f" ELSE {prediction_dates_sql('sday', 'eday', month, day)} END")
    return df.withColumn("date", F.explode(F.expr(dates)))


def prediction_inputs(segments: DataFrame, aux: DataFrame,
                      month: int, day: int) -> DataFrame:
    """Keys + dates + 68-slot independent feature vector per
    (segment × annual date) — prediction_format (segaux.py:289-298).

    Default segments keep their rows (empty-coef features, still 68
    slots); ``prediction_pipeline`` gives them ``prob = []`` (U3).
    """
    joined = combine(segments, aux)
    exploded = explode_prediction_dates(joined, month, day)
    with_ar = average_reflectance(exploded)
    return with_ar.select(
        "cx", "cy", "px", "py", "sday", "eday",
        F.date_format("date", "yyyy-MM-dd").alias("pday"),
        standard_format_array().alias("independent"),
    )


def prediction_pipeline(segments: DataFrame, aux: DataFrame,
                        model_bytes: bytes, month: int, day: int) -> DataFrame:
    """End-to-end /prediction (prediction.py:331-345) in one pass:
    features → broadcast batch inference (UD3) → defaults get
    ``prob = []`` (U2/U3). Output matches the PREDICTIONS schema.

    The reference splits defaults off before the matrix and prepends
    them afterwards (``operators.unions`` group_data /
    default_predictions); here every row is scored and the default
    rows' probabilities are replaced in the same projection. The
    feature vector is 68 slots for default segments too
    (``standard_format_array``), and scoring is row-wise, so the rows
    equal the split-and-union composition without scanning, joining
    and exploding the chip once per branch.

    The segments are hash-partitioned on the pixel into one partition
    per core first: a chip written by ``storage.overwrite_partitions``
    is one file, often one row group, which a scan reads in one task.
    The explicit count keeps AQE from coalescing the spread."""
    from ..ml.predict import predict_probabilities

    n = segments.sparkSession.sparkContext.defaultParallelism
    spread = segments.repartition(n, "px", "py")
    scored = predict_probabilities(
        prediction_inputs(spread, aux, month, day), model_bytes,
        "independent")
    prob = (F.when(is_default(), F.array().cast("array<float>"))
            .otherwise(F.col("prob")).alias("prob"))
    return scored.select(*[prob if c == "prob" else c
                           for c in PREDICTIONS.fieldNames()])
