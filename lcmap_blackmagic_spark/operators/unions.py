"""Set operators (SURVEY §2.7).

The reference's prediction pipeline splits rows into *default*
segments (sentinel dates, no fitted model — they bypass the classifier
and get an empty probability vector) and real data, then recombines
(prediction.py:165-173 group_data, 234-242 default_predictions).
``plans.prediction.prediction_pipeline`` routes defaults inside its
scoring pass instead; the split and union stay for the bench-scale
chip query (``lcmap_predict_chip``) and perfbench's traced
/prediction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import DEFAULT_DAY


def is_default_sql(sday: str = "sday", eday: str = "eday") -> str:
    """Default-segment predicate (segaux.py:142-146, prediction.py:169)
    as SQL text."""
    return f"{sday} = '{DEFAULT_DAY}' AND {eday} = '{DEFAULT_DAY}'"


def is_default(sday: str = "sday", eday: str = "eday"):
    """Default-segment predicate (segaux.py:142-146, prediction.py:169)."""
    return F.expr(is_default_sql(sday, eday))


def group_data(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (defaults, data) — prediction.py:165-173
    (tests test_D_prediction.py:559-595)."""
    flag = is_default()
    return df.filter(flag), df.filter(~flag)


def default_predictions(defaults: DataFrame, predicted: DataFrame) -> DataFrame:
    """Default segments get ``prob = []`` and rejoin the predicted rows
    (prediction.py:234-242; tests test_D_prediction.py:649-700)."""
    cols = predicted.columns
    with_empty = (defaults
                  .withColumn("prob", F.array().cast("array<float>"))
                  .select(*cols))
    return with_empty.unionByName(predicted)
