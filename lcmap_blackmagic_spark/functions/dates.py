"""Date helpers — proleptic-Gregorian ordinals and annual date series.

The reference moves between Python ``date.toordinal()`` ints and ISO
strings constantly (segment.py:68-70, segaux.py:189-209). Spark's
DateType is proleptic Gregorian, so the ordinal is a plain datediff
from 0001-01-01 (ordinal 1). All JVM-side — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_EPOCH = "0001-01-01"  # ordinal 1


def ordinal_from_date(col: Column | str) -> Column:
    """ISO date (string or date) → proleptic ordinal int.

    Parity: ``datetime.date.toordinal`` used at segaux.py:194.
    """
    return F.datediff(F.to_date(col), F.to_date(F.lit(_EPOCH))) + F.lit(1)


def ordinal_sql(col: str) -> str:
    """SQL text of ``ordinal_from_date`` over the column named ``col``."""
    return f"datediff(to_date({col}), to_date('{_EPOCH}')) + 1"


def date_from_ordinal(col: Column | str) -> Column:
    """Proleptic ordinal int → DateType.

    Parity: ``datetime.date.fromordinal`` at segment.py:68-70.
    """
    c = col if isinstance(col, Column) else F.col(col)
    return F.date_add(F.to_date(F.lit(_EPOCH)), (c - F.lit(1)).cast("int"))


def prediction_dates_sql(sday: str, eday: str, month: int, day: int) -> str:
    """SQL text of ``prediction_dates_array`` over the columns named
    ``sday`` and ``eday``."""
    s, e = f"to_date({sday})", f"to_date({eday})"
    return (f"filter(transform(sequence(year({s}), year({e})), "
            f"yr -> make_date(yr, {int(month)}, {int(day)})), "
            f"dt -> dt >= {s} AND dt <= {e})")


def prediction_dates_array(sday: str, eday: str,
                           month: int, day: int) -> Column:
    """Annual prediction dates within ``[sday, eday]`` as array<date>.

    For each year y in [year(sday), year(eday)], emit date(y, month, day)
    if it falls inside the closed interval. Parity:
    ``prediction_date_fn`` (segaux.py:129-139; golden tests
    test_C_segaux.py:117-209 — including the boundary case where the
    month/day lands outside a partial first/last year).
    """
    return F.expr(prediction_dates_sql(sday, eday, month, day))
