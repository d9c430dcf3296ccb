"""Sampling operators (SURVEY §2.6).

The reference shuffles with an *unseeded* ``RandomState().permutation``
(tile.py:215-225) and takes the first N indices per class
(tile.py:228-284) — non-reproducible by design. This engine seeds
everything; with ``order_col`` set, sampling is fully deterministic and
oracle-checkable.

Scale notes: the per-class caps come from one driver collect of the
per-label counts (≤ num_classes rows) and enter the plan as literals;
the fact table is shuffled once, by label, for the row_number window.
For heavily skewed labels, ``sampleBy`` (approximate mode) avoids the
single-reducer hotspot of a huge class partition.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, MapType

from .stats import label_counts


def randomize(df: DataFrame, seed: int = 42) -> DataFrame:
    """Seeded row shuffle (reference ``randomize`` tile.py:215-225)."""
    return df.orderBy(F.rand(seed))


def class_caps(counts: dict, target_samples: int, class_min: int,
               class_max: int) -> dict:
    """Per-class sample budget from ``{label: count}``: ceil(target ·
    pct) clipped to [class_min, class_max] (tile.py:242-284; defaults
    blackmagic/__init__.py:17-19), in IEEE doubles as the SQL form
    ``least(greatest(ceil(target * (cnt / total)), min), max)``
    computes it.  The total counts every row, a NULL label's included;
    a NULL label gets no cap, so its rows are never sampled."""
    total = sum(counts.values())
    return {lbl: min(max(math.ceil(target_samples * (n / total)),
                         class_min), class_max)
            for lbl, n in counts.items() if lbl is not None}


# Largest class the exact (windowed) mode will sort in one reducer
# before the skew switch flips to sampleBy — SCALE.md's shuffle
# inventory: 9 labels → 9 reducers hotspots at trillion-row scale.
EXACT_CLASS_ROWS_LIMIT = 50_000_000


def stratified_sample(df: DataFrame, label_col: str,
                      target_samples: int, class_min: int, class_max: int,
                      seed: int = 42,
                      order_col: str | None = None,
                      exact_class_limit: int = EXACT_CLASS_ROWS_LIMIT
                      ) -> DataFrame:
    """Per-class capped/floored sample — reference ``sample``
    (tile.py:228-284; unit test test_B_tile.py:255-274).

    row_number over (partition by label order by rand(seed)) ≤ cap.
    With ``order_col``, ordering is by that column instead — exactly
    reproducible in any engine (and the skew switch is disabled,
    since the caller demanded determinism).

    The per-label counts are collected once (``label_counts``, ≤
    num_classes rows) and drive everything else: without
    ``order_col``, the skew switch — if the largest class exceeds
    ``exact_class_limit`` rows, the windowed mode's per-class
    single-reducer sort would hotspot, so the sample is the Bernoulli
    ``sampleBy`` of ``stratified_sample_approx`` over the same counts,
    the at-scale default SCALE.md names — and otherwise the caps,
    which enter the plan as a literal label → cap map: no second
    aggregation, no join.  Columns come back label first.
    """
    counts = label_counts(df, label_col)
    if (order_col is None
            and max(counts.values(), default=0) > exact_class_limit):
        return _sample_by(df, label_col, counts, target_samples,
                          class_min, class_max, seed)
    caps = class_caps(counts, target_samples, class_min, class_max)
    schema = df.schema
    cols = [label_col, *[c for c in schema.fieldNames() if c != label_col]]
    # keys cast to the label's own type, so the lookup needs no
    # coercion of the column; a label absent from the map (NULL) reads
    # a NULL cap and its rows drop, as the old caps join dropped them
    cap = F.create_map(*[F.lit(x) for kv in caps.items() for x in kv]).cast(
        MapType(schema[label_col].dataType, LongType()))
    order = F.col(order_col) if order_col else F.rand(seed)
    w = Window.partitionBy(label_col).orderBy(order)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= cap[F.col(label_col)])
              .select(cols))


def stratified_sample_approx(df: DataFrame, label_col: str,
                             target_samples: int, class_min: int,
                             class_max: int, seed: int = 42) -> DataFrame:
    """Approximate mode for skewed scale: per-class Bernoulli fractions
    via ``sampleBy`` — no window, no per-class single-partition sort."""
    return _sample_by(df, label_col, label_counts(df, label_col),
                      target_samples, class_min, class_max, seed)


def _sample_by(df: DataFrame, label_col: str, counts: dict,
               target_samples: int, class_min: int, class_max: int,
               seed: int) -> DataFrame:
    """``sampleBy`` with fraction want / n per label, want the integer
    ceil-div budget clipped to [class_min, class_max]; a NULL label
    gets no fraction, so its rows are never sampled."""
    total = sum(counts.values())
    fractions = {}
    for lbl, n in counts.items():
        if lbl is None:
            continue
        want = min(max(-(-target_samples * n // total), class_min), class_max)
        fractions[lbl] = min(1.0, want / n)
    return df.sampleBy(label_col, fractions, seed=seed)


HASH_MOD = 2 ** 48  # 12 hex digits of md5 as an integer


def stratified_sample_hash(df: DataFrame, label_col: str, id_col: str,
                           target_samples: int, class_min: int,
                           class_max: int) -> DataFrame:
    """Deterministic engine-portable twin of
    ``stratified_sample_approx``: per-class Bernoulli where the coin is
    ``md5(label:id)``'s 48-bit prefix instead of an RNG — keep iff
    h < floor(want·2^48 / class_count), all-integer arithmetic any
    engine reproduces exactly (the seeded ``sampleBy`` RNG is
    Spark-internal, so the approx mode itself can't be oracled).

    Same at-scale shape as ``sampleBy``: the per-class thresholds are a
    ≤ num_classes-row broadcast, the keep decision is a map-side filter
    — no window, no per-class single-reducer sort, no fact shuffle.
    """
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    # want = ceil-div(target·cnt, total) clipped to [min, max];
    # threshold = floor(want·2^48 / cnt). `div` keeps it exact-integer
    # end to end (h·cnt would overflow at 100 TB class sizes; the
    # per-class precomputed threshold never does).
    caps = (counts.crossJoin(F.broadcast(total)).selectExpr(
        f"{label_col}",
        f"(least(greatest(({target_samples} * cnt + total - 1) div total, "
        f"{class_min}), {class_max}) * {HASH_MOD}) div cnt AS __thresh"))
    # F.concat (NULL-propagating), NOT concat_ws (NULL-skipping): the
    # oracle's `label || ':' || id` yields NULL on a NULL input, so
    # md5(NULL) = NULL fails `h < thresh` and the row drops in BOTH
    # engines identically — concat_ws would silently keep hashing a
    # shorter key on one side only and diverge on a NULL-bearing
    # fixture instead of failing loudly.
    h = F.conv(F.substring(F.md5(F.concat(
        F.col(label_col).cast("string"), F.lit(":"),
        F.col(id_col).cast("string"))), 1, 12), 16, 10).cast("bigint")
    return (df.join(F.broadcast(caps), on=label_col)
              .filter(h < F.col("__thresh"))
              .drop("__thresh"))


def train_test_split(df: DataFrame, test_size: float = 0.2,
                     seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """Seeded holdout split (reference tile.py:297-299,
    test_size blackmagic/__init__.py:14)."""
    train, test = df.randomSplit([1.0 - test_size, test_size], seed=seed)
    return train, test


def train_test_split_hash(df: DataFrame, id_cols: Sequence[str],
                          test_size: float = 0.2
                          ) -> tuple[DataFrame, DataFrame]:
    """Engine-portable twin of ``train_test_split``: the holdout coin
    is md5('split:' || id)'s 48-bit prefix — a row is TEST iff
    h < floor(test_size · 2^48), all-integer and reproducible in any
    engine (randomSplit's RNG is Spark-internal, so the seeded split
    itself can't be oracled).  Same Bernoulli semantics: expected
    test fraction test_size, exact membership a pure function of the
    row's id columns.  Both returned frames are map-side filters of
    the input — no shuffle, no sort.

    NULL id columns coalesce to a ``\\x00null`` sentinel before
    hashing: ``concat_ws`` silently SKIPS nulls, so without it a row
    with a NULL id would collide with a differently-shaped key
    (weakened determinism) and diverge from any SQL replay whose
    ``||`` yields NULL (ADVICE r11).  A null-capable SQL twin must
    use the same sentinel — ``COALESCE(CAST(c AS VARCHAR),
    chr(0)||'null')``-style; the registered oracles' id columns
    (px, py) are non-null by construction, where ``c`` and the
    coalesced form hash identically."""
    thr = int(test_size * HASH_MOD)
    key = F.concat_ws(":", F.lit("split"),
                      *[F.coalesce(F.col(c).cast("string"),
                                   F.lit("\x00null"))
                        for c in id_cols])
    h = F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("bigint")
    return df.filter(h >= thr), df.filter(h < thr)


def priority_sample(df: DataFrame, weight_col: str, id_col: str,
                    k: int, group_col: str | None = None) -> DataFrame:
    """Deterministic weighted sampling without replacement (Ohlsson
    sequential Poisson / priority sampling): each row draws a
    reproducible pseudo-uniform u from md5(id) and takes priority
    q = u / weight; the k SMALLEST priorities per group are the
    sample, so inclusion probability grows with weight. The classic
    Efraimidis–Spirakis key is u^(1/w) — a transcendental the repo's
    determinism policy bans from checked outputs; u/w is the
    first-order-equivalent estimator from the same literature; the
    division here is INTEGER (u div w, exact in any engine) because a
    float u/w at ~1e10 magnitude is beyond round(x, 6)'s reach
    (ulp > 1e-6 — the one regime the repo's rounding policy cannot
    paper over; found live against the oracle). Truncation reorders
    only rows whose real priorities differ by < 1, i.e. whose draws
    are statistically indistinguishable anyway.

    Scale: a narrow projection plus one top-k — with a group column,
    a per-group window over (priority, id); ungrouped, a global
    TakeOrdered (per-partition heaps, no full sort). The weight
    column is never shuffled beyond the k winners per group.
    """
    u = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 12),
               16, 10).cast("bigint")
    w_int = F.col(weight_col).cast("bigint")
    # u div w as exact integers: (u - u % w) is divisible by w and the
    # quotient < 2^53, so the one double division is exact
    q = ((u - u % w_int) / w_int).cast("bigint")
    base = df.select(
        *([group_col] if group_col else []), id_col, weight_col,
        q.alias("priority"))
    if group_col is None:
        return base.orderBy("priority", id_col).limit(k)
    w = Window.partitionBy(group_col).orderBy("priority", id_col)
    return (base.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))
