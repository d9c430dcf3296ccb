"""The stratified sampler's literal caps: ``stratified_sample`` collects
the per-label counts once and reads each class's cap from a literal
label → cap map.  Its rows must be exactly those of the caps-table form
it replaced (per-label statistics joined back by broadcast), for int
and string labels, in seeded and ``order_col`` mode, with classes held
to ``class_min`` and to ``class_max``."""

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from lcmap_blackmagic_spark.operators.sampling import (class_caps,
                                                       stratified_sample)
from lcmap_blackmagic_spark.operators.stats import (label_counts,
                                                    label_statistics)

TARGET, CMIN, CMAX = 200, 25, 100
# label → rows: 0 is held to CMAX (raw cap 120), 2 is raised to CMIN
# (raw cap 18, 90 rows available), 3 has fewer rows than CMIN, and
# None is never sampled (the caps join never matched it)
HIST = {0: 600, 1: 290, 2: 90, 3: 10, None: 10}
STRING_LABELS = {0: "forest", 1: "water", 2: "urban", 3: "snow",
                 None: None}


def _join_form(df, label_col, seed=42, order_col=None):
    """The caps-table form: statistics → caps → broadcast join."""
    caps = label_statistics(df, label_col).select(
        label_col,
        F.least(F.greatest(F.ceil(F.lit(TARGET) * F.col("pct")),
                           F.lit(CMIN)), F.lit(CMAX)).alias("cap"))
    order = F.col(order_col) if order_col else F.rand(seed)
    w = Window.partitionBy(label_col).orderBy(order)
    return (df.withColumn("__rn", F.row_number().over(w))
              .join(F.broadcast(caps), on=label_col)
              .filter(F.col("__rn") <= F.col("cap"))
              .drop("__rn", "cap"))


@pytest.fixture(scope="module", params=["int", "string"])
def labeled(spark, request):
    """(label, rid) rows per HIST, and the HIST key → label mapping."""
    name = (lambda k: k) if request.param == "int" else STRING_LABELS.get
    rows = [(name(lbl), i) for lbl, n in HIST.items() for i in range(n)]
    typ = "int" if request.param == "int" else "string"
    # a few partitions, so rand(seed) draws more than one stream
    df = spark.createDataFrame(rows, f"label {typ}, rid int") \
        .repartition(3, "rid").cache()
    yield df, name
    df.unpersist()


@pytest.mark.parametrize("order_col", [None, "rid"])
def test_literal_caps_match_caps_join(labeled, order_col):
    df, name = labeled
    got = stratified_sample(df, "label", TARGET, CMIN, CMAX, seed=7,
                            order_col=order_col)
    want = _join_form(df, "label", seed=7, order_col=order_col)
    assert got.columns == want.columns
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    kept = {r[0]: r[1] for r in got.groupBy("label").count().collect()}
    assert kept[name(0)] == CMAX
    assert kept[name(2)] == CMIN
    assert kept[name(3)] == HIST[3]
    assert None not in kept


def test_class_caps_match_spark_doubles(spark):
    """``class_caps`` is the SQL ``least(greatest(ceil(target *
    (cnt / total)), min), max)`` bit for bit: ratios near a ceil
    boundary, where a rounding difference would show."""
    cases = [(cnt, total, target)
             for total in (3, 7, 10, 49, 1000, 999_983, 10**9 + 7)
             for cnt in {1, 2, total // 3, total // 2, total - 1, total}
             for target in (3, 100, 200, 20_000_000)]
    df = spark.createDataFrame(cases, "cnt long, total long, target long")
    got = df.select(F.least(F.greatest(
        F.ceil(F.col("target") * (F.col("cnt") / F.col("total"))),
        F.lit(0)), F.lit(2**62)).alias("cap")).collect()
    for (cnt, total, target), row in zip(cases, got):
        want = class_caps({"a": cnt, "b": total - cnt}, target, 0, 2**62)
        assert want["a"] == row["cap"] == math.ceil(target * (cnt / total))


def test_label_counts_include_null(labeled):
    counts = label_counts(labeled[0], "label")
    assert sum(counts.values()) == sum(HIST.values())
    assert counts[None] == HIST[None]


@pytest.mark.parametrize("rows", [[], [(None, 1), (None, 2)]])
def test_no_capped_label_samples_nothing(spark, rows):
    """An empty frame, or one whose only label is NULL, has no caps:
    the empty map reads NULL for every row."""
    df = spark.createDataFrame(rows, "label int, rid int")
    assert stratified_sample(df, "label", TARGET, CMIN, CMAX).count() == 0
