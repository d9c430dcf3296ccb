"""``storage.read`` returns every entity's partition keys as BIGINT:
partition discovery types the ``cx=…/cy=…`` directories as INT, which
``plans.training.chips_predicate`` (BIGINT chip literals) rejects, so
every caller used to cast.  Pruning must survive the cast."""

import pytest

from lcmap_blackmagic_spark import storage
from lcmap_blackmagic_spark.plans.training import training_data
from lcmap_blackmagic_spark.sources.fixtures import (synth_aux,
                                                     synth_segments)

CHIPS = [(-2061585, 1922805), (-2058585, 1922805)]


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store"))
    for cx, cy in CHIPS:
        storage.overwrite_partitions(
            synth_segments(spark, cx=cx, cy=cy, side=4), root, "segment")
        storage.overwrite_partitions(
            synth_aux(spark, cx=cx, cy=cy, side=4), root, "aux")
    return root


def test_training_data_over_stored_entities_needs_no_cast(spark, root):
    data = training_data(storage.read(spark, root, "segment"),
                         storage.read(spark, root, "aux"),
                         "2001-07-01", chips=CHIPS[:1], keep_keys=True)
    keys = {(r.cx, r.cy) for r in data.select("cx", "cy").collect()}
    assert keys == {CHIPS[0]}


def test_read_partition_still_prunes(spark, root):
    cx, cy = CHIPS[1]
    df = storage.read_partition(spark, root, "segment", cx=cx, cy=cy)
    plan = df._jdf.queryExecution().executedPlan().toString()
    filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cx" in filters and "cy" in filters, plan
    assert {(r.cx, r.cy) for r in df.select("cx", "cy").collect()} == \
        {(cx, cy)}


def test_chips_predicate_selects_what_struct_isin_selects(spark):
    """The SQL ``(cx, cy) IN (...)`` predicate over a tile-only
    request's 2,500 chips plus off-tile keys (negative ones among
    them) keeps exactly the rows the struct ``isin`` form keeps;
    ``chips=None`` keeps every row."""
    from pyspark.sql import functions as F

    from lcmap_blackmagic_spark.functions.grid import chips_for_tile, snap
    from lcmap_blackmagic_spark.plans.training import chips_predicate
    tx, ty = snap(*CHIPS[0], grain="tile")
    listed = chips_for_tile(tx, ty) + [(-3000, -3000), (-1, 0), (0, -1),
                                       (0, 0)]
    near = ([(cy, cx) for cx, cy in listed[:50]]
            + [(tx - 3000, ty), (tx, ty + 3000), (-3000, -6000), (1, 0)])
    unlisted = [k for k in dict.fromkeys(near) if k not in set(listed)]
    df = spark.createDataFrame(listed + unlisted, "cx long, cy long")
    want = df.filter(F.struct("cx", "cy").isin(
        [F.struct(F.lit(cx).cast("bigint"), F.lit(cy).cast("bigint"))
         for cx, cy in listed]))
    got = df.filter(chips_predicate(listed))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert {(r.cx, r.cy) for r in got.collect()} == set(listed)
    assert df.filter(chips_predicate(None)).count() == df.count()


def test_chips_predicate_prunes_partitions(spark, root):
    from lcmap_blackmagic_spark.plans.training import chips_predicate
    df = storage.read(spark, root, "segment").filter(
        chips_predicate(CHIPS[:1]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cx" in filters and "cy" in filters, plan
    assert {(r.cx, r.cy) for r in df.select("cx", "cy").collect()} == \
        {CHIPS[0]}
