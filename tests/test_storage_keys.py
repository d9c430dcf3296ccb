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
