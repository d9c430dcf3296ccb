"""``storage.read`` reads every entity that has a declared schema with
that schema instead of inferring it, and a declared schema reads a
column the files lack as null.  So every column ``api`` stores must
match the declaration: each written entity's parquet footer carries
exactly the declared names and types, in order (the partition keys
live in the directory names, not in the files)."""

import glob
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import from_arrow_type

from lcmap_blackmagic_spark import api, storage
from lcmap_blackmagic_spark.ml.predict import _load, _predict_matrix
from lcmap_blackmagic_spark.schemas import N_FEATURES, NUM_CLASSES

TX, TY = -9000, 9000
CX, CY = 0, 0
WRITTEN = ["segment", "chip", "pixel", "prediction", "tile"]


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store"))
    seg = api.run_segment_job(spark, {"cx": CX, "cy": CY,
                                      "acquired": "1980/2019"}, root, side=5)
    tile = api.run_tile_job(spark, {"tx": TX, "ty": TY,
                                    "acquired": "1980/2019",
                                    "date": "2001-07-01",
                                    "chips": [(CX, CY)]}, root)
    pred = api.run_prediction_job(spark, {"tx": TX, "ty": TY, "cx": CX,
                                          "cy": CY, "acquired": "1980/2019",
                                          "month": 7, "day": 1}, root)
    assert [r["status"] for r in (seg, tile, pred)] == [200] * 3
    return root


def _footer(root, entity):
    files = glob.glob(os.path.join(storage.path(root, entity), "**",
                                   "*.parquet"), recursive=True)
    assert files, entity
    schemas = {tuple((f.name, from_arrow_type(f.type).simpleString())
                     for f in pq.read_schema(p)) for p in files}
    assert len(schemas) == 1, schemas
    return list(schemas.pop())


@pytest.mark.parametrize("entity", WRITTEN)
def test_written_footer_matches_declared_read_schema(spark, root, entity):
    keys = storage.PARTITION_KEYS[entity]
    declared = storage.READ_SCHEMAS[entity]
    assert _footer(root, entity) == [
        (f.name, f.dataType.simpleString()) for f in declared.fields
        if f.name not in keys]
    # the keys come back BIGINT, as declared
    read = storage.read(spark, root, entity).schema
    assert sorted((f.name, f.dataType.simpleString()) for f in read) == \
        sorted((f.name, f.dataType.simpleString()) for f in declared)


def test_declared_read_runs_no_job(spark, root):
    """Planning a read touches no file: a bare parquet read would run
    one footer-inference job per entity."""
    sc = spark.sparkContext
    sc.setJobGroup("declared-read", "declared-read")
    try:
        for entity in WRITTEN:
            storage.read(spark, root, entity)
        assert sc.statusTracker().getJobIdsForGroup("declared-read") == []
    finally:
        sc._jsc.clearJobGroup()


def test_stored_tile_model_decodes(spark, root):
    """/tile stores the model as its hex string (the declared type),
    and that string decodes into a model /prediction can apply."""
    row = (storage.read_partition(spark, root, "tile", tx=TX, ty=TY)
           .select("model").first())
    assert isinstance(row["model"], str)
    model = _load(bytes.fromhex(row["model"]))
    probs = _predict_matrix(model, np.zeros((2, N_FEATURES), np.float32))
    assert probs.shape == (2, NUM_CLASSES)
