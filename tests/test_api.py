"""API layer parity (P8 validation, UD5 stage errors, §5's
no-partial-writes contract) plus the gzip-JSON byte-parity sink."""

import os

import pytest

from lcmap_blackmagic_spark import storage
from lcmap_blackmagic_spark.api import (StageError, ValidationError,
                                        respond, run_segment_job,
                                        run_stages,
                                        validate_prediction_params,
                                        validate_segment_params,
                                        validate_tile_params)

GOOD_SEG = {"cx": 100, "cy": 200, "acquired": "1980/2019"}


# ------------------------------------------------------ validation --

def test_segment_params_ok():
    assert validate_segment_params(GOOD_SEG) == {
        "cx": 100, "cy": 200, "acquired": "1980/2019"}


@pytest.mark.parametrize("bad", [
    {},
    {"cx": 1, "cy": 2},
    {"cx": "x", "cy": 2, "acquired": "1980/2019"},
    {"cx": 1, "cy": 2, "acquired": "not-a-range"},
])
def test_segment_params_400(bad):
    with pytest.raises(ValidationError):
        validate_segment_params(bad)


def test_tile_params():
    p = validate_tile_params({"tx": 0, "ty": 0, "acquired": "1980/2019",
                              "date": "2001-07-01",
                              "chips": [(0, 0), (3000, 0)]})
    assert p["chips"] == [(0, 0), (3000, 0)]
    with pytest.raises(ValidationError):
        validate_tile_params({"tx": 0, "ty": 0, "acquired": "1980/2019",
                              "date": "bad", "chips": [(0, 0)]})


def test_prediction_params_range():
    base = {"tx": 0, "ty": 0, "cx": 0, "cy": 0, "acquired": "1980/2019",
            "month": 7, "day": 1}
    assert validate_prediction_params(base)["month"] == 7
    with pytest.raises(ValidationError):
        validate_prediction_params(base | {"month": 13})


# ---------------------------------------------------- stage errors --

def test_run_stages_wraps_and_names_stage():
    def boom(_):
        raise RuntimeError("kaput")
    with pytest.raises(StageError) as ei:
        run_stages({}, [("ok", lambda c: c), ("explode", boom),
                        ("never", lambda c: c)])
    assert ei.value.stage == "explode"
    assert ei.value.http_status == 500


def test_respond_shapes():
    assert respond(GOOD_SEG)["status"] == 200
    err = StageError("save", RuntimeError("x"))
    r = respond(GOOD_SEG, err)
    assert r["status"] == 500 and "save" in r["message"]


# --------------------------------------- end-to-end + atomicity ----

def test_segment_job_writes_all_entities(spark, tmp_path):
    root = str(tmp_path / "store")
    r = run_segment_job(spark, GOOD_SEG, root, side=5)
    assert r["status"] == 200
    assert storage.read(spark, root, "segment").count() == 25
    assert storage.read(spark, root, "pixel").count() == 25
    assert storage.read(spark, root, "chip").count() == 1
    # UD4: the Observation rode the detection plan — populated by the
    # save action itself, no extra pass over the data
    assert r["metrics"]["n_detections"] == 25
    assert r["metrics"]["first_sday"] <= r["metrics"]["last_eday"]


@pytest.mark.parametrize("stage", ["timeseries", "detection", "save"])
def test_segment_job_failure_leaves_no_partial_writes(spark, tmp_path,
                                                      stage):
    root = str(tmp_path / "store")
    r = run_segment_job(spark, GOOD_SEG, root, side=5,
                        test_exception=stage)
    assert r["status"] == 500 and stage in r["message"]
    # §5 contract: zero rows persisted after any stage failure
    for entity in ("segment", "pixel", "chip"):
        assert not os.path.exists(os.path.join(root, entity))


# ------------------------------------------ request-scoped staging --

def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


# None = a successful request; a stage name = its test_exception;
# segment_write = the segment entity's write raises inside save
RELEASE_CASES = [None, "timeseries", "nodata", "detection", "save",
                 "segment_write"]


@pytest.mark.parametrize("fail", RELEASE_CASES)
def test_segment_job_releases_staged_data(spark, tmp_path, monkeypatch,
                                          fail):
    """The request's staged ``ts`` and ``detections`` are released on
    success and on every failure path, including a failure inside the
    save stage after the side entities committed.  Each case runs its
    own chip, so a block one case leaked cannot hide another's."""
    root = str(tmp_path / "store")
    params = GOOD_SEG | {"cx": 100 + 3000 * RELEASE_CASES.index(fail)}
    test_exception = fail
    if fail == "segment_write":
        test_exception = None
        real = storage.overwrite_partitions

        def overwrite(df, root, entity, *a, **kw):
            if entity == "segment":
                raise RuntimeError("injected segment write failure")
            return real(df, root, entity, *a, **kw)
        monkeypatch.setattr(storage, "overwrite_partitions", overwrite)

    before = _persistent_rdd_ids(spark)
    r = run_segment_job(spark, params, root, side=5,
                        test_exception=test_exception)
    assert _persistent_rdd_ids(spark) == before
    if fail is None:
        assert r["status"] == 200
    else:
        stage = "save" if fail == "segment_write" else fail
        assert r["status"] == 500 and repr(stage) in r["message"]
        # side entities commit first; the authoritative one never did
        assert not os.path.exists(os.path.join(root, "segment"))


def _job_census(sc, group: str, call) -> tuple:
    """``call()``'s result and the number of Spark jobs it ran."""
    sc.setJobGroup(group, f"{group} job census")
    try:
        r = call()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return r, len(sc.statusTracker().getJobIdsForGroup(group))


def test_segment_job_detects_each_pixel_once(spark, tmp_path):
    """The chip and segment writes share one detection pass (the
    reference's segment.py:253-264 saves all three entities from one
    result), and the request runs a bounded number of Spark jobs."""
    from lcmap_blackmagic_spark.plans.segment import stub_detector
    sc = spark.sparkContext
    calls = sc.accumulator(0)

    def counting_detector(dates, bands, qas):
        calls.add(1)
        return stub_detector(dates, bands, qas)

    r, jobs = _job_census(sc, "segment-job-census", lambda: run_segment_job(
        spark, GOOD_SEG, str(tmp_path / "store"), side=5,
        detector=counting_detector))
    assert r["status"] == 200
    assert r["metrics"]["n_detections"] == 25
    assert calls.value == 25          # one detector call per pixel
    assert jobs <= 12


TILE_PARAMS = {"tx": -9000, "ty": 9000, "acquired": "1980/2019",
               "date": "2001-07-01", "chips": [(0, 0), (3000, 0)]}


@pytest.fixture
def tile_store(spark, tmp_path):
    """A storage root holding TILE_PARAMS' chips' segments and aux."""
    from lcmap_blackmagic_spark.sources.fixtures import (synth_aux,
                                                         synth_segments)
    root = str(tmp_path / "store")
    for cx, cy in TILE_PARAMS["chips"]:
        storage.overwrite_partitions(
            synth_segments(spark, cx=cx, cy=cy, side=8), root, "segment")
        storage.overwrite_partitions(
            synth_aux(spark, cx=cx, cy=cy, side=8), root, "aux")
    return root


def _run_stored_tile_job(spark, root, **kw):
    """/tile over the stored chips, inputs read as the benchmark
    reads them (``storage.read``)."""
    from lcmap_blackmagic_spark.api import run_tile_job
    return run_tile_job(spark, TILE_PARAMS, root,
                        segments=storage.read(spark, root, "segment"),
                        aux=storage.read(spark, root, "aux"), **kw)


def test_tile_job_trains_from_one_staged_matrix(spark, tile_store):
    """The training matrix is built once and its label counts
    collected once (the skew switch and the caps share them), and the
    tile record is a row of literals: the request runs a bounded
    number of Spark jobs.  With a checkpointed matrix, a second counts
    aggregation and a ``createDataFrame`` record it ran 14 here."""
    r, jobs = _job_census(spark.sparkContext, "tile-job-census",
                          lambda: _run_stored_tile_job(spark, tile_store))
    assert r["status"] == 200
    assert jobs <= 9


# None = a successful request; a stage name = its test_exception;
# tile_write = the tile record's write raises inside save
TILE_RELEASE_CASES = [None, "train", "save", "tile_write"]


@pytest.mark.parametrize("fail", TILE_RELEASE_CASES)
def test_tile_job_releases_staged_data(spark, tile_store, monkeypatch,
                                       fail):
    """The staged training matrix is released on success and on every
    failure path, and a failed request writes no tile record."""
    test_exception = fail
    if fail == "tile_write":
        test_exception = None

        def overwrite(df, root, entity, *a, **kw):
            raise RuntimeError("injected tile write failure")
        monkeypatch.setattr(storage, "overwrite_partitions", overwrite)

    before = _persistent_rdd_ids(spark)
    r = _run_stored_tile_job(spark, tile_store,
                             test_exception=test_exception)
    assert _persistent_rdd_ids(spark) == before
    if fail is None:
        assert r["status"] == 200
        assert storage.read(spark, tile_store, "tile").count() == 1
    else:
        stage = "save" if fail == "tile_write" else fail
        assert r["status"] == 500 and repr(stage) in r["message"]
        assert not os.path.exists(os.path.join(tile_store, "tile"))


def test_tile_then_prediction_jobs(spark, tmp_path):
    """The /tile → /prediction composition: model persisted as a hex
    1-row tile record, then loaded, broadcast, and applied."""
    from lcmap_blackmagic_spark.api import (health, run_prediction_job,
                                            run_tile_job)
    root = str(tmp_path / "store")
    tp = {"tx": -9000, "ty": 9000, "acquired": "1980/2019",
          "date": "2001-07-01", "chips": [(0, 0)]}
    r = run_tile_job(spark, tp, root)
    assert r["status"] == 200
    assert storage.read(spark, root, "tile").count() == 1

    pp = {"tx": -9000, "ty": 9000, "cx": 0, "cy": 0,
          "acquired": "1980/2019", "month": 7, "day": 1}
    r2 = run_prediction_job(spark, pp, root)
    assert r2["status"] == 200
    preds = storage.read(spark, root, "prediction")
    assert preds.count() > 0
    # default segments carry empty prob arrays; predicted carry 9
    from pyspark.sql import functions as F
    sizes = {r[0] for r in
             preds.select(F.size("prob")).distinct().collect()}
    assert sizes <= {0, 9} and 9 in sizes

    assert health() == {"status": 200}


def test_prediction_job_scores_in_one_pass(spark, tmp_path):
    """A /prediction request on a stored chip (the benchmark's path:
    segments and aux from ``storage.read_partition``) runs a bounded
    number of Spark jobs: one scan each of segments and aux, no
    defaults/data union.  The two-branch union ran 7 here."""
    from lcmap_blackmagic_spark.api import (run_prediction_job,
                                            run_tile_job)
    from lcmap_blackmagic_spark.sources.fixtures import (synth_aux,
                                                         synth_segments)
    root = str(tmp_path / "store")
    tp = {"tx": -9000, "ty": 9000, "acquired": "1980/2019",
          "date": "2001-07-01", "chips": [(0, 0)]}
    assert run_tile_job(spark, tp, root)["status"] == 200
    storage.overwrite_partitions(synth_segments(spark, cx=0, cy=0),
                                 root, "segment")
    storage.overwrite_partitions(synth_aux(spark, cx=0, cy=0), root, "aux")
    pp = {"tx": -9000, "ty": 9000, "cx": 0, "cy": 0,
          "acquired": "1980/2019", "month": 7, "day": 1}
    r, jobs = _job_census(spark.sparkContext, "prediction-job-census",
                          lambda: run_prediction_job(
                              spark, pp, root,
                              segments=storage.read_partition(
                                  spark, root, "segment", cx=0, cy=0),
                              aux=storage.read_partition(
                                  spark, root, "aux", cx=0, cy=0)))
    assert r["status"] == 200
    assert jobs <= 6


def test_prediction_job_without_model_500(spark, tmp_path):
    from lcmap_blackmagic_spark.api import run_prediction_job
    root = str(tmp_path / "empty")
    os.makedirs(os.path.join(root, "tile"))
    pp = {"tx": 1, "ty": 2, "cx": 0, "cy": 0,
          "acquired": "1980/2019", "month": 7, "day": 1}
    r = run_prediction_job(spark, pp, root)
    assert r["status"] == 500 and "load_model" in r["message"]
    assert not os.path.exists(os.path.join(root, "prediction"))


# ------------------------------------------------------- gzip sink --

def test_write_json_gzip_roundtrip(spark, tmp_path):
    out = str(tmp_path / "gz")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    storage.write_json_gzip(df, out)
    files = [f for f in os.listdir(out) if f.endswith(".json.gz")]
    assert files, "expected gzip-compressed JSON part files"
    back = spark.read.json(out)
    assert {tuple(r) for r in back.select("id", "s").collect()} \
        == {(1, "a"), (2, "b")}
