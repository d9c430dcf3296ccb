"""End-to-end pipeline tests mirroring the reference's golden-count
contract (test_A_segment → test_B_tile → test_D_prediction): counts,
schemas, sentinel semantics, and the positional feature contract."""

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark import storage
from lcmap_blackmagic_spark.ml.train import train_model
from lcmap_blackmagic_spark.plans.prediction import (prediction_inputs,
                                                     prediction_pipeline)
from lcmap_blackmagic_spark.plans.segment import (pixel_records,
                                                  pixel_timeseries,
                                                  segment_pipeline)
from lcmap_blackmagic_spark.plans.tile import tile_pipeline
from lcmap_blackmagic_spark.plans.training import training_data
from lcmap_blackmagic_spark.schemas import DEFAULT_DAY, PREDICTIONS, SEGMENTS
from lcmap_blackmagic_spark.sources.fixtures import (synth_ard, synth_aux,
                                                     synth_segments)

SIDE = 10  # 100 pixels per test chip (real grid: 100 → 10,000)


@pytest.fixture(scope="module")
def ard(spark):
    return synth_ard(spark, side=SIDE).cache()


@pytest.fixture(scope="module")
def aux(spark):
    return synth_aux(spark, side=SIDE).cache()


@pytest.fixture(scope="module")
def segments(spark):
    return synth_segments(spark, side=SIDE).cache()


# ---- /segment (golden counts per test_A_segment.py:50-52) ----------

def test_pixel_timeseries_assembly(ard):
    ts = pixel_timeseries(ard, side=SIDE)
    rows = ts.collect()
    assert len(rows) == SIDE * SIDE  # one row per pixel
    r = rows[0]
    n = len(r["dates"])
    assert n == 40  # one entry per acquisition
    assert list(r["dates"]) == sorted(r["dates"])
    for band in ["blues", "greens", "reds", "nirs", "swir1s", "swir2s",
                 "thermals", "qas"]:
        assert len(r[band]) == n


def test_segment_pipeline_counts_and_schema(ard):
    segs = segment_pipeline(ard, side=SIDE)
    assert segs.schema == SEGMENTS
    rows = segs.collect()
    # stub detector: 1 segment per pixel (default or fitted)
    assert len(rows) == SIDE * SIDE
    fitted = [r for r in rows if r["sday"] != DEFAULT_DAY]
    assert len(fitted) > 0.8 * SIDE * SIDE  # ~15% cloud → most pixels fit
    # fitted segments carry 7 coefficients with the linear slope first
    assert all(len(r["blcoef"]) == 7 for r in fitted)


def test_segment_pipeline_default_sentinels(ard):
    # force everything to default by requiring impossible clear count
    segs = segment_pipeline(ard, side=SIDE,
                            detector=lambda d, b, q: [])
    rows = segs.collect()
    assert len(rows) == SIDE * SIDE
    assert all(r["sday"] == r["eday"] == r["bday"] == DEFAULT_DAY
               for r in rows)
    assert all(r["blcoef"] == [] for r in rows)


def test_pixel_records_mask(ard):
    ts = pixel_timeseries(ard, side=SIDE)
    pr = pixel_records(ts).collect()
    assert len(pr) == SIDE * SIDE
    assert set(v for r in pr for v in r["mask"]) <= {0, 1}


# ---- /tile training data (tile.py:88-109 semantics) ----------------

def test_training_data_contract(segments, aux):
    date = "2001-07-01"
    td = training_data(segments, aux, date)
    rows = td.collect()
    assert len(rows) > 0
    assert all(len(r["features"]) == 68 for r in rows)
    assert all(1 <= r["label"] <= 8 for r in rows)  # nlcdtrn=0 filtered


def test_training_data_average_reflectance_golden(spark, segments, aux):
    """Feature slots 12 (blar) must equal blint + blcoef[0]*ordinal —
    the reference's average_reflectance (segaux.py:189-209), checked
    against an independent numpy computation."""
    date = "2001-07-01"
    td = training_data(segments, aux, date, keep_keys=True)
    row = td.filter("label is not null").limit(1).collect()[0]
    seg = (segments.filter((F.col("px") == row["px"])
                           & (F.col("py") == row["py"])
                           & (F.col("sday") <= date) & (F.col("eday") >= date))
           .collect()[0])
    ordinal = datetime.date(2001, 7, 1).toordinal()
    expect_blar = seg["blint"] + seg["blcoef"][0] * ordinal
    # slots: [aspect posidex slope mpw dem] then bl: coef0..6, rmse, ar
    got_blar = row["features"][5 + 8]
    assert got_blar == pytest.approx(expect_blar, rel=1e-9)
    assert row["features"][5 + 7] == pytest.approx(seg["blrmse"], rel=1e-9)
    assert row["features"][5 + 0] == pytest.approx(seg["blcoef"][0], rel=1e-9)


def test_training_data_last_wins_dedupe(spark):
    """Duplicate aux keys must not multiply joined rows (J1 dict
    semantics, segaux.py:89-102)."""
    aux_dup = synth_aux(spark, side=SIDE, dup_fraction=0.5)
    segs = synth_segments(spark, side=SIDE)
    td = training_data(segs, aux_dup, "2001-07-01", keep_keys=True)
    counts = (td.groupBy("px", "py").count().collect())
    segs_per_pixel = {(r["px"], r["py"]): r["count"] for r in
                      (segs.filter((F.col("sday") <= "2001-07-01")
                                   & (F.col("eday") >= "2001-07-01"))
                       .groupBy("px", "py").count().collect())}
    for r in counts:
        assert r["count"] <= segs_per_pixel[(r["px"], r["py"])]


# ---- /tile train + /prediction e2e ---------------------------------

@pytest.fixture(scope="module")
def model(segments, aux):
    model_bytes, stats = tile_pipeline(
        segments, aux, "2001-07-01",
        target_samples=200, class_min=5, class_max=40, seed=42)
    return model_bytes


@pytest.fixture(scope="module")
def spark_ml_model(segments, aux):
    model_bytes, _ = tile_pipeline(
        segments, aux, "2001-07-01",
        target_samples=200, class_min=5, class_max=40, seed=42,
        trainer="spark_ml")
    return model_bytes


def test_tile_pipeline_trains(model):
    assert isinstance(model, bytes) and len(model) > 0


def test_prediction_inputs_explode(segments, aux):
    pi = prediction_inputs(segments, aux, 7, 1)
    rows = pi.collect()
    # every non-default row: pday is an in-interval July 1
    for r in rows:
        if r["sday"] == DEFAULT_DAY:
            assert r["pday"] == DEFAULT_DAY
        else:
            assert r["sday"] <= r["pday"] <= r["eday"]
            assert r["pday"][5:] == "07-01"
    assert all(len(r["independent"]) == 68 for r in rows)


def test_tile_predict_spark_ml_e2e(segments, aux, spark_ml_model):
    """The distributed trainer branch (pyspark.ml multinomial logistic
    regression — no driver-side matrix) through the SAME model-bytes +
    9-prob contract: tile fit → broadcast → mapInPandas predict, with
    the reference's watchlist metric (mlogloss, tile.py:303-310)
    asserted against the uniform-prior baseline ln(9)."""
    import math
    import pickle

    from lcmap_blackmagic_spark.ml.train import evaluate

    model_bytes = spark_ml_model
    assert pickle.loads(model_bytes)["kind"] == "logreg"
    preds = prediction_pipeline(segments, aux, model_bytes, 7, 1)
    data = [r for r in preds.collect() if r["pday"] != DEFAULT_DAY]
    assert data
    for r in data[:50]:
        assert len(r["prob"]) == 9
        assert abs(sum(r["prob"]) - 1.0) < 1e-4
    td = training_data(segments, aux, "2001-07-01")
    mlogloss = evaluate(model_bytes, td)
    assert 0.0 < mlogloss < math.log(9)


def test_prediction_pipeline_e2e(segments, aux, model):
    preds = prediction_pipeline(segments, aux, model, 7, 1)
    rows = preds.collect()
    assert len(rows) > 0
    defaults = [r for r in rows if r["pday"] == DEFAULT_DAY]
    data = [r for r in rows if r["pday"] != DEFAULT_DAY]
    # U2/U3: defaults carry empty prob, data carries 9 probs summing 1
    assert len(defaults) > 0 and len(data) > 0
    assert all(r["prob"] == [] for r in defaults)
    for r in data[:50]:
        assert len(r["prob"]) == 9
        assert abs(sum(r["prob"]) - 1.0) < 1e-5
    # row count: one per (joined segment × in-interval annual date),
    # plus one per default segment
    pi = prediction_inputs(segments, aux, 7, 1)
    assert len(rows) == pi.count()


def _two_branch_predictions(segments, aux, model_bytes):
    """The reference's composition (prediction.py:165-173, 186-197,
    234-242): defaults split off before the matrix, the rest scored,
    defaults prepended with ``prob = []``."""
    from lcmap_blackmagic_spark.ml.predict import predict_probabilities
    from lcmap_blackmagic_spark.operators.unions import (
        default_predictions, group_data)
    defaults, data = group_data(prediction_inputs(segments, aux, 7, 1))
    predicted = (predict_probabilities(data, model_bytes, "independent")
                 .drop("independent"))
    return default_predictions(defaults.drop("independent"), predicted)


@pytest.mark.parametrize("model_name", ["model", "spark_ml_model"])
def test_prediction_pipeline_equals_two_branch_union(request, segments,
                                                     aux, model_name):
    """Scoring every row and emptying the defaults' probabilities in
    one projection gives the split-and-union composition's rows,
    probabilities included, for the centroid and the logistic model."""
    model_bytes = request.getfixturevalue(model_name)
    one = prediction_pipeline(segments, aux, model_bytes, 7, 1)
    two = _two_branch_predictions(segments, aux, model_bytes)
    assert one.columns == two.columns == PREDICTIONS.fieldNames()
    assert two.filter(F.size("prob") == 0).count() > 0
    assert one.exceptAll(two).count() == 0
    assert two.exceptAll(one).count() == 0


def _stored_chip(spark, tmp_path, segments, aux):
    """Write the fixture chip as ``storage`` does (one file per
    partition) and read it back partition-pruned, as /prediction
    does."""
    root = str(tmp_path / "store")
    storage.overwrite_partitions(segments, root, "segment")
    storage.overwrite_partitions(aux, root, "aux")
    cx, cy = segments.select("cx", "cy").first()
    return (storage.read_partition(spark, root, "segment", cx=cx, cy=cy),
            storage.read_partition(spark, root, "aux", cx=cx, cy=cy))


def test_prediction_pipeline_spreads_a_one_file_chip(spark, tmp_path,
                                                     segments, aux,
                                                     model):
    """A stored chip is one parquet file, which a scan reads in one
    task; the modeled rows are scored over the session's cores."""
    segs, aux_read = _stored_chip(spark, tmp_path, segments, aux)
    preds = prediction_pipeline(segs, aux_read, model, 7, 1)
    parts = (preds.filter(F.size("prob") > 0)
             .select(F.spark_partition_id().alias("p")).distinct().count())
    assert parts >= min(2, spark.sparkContext.defaultParallelism)


def test_prediction_pipeline_plan_scans_each_input_once(spark, tmp_path,
                                                        segments, aux,
                                                        model):
    """One pass: no Union, one scan of the segments and one of aux."""
    segs, aux_read = _stored_chip(spark, tmp_path, segments, aux)
    preds = prediction_pipeline(segs, aux_read, model, 7, 1)
    preds.write.format("noop").mode("overwrite").save()
    plan = preds._jdf.queryExecution().executedPlan().toString()
    # the scan's location is abbreviated; its read schema tells the
    # two inputs apart
    scans = [ln.split("ReadSchema:")[1] for ln in plan.splitlines()
             if "FileScan parquet" in ln]
    assert "Union" not in plan
    assert sum("blcoef" in r for r in scans) == 1
    assert sum("aspect" in r for r in scans) == 1
    assert len(scans) == 2


def test_cross_validation_spark_ml(spark, sf_dir):
    """K-fold CV over the distributed trainer: folds partition the
    rows, every fold's held-out log-loss is finite and beats the
    uninformed-uniform baseline ln(n_classes) on the structured
    embedding fixture."""
    import math

    from pyspark.sql import functions as F

    from lcmap_blackmagic_spark.ml.cv import cross_validate

    # keep 9 of the 10 fixture clusters: labels are a model contract
    # (ml/train.py NUM_CLASSES = 9), and folding two disjoint clusters
    # into one class would break linear separability, not test CV
    e = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .filter(F.col("label") < 9)
         .select(F.col("vec_id").alias("id"),
                 F.col("label").cast("int").alias("label"),
                 F.col("embedding").cast("array<double>")
                 .alias("features")))
    n = e.count()
    results = cross_validate(e, "id", k=3, trainer="spark_ml")
    assert len(results) == 3
    assert sum(r["n_test"] for r in results) == n
    for r in results:
        assert r["n_train"] + r["n_test"] == n
        assert 0.0 < r["mlogloss"] < 50.0 and math.isfinite(r["mlogloss"])

    # the point of CV: held-out loss exposes the optimism of the
    # in-sample fit (the fixture's labels correlate only weakly with
    # the vectors — 64 features / 9 classes / 500 rows overfits, and
    # a single-split evaluation would hide it)
    from lcmap_blackmagic_spark.ml.train import evaluate, train_model
    in_sample = evaluate(train_model(e, trainer="spark_ml"), e)
    mean_cv = sum(r["mlogloss"] for r in results) / 3
    assert mean_cv > in_sample


def test_stub_batch_group_matches_loop_on_ragged_groups(spark):
    """The vectorized stub-detector group runner must agree with the
    row-loop path bit-for-bit — including its RAGGED fallback, where
    per-pixel series lengths differ (possible when duplicate-day
    acquisitions drop unevenly).  Spark-free: drives the two group
    functions directly on handcrafted pandas groups."""
    import numpy as np
    import pandas as pd

    from lcmap_blackmagic_spark.plans.segment import (SPECTRA,
                                                      _loop_group,
                                                      _stub_batch_group,
                                                      stub_detector)
    from lcmap_blackmagic_spark.sources.fixtures import (QA_CLEAR,
                                                         QA_CLOUD)

    rng = np.random.RandomState(7)

    def pixel(n_obs, px, cloudy_frac=0.2):
        dates = np.sort(rng.choice(np.arange(724276, 736000),
                                   size=n_obs, replace=False))
        qas = np.where(rng.rand(n_obs) < cloudy_frac, QA_CLOUD,
                       QA_CLEAR)
        row = {"cx": 0, "cy": 0, "px": px, "py": -30,
               "dates": dates.astype("int32"),
               "qas": qas.astype("int32")}
        for s in SPECTRA:
            row[f"{s}s"] = rng.randint(
                400, 4000, size=n_obs).astype("int32")
        return row

    for label, lens in [("uniform", [40, 40, 40, 40]),
                        ("ragged", [40, 39, 40, 12]),
                        ("too-few-clear", [11, 40, 5, 40])]:
        pdf = pd.DataFrame([pixel(n, 30 * i)
                            for i, n in enumerate(lens)])
        got = _stub_batch_group(pdf.copy())
        want = _loop_group(pdf.copy(), stub_detector)
        key = lambda df: df.sort_values("px").reset_index(drop=True)
        g, w = key(got), key(want)
        assert list(g.columns) == list(w.columns), label
        for col in g.columns:
            gv, wv = list(g[col]), list(w[col])
            assert [list(x) if isinstance(x, (list, np.ndarray))
                    else x for x in gv] == \
                   [list(x) if isinstance(x, (list, np.ndarray))
                    else x for x in wv], (label, col)


def test_stub_batch_group_falls_back_past_int64_headroom():
    """Very long series (~4100+ clear obs at Landsat-era ordinals)
    would silently WRAP numpy's int64 in the vectorized n*sxx / sx*sx
    intermediates, diverging from the scalar stub_detector's exact
    Python ints — the headroom guard must route such groups through
    the row loop, keeping the two paths bit-equal."""
    import numpy as np
    import pandas as pd

    from lcmap_blackmagic_spark.plans.segment import (SPECTRA,
                                                      _loop_group,
                                                      _stub_batch_group,
                                                      stub_detector)
    from lcmap_blackmagic_spark.sources.fixtures import QA_CLEAR

    rng = np.random.RandomState(11)
    n_obs = 5000                      # T² · M² > 2^63 at M ≈ 7.3e5
    rows = []
    for i in range(3):
        dates = np.sort(rng.choice(np.arange(724276, 736000),
                                   size=n_obs, replace=False))
        row = {"cx": 0, "cy": 0, "px": 30 * i, "py": -30,
               "dates": dates.astype("int32"),
               "qas": np.full(n_obs, QA_CLEAR, dtype="int32")}
        for s in SPECTRA:
            row[f"{s}s"] = rng.randint(400, 4000,
                                       size=n_obs).astype("int32")
        rows.append(row)
    pdf = pd.DataFrame(rows)
    got = _stub_batch_group(pdf.copy())
    want = _loop_group(pdf.copy(), stub_detector)
    key = lambda df: df.sort_values("px").reset_index(drop=True)
    g, w = key(got), key(want)
    assert list(g.columns) == list(w.columns)
    for col in g.columns:
        gv = [list(x) if isinstance(x, (list, np.ndarray)) else x
              for x in g[col]]
        wv = [list(x) if isinstance(x, (list, np.ndarray)) else x
              for x in w[col]]
        assert gv == wv, col
