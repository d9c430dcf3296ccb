"""The benchmark's workloads: one request type each, sent by one client.

Each workload stages its inputs under a fresh storage root, sends
requests through ``api.run_*_job`` (untraced) or through the same
layer functions in ``api``'s stage order with a span around each
layer (traced), and checks every response's stored output against
values computed directly from the staged inputs.
"""

from __future__ import annotations

import datetime
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from lcmap_blackmagic_spark import api, storage
from lcmap_blackmagic_spark.functions.grid import snap
from lcmap_blackmagic_spark.ml.predict import _load, predict_probabilities
from lcmap_blackmagic_spark.ml.train import TEST_SIZE, train_model
from lcmap_blackmagic_spark.operators.sampling import (stratified_sample,
                                                       train_test_split)
from lcmap_blackmagic_spark.operators.stats import label_statistics
from lcmap_blackmagic_spark.operators.unions import (default_predictions,
                                                     group_data, is_default)
from lcmap_blackmagic_spark.plans.prediction import prediction_inputs
from lcmap_blackmagic_spark.plans.segment import (chip_record, detect,
                                                  pixel_records,
                                                  pixel_timeseries,
                                                  stub_detector)
from lcmap_blackmagic_spark.plans.training import training_data

ACQUIRED = "1984/2020"
TRAIN_DATE = "2001-07-01"
PREDICT_MONTH, PREDICT_DAY = 7, 1
# sampling budgets sized so the stratified sample keeps roughly a
# third of the candidate pixels (the production defaults would keep all)
TARGET_SAMPLES, CLASS_MIN, CLASS_MAX = 6000, 100, 1000


def keys_long(df):
    """Partition discovery reads the (cx, cy) directory values back as
    INT; the plans compare them against BIGINT chip keys."""
    return df.withColumns({k: F.col(k).cast("long") for k in ("cx", "cy")})


def parquet_files(root: str, entity: str, **keys) -> list[str]:
    part = os.path.join(root, entity, *[f"{k}={v}" for k, v in keys.items()])
    return glob.glob(os.path.join(part, "**", "*.parquet"), recursive=True)


def record_writes(own: dict, root: str, scanned: int, entities, **keys):
    """Files and bytes now stored in the written partitions, and write
    amplification: bytes written ÷ bytes of staged input the request
    scans."""
    files = [f for e in entities for f in parquet_files(root, e, **keys)]
    own["storage.files_written"] = len(files)
    own["storage.bytes_written"] = sum(os.path.getsize(f) for f in files)
    own["storage.write_amp"] = own["storage.bytes_written"] / scanned


def file_bytes(paths) -> int:
    return sum(os.path.getsize(f) for f in paths)


def ok(resp: dict) -> str | None:
    if resp.get("status") != api.RESPONSE_OK:
        return f"status {resp.get('status')}: {resp.get('message', '')}"
    return None


class Workload:
    """Staged inputs plus the request, traced request and output check
    of one request type.  ``stage`` may be called several times (one
    fresh storage root per set-up round); the last call wins."""

    name = ""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.rng = np.random.default_rng(seed)

    def stage(self, root: str) -> None:
        raise NotImplementedError

    def request(self, root: str) -> dict:
        raise NotImplementedError

    def traced(self, root: str, tr) -> dict:
        raise NotImplementedError

    def check(self, root: str, resp: dict) -> str | None:
        raise NotImplementedError


class Segment(Workload):
    """/segment on one chip: assembly shuffle, Python detect, three
    entity writes (chip, pixel, segment)."""

    name = "segment"
    SIDE = 30          # pixels per chip edge
    ACQ = 60           # acquisitions, > the fixture's 40
    CHECK_PIXELS = 16

    def stage(self, root):
        (self.cx, self.cy), = gen.chip_keys(1)
        self.ard = os.path.join(root, "ard")
        self.arr = gen.stage_ard(self.ard, self.rng, self.cx, self.cy,
                                 self.ACQ, self.SIDE)
        self.params = {"cx": self.cx, "cy": self.cy, "acquired": ACQUIRED}

    def request(self, root):
        return api.run_segment_job(self.spark, self.params, root,
                                   ard=self.spark.read.parquet(self.ard),
                                   side=self.SIDE)

    def traced(self, root, tr):
        p = api.validate_segment_params(self.params)
        ard = self.spark.read.parquet(self.ard)
        with tr.span("plans.segment.assembly"):
            ts = pixel_timeseries(ard, side=self.SIDE).localCheckpoint()
            if ts.isEmpty():
                raise ValueError("no timeseries data")
        with tr.span("plans.segment.detect") as own:
            det = detect(ts, detector=stub_detector).localCheckpoint()
            own["plans.segment.detect_rows"] = det.count()
        with tr.span("storage.write") as own:
            storage.overwrite_partitions(chip_record(det), root, "chip")
            storage.overwrite_partitions(pixel_records(ts), root, "pixel")
            storage.overwrite_partitions(det, root, "segment")
            record_writes(own, root, file_bytes(parquet_files(root, "ard")),
                          ("chip", "pixel", "segment"), cx=self.cx, cy=self.cy)
        return api.respond(p)

    def check(self, root, resp):
        if err := ok(resp):
            return err
        n_px = self.SIDE * self.SIDE
        pick = self.rng.choice(n_px, size=self.CHECK_PIXELS, replace=False)
        px, py = gen.pixel_xy(self.cx, self.cy, self.SIDE)
        want = {(int(px[i]), int(py[i])): i for i in pick}
        rows = (storage.read_partition(self.spark, root, "segment",
                                       cx=self.cx, cy=self.cy)
                .filter(F.struct("px", "py").isin(
                    [F.struct(F.lit(x).cast("long"), F.lit(y).cast("long"))
                     for x, y in want]))
                .collect())
        if len(rows) != len(want):
            return f"segment: {len(rows)} rows for {len(want)} pixels"
        for r in rows:
            err = self._check_pixel(r, want[(r["px"], r["py"])])
            if err:
                return f"segment pixel ({r['px']}, {r['py']}): {err}"
        return None

    def _check_pixel(self, row, i) -> str | None:
        a = self.arr
        segs = stub_detector(a["ordinals"],
                             {b: a["bands"][b][:, i] for b in a["bands"]},
                             a["qas"][:, i])
        if not segs:
            return None if row["sday"] == "0001-01-01" else "not default"
        s = segs[0]
        iso = datetime.date.fromordinal
        if (row["sday"], row["eday"]) != (iso(s["sday"]).isoformat(),
                                          iso(s["eday"]).isoformat()):
            return f"dates {row['sday']}..{row['eday']}"
        for short in ("bl", "gr", "re", "ni", "s1", "s2", "th"):
            b = s[short]
            got = (row[f"{short}rmse"], row[f"{short}int"],
                   row[f"{short}coef"][0])
            if got != (b["rmse"], b["intercept"], b["coefficients"][0]):
                return f"band {short}: {got}"
        return None


class Tile(Workload):
    """/tile over K chips read through ``storage.read``: training-data
    join, label stats, stratified sample, centroid fit, one-row write."""

    name = "tile"
    K = 4

    def stage(self, root):
        self.chips = gen.chip_keys(self.K)
        tx, ty = snap(*self.chips[0], grain="tile")
        self.params = {"tx": tx, "ty": ty, "acquired": ACQUIRED,
                       "date": TRAIN_DATE, "chips": self.chips}
        self.labels, _ = stage_chips(root, self.rng, self.chips)
        self.scanned = file_bytes(parquet_files(root, "segment")
                                  + parquet_files(root, "aux"))
        self.stats = None   # set by a traced request's stats layer
        self.stats_checked = False

    def _inputs(self, root):
        return (keys_long(storage.read(self.spark, root, "segment")),
                keys_long(storage.read(self.spark, root, "aux")))

    def request(self, root):
        segs, aux = self._inputs(root)
        return api.run_tile_job(self.spark, self.params, root, segments=segs,
                                aux=aux, target_samples=TARGET_SAMPLES,
                                class_min=CLASS_MIN, class_max=CLASS_MAX)

    def traced(self, root, tr):
        p = api.validate_tile_params(self.params)
        with tr.span("storage.read"):
            segs, aux = (df.localCheckpoint() for df in self._inputs(root))
        with tr.span("plans.training"):
            data = training_data(segs, aux, p["date"], p["chips"])
            data = data.localCheckpoint()
            candidates = data.count()
        with tr.span("operators.stats"):
            self.stats = {r["label"]: r["cnt"] for r in
                          label_statistics(data, "label").collect()}
        with tr.span("operators.sample") as own:
            sample = stratified_sample(data, "label", TARGET_SAMPLES,
                                       CLASS_MIN, CLASS_MAX).localCheckpoint()
            own["operators.sample_keep_ratio"] = sample.count() / candidates
        with tr.span("ml.train") as own:
            train, test = train_test_split(sample, TEST_SIZE)
            model = train_model(train, test)
            m = _load(model)
            own["ml.train.collect_rows"] = (int(m["seen"].sum())
                                            * m["centroids"].shape[1])
        with tr.span("storage.write") as own:
            row = self.spark.createDataFrame(
                [(p["tx"], p["ty"], model.hex())],
                "tx long, ty long, model string")
            storage.overwrite_partitions(row, root, "tile")
            record_writes(own, root, self.scanned, ("tile",),
                          tx=p["tx"], ty=p["ty"])
        return api.respond(p | {"chips": len(p["chips"])})

    def check(self, root, resp):
        if err := ok(resp):
            return err
        row = (storage.read_partition(self.spark, root, "tile",
                                      tx=self.params["tx"],
                                      ty=self.params["ty"])
               .select("model").first())
        model = _load(bytes.fromhex(row["model"]))
        seen = {int(c) for c in np.flatnonzero(model["seen"])}
        if seen != set(self.labels):
            return f"tile: model classes {sorted(seen)}"
        stats, self.stats = self.stats, None
        if stats is None:
            if self.stats_checked:
                return None
            # an untraced request keeps its label stats to itself, and
            # they depend only on the staged inputs: recompute the stats
            # layer once per run
            self.stats_checked = True
            segs, aux = self._inputs(root)
            data = training_data(segs, aux, TRAIN_DATE, self.chips)
            stats = {r["label"]: r["cnt"] for r in
                     label_statistics(data, "label").collect()}
        if stats != self.labels:
            return f"tile: label stats {stats} != {self.labels}"
        return None


class Prediction(Workload):
    """/prediction on one chip whose segments and aux come from
    ``storage.read_partition``; the tile model is a seeded centroid
    model staged with the inputs."""

    name = "prediction"

    def stage(self, root):
        (self.cx, self.cy), = gen.chip_keys(1)
        tx, ty = snap(self.cx, self.cy, grain="tile")
        self.params = {"tx": tx, "ty": ty, "cx": self.cx, "cy": self.cy,
                       "acquired": ACQUIRED, "month": PREDICT_MONTH,
                       "day": PREDICT_DAY}
        _, segs = stage_chips(root, self.rng, [(self.cx, self.cy)])
        self.expected_rows = annual_dates(segs)
        d = os.path.join(root, "tile", f"tx={tx}", f"ty={ty}")
        os.makedirs(d)
        pq.write_table(pa.table({"model": [gen.centroid_model(self.rng)]}),
                       os.path.join(d, "part-00000.parquet"))
        self.scanned = file_bytes(
            f for e, k in (("segment", {"cx": self.cx, "cy": self.cy}),
                           ("aux", {"cx": self.cx, "cy": self.cy}),
                           ("tile", {"tx": tx, "ty": ty}))
            for f in parquet_files(root, e, **k))

    def _inputs(self, root):
        return (storage.read_partition(self.spark, root, "segment",
                                       cx=self.cx, cy=self.cy),
                storage.read_partition(self.spark, root, "aux",
                                       cx=self.cx, cy=self.cy))

    def request(self, root):
        segs, aux = self._inputs(root)
        return api.run_prediction_job(self.spark, self.params, root,
                                      segments=segs, aux=aux)

    def traced(self, root, tr):
        p = api.validate_prediction_params(self.params)
        with tr.span("storage.read"):
            row = (storage.read_partition(self.spark, root, "tile",
                                          tx=p["tx"], ty=p["ty"])
                   .select("model").first())
            model = bytes.fromhex(row["model"])
            segs, aux = (df.localCheckpoint() for df in self._inputs(root))
        with tr.span("plans.prediction.inputs") as own:
            inputs = prediction_inputs(segs, aux, p["month"], p["day"])
            inputs = inputs.localCheckpoint()
            own["plans.prediction.explode_ratio"] = (inputs.count()
                                                     / segs.count())
        with tr.span("ml.predict") as own:
            defaults, data = group_data(inputs)
            own["ml.predict.rows"] = data.count()
            predicted = (predict_probabilities(data, model, "independent")
                         .drop("independent"))
            preds = default_predictions(defaults.drop("independent"),
                                        predicted).localCheckpoint()
        with tr.span("storage.write") as own:
            storage.overwrite_partitions(preds, root, "prediction")
            record_writes(own, root, self.scanned, ("prediction",),
                          cx=self.cx, cy=self.cy)
        return api.respond(p)

    def check(self, root, resp):
        if err := ok(resp):
            return err
        df = storage.read_partition(self.spark, root, "prediction",
                                    cx=self.cx, cy=self.cy)
        total = F.aggregate("prob", F.lit(0.0), lambda acc, x: acc + x)
        r = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(is_default(), F.size("prob") != 0)
                  .otherwise(F.size("prob") != 9).cast("int")).alias("bad"),
            F.max(F.when(~is_default(), F.abs(total - 1))).alias("dev"),
        ).first()
        if r["n"] != self.expected_rows:
            return f"prediction: {r['n']} rows, want {self.expected_rows}"
        if r["bad"]:
            return f"prediction: {r['bad']} rows with the wrong prob arity"
        if r["dev"] is None or r["dev"] > 1e-5:
            return f"prediction: prob sums off by {r['dev']}"
        return None


def stage_chips(root, rng, chips) -> tuple[dict[int, int], list]:
    """Stage segment + aux partitions for ``chips``.  Returns the
    per-label count of training candidates (labeled pixels whose
    segment spans TRAIN_DATE) and the segment tables."""
    labels: dict[int, int] = {}
    tables = []
    for cx, cy in chips:
        segs = gen.segment_table(rng, cx, cy)
        aux = gen.aux_table(rng, cx, cy)
        gen.write_partition(root, "segment", cx, cy, segs)
        gen.write_partition(root, "aux", cx, cy, aux)
        tables.append(segs)
        s = segs.select(["px", "py", "sday", "eday"]).to_pandas()
        live = s[(s.sday <= TRAIN_DATE) & (s.eday >= TRAIN_DATE)]
        lab = aux.select(["px", "py", "nlcdtrn"]).to_pandas()
        hit = live.merge(lab[lab.nlcdtrn != 0], on=["px", "py"])
        for k, v in hit.nlcdtrn.value_counts().items():
            labels[int(k)] = labels.get(int(k), 0) + int(v)
    return labels, tables


def annual_dates(tables) -> int:
    """Rows /prediction must emit: one per default segment, else one
    per year whose PREDICT_MONTH/PREDICT_DAY falls inside the segment."""
    n = 0
    for t in tables:
        for s, e in zip(t.column("sday").to_pylist(),
                        t.column("eday").to_pylist()):
            if s == e == "0001-01-01":
                n += 1
                continue
            for y in range(int(s[:4]), int(e[:4]) + 1):
                d = f"{y:04d}-{PREDICT_MONTH:02d}-{PREDICT_DAY:02d}"
                n += s <= d <= e
    return n


WORKLOADS = {w.name: w for w in (Segment, Tile, Prediction)}
