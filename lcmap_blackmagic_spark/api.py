"""Job-level API mirroring the reference's three request shapes.

The reference is an HTTP server: parameter validation returns 400
(P8 — segment.py:146-163, tile.py:151-170, prediction.py:246-281),
any stage failure returns 500 naming the stage, and a failed request
must leave NO partial writes (UD5 — the skip_on_exception /
raise_on / exception_handler decorators at __init__.py:33-68; the
test contract at test_A_segment.py:159-194).

Here a "request" is a job: validation raises ``ValidationError``
(→ 400), stages run in order and wrap failures in ``StageError``
(→ 500, stage named). No-partial-writes holds structurally: the
stages before ``save`` may stage request-scoped data (a plan that
several writes or a driver decision read is persisted once —
``staging.request_staging``), but they write nothing under
``storage_root``, and everything they staged is released when the
request ends, on success or failure. Each entity write in the save
stage is one dynamic-partition-overwrite job that Spark commits
atomically via the output committer. A save stage touching several
entities is per-entity atomic + idempotent-on-retry (the same
partitions are rewritten), with side entities committed before the
authoritative one so a mid-stage failure never publishes an
authoritative partition whose side outputs are stale. The reference
needed explicit deletes + ordered puts for the same guarantee.

``test_exception`` reproduces the reference's fault-injection
parameter (segment.py:151-153): name a stage to force it to raise.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import Any

from .staging import request_staging

RESPONSE_OK = 200
RESPONSE_BAD_REQUEST = 400
RESPONSE_SERVER_ERROR = 500

_ACQUIRED_RE = re.compile(r"^\d{4}(-\d{2}-\d{2})?/\d{4}(-\d{2}-\d{2})?$")


class ValidationError(Exception):
    """Bad request parameters — HTTP 400 in the reference."""
    http_status = RESPONSE_BAD_REQUEST


class StageError(Exception):
    """A pipeline stage failed — HTTP 500, stage named (UD5)."""
    http_status = RESPONSE_SERVER_ERROR

    def __init__(self, stage: str, cause: Exception):
        super().__init__(f"stage {stage!r} failed: {cause}")
        self.stage = stage
        self.cause = cause


def _require_int(params: dict, key: str) -> int:
    if key not in params:
        raise ValidationError(f"missing parameter: {key}")
    try:
        return int(params[key])
    except (TypeError, ValueError):
        raise ValidationError(f"parameter {key} must be an integer")


def _require_acquired(params: dict) -> str:
    v = params.get("acquired")
    if not isinstance(v, str) or not _ACQUIRED_RE.match(v):
        raise ValidationError(
            "parameter acquired must be 'YYYY[-MM-DD]/YYYY[-MM-DD]'")
    return v


def validate_segment_params(params: dict) -> dict:
    """P8 for /segment: cx, cy, acquired (segment.py:146-163)."""
    return {"cx": _require_int(params, "cx"),
            "cy": _require_int(params, "cy"),
            "acquired": _require_acquired(params)}


def validate_tile_params(params: dict) -> dict:
    """P8 for /tile: tx, ty, acquired, date, chips (tile.py:151-170)."""
    out = {"tx": _require_int(params, "tx"),
           "ty": _require_int(params, "ty"),
           "acquired": _require_acquired(params)}
    date = params.get("date")
    if not isinstance(date, str) or not re.match(r"^\d{4}-\d{2}-\d{2}$", date):
        raise ValidationError("parameter date must be 'YYYY-MM-DD'")
    out["date"] = date
    chips = params.get("chips")
    if chips is None:
        # tile-only request: expand (tx, ty) to its 2500 chips (the
        # reference gets this list from Chipmunk's grid service;
        # functions/grid.py does the same math locally)
        from .functions.grid import chips_for_tile
        try:
            out["chips"] = chips_for_tile(out["tx"], out["ty"])
        except ValueError as e:
            raise ValidationError(str(e))
        return out
    if not isinstance(chips, (list, tuple)) or not chips:
        raise ValidationError("parameter chips must be a non-empty list")
    out["chips"] = [(int(x), int(y)) for x, y in chips]
    return out


def validate_prediction_params(params: dict) -> dict:
    """P8 for /prediction (prediction.py:246-281)."""
    out = {k: _require_int(params, k) for k in ("tx", "ty", "cx", "cy")}
    out["acquired"] = _require_acquired(params)
    out["month"] = _require_int(params, "month")
    out["day"] = _require_int(params, "day")
    if not 1 <= out["month"] <= 12:
        raise ValidationError("month out of range")
    if not 1 <= out["day"] <= 31:
        raise ValidationError("day out of range")
    return out


def run_stages(ctx: Any, stages: list[tuple[str, Callable[[Any], Any]]],
               test_exception: str | None = None) -> Any:
    """Execute stages in order, threading the context (the reference's
    thread_first over a ctx dict — here usually a DataFrame or a small
    state object). First failure wraps in StageError and aborts the
    remaining stages, like skip_on_exception poisoning the ctx."""
    for name, fn in stages:
        if test_exception == name:
            raise StageError(name, RuntimeError("test_exception"))
        try:
            ctx = fn(ctx)
        except (ValidationError, StageError):
            raise
        except Exception as e:
            raise StageError(name, e) from e
    return ctx


def run_segment_job(spark, params: dict, storage_root: str,
                    ard=None, side: int = 10, detector=None,
                    test_exception: str | None = None) -> dict:
    """/segment as a job (segment.py:253-264 stage order): validate →
    timeseries → nodata guard → detection → save (chip + pixel +
    segment partitions, dynamic overwrite). ``ard`` defaults to the
    chip's synthetic fixture; pass a real scan in production.
    ``detector`` swaps the science core (default stub; pass
    ``plans.pyccd.pyccd_detector`` where lcmap-pyccd is installed).

    Like the reference, the chip is assembled once and detected once:
    ``ts`` (read by the ``nodata`` decision and the pixel write) and
    ``detections`` (read by the chip and segment writes) are staged
    for the request; the first action on each materializes it."""
    from . import storage
    from .plans.segment import (chip_record, detect, pixel_records,
                                pixel_timeseries, stub_detector)
    from .sources.fixtures import synth_ard

    det = detector if detector is not None else stub_detector

    p = validate_segment_params(params)

    # UD4 telemetry: an Observation rides the detection plan and the
    # save action populates it — per-job metrics with ZERO extra
    # passes over the data (the Spark-native form of the reference's
    # per-request log counters; cluster-level metrics stay with the
    # Spark UI/listeners as documented in COVERAGE.md)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation("segment_metrics")

    def load(ctx):
        a = ard if ard is not None else synth_ard(
            spark, cx=p["cx"], cy=p["cy"], side=side)
        return {"ard": a}

    def timeseries(ctx):
        ctx["ts"] = stage(pixel_timeseries(ctx["ard"], side=side))
        return ctx

    def nodata(ctx):
        # P2: the reference 500s when merlin returns nothing
        # (segment.py:178-184)
        if ctx["ts"].isEmpty():
            raise ValueError("no timeseries data")
        return ctx

    def detection(ctx):
        ctx["detections"] = stage(detect(ctx["ts"], detector=det).observe(
            obs,
            F.count(F.lit(1)).alias("n_detections"),
            F.min("sday").alias("first_sday"),
            F.max("eday").alias("last_eday")))
        return ctx

    def save(ctx):
        # Each overwrite_partitions is atomic per entity; the stage as
        # a whole is idempotent-on-retry (dynamic partition overwrite
        # rewrites the same (cx, cy) partitions). Side entities (chip,
        # pixel) commit FIRST so a mid-stage failure can never leave
        # the authoritative segment partitions newer than their
        # side outputs — a retry always converges.
        storage.overwrite_partitions(chip_record(ctx["detections"]),
                                     storage_root, "chip")
        storage.overwrite_partitions(pixel_records(ctx["ts"]),
                                     storage_root, "pixel")
        storage.overwrite_partitions(ctx["detections"], storage_root,
                                     "segment")
        return ctx

    try:
        with request_staging() as stage:
            run_stages(None, [("load", load), ("timeseries", timeseries),
                              ("nodata", nodata), ("detection", detection),
                              ("save", save)], test_exception)
    except StageError as e:
        return respond(p, e)
    out = respond(p)
    out["metrics"] = dict(obs.get)  # populated by the first write
    return out


def run_tile_job(spark, params: dict, storage_root: str,
                 segments=None, aux=None,
                 target_samples: int = 200, class_min: int = 5,
                 class_max: int = 100,
                 test_exception: str | None = None) -> dict:
    """/tile as a job (tile.py:391-404): validate → training data ⋈
    stats → stratified sample → split → fit → model sink (1-row tile
    record, hex model — ceph.py:137-148). Sampling budgets default to
    fixture scale; production passes the reference's 2e7/6e5/8e6.

    ``tile_pipeline`` stages the training matrix for the request and
    releases it before ``save``; the tile record is one row of
    literals over ``spark.range(1)``, which writes in about half the
    time of a ``createDataFrame`` row from a Python list."""
    from pyspark.sql import functions as F

    from . import storage
    from .plans.tile import tile_pipeline
    from .sources.fixtures import synth_aux, synth_segments

    p = validate_tile_params(params)

    def load(ctx):
        cx, cy = p["chips"][0]
        s = segments if segments is not None else synth_segments(
            spark, cx=cx, cy=cy, side=8)
        a = aux if aux is not None else synth_aux(
            spark, cx=cx, cy=cy, side=8)
        return {"segments": s, "aux": a}

    def train(ctx):
        model, stats = tile_pipeline(
            ctx["segments"], ctx["aux"], p["date"], chips=p["chips"],
            target_samples=target_samples, class_min=class_min,
            class_max=class_max)
        ctx["model"] = model
        return ctx

    def save(ctx):
        row = spark.range(1).select(
            F.lit(p["tx"]).cast("long").alias("tx"),
            F.lit(p["ty"]).cast("long").alias("ty"),
            F.lit(ctx["model"].hex()).alias("model"))
        storage.overwrite_partitions(row, storage_root, "tile")
        return ctx

    try:
        run_stages(None, [("load", load), ("train", train),
                          ("save", save)], test_exception)
    except StageError as e:
        return respond(p | {"chips": len(p["chips"])}, e)
    return respond(p | {"chips": len(p["chips"])})


def run_prediction_job(spark, params: dict, storage_root: str,
                       segments=None, aux=None,
                       test_exception: str | None = None) -> dict:
    """/prediction as a job (prediction.py:331-345): validate → load
    model (hex→bytes, S4) → join/explode/infer → union defaults →
    prediction sink (overwrite, S10/S11)."""
    from . import storage
    from .plans.prediction import prediction_pipeline
    from .sources.fixtures import synth_aux, synth_segments

    p = validate_prediction_params(params)

    def load_model(ctx):
        row = (storage.read_partition(spark, storage_root, "tile",
                                      tx=p["tx"], ty=p["ty"])
               .select("model").first())
        if row is None:
            raise ValueError(f"no model for tile ({p['tx']}, {p['ty']})")
        return {"model": bytes.fromhex(row["model"])}

    def load_data(ctx):
        ctx["segments"] = segments if segments is not None else \
            synth_segments(spark, cx=p["cx"], cy=p["cy"], side=8)
        ctx["aux"] = aux if aux is not None else \
            synth_aux(spark, cx=p["cx"], cy=p["cy"], side=8)
        return ctx

    def predict(ctx):
        ctx["preds"] = prediction_pipeline(
            ctx["segments"], ctx["aux"], ctx["model"],
            p["month"], p["day"])
        return ctx

    def save(ctx):
        storage.overwrite_partitions(ctx["preds"], storage_root,
                                     "prediction")
        return ctx

    try:
        run_stages(None, [("load_model", load_model),
                          ("load_data", load_data),
                          ("predict", predict), ("save", save)],
                   test_exception)
    except StageError as e:
        return respond(p, e)
    return respond(p)


def health() -> dict:
    """GET /health parity (blueprints/health.py:6-8)."""
    return {"status": RESPONSE_OK}


def respond(params: dict, error: Exception | None = None) -> dict:
    """Response shape parity: echo of params + status (+message)."""
    if error is None:
        return {"status": RESPONSE_OK, **params}
    return {"status": getattr(error, "http_status", RESPONSE_SERVER_ERROR),
            "message": str(error), **params}
