"""Request-level benchmark of the /segment, /tile and /prediction jobs.

    python3 perfbench/run.py --workload segment --seed 1 --seconds 6 --trace 0

Run from the repository root.  One client sends requests in a closed
loop (the next request only after the previous one returned) to a
``local[<cores>]`` session.  Set-up starts the session, three times
stages the seeded inputs under a fresh storage root, then sends the
workload's warm-up requests; the measured loop runs on the last root
until the summed request time reaches ``--seconds``.  Every response's
stored output is checked outside the timed window; a request that
raises, returns a status other than 200 or fails its check counts as
failed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs half
the loop untraced and half through the traced layer calls
(``workloads.*.traced``), reads the Spark event log, prints the
per-layer metrics and writes the spans to
``perfbench/traces/<workload>-seed<n>.json``.  The last stdout line is
the JSON result.  Scratch files live under ``perfbench/.work`` and are
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

import tracing

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_ROUNDS = 3        # input staging rounds; setup_s takes their median
# The cold request pays JIT, codegen and Python worker start; the second
# still runs 10-20% slower than the ones after it.
WARMUP_REQUESTS = 2
MIN_SAMPLES = 2         # the loop's median needs more than one request
RUN_LIMIT_S = 150       # stop sending requests past this wall time

# layer spans, each reported with tracing.COUNTERS
LAYERS = ("api", "plans.segment.assembly", "plans.segment.detect",
          "plans.training", "operators.stats", "operators.sample",
          "ml.train", "plans.prediction.inputs", "ml.predict",
          "storage.read", "storage.write", "session.start", "sources.stage")
UNITS = {"jobs": "count", "tasks": "count", "busy_s": "s", "gc_s": "s",
         "wait_s": "s", "shuffle_bytes": "B", "spill_bytes": "B",
         "failed_tasks": "count"}
# span duration (or, for api, self time) → metric name
DURATIONS = {
    "plans.segment.assembly": "plans.segment.assembly_s",
    "plans.segment.detect": "plans.segment.detect_s",
    "plans.training": "plans.training.s",
    "operators.stats": "operators.stats_s",
    "operators.sample": "operators.sample_s",
    "ml.train": "ml.train.fit_s",
    "plans.prediction.inputs": "plans.prediction.inputs_s",
    "ml.predict": "ml.predict.infer_s",
    "storage.read": "storage.read_s",
    "storage.write": "storage.write_s",
    "session.start": "session.start_s",
    "sources.stage": "sources.stage_s",
}
# counts the traced layer calls record themselves: metric → layer, unit
OWN = {"plans.segment.detect_rows": ("plans.segment.detect", "count"),
       "operators.sample_keep_ratio": ("operators.sample", "ratio"),
       "ml.train.collect_rows": ("ml.train", "count"),
       "plans.prediction.explode_ratio": ("plans.prediction.inputs", "ratio"),
       "ml.predict.rows": ("ml.predict", "count"),
       "storage.files_written": ("storage.write", "count"),
       "storage.bytes_written": ("storage.write", "B"),
       "storage.write_amp": ("storage.write", "ratio")}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("segment", "tile", "prediction"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_memory() -> str:
    """A quarter of physical memory, at most 4 GiB (the session's own
    24g default exceeds small hosts)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, kb // 4096))}m"


def environment(work: str) -> dict:
    """Point every scratch location at ``work``; return the session's
    extra conf."""
    dirs = {k: os.path.join(work, k)
            for k in ("tmp", "local", "staging", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "SPARK_LOCAL_DIRS": dirs["local"],
        "LCMAP_SPARK_SCRATCH": dirs["staging"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = dirs["tmp"]
    return {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.ui.showConsoleProgress": "false",
    }


def event_log_conf(work: str) -> dict:
    """One uncompressed event-log file (the zstd default is not
    readable from plain Python)."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def clear_state(spark) -> None:
    """Drop cached plans and checkpoint blocks between requests, and
    collect py4j references, so each request starts from the same
    state (bench.clear_session_state's pattern)."""
    import gc
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.add(k)
            todo.append(k)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop(spark) -> None:
    """Stop the session and the JVM (closing its stdin ends it), then
    wait until every process started under this one — the JVM and its
    Python workers — has exited."""
    import subprocess

    from pyspark import SparkContext
    procs = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if alive(p)}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class Runner:
    def __init__(self, work: str):
        self.work = work
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.roots = 0

    def fresh_root(self) -> str:
        self.roots += 1
        root = os.path.join(self.work, f"root{self.roots}")
        os.makedirs(root)
        return root

    def send(self, wl, root, call) -> float | None:
        """One request: time ``call``, then check it outside the timer.
        Returns the latency, or None when the request failed."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            resp = call()
        except Exception as e:  # noqa: BLE001 — a failed request
            resp = {"status": 500, "message": f"{type(e).__name__}: {e}"}
        dt = time.perf_counter() - t
        try:
            err = wl.check(root, resp)
        except Exception as e:  # noqa: BLE001 — a failed check
            err = f"check raised {type(e).__name__}: {e}"
        clear_state(wl.spark)
        if err:
            self.failed += 1
            self.errors.append(err.splitlines()[0][:300])
            return None
        return dt

    def loop(self, wl, root, call, seconds) -> tuple[list[float], float]:
        """Closed loop until the summed request time reaches
        ``seconds`` and MIN_SAMPLES requests were sent.  Returns the
        latencies — a failed request counts as infinitely slow — and
        the summed request time."""
        lat, spent = [], 0.0
        while ((spent < seconds or len(lat) < MIN_SAMPLES)
               and time.perf_counter() - T0 < RUN_LIMIT_S):
            t = time.perf_counter()
            dt = self.send(wl, root, call)
            spent += (time.perf_counter() - t) if dt is None else dt
            lat.append(math.inf if dt is None else dt)
        return lat, spent


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "lcmap_blackmagic_spark")):
        print(f"perfbench: no lcmap_blackmagic_spark package beside {HERE}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        conf = environment(work)
        if args.trace:
            conf |= event_log_conf(work)
        sys.path[:0] = [REPO, HERE]
        result = run(args, work, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work, conf) -> dict:
    from lcmap_blackmagic_spark.session import get_session

    import workloads

    spark = get_session("perfbench", extra_conf=conf)
    start_s = time.perf_counter() - T0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tr = tracing.Tracer(sc)
    tr.spans.append({"id": 0, "name": "session.start", "parent": None,
                     "request": None, "start": T0, "end": T0 + start_s,
                     "own": {}})
    r = Runner(work)
    wl = workloads.WORKLOADS[args.workload](spark, args.seed)
    try:
        stage_s = []
        for _ in range(SETUP_ROUNDS):
            t = time.perf_counter()
            root = r.fresh_root()
            with tr.span("sources.stage"):
                wl.stage(root)
            stage_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("warmup"):
            warm = [r.send(wl, root, lambda: wl.request(root))
                    for _ in range(WARMUP_REQUESTS)]
        warm_s = time.perf_counter() - t
        setup_s = start_s + statistics.median(stage_s) + warm_s
        t = time.perf_counter()
        if not args.trace:
            with tr.span("loop"):
                lat, spent = r.loop(wl, root, lambda: wl.request(root),
                                    args.seconds)
        else:
            with tr.span("untraced"):
                plain, _ = r.loop(wl, root, lambda: wl.request(root),
                                  args.seconds / 2)

            def traced():
                tr.request = r.attempted
                try:
                    with tr.span("api"):
                        return wl.traced(root, tr)
                finally:
                    tr.request = None

            with tr.span("traced"):
                lat, _ = r.loop(wl, root, traced, args.seconds / 2)
        loop_s = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        stop(spark)
        stop_s = time.perf_counter() - t
    if r.errors:
        print("perfbench: failures: " + " | ".join(r.errors[:5]),
              file=sys.stderr)
    result = {"correct": r.failed == 0, "attempted": r.attempted,
              "failed": r.failed}
    ok = [x for x in lat if x < math.inf]
    print(f"perfbench: {args.workload} seed={args.seed} "
          f"error_rate={r.failed / r.attempted:.3f} start={start_s:.3f} "
          f"stage={[round(x, 3) for x in stage_s]} warmup={warm_s:.3f} "
          f"warmup_latencies={[x and round(x, 3) for x in warm]} "
          f"samples={len(lat)} latencies={[round(x, 3) for x in lat]} "
          f"loop_wall={loop_s:.3f} stop={stop_s:.3f} "
          f"wall={time.perf_counter() - T0:.3f}",
          file=sys.stderr)
    if not args.trace:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "requests_per_s": {"value": len(ok) / spent, "unit": "1/s"},
            "latency_p50_s": {"value": min(statistics.median(lat), 1e6),
                              "unit": "s"},
        }
        return result
    events = tracing.read_event_log(os.path.join(work, "events"))
    metrics = layer_metrics(tr, events)
    plain = [x for x in plain if x < math.inf]
    metrics["trace.overhead_ratio"] = (
        statistics.median(ok) / statistics.median(plain)
        if ok and plain else 0.0, "ratio")
    metrics["trace.unattributed_jobs"] = (events["unattributed_jobs"],
                                          "count")
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    with open(os.path.join(HERE, "traces",
                           f"{args.workload}-seed{args.seed}.json"),
              "w") as fh:
        json.dump({"spans": tr.spans, "jobs": events["jobs"],
                   "counters": events["spans"]}, fh, indent=0)
    result["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in metrics.items()}
    return result


def layer_metrics(tr, events) -> dict:
    """Per-layer values: the median over traced requests of each
    layer's per-request total (set-up layers: over set-up rounds).
    A layer the workload never calls reads 0."""
    tr.self_times()
    counters = events["spans"]
    groups: dict[str, dict] = {}    # layer → request (or span) → totals
    for s in tr.spans:
        key = s["request"] if s["request"] is not None else -1 - s["id"]
        g = groups.setdefault(s["name"], {}).setdefault(key, {})
        dur = s["self_s"] if s["name"] == "api" else s["end"] - s["start"]
        vals = {"_s": dur, **s["own"],
                **{c: counters.get(s["id"], {}).get(c, 0)
                   for c in tracing.COUNTERS}}
        for k, v in vals.items():
            g[k] = g.get(k, 0) + v
    out = {}

    def med(layer, key):
        vals = [g[key] for g in groups.get(layer, {}).values()]
        return statistics.median(vals) if vals else 0.0

    for layer in LAYERS:
        for c in tracing.COUNTERS:
            out[f"{layer}.{c}"] = (med(layer, c), UNITS[c])
    out["api.overhead_s"] = (med("api", "_s"), "s")
    for layer, name in DURATIONS.items():
        out[name] = (med(layer, "_s"), "s")
    for name, (layer, unit) in OWN.items():
        out[name] = (med(layer, name), unit)
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
