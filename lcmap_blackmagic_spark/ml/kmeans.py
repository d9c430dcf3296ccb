"""Full k-means (Lloyd) fit, distributed and DETERMINISTIC — the
iteration harness over the E/M steps the registry exposes as
oracle-checked single-step queries (registry.ann.q_kmeans_assign,
registry.ann.q_kmeans_update).

Reproducibility is engineered, not hoped for:

- init = the k vectors with the smallest ids (no RNG),
- EVERYTHING runs on the floor(x·2^20) integer grid — the E-step
  distances are exact integer squared-L2 to integer-grid centroids
  (a float distance sum would accumulate in partition-dependent
  order, and a one-ulp flip on a near-equidistant point cascades
  into different assignments), the argmin breaks ties on
  (dist, cid) via a struct-min, and the M-step means are exact
  integer divisions that stay on the grid,
- so assignments, centroids, and the iteration count are
  bit-identical across cluster sizes, shuffles, and reruns.

Scale shape per iteration: the corpus stays in quantized LONG FORM
(id, i, q) — staged to parquet once, scanned per step — joined to a
broadcast k·dim centroid table; both aggregates are map-side
combined; the only driver traffic is the k×dim centroid matrix (the
broadcast-model pattern, not a data collect)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KM_Q = 1 << 20


def _long_form(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return (df.select(F.col(id_col).alias("id"),
                      F.posexplode(vec_col).alias("i", "x"))
            .select("id", "i",
                    F.floor(F.col("x").cast("double") * KM_Q)
                    .cast("bigint").alias("q")))


def kmeans_fit(df: DataFrame, k: int = 8, max_iters: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding",
               staging_dir: str | None = None) -> dict:
    """Lloyd iteration to convergence (or ``max_iters``).  Returns
    ``{"centroids": [[float]*dim]*k, "iters": n, "inertia": float,
    "assign": DataFrame(id, cid)}``.  Convergence = the integer
    centroid grid is EXACTLY unchanged (no epsilon tuning); the
    returned assignment/inertia are the E-step evaluated against
    the RETURNED centroids.  All distance / coordinate / inertia
    sums accumulate in DECIMAL(38,0) (exact, order-independent), so
    the only magnitude bound is the quantization itself: each
    per-axis term (2·|x|·2^20)² and each quantized coordinate must
    fit int64 BEFORE the widening cast — (2·|x|·2^20)² ≤ 2^63 gives
    |x| up to ~1.45·10^3.  A
    long accumulator here would wrap silently at dim 64 past
    |x|≈181 (Spark sums longs without overflow checks outside ANSI
    mode), which is why the widen-before-sum is not optional."""
    spark = df.sparkSession
    long = _long_form(df, id_col, vec_col)
    if staging_dir:
        long.write.mode("overwrite").parquet(staging_dir)
        long = spark.read.parquet(staging_dir)

    # runtime envelope guard: the E-step's per-axis (q-qc)² is a
    # long×long product BEFORE the decimal widening, and |q-qc| ≤
    # 2·max|q| (centroids are means of in-range q) — so 2·max|q|
    # must square inside int64.  Inputs past the bound would WRAP
    # SILENTLY (non-ANSI long multiply) into corrupt assignments;
    # one cheap aggregate per fit turns that into a loud error.
    _Q_SAFE = 1_518_500_249          # floor(sqrt(2^63 − 1)) // 2
    mx = long.agg(F.max(F.abs(F.col("q")))).collect()[0][0]
    if mx is not None and mx > _Q_SAFE:
        raise ValueError(
            f"kmeans_fit input out of the exact-arithmetic envelope: "
            f"max|quantized coord| = {mx} > {_Q_SAFE} "
            f"(|x| must stay under ~{_Q_SAFE / KM_Q:.0f} at the "
            f"2^20 grid, or the integer E-step would overflow)")

    # deterministic init: the k smallest ids (already on the grid)
    seed_ids = [r["id"] for r in
                long.select("id").distinct().orderBy("id")
                .limit(k).collect()]
    if len(seed_ids) < k:
        raise ValueError(
            f"k={k} but only {len(seed_ids)} distinct ids")
    cent = (long.filter(F.col("id").isin(seed_ids))
            .groupBy("id").agg(F.sort_array(
                F.collect_list(F.struct("i", "q"))).alias("s"))
            .orderBy("id").collect())
    qcent = [[int(p["q"]) for p in r["s"]] for r in cent]
    dim = len(qcent[0])
    qprev = None
    assign = None
    it = 0
    for it in range(1, max_iters + 1):
        cdf = F.broadcast(spark.createDataFrame(
            [(cid, i, c[i]) for cid, c in enumerate(qcent)
             for i in range(dim)], "cid int, i int, qc long"))
        d = F.col("q") - F.col("qc")
        # E-step: exact integer distance; the per-axis square fits
        # int64 for |x| up to ~1.45e3, but the SUM over dim would
        # wrap at |x|~181 (dim 64) — widen to decimal(38,0) before
        # summing.  Decimal sums are exact and order-independent, so
        # the determinism contract holds unchanged.
        best = (long.join(cdf, "i")
                .groupBy("id", "cid")
                .agg(F.sum((d * d).cast("decimal(38,0)")).alias("dist"))
                .groupBy("id")
                .agg(F.min(F.struct("dist", "cid")).alias("b"))
                .select("id", F.col("b.cid").alias("cid"),
                        F.col("b.dist").alias("dist")))
        # the assignment always corresponds to the CURRENT centroids
        # — set before the convergence break, so callers get the
        # E-step of the returned matrix, not the previous one
        assign = best
        # M-step: exact integer coordinate sums per (cid, i)
        stats = (long.join(best.select("id", "cid"), "id")
                 .groupBy("cid", "i")
                 .agg(F.count(F.lit(1)).alias("n"),
                      # same wrap risk as the E-step at corpus scale
                      # (n·|q| can pass int64) — widen before sum
                      F.sum(F.col("q").cast("decimal(38,0)"))
                      .alias("s"))
                 .collect())
        qnew: dict[tuple, int] = {}
        for r in stats:
            # quantized mean: one exact integer division per cell
            # (s arrives as Decimal — floor-divide in exact ints)
            qnew[(r["cid"], r["i"])] = int(r["s"]) // r["n"]
        # converged (grid unchanged) or out of budget: stop WITHOUT
        # applying a further update, so the returned centroids are
        # exactly the matrix `assign` was evaluated against
        if qnew == qprev or it == max_iters:
            break
        qprev = qnew
        qcent = [[qnew.get((cid, i), qcent[cid][i])
                  for i in range(dim)] for cid in range(k)]
    inertia = (assign.agg(F.sum("dist")).collect()[0][0]
               if assign is not None else None)
    return {"centroids": [[c / KM_Q for c in row] for row in qcent],
            "iters": it,
            "inertia": (float(inertia) / (KM_Q * KM_Q)
                        if inertia is not None else None),
            "assign": assign.select("id", "cid") if assign is not None
            else None}
