"""Sketch aggregates: HLL/GK internals differ across engines, so
``approx_sketches`` carries its contract IN the output — exact
aggregates (hash-pinned by the DuckDB oracle) plus per-group booleans
asserting each sketch sits inside its documented error bound.  These
tests pin the boolean contract from the Spark side and the bound's
SHARPNESS (a broken tolerance that never fails is no contract)."""

import os

from pyspark.sql import functions as F

from lcmap_blackmagic_spark.registry import QUERIES


def test_approx_sketches_contract_holds(spark, sf_dir):
    rows = {r["l_returnflag"]: r for r in
            QUERIES["approx_sketches"]["fn"](spark, sf_dir).collect()}
    l = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    exact = {r["l_returnflag"]: r for r in
             (l.groupBy("l_returnflag")
              .agg(F.countDistinct("l_orderkey").alias("orders"),
                   F.count(F.lit(1)).alias("n"))).collect()}
    assert rows.keys() == exact.keys()
    for k, a in rows.items():
        assert a["orders_ok"] and a["median_ok"], a
        assert a["exact_orders"] == exact[k]["orders"]
        assert a["n_rows"] == exact[k]["n"]


def test_approx_sketches_bound_is_sharp(spark, sf_dir):
    """The tolerance must actually discriminate: a sketch answer
    shifted by 2× the allowed distinct-count error must flip
    orders_ok to False under the same integer arithmetic."""
    from lcmap_blackmagic_spark.registry.sketches import SKETCH_CD_TOL_BP
    rows = QUERIES["approx_sketches"]["fn"](spark, sf_dir).collect()
    for r in rows:
        exact = r["exact_orders"]
        bad = exact + (exact * 2 * SKETCH_CD_TOL_BP) // 10_000 + 1
        assert abs(bad - exact) * 10_000 > exact * SKETCH_CD_TOL_BP


def test_approx_sketches_deterministic(spark, sf_dir):
    """Same input → same result (the booleans are deterministic
    functions of hash-based sketches, so reruns must agree)."""
    fn = QUERIES["approx_sketches"]["fn"]
    a = [tuple(r) for r in fn(spark, sf_dir).collect()]
    b = [tuple(r) for r in fn(spark, sf_dir).collect()]
    assert a == b


def test_kmv_estimates_within_tolerance(spark, sf_dir):
    """The oracle-checkable KMV/hash-sample sketches must also be
    ACCURATE: distinct estimate within the KMV standard-error bound,
    sampled median within a few percent of the exact median."""
    kmv = {r["l_returnflag"]: r for r in
           QUERIES["kmv_sketch"]["fn"](spark, sf_dir).collect()}
    l = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    exact = {r["l_returnflag"]: r for r in
             (l.groupBy("l_returnflag")
              .agg(F.countDistinct("l_orderkey").alias("orders"),
                   F.expr("percentile(l_extendedprice, 0.5)")
                   .alias("median"))).collect()}
    assert kmv.keys() == exact.keys()
    for k in exact:
        a, e = kmv[k], exact[k]
        # KMV rse ~ 1/sqrt(K-2) ≈ 6.3% at K=256; allow 4x
        assert abs(a["kmv_distinct"] - e["orders"]) <= 0.25 * e["orders"]
        assert abs(a["sampled_median"] - e["median"]) <= 0.10 * e["median"]


def test_k_smallest_matches_naive_window(spark):
    """Property: the bucket-pyramid exact top-k
    (operators/sketches.k_smallest) returns row-for-row the same
    (group, h, rank) set as the naive
    ``row_number() OVER (PARTITION BY group ORDER BY h)`` it
    replaces — across random hash layouts, groups with fewer than k
    values, k larger than any group, and hashes straddling bucket
    boundaries."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lcmap_blackmagic_spark.operators.sketches import (KMV_BUCKET,
                                                           k_smallest)

    for seed in range(8):
        rng = random.Random(seed)
        rows = set()
        for g in range(rng.randint(1, 4)):
            n = rng.randint(0, 60)
            for _ in range(n):
                if rng.random() < 0.3:
                    # cluster near bucket boundaries — the cutoff
                    # bucket logic's edge
                    b = rng.randint(0, 3) * KMV_BUCKET
                    h = b + rng.randint(-2, 2)
                else:
                    h = rng.randint(0, 2 ** 48 - 1)
                rows.add((f"g{g}", max(0, h)))
        if not rows:
            continue
        df = spark.createDataFrame(sorted(rows), "s string, h long")
        k = rng.choice([1, 3, 16, 100])
        got = sorted(tuple(r) for r in
                     k_smallest(df, ["s"], "h", k)
                     .select("s", "h", "rn").collect())
        w = Window.partitionBy("s").orderBy("h")
        want = sorted(tuple(r) for r in
                      df.withColumn("rn", F.row_number().over(w))
                      .filter(F.col("rn") <= k)
                      .select("s", "h", "rn").collect())
        assert got == want, f"seed {seed}, k={k}"
