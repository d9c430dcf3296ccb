"""Approximate stratified sampler (the skew-safe scale mode): per-class
expectations within Bernoulli tolerance, rows a strict subset, and
seeded determinism."""

import os

from pyspark.sql import functions as F

from lcmap_blackmagic_spark.operators import sampling
from lcmap_blackmagic_spark.operators.sampling import (
    stratified_sample, stratified_sample_approx)


def _labels(spark, sf_dir):
    l = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return l.select(F.col("l_returnflag").alias("label"),
                    "l_orderkey", "l_linenumber")


def test_approx_counts_near_exact_caps(spark, sf_dir):
    df = _labels(spark, sf_dir)
    target, cmin, cmax = 300, 20, 150
    exact = (stratified_sample(df, "label", target, cmin, cmax,
                               order_col="l_orderkey")
             .groupBy("label").count().collect())
    approx = (stratified_sample_approx(df, "label", target, cmin, cmax)
              .groupBy("label").count().collect())
    e = {r["label"]: r["count"] for r in exact}
    a = {r["label"]: r["count"] for r in approx}
    assert set(a) <= set(e)
    for lbl, want in e.items():
        got = a.get(lbl, 0)
        # Bernoulli fluctuation: 4 sigma ≈ 4*sqrt(n)
        assert abs(got - want) <= max(10, 4 * want ** 0.5)


def test_approx_rows_are_subset_and_deterministic(spark, sf_dir):
    df = _labels(spark, sf_dir)
    s1 = stratified_sample_approx(df, "label", 200, 10, 100, seed=7)
    s2 = stratified_sample_approx(df, "label", 200, 10, 100, seed=7)
    k1 = {(r["l_orderkey"], r["l_linenumber"]) for r in s1.collect()}
    k2 = {(r["l_orderkey"], r["l_linenumber"]) for r in s2.collect()}
    assert k1 == k2
    base = {(r["l_orderkey"], r["l_linenumber"]) for r in df.collect()}
    assert k1 <= base


def test_skew_switch_is_automatic(spark, sf_dir, monkeypatch):
    """Past EXACT_CLASS_ROWS_LIMIT the sampler must plan sampleBy (no
    window); under it, the exact windowed mode; with order_col the
    switch is disabled because determinism was demanded."""
    df = _labels(spark, sf_dir)

    def plan(sampled):
        return sampled._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(sampling, "EXACT_CLASS_ROWS_LIMIT", 10)
    tiny = stratified_sample(df, "label", 300, 20, 150)
    assert "Window" not in plan(tiny)          # approx: Bernoulli sample
    assert "Filter UDF" in plan(tiny)          # sampleBy's per-label filter

    monkeypatch.setattr(sampling, "EXACT_CLASS_ROWS_LIMIT", 10**9)
    big = stratified_sample(df, "label", 300, 20, 150)
    assert "Window" in plan(big)               # exact windowed mode

    monkeypatch.setattr(sampling, "EXACT_CLASS_ROWS_LIMIT", 10)
    pinned = stratified_sample(df, "label", 300, 20, 150,
                               order_col="l_orderkey")
    assert "Window" in plan(pinned)            # determinism wins
