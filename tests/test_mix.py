"""Data-mixing operators (registry.text): balanced-domain selection
via the distributed two-phase prefix sum, and the data-constrained
epoch plan.  Value parity with DuckDB is covered by
tests/test_oracle_parity.py / LOCAL_CORRECTNESS.json; these pin the
SEMANTIC properties (greedy minimal crossing, full domain coverage,
exact ceil division) and the SCALE property the oracle cannot see —
no window partition in the plan is keyed by source alone."""

import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark.registry.text import (MIX_SHARE_PCT, _doc_tokens,
                                                  q_llm_mix_balanced,
                                                  q_llm_mix_epochs)


@pytest.fixture(scope="module")
def balanced(spark, sf_dir):
    return q_llm_mix_balanced(spark, sf_dir).collect()


def _budget(spark, sf_dir):
    t = _doc_tokens(spark, sf_dir)
    totals = [r["total"] for r in
              t.groupBy("source").agg(F.sum("tok").alias("total"))
              .collect()]
    return min(totals) // 2, len(totals)


def test_balanced_covers_every_source_and_crosses_budget(
        spark, sf_dir, balanced):
    budget, k = _budget(spark, sf_dir)
    per = {}
    for r in balanced:
        per.setdefault(r["source"], []).append(r)
    assert len(per) == k
    for rows in per.values():
        rows.sort(key=lambda r: r["doc_id"])
        total = sum(r["tok"] for r in rows)
        # the crossing doc is included -> total reaches the budget...
        assert total >= budget
        # ...and greedily: without its last doc the budget is unmet
        assert total - rows[-1]["tok"] < budget


def test_balanced_running_totals_are_the_prefix_sum(
        spark, sf_dir, balanced):
    t = {(r["source"], r["doc_id"]): r["tok"]
         for r in _doc_tokens(spark, sf_dir).collect()}
    per = {}
    for src, doc in sorted(t):
        per.setdefault(src, []).append(doc)
    cum = {}
    for src, docs in per.items():
        c = 0
        for d in docs:
            c += t[(src, d)]
            cum[(src, d)] = c
    for r in balanced:
        assert r["cum_tok"] == cum[(r["source"], r["doc_id"])]


def test_no_window_is_partitioned_by_source_alone(spark, sf_dir):
    """The 100 TB guard: the big side's running sum must window over
    (source, bucket), never source alone — a single web-crawl domain
    would otherwise serialize into one task.  The only source-keyed
    window allowed is the offset cumulation over the small
    per-bucket aggregate (corpus/MIX_BUCKET rows)."""
    plan = q_llm_mix_balanced(spark, sf_dir)._jdf \
        .queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition" not in line:
            continue
        if "local_cum" in line:
            assert "bucket" in line.split("windowspecdefinition")[1]
    assert "local_cum" in plan  # the guard actually saw the window


def test_epochs_exact_ceil_division(spark, sf_dir):
    rows = q_llm_mix_epochs(spark, sf_dir).collect()
    grand = sum(r["total_tok"] for r in rows)
    k = len(rows)
    target = (grand * MIX_SHARE_PCT // 100) // k
    for r in rows:
        assert r["target_tok"] == target
        assert r["epochs"] == -(-target // r["total_tok"])
    # the plan is meaningful: at least one domain repeats or truncates
    assert any(r["epochs"] >= 1 for r in rows) and k > 1


def test_temperature_sqrt_is_exact_and_flattens(spark, sf_dir):
    """The two-step integer correction must land on THE integer
    sqrt (s² ≤ x < (s+1)²) for every domain, and α=0.5 must flatten
    the mixture: the smallest domain gains weight vs its
    proportional share, the largest loses."""
    from lcmap_blackmagic_spark.registry.text import (MIX_SQ_SCALE,
                                                      q_llm_mix_temperature)
    import math
    rows = q_llm_mix_temperature(spark, sf_dir).collect()
    assert len(rows) > 1
    for r in rows:
        x = r["total_tok"] * MIX_SQ_SCALE
        s = math.isqrt(x)
        assert r["w_half_bp"] == s * 10000 // sum(
            math.isqrt(q["total_tok"] * MIX_SQ_SCALE) for q in rows)
    small = min(rows, key=lambda r: r["total_tok"])
    big = max(rows, key=lambda r: r["total_tok"])
    assert small["w_half_bp"] > small["share_bp"]
    assert big["w_half_bp"] < big["share_bp"]
