"""Retrieval-surface semantics (registry.ann): filtered vector
search and reciprocal-rank fusion.  Value parity with DuckDB is
covered by the oracle harness; these pin the properties the oracle
replays but does not ASSERT — the filter actually restricts the
candidate set against the shared index, and RRF's fused order obeys
its defining arithmetic."""

import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark.registry.ann import (ANN_FILTER_MOD, RRF_K,
                                                 RRF_SCALE, q_llm_ann_filtered,
                                                 q_llm_rrf_fusion)


@pytest.fixture(scope="module")
def filtered(spark, sf_dir):
    return q_llm_ann_filtered(spark, sf_dir).collect()


def test_filtered_neighbors_satisfy_predicate(spark, sf_dir,
                                              filtered):
    labels = {r["vec_id"]: r["label"] for r in
              spark.read.parquet(f"{sf_dir}/embeddings.parquet")
              .select("vec_id", "label").collect()}
    assert filtered
    for r in filtered:
        assert labels[r["nid"]] % ANN_FILTER_MOD == 0


def test_filter_shares_the_index_and_restricts_it(spark, sf_dir,
                                                  filtered):
    """Same index, restricted candidates: every query still gets
    answers (pre-filtering does not starve), and at least one query's
    neighbor set genuinely changed vs the unfiltered index."""
    from lcmap_blackmagic_spark.registry.ann import IVX_K, q_llm_ann_ivf_exact
    unf = q_llm_ann_ivf_exact(spark, sf_dir).collect()
    f_by_q, u_by_q = {}, {}
    for r in filtered:
        f_by_q.setdefault(r["qid"], set()).add(r["nid"])
    for r in unf:
        u_by_q.setdefault(r["qid"], set()).add(r["nid"])
    assert set(f_by_q) == set(u_by_q)          # no query starved
    assert any(f_by_q[q] != u_by_q[q] for q in f_by_q)
    assert all(len(v) <= IVX_K for v in f_by_q.values())


def test_rrf_arithmetic_and_order(spark, sf_dir):
    rows = q_llm_rrf_fusion(spark, sf_dir).collect()
    assert rows
    for r in rows:
        want = 0
        if r["lex_rank"] is not None:
            want += RRF_SCALE // (RRF_K + r["lex_rank"])
        if r["vec_rank"] is not None:
            want += RRF_SCALE // (RRF_K + r["vec_rank"])
        assert r["rrf"] == want and want > 0
    got = [(r["rrf"], r["id"]) for r in rows]
    assert got == sorted(got, key=lambda t: (-t[0], t[1]))
    # fusion is genuinely hybrid on the fixtures: both sides
    # contribute members
    assert any(r["lex_rank"] is not None for r in rows)
    assert any(r["vec_rank"] is not None for r in rows)
