"""Double-run probe: running a query twice in ONE session must give
identical results — catches conf side-effects (a table read must
leave the session conf alone), cached-plan leakage, and staging-dir
staleness (the staged query forms overwrite a per-input staging
parquet at build time).

A representative sample, not all 164: every conf-toucher (events
loaders), every staged form, and one from each determinism-sensitive
family (float windows, hash sampling, iterative components)."""

import pytest

from lcmap_blackmagic_spark.registry import QUERIES

DOUBLE_RUN = [
    "events_tumbling",      # events loader conf side-effect
    "ewma_smooth",          # float window over the events LTZ column
    "ohlc_bars",            # epoch-hour bucketing
    "llm_jaccard_prefix",   # staged ranked-gram parquet
    "llm_minhash_pipeline",  # staged signature parquet
    "mm_phash_pairs",       # staged Arrow hash table
    "llm_curation",         # staged + iterative components
    "stratified_sample_hash",  # hash-Bernoulli sampling
    "bootstrap_ci",         # hash lanes + order-statistic window
    "eval_ndcg",            # pinned-order float combination
]


@pytest.mark.parametrize("name", DOUBLE_RUN)
def test_query_is_stable_across_reruns(spark, sf_dir, name):
    def rows(df):
        return sorted([tuple(r) for r in df.collect()], key=repr)
    first = rows(QUERIES[name]["fn"](spark, sf_dir))
    second = rows(QUERIES[name]["fn"](spark, sf_dir))
    assert first == second
