"""Physical-plan regression guards: the scale-critical plan
properties SCALE.md documents must hold structurally, not by luck —
pushdown reaching the scan, dimensions broadcast, facts never
broadcast, codegen covering the hot expressions."""

import re

import pytest

from lcmap_blackmagic_spark.registry import QUERIES


def fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def simple_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return QUERIES[name]["fn"](spark, sf_dir)
    return run


def test_pricing_summary_pushdown_and_pruning(q):
    plan = fmt_plan(q("pricing_summary"))
    assert "PushedFilters: [" in plan and "LessThan" in plan
    # 16-column table pruned to the used columns only
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 7
    assert "HashAggregate" in plan


def test_combine_join_broadcasts_dimension(q):
    plan = fmt_plan(q("combine_join"))
    assert "BroadcastHashJoin" in plan
    # exactly one broadcast (the deduped dim side; its last-wins
    # window may shuffle INSIDE the broadcast subtree — that's the
    # tiny side), and the fact side streams straight into the join
    assert plan.count("BroadcastExchange (") == 1
    assert re.search(r"BroadcastHashJoin[^\n]*\n\s*:- (Filter|Project|Scan)",
                     plan)


def test_revenue_by_nation_never_broadcasts_facts(q):
    plan = fmt_plan(q("revenue_by_nation"))
    # nation/region broadcast; orders/customer shuffle-hash — a fact
    # broadcast would OOM at 100 TB
    assert "ShuffledHashJoin" in plan
    assert plan.count("BroadcastExchange (") == 2


def test_cube_single_expand(q):
    plan = fmt_plan(q("cube_agg"))
    # one Expand node in the tree: one pass, not one scan per set
    assert plan.count("Expand (") == 1


def test_stratified_sample_caps_are_literals(q):
    # the per-label caps are a literal map the filter over the window
    # reads: no caps join, and the label shuffle is the one exchange
    plan = fmt_plan(q("stratified_sample"))
    assert "Join" not in plan
    assert plan.count("Exchange (") == 1
    assert "Window" in plan


def test_predict_chip_scores_in_one_pass(q, spark):
    # the registry's bench-scale /prediction runs prediction_pipeline:
    # no defaults/data union, no coalesce cap on the Arrow side, and
    # the scoring input spread on the pixel over one partition per core
    plan = simple_plan(q("lcmap_predict_chip"))
    assert "Union" not in plan
    assert "Coalesce 8" not in plan
    n = spark.sparkContext.defaultParallelism
    assert re.search(rf"hashpartitioning\(px#\d+L?, py#\d+L?, {n}\)",
                     plan), plan


def test_stratified_sample_hash_no_window_no_fact_shuffle(q):
    # the at-scale hash-Bernoulli mode: thresholds broadcast, keep
    # decision is a map-side filter — no window, no per-class sort
    plan = simple_plan(q("stratified_sample_hash"))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "Sort" not in plan


def test_cosine_topk_no_interpreted_hof(q):
    # the dot product must be unrolled arithmetic, not
    # aggregate()/zip_with() higher-order functions (interpreted)
    plan = simple_plan(q("llm_cosine_topk"))
    assert "aggregate(" not in plan and "zip_with" not in plan


def test_embed_neardup_banded_join_no_nlj(q):
    # the registered near-dup must candidate via equi-join on
    # (tbl, bucket); an n-squared nested loop would melt at corpus scale
    plan = simple_plan(q("llm_embed_neardup"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_topk_uses_take_ordered(q):
    # global top-k must be a per-partition merge, never a full sort
    plan = simple_plan(q("llm_ngram_topk"))
    assert "TakeOrderedAndProject" in plan


def test_tfidf_no_cartesian(q):
    plan = simple_plan(q("llm_tfidf_topk"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_histogram_no_unpartitioned_window(q):
    # pct-of-total must come from a scalar aggregate + broadcast, not
    # a single-partition WindowExec
    plan = simple_plan(q("label_histogram"))
    assert "Window" not in plan


def test_tpch_q9_broadcasts_only_nation(q):
    """The 5-table profit join: nation (fixed 25 rows) broadcasts;
    part/supplier/orders all scale with SF and must reach the join
    via exchange, never BroadcastNestedLoop/Cartesian."""
    plan = simple_plan(q("tpch_q9"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q3_filters_reach_scans(q):
    plan = fmt_plan(q("tpch_q3"))
    # mktsegment equality and both date bounds push to the scans
    assert "PushedFilters: [" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # top-10 is a TakeOrdered merge, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_tpch_q4_semi_join(q):
    # EXISTS compiles to a semi join (one output row per order), not
    # an inner join + dedup
    plan = simple_plan(q("tpch_q4"))
    assert "LeftSemi" in plan


def test_tpch_q15_no_unpartitioned_window(q):
    # "equal to the max" must be scalar-agg + broadcast back, not a
    # single-partition window over the (SF-scaling) supplier rollup
    plan = simple_plan(q("tpch_q15"))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_tpch_q18_aggregates_before_join(q):
    """The HAVING-on-sum(qty) group MUST reduce lineitem before the
    orders/customer joins: the first HashAggregate has to sit below
    every join in the tree (plan prints top-down, so the LAST
    aggregate line is the deepest; every join line must come before
    it)."""
    plan = simple_plan(q("tpch_q18"))
    lines = plan.splitlines()
    agg_rows = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    join_rows = [i for i, ln in enumerate(lines)
                 if "Join" in ln and "BroadcastExchange" not in ln]
    assert agg_rows and join_rows
    assert max(join_rows) < max(agg_rows)


def test_tpch_q22_anti_join(q):
    # NOT EXISTS compiles to a left-anti join
    plan = simple_plan(q("tpch_q22"))
    assert "LeftAnti" in plan


def test_gap_fill_window_is_partitioned(q):
    # the forward-fill window must partition by user_id; an
    # unpartitioned window would single-task the whole grid
    plan = simple_plan(q("gap_fill"))
    assert "Window" in plan
    import re as _re
    for m in _re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "user_id" in m.group(0)


def test_unpivot_is_expand_no_shuffle(q):
    # melt must be a single Expand pass, no exchange at all
    plan = simple_plan(q("unpivot"))
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_decontaminate_broadcasts_benchmark(q):
    # the benchmark gram set is the broadcast side; corpus grams must
    # not shuffle into the join
    plan = simple_plan(q("llm_decontaminate"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_customers_broadcasts_only_the_topk_rows(q):
    """The k-row aggregated side broadcasts; customer (SF-growing)
    must never be the broadcast build — the reduction (agg + TakeOrdered
    limit) has to sit INSIDE the single BroadcastExchange subtree."""
    plan = simple_plan(q("topk_customers"))
    assert plan.count("BroadcastExchange") == 1
    lines = plan.splitlines()
    bx = next(i for i, ln in enumerate(lines) if "BroadcastExchange" in ln)
    # the limit/sort of the top-k reduction appears below the exchange
    assert any("TakeOrdered" in ln or "GlobalLimit" in ln
               for ln in lines[bx:])
    # customer's scan is NOT in the broadcast subtree: it feeds the
    # streamed side (appears before the exchange in top-down print)
    cust = [i for i, ln in enumerate(lines) if "customer" in ln]
    assert cust and min(cust) < bx


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning — a core 100 TB
    lever: a selective filter on one fact side is turned into a bloom
    filter applied on the OTHER side's scan, cutting the big side's
    shuffle before the join. The rule fires only for shuffle joins
    (broadcast joins don't benefit) and gates on scan-size thresholds
    sized for cluster scale, so the test pins the capability with the
    thresholds scaled to the fixture; at real scale the defaults fire
    on their own."""
    import os

    from pyspark.sql import functions as F
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
             .filter(F.col("o_orderpriority") == "1-URGENT"))
        l = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        j = (l.join(o, l.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").count())
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan.lower() or "bloomfilter" in plan.lower()
        # correctness unaffected by the runtime filter
        assert j.collect()[0]["count"] > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_tpch_q21_semi_plus_anti(q):
    # the double-correlated EXISTS + NOT EXISTS must be ONE semi and
    # ONE anti join, never a re-scan-per-row correlated plan
    plan = simple_plan(q("tpch_q21"))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_broadcasts_query_side(q, spark, sf_dir):
    """The exact brute-force baseline must broadcast the FILTERED
    query side, never the SF-growing corpus (an unconditional corpus
    broadcast is an OOM plan at 100× corpus). The non-equi pair join
    is a BroadcastNestedLoopJoin by nature; the build (broadcast)
    subtree is printed under the exchange, so the query filter
    (vec_id % 50) must appear AFTER the BroadcastExchange line. With
    ``broadcast_corpus=True`` the build side flips back."""
    import os

    from pyspark.sql import functions as F

    from lcmap_blackmagic_spark.llm.similarity import cosine_topk

    plan = simple_plan(q("llm_cosine_topk"))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.index("% 50)") > plan.index("BroadcastExchange")

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    flipped = cosine_topk(emb, F.col("vec_id") % 50 == 0, k=5,
                          broadcast_corpus=True)
    fplan = simple_plan(flipped)
    assert fplan.index("% 50)") < fplan.index("BroadcastExchange")


def test_ivf_ann_probe_no_interpreted_hof(q):
    # query↔centroid distances must be unrolled codegen arithmetic
    # like every other vector op — not aggregate()/zip_with() HOFs
    # (interpreted eval)
    plan = simple_plan(q("llm_ann_ivf"))
    assert "aggregate(" not in plan and "zip_with" not in plan


def test_hll_sketch_two_stage_agg_no_window(q):
    """The sketch must be two map-side-combined aggregations — no
    per-group WindowExec (which would sort every distinct key) and no
    joins at all."""
    plan = simple_plan(q("hll_sketch"))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 2
    # partial aggregation before each exchange
    assert "partial_merge" in plan or "partial" in plan.lower() \
        or "HashAggregate" in plan


def test_substr_dedup_no_cartesian_bounded_exchanges(q):
    """Gram counts join back on the same 8-byte hash key — never a
    cartesian; the whole pipeline rides a bounded number of
    exchanges (scan-side explode adds none)."""
    plan = simple_plan(q("llm_substr_dedup"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") <= 5


def test_merge_upsert_single_key_join(q):
    """MERGE is one full-outer shuffle join on the key plus the final
    aggregate — no nested loops, no second pass over the target."""
    plan = simple_plan(q("merge_upsert"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FullOuter") >= 1 or "full_outer" in plan.lower()


def test_quantile_sketch_bins_before_window(q):
    """The window cumsum must run over the BIN aggregate (≤ n_bins
    rows per group), never the raw rows: a HashAggregate keyed by bin
    sits below the Window."""
    plan = simple_plan(q("quantile_sketch"))
    assert "Window" in plan
    assert plan.index("Window") > -1
    # bins aggregate exists and the raw-row scan feeds it, not the window
    assert "HashAggregate" in plan


def test_weighted_sample_no_global_sort(q):
    """Grouped top-k is a per-group window over the narrow projection;
    ungrouped form would be TakeOrdered — either way no full global
    Sort+Exchange of the table beyond the window's partitioning."""
    plan = simple_plan(q("weighted_sample"))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2


def test_bm25_no_explode_no_wide_shuffle(q):
    """BM25 is scan -> codegen regexp_count projection -> one-row
    stats broadcast -> TakeOrdered: no token explode (Generate), no
    join that shuffles the corpus — the shape that survives 100 TB."""
    plan = fmt_plan(q("bm25_topk"))
    assert "Generate" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange (") == 1
    # the only Exchange is the single-row stats reduction
    assert plan.count("Exchange (") <= 2


def test_pmi_broadcasts_vocab_no_sort_join(q):
    """Collocation scoring joins the bigram counts to the (tiny)
    vocabulary aggregates via broadcast only; bigrams come from
    arrays_zip, not a per-document window sort."""
    plan = fmt_plan(q("pmi_bigrams"))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_kmeans_assign_broadcasts_centroids(q):
    """The E-step broadcasts the 8-row centroid table (BNLJ over a
    broadcast is fine at k rows); the vectors are never shuffled
    before the per-vector argmin window, and the argmin window is
    vec-partitioned."""
    plan = fmt_plan(q("kmeans_assign"))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange (") == 1
    assert re.search(r"Window.*?vec_id", plan, re.S)


def test_ewma_single_sort_single_exchange(q):
    """The smoother is exactly one user-hash Exchange + one Sort +
    one Window — nothing else; 8 lags evaluate in the same window
    frame pass."""
    plan = fmt_plan(q("ewma_smooth"))
    assert plan.count("Exchange (") == 1
    assert plan.count("Sort (") == 1
    assert plan.count("Window (") == 1
    assert "HashAggregate" not in plan


def test_eval_auc_windows_share_one_sort(q):
    """rank() and the tie-count window run over ONE sort of each
    priority group (compatible orderings), then reduce — the whole
    AUC costs one sort, not the O(P*N) pair expansion."""
    plan = fmt_plan(q("eval_auc"))
    assert plan.count("Sort (") == 1
    # one partition exchange for the window + one for the group agg at most
    assert plan.count("Exchange (") <= 2


def test_salted_join_replicates_and_keys_on_salt(q):
    """The salt demo must actually salt: the small side is replicated
    via Generate (explode of the salt sequence) and the join keys
    include __salt."""
    plan = fmt_plan(q("salted_join"))
    assert "Generate" in plan
    assert "__salt" in plan


def test_bootstrap_one_scan_one_generate(q):
    """The weighted bootstrap is ONE scan of orders + the replicate
    explode + a B-row aggregate — never B resamples of the data."""
    plan = simple_plan(q("bootstrap_ci"))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Generate") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_semantic_decon_broadcasts_benchmark(q):
    """The benchmark embedding side broadcasts; the corpus is never
    shuffled before the per-vector max."""
    plan = fmt_plan(q("semantic_decon"))
    assert plan.count("BroadcastExchange (") == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_kcenter_step_plan_is_shuffle_free(spark, sf_dir):
    """The k-center greedy loop executes eagerly (each pick feeds
    the next round), so the registry-level audit only sees the final
    8-row literal — audit the per-round plan directly: the
    incremental HOF step must be a pure narrow scan→project (NO
    exchange, NO join, NO aggregate — the only cross-partition
    traffic is the caller's TakeOrdered winner row) and none of the
    banned shapes (cartesian, row-UDF, interpreted fallback)."""
    from pyspark.sql import functions as F

    from lcmap_blackmagic_spark.registry import _t
    from lcmap_blackmagic_spark.registry.ann import (KC_DIM, KC_QSCALE,
                                                     kcenter_step)
    e = _t(spark, sf_dir, "embeddings")
    arr = e.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") * KC_QSCALE)
                    .cast("bigint")).alias("qa"))
    stepped = kcenter_step(
        kcenter_step(arr, [0] * KC_DIM, have_best=False),
        [1] * KC_DIM, have_best=True)
    plan = simple_plan(stepped)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_skew_distinct_split_stage1_shuffles_on_bucket(spark, sf_dir):
    """The split-distinct rewrite's whole point is the PLAN: the
    distinct stage must hash-partition on (key, bucket, value) —
    bounding each reducer at 1/SPLIT_BUCKETS of a hot key's value
    set — and only the tiny (key × bucket) partial table may shuffle
    on the key alone."""
    from lcmap_blackmagic_spark.registry.sketches import q_skew_distinct_split
    df = q_skew_distinct_split(spark, sf_dir)
    plan = simple_plan(df)
    # the distinct aggregation keys include the bucket expression
    assert "l_returnflag" in plan and "_groupingexpression" in plan
    # no exchange partitions the raw rows by the key alone: every
    # hashpartitioning over lineitem carries the bucket column too
    import re
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        if "l_suppkey" in keys:
            assert "_groupingexpression" in keys or \
                "l_returnflag" not in keys
    assert "CartesianProduct" not in plan
