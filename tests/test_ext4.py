"""Round-5 operators: HLL accuracy, MERGE semantics, substring-dedup
signal, rarity ordering. Oracle parity for the same four queries is
covered by test_oracle_parity (they are registry entries)."""

import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark.operators.merge import merge_into
from lcmap_blackmagic_spark.operators.sketches import hll_distinct
from lcmap_blackmagic_spark.registry import _t


# ------------------------------------------------------------- HLL --

def test_hll_within_error_bound(spark, sf_dir):
    """Raw HLL estimate (p=8, sigma ~6.5%) lands within 20% of the
    exact distinct count once out of the small-range regime; in the
    small-range regime the linear-counting correction (applied here,
    test-side, as the operator docstring prescribes) gets within 15%."""
    import math
    l = _t(spark, sf_dir, "lineitem")
    est = {r["l_returnflag"]: r
           for r in hll_distinct(l, ["l_returnflag"], "l_orderkey",
                                 p=8).collect()}
    exact = {r["l_returnflag"]: r["n"]
             for r in l.groupBy("l_returnflag")
             .agg(F.count_distinct("l_orderkey").alias("n")).collect()}
    assert set(est) == set(exact)
    m = 256
    for flag, row in est.items():
        e, z = row["hll_distinct"], row["zero_buckets"]
        if e <= 2.5 * m and z > 0:
            e = m * math.log(m / z)  # linear counting
            assert abs(e - exact[flag]) / exact[flag] < 0.15
        else:
            assert abs(e - exact[flag]) / exact[flag] < 0.20


def test_hll_merges_like_a_sketch(spark, sf_dir):
    """Sketching half the data twice and the whole once must agree:
    registers merge by MAX, so the estimate from the union equals the
    estimate over the full table — the mergeability contract that
    makes the sketch safe for per-partition partials and streaming."""
    l = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    whole = hll_distinct(l, ["l_returnflag"], "l_orderkey").collect()
    halves = l.filter(F.col("l_orderkey") % 2 == 0).unionByName(
        l.filter(F.col("l_orderkey") % 2 == 1)).unionByName(
        l.filter(F.col("l_orderkey") % 4 == 0))  # overlapping re-adds
    re = hll_distinct(halves, ["l_returnflag"], "l_orderkey").collect()
    a = {r["l_returnflag"]: r["hll_distinct"] for r in whole}
    b = {r["l_returnflag"]: r["hll_distinct"] for r in re}
    assert a == b


# ----------------------------------------------------------- merge --

@pytest.fixture()
def merge_frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k INT, name STRING, v DOUBLE")
    source = spark.createDataFrame(
        [(2, None, 25.0, "U"),       # update v, keep name
         (3, None, None, "D"),       # delete
         (9, "new", 90.0, "I")],     # insert
        "k INT, name STRING, v DOUBLE, op STRING")
    return target, source


def test_merge_into_semantics(merge_frames):
    target, source = merge_frames
    got = {r["k"]: (r["name"], r["v"])
           for r in merge_into(target, source, "k").collect()}
    assert got == {1: ("a", 10.0), 2: ("b", 25.0), 9: ("new", 90.0)}


def test_merge_broadcast_path_matches(merge_frames):
    """The big-side-never-shuffles variant agrees when updates carry
    full rows (its documented contract)."""
    target, source = merge_frames
    full_src = source.withColumn(
        "name", F.coalesce("name", F.lit("b")))  # U row carries name
    got = {r["k"]: (r["name"], r["v"])
           for r in merge_into(target, full_src, "k",
                               broadcast_source=True).collect()}
    assert got == {1: ("a", 10.0), 2: ("b", 25.0), 9: ("new", 90.0)}


def test_merge_upsert_moves_the_books(spark, sf_dir):
    """On orders: deletes shrink counts, updates shift totals by +5%
    on touched keys, inserts add the 'N' status."""
    o = (_t(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderstatus",
                 F.col("o_totalprice").cast("decimal(18,2)")
                 .alias("price")))
    from lcmap_blackmagic_spark.registry.snapshot import _order_changes
    merged = merge_into(o, _order_changes(o), "o_orderkey")
    n_before = o.count()
    n_del = o.filter(F.col("o_orderkey") % 13 == 0).count()
    n_ins = o.filter(F.col("o_orderkey") % 101 == 0).count()
    assert merged.count() == n_before - n_del + n_ins
    assert merged.filter(F.col("o_orderstatus") == "N").count() == n_ins
    # an updated key carries exactly round(1.05x)
    row = (o.filter((F.col("o_orderkey") % 7 == 0)
                    & (F.col("o_orderkey") % 13 != 0)).limit(1)
           .collect())[0]
    newv = (merged.filter(F.col("o_orderkey") == row["o_orderkey"])
            .collect())[0]["price"]
    # HALF_UP like Spark's F.round — Python round() is banker's
    # rounding and diverges on exact half-cent boundaries
    import decimal
    want = (decimal.Decimal(row["price"]) * decimal.Decimal("1.05")
            ).quantize(decimal.Decimal("0.01"),
                       rounding=decimal.ROUND_HALF_UP)
    assert newv == want


# ------------------------------------------------- substring dedup --

def test_substring_dedup_flags_verbatim_reuse(spark):
    from lcmap_blackmagic_spark.llm.dedup import substring_dup_stats
    shared = "x" * 30 + "the quick brown fox jumps over the lazy dog" * 2
    docs = spark.createDataFrame(
        [(1, shared + " alpha" * 10),
         (2, shared + " omega" * 10),
         (3, "entirely unrelated content " * 8)],
        "doc_id INT, text STRING")
    got = {r["doc_id"]: r for r in
           substring_dup_stats(docs, k=40, stride=8).collect()}
    assert got[1]["n_dup_grams"] > 0 and got[2]["n_dup_grams"] > 0
    assert got[3]["n_dup_grams"] == 0
    assert got[1]["dup_ratio"] > got[3]["dup_ratio"]


def test_substring_dedup_short_docs_excluded(spark):
    from lcmap_blackmagic_spark.llm.dedup import substring_dup_stats
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "y" * 80)], "doc_id INT, text STRING")
    got = substring_dup_stats(docs, k=40, stride=8).collect()
    assert [r["doc_id"] for r in got] == [2]


# ----------------------------------------------------------- rarity --

def test_rarity_orders_rare_above_common(spark):
    from lcmap_blackmagic_spark.llm.text import rarity_scores
    docs = spark.createDataFrame(
        [(1, "the the the the the the the the"),
         (2, "the zyzzyva quokka axolotl the the the the")],
        "doc_id INT, text STRING")
    got = {r["doc_id"]: r["rarity"] for r in rarity_scores(docs).collect()}
    assert got[2] > got[1]
    # all-common doc: every token is 'the' (corpus c=13, N=16), so
    # rarity = floor(16e6/13)/1e6 exactly
    assert got[1] == round((16_000_000 // 13) / 1e6, 6)


# -------------------------------------------------------- BPE ------

def test_bpe_learns_the_planted_pair(spark):
    from lcmap_blackmagic_spark.llm.text import bpe_merges
    docs = spark.createDataFrame(
        [(1, "banana banana banana bandana"),
         (2, "banana abba")],
        "doc_id INT, text STRING")
    got = bpe_merges(docs, n_merges=3).collect()
    assert [r["merge_rank"] for r in got] == [1, 2, 3]
    # 'a n' occurs 2x per banana (4 words) + 2x in bandana = 10,
    # the clear winner of round 1
    assert got[0]["pair"] == "a n"
    assert got[0]["merged"] == "an"
    assert got[0]["total"] == 10
    # round 2: banana is now 'b an an a', bandana 'b an d an a' —
    # 'an a' appears once in each word (5) vs 'an an' only in
    # banana (4)
    assert got[1]["pair"] == "an a"
    assert got[1]["total"] == 5


def test_bpe_greedy_nonoverlap(spark):
    """'a a a a' must merge as (aa)(aa), never the overlapping
    middle pair — the two-pass replace equals greedy left-to-right."""
    from lcmap_blackmagic_spark.llm.text import bpe_merges
    docs = spark.createDataFrame([(1, "aaaa aaaa")],
                                 "doc_id INT, text STRING")
    got = bpe_merges(docs, n_merges=2).collect()
    assert got[0]["pair"] == "a a"
    # 4 a's per word -> 2 non-overlapping 'a a' merges per word, x2 words
    assert got[0]["total"] == 6  # adjacent-pair COUNT before merging
    # round 2 sees ' aa aa ' per word -> pair 'aa aa'
    assert got[1]["pair"] == "aa aa"


# -------------------------------------------- weighted sampling ----

def test_priority_sample_prefers_heavy_rows(spark):
    from lcmap_blackmagic_spark.operators.sampling import priority_sample
    rows = [(i, 1000 if i % 10 == 0 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "id LONG, wt LONG")
    got = priority_sample(df, "wt", "id", k=50)
    heavy = got.filter(F.col("wt") == 1000).count()
    # 100 heavy rows at 1000x weight should crowd out the 900 light
    # ones almost completely
    assert heavy >= 40
    # deterministic across runs
    a = [r["id"] for r in got.collect()]
    b = [r["id"] for r in priority_sample(df, "wt", "id", 50).collect()]
    assert a == b


def test_priority_sample_grouped_k_per_group(spark, sf_dir):
    from lcmap_blackmagic_spark.operators.sampling import priority_sample
    d = _t(spark, sf_dir, "documents")
    got = priority_sample(d, "n_chars", "doc_id", 5, group_col="lang")
    per = {r["lang"]: r["n"] for r in
           got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(v <= 5 for v in per.values())


def test_bpe_encode_counts(spark):
    """After learning on a corpus where 'an' merges, banana must
    encode in fewer BPE tokens than characters; an all-unique-char
    word stays at char count."""
    from lcmap_blackmagic_spark.llm.text import bpe_encode, bpe_merges
    docs = spark.createDataFrame(
        [(1, "banana banana banana banana"), (2, "xyzq")],
        "doc_id INT, text STRING")
    merges = bpe_merges(docs, n_merges=2)
    got = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    assert got[1]["n_words"] == 4
    # banana: 6 chars -> 'b an an a' (4) after merge 1; merge 2 may
    # fuse further, so <= 4 per word and strictly < 6
    assert got[1]["n_bpe_tokens"] <= 4 * 4
    assert got[1]["n_bpe_tokens"] < 6 * 4
    # xyzq has no repeated pairs anywhere in the corpus: stays 4 chars
    assert got[2]["n_bpe_tokens"] == 4


# ----------------------------------------------------- PageRank ----

def test_pagerank_hub_ranks_highest(spark):
    from lcmap_blackmagic_spark.operators.graph import PR_SCALE, pagerank
    # DAG funnel: leaves 3,4,5 -> 2 -> 1 (dangling). Acyclic, so the
    # ranks are EXACT after depth+1 rounds — no oscillation to damp
    # (a cyclic fixture needs ~30 rounds for the 0.85^r transient)
    edges = spark.createDataFrame(
        [(s, 2) for s in (3, 4, 5)] + [(2, 1)],
        "src LONG, dst LONG")
    ranks = {r["node"]: r["rank_scaled"]
             for r in pagerank(edges, rounds=4).collect()}
    b = PR_SCALE // 5
    leaf = (15 * b) // 100
    mid = (85 * 3 * leaf + 15 * b) // 100
    head = (85 * mid + 15 * b) // 100
    assert ranks[3] == ranks[4] == ranks[5] == leaf
    assert ranks[2] == mid and ranks[1] == head
    assert ranks[1] > ranks[2] > ranks[3]
    # determinism: bit-identical on rerun
    again = {r["node"]: r["rank_scaled"]
             for r in pagerank(edges, rounds=4).collect()}
    assert ranks == again


def test_pagerank_uniform_on_cycle(spark):
    from lcmap_blackmagic_spark.operators.graph import PR_SCALE, pagerank
    n = 6
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src LONG, dst LONG")
    ranks = [r["rank_scaled"] for r in pagerank(edges, rounds=7).collect()]
    # a cycle is rank-uniform: every node keeps SCALE/n (mod integer
    # truncation of the damping arithmetic)
    assert max(ranks) - min(ranks) <= 2
    assert abs(ranks[0] - PR_SCALE // n) < PR_SCALE // n * 0.01


# ---------------------------------------------- quantile sketch ----

def test_histogram_quantiles_accuracy_and_merge(spark, sf_dir):
    """Estimates land within one bin width of exact percentiles, and
    the sketch merges: bin counts from disjoint halves re-aggregated
    give the identical estimate (merge-by-SUM contract)."""
    from lcmap_blackmagic_spark.operators.sketches import \
        histogram_quantiles
    l = _t(spark, sf_dir, "lineitem")
    est = {r["l_returnflag"]: r for r in histogram_quantiles(
        l, ["l_returnflag"], "l_extendedprice", (0.5, 0.9),
        n_bins=256, lo=0.0, hi=131072.0).collect()}
    width = 131072.0 / 256
    for q, col in ((0.5, "q_50"), (0.9, "q_90")):
        exact = {r["l_returnflag"]: r["e"] for r in
                 l.groupBy("l_returnflag")
                 .agg(F.expr(f"percentile(l_extendedprice, {q})")
                      .alias("e")).collect()}
        for flag, row in est.items():
            assert abs(row[col] - exact[flag]) <= width + 1e-6, (
                flag, col, row[col], exact[flag])
    # mergeability: union of overlapping halves changes counts, so
    # compare disjoint halves instead — identical input multiset
    halves = (l.filter(F.col("l_orderkey") % 2 == 0)
              .unionByName(l.filter(F.col("l_orderkey") % 2 == 1)))
    re = {r["l_returnflag"]: r for r in histogram_quantiles(
        halves, ["l_returnflag"], "l_extendedprice", (0.5, 0.9),
        n_bins=256, lo=0.0, hi=131072.0).collect()}
    for flag in est:
        assert est[flag]["q_50"] == re[flag]["q_50"]
        assert est[flag]["q_90"] == re[flag]["q_90"]
