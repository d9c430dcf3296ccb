"""Semantic tests for the eval / IR / pipeline-utility queries
(registry.analytics, registry.ann, registry.text) — invariants the
oracle-parity hash can't express: metric laws on constructed edge
cases, partition/conservation checks on the fixture outputs."""

import os

from pyspark.sql import functions as F

from lcmap_blackmagic_spark.registry import QUERIES


def run(spark, sf_dir, name):
    return QUERIES[name]["fn"](spark, sf_dir)


# ------------------------------------------------------- ROC-AUC ----

def _write_orders(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, "
              "o_orderstatus string, o_totalprice double")
    df.write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "orders.parquet"))
    return str(tmp_path)


def test_auc_perfect_separation_is_one(spark, tmp_path):
    rows = ([(i, "1-URGENT", "O", 10.0 + i) for i in range(10)]
            + [(100 + i, "1-URGENT", "F", 1000.0 + i) for i in range(10)])
    sf = _write_orders(spark, tmp_path, rows)
    out = {r["grp"]: r for r in run(spark, sf, "eval_auc").collect()}
    assert out["1-URGENT"]["auc"] == 1.0


def test_auc_inverted_is_zero_and_ties_half(spark, tmp_path):
    rows = ([(i, "A", "F", 10.0 + i) for i in range(10)]
            + [(100 + i, "A", "O", 1000.0 + i) for i in range(10)]
            + [(200 + i, "B", "F" if i % 2 else "O", 42.0)
               for i in range(10)])
    sf = _write_orders(spark, tmp_path, rows)
    out = {r["grp"]: r for r in run(spark, sf, "eval_auc").collect()}
    assert out["A"]["auc"] == 0.0        # every positive below every negative
    assert out["B"]["auc"] == 0.5        # all tied: average-rank AUC is 1/2


def test_confusion_counts_conserve_and_f1_harmonic(spark, sf_dir):
    rows = run(spark, sf_dir, "eval_confusion").collect()
    assert len(rows) == 5
    for r in rows:
        assert r["tp"] >= 0 and r["fp"] >= 0 and r["fn"] >= 0
        # harmonic identity recomputed from the integers
        f1 = 2 * r["tp"] / (2 * r["tp"] + r["fp"] + r["fn"])
        assert abs(r["f1"] - round(f1, 6)) < 1e-12
    c = (spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
         .count())
    assert sum(r["tp"] + r["fn"] for r in rows) == c


def test_calibration_bins_partition_orders(spark, sf_dir):
    rows = run(spark, sf_dir, "eval_calibration").collect()
    assert sorted(r["bin"] for r in rows) == list(range(10))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    assert sum(r["n"] for r in rows) == o
    for r in rows:
        assert 0.0 <= r["mean_pred"] <= 1.0
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert abs(r["gap"] - round(abs(r["mean_pred"] - r["frac_pos"]), 6)) \
            <= 2e-6  # re-derived from the already-rounded columns


# ----------------------------------------------------------- IR -----

def test_bm25_scores_positive_and_sorted(spark, sf_dir):
    rows = run(spark, sf_dir, "bm25_topk").collect()
    assert 0 < len(rows) <= 20
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r["n_terms"] >= 1 for r in rows)


def test_inverted_index_postings_sorted_and_df_consistent(spark, sf_dir):
    rows = run(spark, sf_dir, "inverted_index").collect()
    for r in rows:
        posts = [int(x) for x in r["postings"].split(",")]
        assert posts == sorted(posts)
        assert len(posts) == r["df"] == len(set(posts))


# ----------------------------------------------- pipeline utils -----

def test_kfold_partitions_documents(spark, sf_dir):
    rows = run(spark, sf_dir, "kfold_split").collect()
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    assert sum(r["n"] for r in rows) == d
    assert sorted(r["fold"] for r in rows) == list(range(5))


def test_kmeans_assign_covers_all_vectors(spark, sf_dir):
    rows = run(spark, sf_dir, "kmeans_assign").collect()
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).count()
    assert sum(r["n"] for r in rows) == e
    assert all(0 <= r["cid"] < 8 for r in rows)
    assert all(r["min_dist"] <= r["max_dist"] for r in rows)
    # centroid vectors assign to themselves at distance 0
    zero_cells = [r["cid"] for r in rows if r["min_dist"] == 0.0]
    assert len(zero_cells) == 8


def test_kmeans_update_means_inside_data_range(spark, sf_dir):
    rows = run(spark, sf_dir, "kmeans_update").collect()
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    lo, hi = e.select(F.min(F.element_at("embedding", 1)),
                      F.max(F.element_at("embedding", 1))).first()
    for r in rows:
        assert lo - 1e-6 <= r["m1"] <= hi + 1e-6


def test_ewma_constant_series_is_identity(spark, tmp_path):
    rows = [(i, f"2024-01-01 00:{i:02d}:00", 1, "view", 7.0, "{}")
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
              "value double, props string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet"))
    out = run(spark, str(tmp_path), "ewma_smooth").collect()
    # truncated renormalized EWMA of a constant series IS the constant
    assert all(abs(r["ewma"] - 7.0) < 1e-12 for r in out)


def test_attribution_conserves_purchases(spark, sf_dir):
    rows = run(spark, sf_dir, "attribution").collect()
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    purchases = e.filter(F.col("event_type") == "purchase").count()
    assert sum(r["n_purchases"] for r in rows) == purchases
    assert all(-1 <= r["campaign"] <= 4 for r in rows)


def test_rfm_segments_partition_customers(spark, sf_dir):
    rows = run(spark, sf_dir, "rfm_scores").collect()
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    n_cust = o.select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        assert 1 <= r["r"] <= 5 and 1 <= r["f"] <= 5 and 1 <= r["m"] <= 5


def test_random_projection_is_linear_in_input(spark, sf_dir):
    # ||p||^2 <= d * ||v||^2 sanity + deterministic across calls
    a = run(spark, sf_dir, "random_projection").orderBy("vec_id").limit(5)
    b = run(spark, sf_dir, "random_projection").orderBy("vec_id").limit(5)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_dedup_reps_one_per_component(spark, sf_dir):
    rows = run(spark, sf_dir, "dedup_reps").collect()
    comps = [r["component"] for r in rows]
    assert len(comps) == len(set(comps))
    assert sum(r["cluster_size"] for r in rows) == \
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()


def test_skew_profile_ratio_at_least_1000(spark, sf_dir):
    rows = run(spark, sf_dir, "skew_profile").collect()
    # max/mean >= 1 by definition; scaled x1000 integer
    assert all(r["skew_x1000"] >= 1000 for r in rows)
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_curation_funnel_monotone(spark, sf_dir):
    rows = {r["stage"]: r for r in run(spark, sf_dir, "llm_curation").collect()}
    assert list(rows) == ["start", "quality", "dedup", "decontam"]
    ns = [rows[s]["n_docs"] for s in ["start", "quality", "dedup",
                                      "decontam"]]
    ts = [rows[s]["n_tokens"] for s in ["start", "quality", "dedup",
                                        "decontam"]]
    assert ns == sorted(ns, reverse=True) and ns[-1] > 0
    assert ts == sorted(ts, reverse=True)
    # quality stage really cut something and dedup really merged
    assert ns[1] < ns[0]


def test_focal_mean_conserves_events(spark, sf_dir):
    rows = run(spark, sf_dir, "focal_mean").collect()
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    assert sum(r["n"] for r in rows) == e
    for r in rows:
        # the 3x3 neighborhood always contains the cell itself
        assert r["focal_n"] >= r["n"]


def test_wow_growth_first_week_null_and_bp_sane(spark, sf_dir):
    rows = run(spark, sf_dir, "wow_growth").collect()
    assert rows[0]["growth_bp"] is None
    assert all(r["growth_bp"] is not None for r in rows[1:])
    wks = [r["wk"] for r in rows]
    assert wks == sorted(wks)


def test_cusum_flags_only_positive(spark, sf_dir):
    rows = run(spark, sf_dir, "cusum_changepoints").collect()
    assert rows  # the fixture's bursty values trip some users
    for r in rows:
        assert r["n_flags"] >= 1
        assert r["max_cusum"] > 0
