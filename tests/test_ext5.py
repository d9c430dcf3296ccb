"""Round-5 session-2 operators: prefix-filter similarity join,
Count-Min sketch, KMV set algebra, funnel, MAD outliers.

Oracle parity for each registry entry is covered by
test_oracle_parity.py; these tests pin the properties the oracle
can't see — plan shapes, mergeability laws, estimator bounds, and
the exactness of prefix filtering against in-Spark brute force."""

import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark.llm.dedup import prefix_jaccard_pairs
from lcmap_blackmagic_spark.operators.sketches import (
    cms_counters, cms_estimate, kmv_set_ops)
from lcmap_blackmagic_spark.registry import QUERIES
from lcmap_blackmagic_spark.registry.analytics import (q_funnel_steps,
                                                       q_mad_outliers)
from lcmap_blackmagic_spark.registry.sketches import CMS_D, CMS_W


# ---------------------------------------- prefix-filter join --------

def test_prefix_join_matches_brute_force(spark, sf_dir):
    """Prefix filtering is LOSSLESS: the candidate restriction must
    reproduce the all-pairs result exactly (same pairs, same
    jaccard), not approximately."""
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "text"))
    fast = {(r.id_a, r.id_b, r.jaccard)
            for r in prefix_jaccard_pairs(d, n=2, t_num=1, t_den=2)
            .collect()}
    # brute force inside Spark with the identical hashing
    from lcmap_blackmagic_spark.llm.dedup import shingles
    sh = F.array_distinct(F.transform(
        shingles("text", 2),
        lambda s: F.conv(F.substring(F.md5(s.cast("binary")), 1, 12),
                         16, 10).cast("bigint")))
    t = d.select("doc_id", sh.alias("sh"))
    a = t.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    brute = {(r.id_a, r.id_b, r.jaccard)
             for r in a.crossJoin(b)
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(inter * 2 >= union)
             .select("id_a", "id_b",
                     F.round(inter / union, 6).alias("jaccard"))
             .collect()}
    assert fast == brute and len(fast) > 0


def test_prefix_join_plan_has_no_cartesian(spark, sf_dir):
    plan = prefix_jaccard_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        n=2)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------- count-min sketch ----------

def test_cms_never_underestimates(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    counters = cms_counters(e, "user_id", CMS_D, CMS_W)
    est = cms_estimate(counters, exact.select("user_id"), "user_id",
                       CMS_D, CMS_W)
    joined = exact.join(est, "user_id").collect()
    assert len(joined) > 0
    assert all(r.cms_est >= r.n for r in joined)


def test_cms_partials_merge_to_single_pass(spark, sf_dir):
    """Counter grids built on disjoint splits and re-merged must
    estimate identically to one pass over the whole table — the
    mergeability law that lets the sketch roll up across days /
    micro-batches."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo = e.filter(F.col("event_id") % 2 == 0)
    hi = e.filter(F.col("event_id") % 2 == 1)
    merged = cms_counters(lo, "user_id", CMS_D, CMS_W).unionAll(
        cms_counters(hi, "user_id", CMS_D, CMS_W))
    keys = e.select("user_id").distinct()
    one = {(r.user_id, r.cms_est) for r in cms_estimate(
        cms_counters(e, "user_id", CMS_D, CMS_W), keys, "user_id",
        CMS_D, CMS_W).collect()}
    two = {(r.user_id, r.cms_est) for r in cms_estimate(
        merged, keys, "user_id", CMS_D, CMS_W).collect()}
    assert one == two


def test_cms_single_exchange_plan(spark, sf_dir):
    """The counter build must shuffle only the (row, col) partials —
    one exchange, partial aggregation before it."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = cms_counters(e, "user_id", CMS_D, CMS_W) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan


# ---------------------------------------- KMV set algebra -----------

def test_kmv_estimates_near_exact(spark, sf_dir):
    l = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
         .filter(F.col("l_returnflag").isin("A", "N")))
    row = kmv_set_ops(l, "l_orderkey",
                      F.col("l_returnflag") == "A", k=64).collect()[0]
    ex_a = l.filter("l_returnflag = 'A'") \
        .select("l_orderkey").distinct().count()
    ex_b = l.filter("l_returnflag = 'N'") \
        .select("l_orderkey").distinct().count()
    ex_u = l.select("l_orderkey").distinct().count()
    # k=64 → standard error ~1/sqrt(62) ≈ 13%; allow 3 sigma
    for est, exact in ((row.a_est, ex_a), (row.b_est, ex_b),
                       (row.union_est, ex_u)):
        assert abs(est - exact) <= 0.4 * exact + 2
    assert 0.0 <= row.jaccard_est <= 1.0
    assert row.intersect_est <= row.union_est + 1e-9


# ---------------------------------------- funnel --------------------

def test_funnel_is_monotone(spark, sf_dir):
    rows = {r.step: r.users
            for r in q_funnel_steps(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1] >= rows[2] >= rows[3] >= 0


# ---------------------------------------- MAD outliers --------------

def test_mad_flags_satisfy_threshold(spark, sf_dir):
    out = q_mad_outliers(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert abs(r.value_cents - r.median_cents) > 3 * r.mad_cents


def test_mad_broadcasts_the_reduced_medians(spark, sf_dir):
    plan = q_mad_outliers(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------- registry wiring -----------

def test_ext5_entries_registered():
    for name in ("llm_jaccard_prefix", "cms_topk", "kmv_set_ops",
                 "funnel_steps", "mad_outliers"):
        assert name in QUERIES and QUERIES[name].get("sql")


# ---------------------------------------- pHash ---------------------

def _texture_ppm(scale):
    """The SAME 16×16 random scene rendered at 16·scale pixels — a
    rich spectrum (every pHash coefficient far from the median), so
    scale invariance is tested on signal, not on the arbitrary signs
    of near-zero coefficients a flat gradient would produce."""
    import numpy as np
    base = np.random.default_rng(42).integers(0, 256, (16, 16))
    g = np.repeat(np.repeat(base, scale, 0), scale, 1).astype(np.uint8)
    h, w = g.shape
    body = np.stack([g, g, g], axis=-1).tobytes()
    return f"P6\n{w} {h}\n255\n".encode() + body


def test_phash_is_resize_and_brightness_invariant():
    import numpy as np
    from lcmap_blackmagic_spark.llm.multimodal import (
        library_decoder, phash64)
    small = phash64(library_decoder(_texture_ppm(3), "image"))    # 48px
    big = phash64(library_decoder(_texture_ppm(12), "image"))     # 192px
    ham = bin((small ^ big) & ((1 << 64) - 1)).count("1")
    assert ham <= 4  # same scene, 4x scale: near-identical hash
    # flat brightness shift barely moves it (DC excluded from median)
    img = library_decoder(_texture_ppm(3), "image")
    bright = phash64(np.clip(img + 30, 0, 255))
    assert bin((small ^ bright) & ((1 << 64) - 1)).count("1") <= 6
    # a different scene must be far
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (64, 64)).astype(np.float32)
    ham2 = bin((small ^ phash64(noise)) & ((1 << 64) - 1)).count("1")
    assert ham2 > 16


def test_phash_pairs_find_duplicate_payloads(spark):
    from lcmap_blackmagic_spark.llm.multimodal import (
        phash_images, phash_pairs)
    rows = [(1, "image", b"P6-one-payload-xx"),
            (2, "image", b"P6-one-payload-xx"),   # exact dup of 1
            (3, "image", b"completely different")]
    media = spark.createDataFrame(
        [(i, k, p, None, None, None, None) for i, k, p in rows],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int")
    got = {(r.id_a, r.id_b, r.hamming)
           for r in phash_pairs(phash_images(media), 0).collect()}
    assert got == {(1, 2, 0)}


def test_phash_pairs_plan_has_no_cartesian(spark, sf_dir):
    from lcmap_blackmagic_spark.registry.pipelines import q_mm_phash_pairs
    plan = q_mm_phash_pairs(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------- audio features ------------

def test_audio_features_sine_golden():
    """1 kHz sine at 8 kHz: RMS = A/sqrt(2), ZCR = 2f/sr, centroid
    and rolloff pinned at the tone frequency."""
    import numpy as np
    from lcmap_blackmagic_spark.llm.multimodal import audio_feature_vector
    sr, f, n = 8000, 1000, 8000
    t = np.arange(n) / sr
    x = 0.5 * np.sin(2 * np.pi * f * t)
    feats = audio_feature_vector(x, sr)
    assert abs(feats["rms"] - 0.5 / np.sqrt(2)) < 1e-3
    assert abs(feats["zcr"] - 2 * f / sr) < 0.01
    assert abs(feats["centroid_hz"] - f) < 25
    assert abs(feats["rolloff_hz"] - f) < 25


def test_audio_features_query_runs(spark, sf_dir):
    from lcmap_blackmagic_spark.registry.pipelines import q_mm_audio_features
    out = q_mm_audio_features(spark, sf_dir).collect()
    assert len(out) > 0
    assert all(r.rms >= 0 and 0 <= r.zcr <= 1 for r in out)


# ---------------------------------------- triangles -----------------

def test_triangle_counts_on_known_graphs(spark):
    from lcmap_blackmagic_spark.operators.graph import triangle_counts
    # K4: every vertex sits in C(3,2) = 3 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    # a disjoint path 10-11-12: no triangles at all
    path = [(10, 11), (11, 12)]
    # duplicate + reversed edges must not inflate counts
    edges = spark.createDataFrame(
        k4 + path + [(1, 0), (2, 3), (3, 2)], "src long, dst long")
    got = {(r.node, r.triangles)
           for r in triangle_counts(edges).collect()}
    assert got == {(0, 3), (1, 3), (2, 3), (3, 3)}


# ---------------------------------------- market basket -------------

def test_cooccurrence_lift_identity(spark, sf_dir):
    """For every returned pair: lift = n·c_ab / (c_a·c_b) recomputed
    from the row's own exact counts, and c_ab ≤ min(c_a, c_b)."""
    from lcmap_blackmagic_spark.registry.graph import q_item_cooccurrence
    rows = q_item_cooccurrence(spark, sf_dir).collect()
    assert len(rows) > 0
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = l.select("l_orderkey").distinct().count()
    for r in rows:
        assert r.c_ab <= min(r.c_a, r.c_b)
        assert r.lift == (r.c_ab * n) / (r.c_a * r.c_b)


# ---------------------------------------- chi-square ----------------

def test_chi2_nonnull_and_nonnegative(spark, sf_dir):
    from lcmap_blackmagic_spark.registry.analytics import q_chi2_abtest
    row = q_chi2_abtest(spark, sf_dir).collect()[0]
    assert min(row.a + row.b, row.c + row.d,
               row.a + row.c, row.b + row.d) > 0
    assert row.chi2 is not None and row.chi2 >= 0.0


# ---------------------------------------- profiler ------------------

def test_profile_single_scan(spark, sf_dir):
    """The profiler must be ONE pass over the table: a single scan
    node (multi-distinct goes through Expand, not repeated scans)."""
    from lcmap_blackmagic_spark.registry.sketches import q_profile_table
    plan = q_profile_table(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    out = {r.column_name: r for r in
           q_profile_table(spark, sf_dir).collect()}
    assert out["o_orderkey"].n_distinct == out["o_orderkey"].n_rows


# ---------------------------------------- incremental view maint ----

def test_ivm_handles_group_moving_updates(spark):
    """An update that changes the GROUP column must emit a negative
    contribution at the old group and a positive at the new — the
    case the shared merge_upsert oracle can't isolate (its updates
    keep the status)."""
    from lcmap_blackmagic_spark.operators.merge import (
        incremental_agg_update, merge_into)
    facts = spark.createDataFrame(
        [(1, "x", 10), (2, "x", 20), (3, "y", 30)],
        "k long, g string, v long")
    changes = spark.createDataFrame(
        [(2, "y", None, "U"),     # moves group x -> y, keeps value
         (3, None, 35, "U"),      # stays in y, value changes
         (4, "z", 40, "I"),       # new group appears
         (1, None, None, "D")],   # group x empties out entirely
        "k long, g string, v long, op string")
    base_agg = facts.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    inc = {(r.g, r.n, r.s) for r in incremental_agg_update(
        facts, base_agg, changes, "k", "g", "v").collect()}
    full = {(r.g, r.n, r.s) for r in
            merge_into(facts, changes, "k")
            .groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                              F.sum("v").alias("s")).collect()}
    assert inc == full == {("y", 2, 55), ("z", 1, 40)}


def test_ivm_unmatched_update_is_dropped(spark):
    from lcmap_blackmagic_spark.operators.merge import (
        incremental_agg_update)
    facts = spark.createDataFrame([(1, "x", 10)], "k long, g string, v long")
    changes = spark.createDataFrame([(99, "x", 7, "U")],
                                    "k long, g string, v long, op string")
    base_agg = facts.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    got = {(r.g, r.n, r.s) for r in incremental_agg_update(
        facts, base_agg, changes, "k", "g", "v").collect()}
    assert got == {("x", 1, 10)}
