"""Properties of the third-wave training-data operators that the
oracle hash can't express: quantization reconstruction error, packing
invariants, TF-IDF ranking sanity."""

import os

import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark.registry import QUERIES
from lcmap_blackmagic_spark.registry.text import PACK_CAPACITY


def test_embed_quantize_reconstruction(spark, sf_dir):
    """Dequantized values must sit within half a quantization step of
    the originals, and q must cover the full int8 range direction."""
    q = QUERIES["llm_embed_quant"]["fn"](spark, sf_dir)
    e = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
         .select("vec_id", F.posexplode(F.transform(
             "embedding", lambda x: x.cast("double"))).alias("pos", "x")))
    j = q.join(e, ["vec_id", "pos"])
    bad = j.filter(
        F.abs(F.col("qv") * F.col("scale") - F.col("x"))
        > F.col("scale") * 0.5 + 1e-12).count()
    assert bad == 0
    rng = q.agg(F.min("qv"), F.max("qv")).first()
    assert rng[0] >= -127 and rng[1] <= 127 and rng[1] > 0


def test_seq_pack_invariants(spark, sf_dir):
    """Every doc packed exactly once; no bin exceeds capacity; offsets
    within a bin are contiguous (greedy first-fit is dense)."""
    packed = QUERIES["llm_seq_pack"]["fn"](spark, sf_dir).cache()
    n_docs = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
              .count())
    assert packed.count() == n_docs
    assert packed.select("doc_id").distinct().count() == n_docs

    per_bin = (packed.groupBy("shard", "bin")
               .agg(F.sum("n_tok").alias("used"),
                    F.min("off").alias("off0")).collect())
    assert all(r["used"] <= PACK_CAPACITY for r in per_bin)
    assert all(r["off0"] == 0 for r in per_bin)

    # offsets are the running sum of lengths in placement order:
    # within a (shard, bin), off + n_tok never exceeds capacity and
    # offsets are unique
    dup = (packed.groupBy("shard", "bin", "off").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0
    over = packed.filter(F.col("off") + F.col("n_tok")
                         > PACK_CAPACITY).count()
    assert over == 0
    packed.unpersist()


def test_tfidf_ranks_specific_terms_over_common(spark, sf_dir):
    """A term appearing in every document (high df) must never
    outrank a same-tf rarer term within a doc."""
    top = QUERIES["llm_tfidf_topk"]["fn"](spark, sf_dir)
    sample = top.filter(F.col("doc_id") < 50).collect()
    assert len(sample) > 0
    by_doc = {}
    for r in sample:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["rn"])
        scores = [r["tfidf"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_minhash_staged_pipeline_matches_pure_query(spark, sf_dir, tmp_path):
    """The staged pipeline form must produce the identical pair set to
    the pure-query form, and its returned plan must contain NO md5 /
    shingle-explode work — the heavy pass runs exactly once, inside
    the staging write; both downstream consumers scan the staged
    parquet."""
    from lcmap_blackmagic_spark.llm.dedup import (minhash_pairs,
                                                  minhash_pairs_staged)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    staging = str(tmp_path / "minhash_agg")
    staged = minhash_pairs_staged(docs, staging, threshold=0.2)
    pure = minhash_pairs(docs, threshold=0.2)

    got = sorted((r["id_a"], r["id_b"], r["jaccard"])
                 for r in staged.collect())
    want = sorted((r["id_a"], r["id_b"], r["jaccard"])
                  for r in pure.collect())
    assert got == want and len(got) > 0

    # the pair plan derives everything from the staged scan: no md5,
    # no shingle Generate — the explode pass executed once, in the
    # write job above
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in plan
    # both consumers are parquet scans of the staged aggregate (the
    # location string is truncated in toString, so pin the scan +
    # its staged-only ReadSchema instead of the full path)
    assert "Scan parquet" in plan
    assert "si:array<bigint>" in plan
    # sanity: the pure-query plan DOES carry the md5 pass (twice)
    pure_plan = pure._jdf.queryExecution().executedPlan().toString()
    assert "md5" in pure_plan


def test_dedup_components_pointer_jumping_chain(spark):
    """A 48-node chain is the worst case for plain min-label
    propagation (diameter rounds); pointer jumping must collapse it
    in O(log d) rounds AND still produce the exact component
    assignment (everything labeled node 0)."""
    from lcmap_blackmagic_spark.llm.dedup import dedup_components
    n = 48
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)],
                                  "doc_id long")
    stats = {}
    out = dedup_components(pairs, nodes, max_iters=50, stats=stats)
    rows = {r["doc_id"]: r["component"] for r in out.collect()}
    assert rows == {i: 0 for i in range(n)}
    # plain propagation needs ~d rounds (47); doubling reach per
    # round bounds it by ~2·log2(d) + slack
    assert stats["rounds"] <= 12, stats
