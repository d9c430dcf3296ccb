"""Deduplication and decontamination registry entries: exact hashes,
MinHash / SimHash / n-gram Jaccard, prefix-filter joins, winnowing,
SemDeDup, line-level dedup, and benchmark decontamination.

The notes below moved here with the queries they describe; a few
paragraphs describe queries that now live in sibling modules.

Registry entries for the training-data-pipeline operators (dedup,
similarity, text analysis) with DuckDB oracle SQL.

The SQL mirrors the Spark implementations' shared contract: tokens =
split(lower(trim(text)), ' '); shingles = distinct space-joined word
3-grams; hashes = md5 hex. Repetitive SQL (simhash bit sums) is
generated by the same loops that build the Spark expressions.

Seventeenth extension wave (round 11) — the two features this
round added to the table format and the curation surface, under the
correctness gate:

- ``snapshot_timetravel``: TIMESTAMP AS OF resolution over a
  multi-commit log (storage.version_as_of — round 10's as_of reader
  atop round 11's manifest-log checkpoints: resolution reads the
  checkpoint's rolled-up {version → ts} map plus the tail manifests,
  O(tail) opens).  The oracle recomputes each pinned version's
  CONTENT from the slice arithmetic, so a mis-resolved instant can
  not hash-match.

- ``llm_bloom_decontam``: decontamination against a benchmark split
  through a BROADCAST BLOOM FILTER — the at-scale form of the
  5-gram semi-join (``llm_decontaminate``): the benchmark's grams
  fold into an m-bit bitset (executor-side bit_or word partials, the
  operators/sketches.py bloom construction), the bitset broadcasts
  to every worker (kilobytes, not the gram list), and each corpus
  gram tests k md5 positions in one Arrow-vectorized numpy pass.
  Because the positions are deterministic md5, DuckDB replays the
  EXACT membership decision — including any false positives — so the
  whole filter (a probabilistic structure!) carries a bit-exact
  oracle.

Reference anchor: nothing in lcmap-blackmagic — the snapshot store
and the LLM curation surface are the engine's own first-class
additions (brief §LLM-ops); the bloom filter is the one
operators/sketches.py construction the storage sidecars (file
skipping) also build and probe through, here aimed at membership
filtering.

Eighteenth extension wave (round 12) — table-format RESTORE, the
pass@k evaluation metric, and the split-distinct skew rewrite, each
under the correctness gate:

- ``snapshot_restore``: Delta-style RESTORE TO VERSION AS OF as a
  METADATA-ONLY commit (storage.restore_snapshot — the new manifest
  re-references the old commit dirs; zero data movement).  The
  oracle recomputes every pinned version's content from slice
  arithmetic, so a restore that re-wrote, mis-referenced, or
  truncated history could not hash-match.

- ``eval_pass_at_k``: the standard LLM-eval estimator
  pass@k = 1 − C(n−c, k)/C(n, k) (Chen et al. 2021, the HumanEval
  combinatorial form) in EXACT integer arithmetic: n ≤ 20 so the
  binomials evaluate via ``factorial`` (exact ≤ 20! < 2^63 in both
  engines) and the output is basis points by integer div — no float
  anywhere, bit-exact across engines.

- ``skew_distinct_split``: COUNT(DISTINCT) under key skew via the
  two-stage bucket split — per (key, hash-bucket) distinct partials
  that ADD exactly because the buckets partition the value space.
  The oracle is the plain COUNT(DISTINCT), pinning that the rewrite
  changes the plan (no single giant per-key distinct reducer), not
  the answer.

Reference anchor: nothing in lcmap-blackmagic — the snapshot store
and the eval/scale surfaces are the engine's own first-class
additions (brief §LLM-ops / §scale).

Nineteenth extension wave (round 12, session 2) — shallow clone
for the snapshot table format, MOSS-style winnowing fingerprints,
and DSIR-style importance scoring, each under the correctness gate:

- ``snapshot_clone``: Delta-style SHALLOW CLONE as a metadata-only
  commit (storage.clone_snapshot — the clone's v1 manifest
  re-references the source's commit dirs in place; zero data
  movement).  The query clones mid-history, then diverges BOTH
  sides with further appends; the oracle recomputes every read's
  content from slice arithmetic, so a clone that leaked writes
  across tables, mis-referenced dirs, or broke time travel inside
  the clone could not hash-match.

- ``llm_winnow_pairs``: robust-winnowing document fingerprints
  (Schleimer/Wilkerson/Aiken, the MOSS algorithm): md5 over the
  positional word k-gram sequence, minimum per sliding window of w
  — guaranteeing any shared run of ≥ w+k-1 words leaves a common
  fingerprint — then near-dup pairs via the inverted fingerprint
  index.  The oracle replays the identical selection (md5 hex
  strings order lexicographically the same in both engines).

- ``llm_dsir_score``: data-selection importance scoring in the DSIR
  shape (Xie et al. 2023): hashed unigram features, per-feature
  target/raw likelihood ratio, per-document mean.  Log-free
  rational twin of the log-ratio (same ranking signal, no
  transcendentals in checked outputs — the rarity_scores /
  lm_score precedent): per-feature weight is an integer
  basis-point ratio of smoothed counts, per-doc score an exact
  bigint mean.

Reference anchor: nothing in lcmap-blackmagic — the snapshot store
and LLM-curation surfaces are the engine's own first-class
additions (brief §LLM-ops / §scale).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.dedup import (LINE_MAXOCC, LINE_W, N_BANDS, SIMHASH_BITS,
                         line_dedup_rewrite, minhash_pairs, minhash_signature,
                         ngram_jaccard_pairs, simhash_bits, simhash_pairs)
from ..llm.text import fingerprint
from .base import _staging, _t, register


# ----------------------------------------------------------- text/llm --

def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash (hash-groupBy): canonical doc id per
    distinct text, duplicate count."""
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
             .agg(F.min("doc_id").alias("keep_id"),
                  F.count(F.lit(1)).alias("n_dups")))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS h, MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM documents GROUP BY md5(text)
"""

# Shared SQL fragments (DuckDB dialect) -------------------------------

SQL_TOKS = "string_split(lower(trim(text)), ' ')"
SQL_SHINGLES = f"""
CASE WHEN len({SQL_TOKS}) >= 3 THEN
  list_distinct(list_transform(generate_series(1, len({SQL_TOKS}) - 2),
    i -> array_to_string(list_slice({SQL_TOKS}, i, i + 2), ' ')))
ELSE CAST([] AS VARCHAR[]) END
"""


def q_minhash_signature(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (minhash_signature(d)
            .select("doc_id", F.col("band").cast("bigint").alias("band"),
                    "minh"))


# wide digest per shingle, sliced into 4 band-hashes per md5 — must
# mirror llm.dedup.minhash_signature exactly
_N_DIGESTS = (N_BANDS + 3) // 4
_SQL_WIDE = " || ".join(
    ["md5(s)"] + [f"md5('{r}:' || s)" for r in range(1, _N_DIGESTS)])

SQL_MINHASH_SIGNATURE = f"""
WITH sh AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
hw AS (SELECT doc_id, list_transform(sh, s -> {_SQL_WIDE}) AS hw
       FROM sh WHERE len(sh) > 0),
b AS (SELECT doc_id, hw, UNNEST(generate_series(0, {N_BANDS - 1})) AS band FROM hw)
SELECT doc_id, CAST(band AS BIGINT) AS band,
       list_min(list_transform(hw,
         h -> substr(h, CAST(8 * band + 1 AS INTEGER), 8))) AS minh
FROM b
"""


def q_minhash_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return minhash_pairs(d, threshold=0.2)


# verify runs on 48-bit hashed shingles (first 12 hex of the same
# wide digest) — mirrors llm.dedup.minhash_pairs' single-pass form
def sql_minhash_pairs(threshold: float = 0.2) -> str:
    """The minhash-pairs oracle text, threshold-parametrized (the
    round-12 ``llm_dedup_eval`` composes it at 0.25 — an exactly-
    representable boundary, so the float verify and the integer
    all-pairs ground truth cannot disagree on a boundary pair)."""
    return f"""
WITH sh AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
hw AS (SELECT doc_id, list_transform(sh, s -> {_SQL_WIDE}) AS hw
       FROM sh WHERE len(sh) > 0),
sig AS (
  SELECT doc_id, band,
         list_min(list_transform(hw,
           h -> substr(h, CAST(8 * band + 1 AS INTEGER), 8))) AS minh
  FROM (SELECT doc_id, hw,
               UNNEST(generate_series(0, {N_BANDS - 1})) AS band
        FROM hw)),
ints AS (
  SELECT doc_id,
         list_distinct(list_transform(hw,
           h -> CAST('0x' || substr(h, 1, 12) AS BIGINT))) AS si
  FROM hw),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id)
SELECT c.id_a, c.id_b,
       ROUND(len(list_intersect(x.si, y.si)) * 1.0 /
             (len(x.si) + len(y.si) - len(list_intersect(x.si, y.si))), 6) AS jaccard
FROM cand c
JOIN ints x ON x.doc_id = c.id_a
JOIN ints y ON y.doc_id = c.id_b
WHERE len(list_intersect(x.si, y.si)) * 1.0 /
      (len(x.si) + len(y.si) - len(list_intersect(x.si, y.si))) >= {threshold}
"""


SQL_MINHASH_PAIRS = sql_minhash_pairs(0.2)


def q_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return simhash_bits(d)


def _sql_bit(j: int) -> str:
    return (f"((((strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
            f" >> {3 - j % 4}) & 1) * 2 - 1)")


_SIMHASH_SUMS = ",\n       ".join(
    f"SUM({_sql_bit(j)}) AS s{j}" for j in range(SIMHASH_BITS))
_SIMHASH_CONCAT = " || ".join(
    f"CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END" for j in range(SIMHASH_BITS))

SQL_SIMHASH = f"""
WITH tok AS (SELECT doc_id, UNNEST({SQL_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM tok),
s AS (SELECT doc_id,
       {_SIMHASH_SUMS}
      FROM h GROUP BY doc_id)
SELECT doc_id, {_SIMHASH_CONCAT} AS simhash FROM s
"""


def q_simhash_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=6)


SQL_SIMHASH_PAIRS = f"""
WITH tok AS (SELECT doc_id, UNNEST({SQL_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM tok),
s AS (SELECT doc_id,
       {_SIMHASH_SUMS}
      FROM h GROUP BY doc_id),
sim AS (SELECT doc_id, {_SIMHASH_CONCAT} AS simhash FROM s),
blocks AS (
  SELECT doc_id, simhash, i AS blk, substr(simhash, 8 * i + 1, 8) AS blk_val
  FROM sim, (SELECT UNNEST(generate_series(0, 3)) AS i)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id)
SELECT id_a, id_b,
       len(list_filter(generate_series(1, {SIMHASH_BITS}),
                       i -> substr(sh_a, i, 1) <> substr(sh_b, i, 1))) AS hamming
FROM cand
WHERE len(list_filter(generate_series(1, {SIMHASH_BITS}),
                      i -> substr(sh_a, i, 1) <> substr(sh_b, i, 1))) <= 6
"""


def q_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, block_col="lang", threshold=0.08)


# Jaccard over 48-bit hashed shingles — mirrors the Spark side's
# pre-hashed int sets (ngram_jaccard_pairs)
SQL_NGRAM_JACCARD = f"""
WITH sh AS (SELECT doc_id, lang,
                   list_distinct(list_transform({SQL_SHINGLES},
                     s -> CAST('0x' || substr(md5(s), 1, 12) AS BIGINT)))
                   AS sh
            FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.08
"""


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return fingerprint(d).select("doc_id", "fp_md5", "fp_shingle")


SQL_FINGERPRINT = f"""
SELECT doc_id, md5(text) AS fp_md5,
       list_min(list_transform({SQL_SHINGLES}, s -> md5(s))) AS fp_shingle
FROM documents
"""


def q_llm_minhash_pipeline(spark, sf_dir):
    """Pipeline form of ``llm_minhash_pairs``: the md5-heavy per-doc
    (band-MINs + hashed-shingle-set) aggregate is materialized to a
    staging parquet ONCE, and both the LSH candidate join and the
    exact-Jaccard verify derive from the staged scan — the pure-query
    form executes that pass twice (Catalyst specializes the shared
    aggregate per consumer; llm/dedup.py NOTE). Identical output and
    oracle to ``llm_minhash_pairs``. The staging dir is a fixed temp
    path overwritten per run — in production it would be the
    signature store a dedup job checkpoints to anyway."""
    from ..llm.dedup import minhash_pairs_staged
    d = _t(spark, sf_dir, "documents")
    return minhash_pairs_staged(d, _staging(sf_dir, "minhash_agg"),
                                threshold=0.2)


def _sql_minhash_pipeline() -> str:
    return SQL_MINHASH_PAIRS


# ------------------------------------------ duplicate clustering ----

def q_dedup_groups(spark, sf_dir):
    """Near-duplicate CLUSTERS, not just pairs: connected components
    over the MinHash-verified pair graph via iterative min-label
    propagation (llm/dedup.dedup_components). Every document gets a
    component id = the smallest doc_id in its duplicate cluster (the
    canonical survivor); singletons label themselves. The oracle
    computes the same fixpoint with a recursive CTE.

    Uses the STAGED pair form (llm/dedup.minhash_pairs_staged, the
    llm_curation precedent): the pure form's md5-heavy per-doc
    aggregate executes twice end to end (Catalyst specializes the
    shared subtree per consumer — see minhash_pairs' NOTE), and this
    query materializes the pair table anyway inside
    dedup_components' localCheckpoint.  Identical output/oracle."""
    from ..llm.dedup import dedup_components, minhash_pairs_staged
    d = _t(spark, sf_dir, "documents")
    pairs = minhash_pairs_staged(d, _staging(sf_dir, "dedup_groups_minhash"),
                                 threshold=0.2)
    return (dedup_components(pairs, d.select("doc_id"))
            .select("doc_id",
                    F.col("component").cast("bigint").alias("component")))


def sql_dedup_groups() -> str:
    return f"""
WITH RECURSIVE
pairs AS ({SQL_MINHASH_PAIRS}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS component
FROM walk GROUP BY node
"""


# ------------------------------------------- decontamination --------


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing any
    word 5-gram with the held-out set (source 'src0' plays the
    benchmark) — the standard pre-training hygiene pass.

    Scale shape: the BENCHMARK gram set is the small side (benchmark
    suites are tiny next to a corpus), so it broadcasts and the
    corpus-side grams stream through the semi-join without a shuffle;
    the only exchange is the per-doc count."""
    from ..llm.dedup import shingles
    d = _t(spark, sf_dir, "documents")
    bench = (d.filter(F.col("source") == "src0")
              .select(F.explode(shingles("text", 5)).alias("g"))
              .distinct())
    corpus = (d.filter(F.col("source") != "src0")
               .select("doc_id", F.explode(shingles("text", 5)).alias("g")))
    return (corpus.join(F.broadcast(bench), "g")
                  .groupBy("doc_id")
                  .agg(F.count_distinct("g").alias("n_shared"))
                  .orderBy("doc_id"))


SQL_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, source, string_split(lower(trim(text)), ' ') AS ws
  FROM documents),
grams AS (
  SELECT doc_id, source,
         UNNEST(list_transform(generate_series(1, len(ws) - 4),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                     || ws[i+3] || ' ' || ws[i+4])) AS g
  FROM toks),
bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
corpus AS (SELECT doc_id, g FROM grams WHERE source <> 'src0')
SELECT doc_id, CAST(COUNT(DISTINCT corpus.g) AS BIGINT) AS n_shared
FROM corpus JOIN bench ON corpus.g = bench.g
GROUP BY doc_id
ORDER BY doc_id
"""


def q_record_linkage(spark, sf_dir):
    """Blocked fuzzy record linkage (entity resolution): match dirtied
    records back to the clean table by edit distance WITHIN a blocking
    key — never the n² cross product. The dirty side is derived
    in-query (one deterministic character typo per name at a
    key-dependent position outside the block suffix, mirrored in the
    oracle). Plan: equi-join on the block key, codegen ``levenshtein``
    filter ≤ 2, best match per dirty record by (distance, key) window.
    At 100 TB the block key is the unit of shuffle — block sizing
    bounds the quadratic inside each block exactly like
    ``ngram_jaccard_pairs``' grid."""
    c = _t(spark, sf_dir, "customer")
    # typo at 1-based position 10..14 (digits 1-5); block = last 4 chars
    dirty = c.selectExpr(
        "c_custkey AS dirty_id",
        "concat(substring(c_name, 1, cast(c_custkey % 5 + 10 as int) - 1), "
        "'x', substring(c_name, cast(c_custkey % 5 + 10 as int) + 1)) "
        "AS dname").withColumn("blk", F.substring("dname", 15, 4))
    clean = c.select("c_custkey", "c_name",
                     F.substring("c_name", 15, 4).alias("blk"))
    dist = F.levenshtein(F.col("c_name"), F.col("dname"))
    w = Window.partitionBy("dirty_id").orderBy("dist", "c_custkey")
    return (dirty.join(clean, "blk")
            .withColumn("dist", dist)
            .filter(F.col("dist") <= 2)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("dirty_id", F.col("c_custkey").alias("matched_key"),
                    "dist"))


SQL_RECORD_LINKAGE = """
WITH dirty AS (
  SELECT c_custkey AS dirty_id,
         substr(c_name, 1, CAST(c_custkey % 5 + 10 AS INT) - 1) || 'x' ||
         substr(c_name, CAST(c_custkey % 5 + 10 AS INT) + 1) AS dname
  FROM customer),
db AS (SELECT dirty_id, dname, substr(dname, 15, 4) AS blk FROM dirty),
cb AS (SELECT c_custkey, c_name, substr(c_name, 15, 4) AS blk FROM customer),
scored AS (
  SELECT db.dirty_id, cb.c_custkey,
         levenshtein(cb.c_name, db.dname) AS dist
  FROM db JOIN cb USING (blk)
  WHERE levenshtein(cb.c_name, db.dname) <= 2)
SELECT dirty_id, c_custkey AS matched_key, dist
FROM (SELECT dirty_id, c_custkey, dist,
             ROW_NUMBER() OVER (PARTITION BY dirty_id
                                ORDER BY dist, c_custkey) AS rn
      FROM scored)
WHERE rn = 1
"""


# ---------------------------------------- exact-substring dedup -----

SUBSTR_K = 40
SUBSTR_STRIDE = 8


def q_llm_substr_dedup(spark, sf_dir):
    """Character-gram duplication profile over documents: the
    fraction of each doc covered by 40-char grams that appear
    verbatim in another doc (llm/dedup.substring_dup_stats)."""
    from ..llm.dedup import substring_dup_stats
    d = _t(spark, sf_dir, "documents")
    return substring_dup_stats(d, k=SUBSTR_K, stride=SUBSTR_STRIDE)


SQL_SUBSTR_DEDUP = f"""
WITH g AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(substr(text, CAST(p AS INT) + 1,
                                        {SUBSTR_K})), 1, 12)
              AS BIGINT) AS h
  FROM (SELECT doc_id, text,
               unnest(range(0, length(text) - {SUBSTR_K} + 1,
                            {SUBSTR_STRIDE})) AS p
        FROM documents WHERE length(text) >= {SUBSTR_K})),
c AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY h)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       ROUND(CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             / COUNT(*), 6) AS dup_ratio
FROM g JOIN c USING (h)
GROUP BY g.doc_id
"""

# ------------------------------------------- prefix-filter join -----
# word bigrams, hashed to 48-bit ints — the shared shingle contract
SQL_BIGRAMS = f"""
CASE WHEN len({SQL_TOKS}) >= 2 THEN
  list_distinct(list_transform(generate_series(1, len({SQL_TOKS}) - 1),
    i -> CAST('0x' || substr(md5(array_to_string(
           list_slice({SQL_TOKS}, i, i + 1), ' ')), 1, 12) AS BIGINT)))
ELSE CAST([] AS BIGINT[]) END
"""


def q_jaccard_prefix(spark, sf_dir):
    """All document pairs with word-bigram Jaccard ≥ 1/2, computed by
    the prefix-filter join (rarest-gram prefixes → equi-join → exact
    verify). The oracle is the BRUTE-FORCE all-pairs SQL: prefix
    filtering is exact, so any divergence is a bug in the filter
    derivation, not estimator noise. Plan guard in
    tests/test_ext5.py asserts no cartesian product appears.

    Uses the STAGED form (llm/dedup.py:prefix_jaccard_pairs_staged):
    the ranked-gram aggregate has three consumers, and materializing
    it once is 2.5× faster end to end (the minhash-pipeline
    lesson)."""
    from ..llm.dedup import prefix_jaccard_pairs_staged
    d = _t(spark, sf_dir, "documents")
    return prefix_jaccard_pairs_staged(d, _staging(sf_dir, "prefix_ranked"),
                                       n=2, t_num=1, t_den=2)


SQL_JACCARD_PREFIX = f"""
WITH tk AS (SELECT doc_id, {SQL_BIGRAMS} AS sh FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
             6) AS jaccard
FROM tk a JOIN tk b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) * 2 >=
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1
"""


# ------------------------------------- cluster representatives ------

def q_dedup_reps(spark, sf_dir):
    """One representative per near-duplicate cluster: the largest
    document (ties to the smallest id) survives, everything else in
    the component is dropped — the final step of the dedup pipeline
    (pairs → components → survivors).  Emits one row per CLUSTER
    (component, representative, size) so the cleaned-corpus cut is
    ``semi-join docs on rep_doc_id``."""
    from ..llm.dedup import dedup_components, minhash_pairs
    d = _t(spark, sf_dir, "documents")
    pairs = minhash_pairs(d, threshold=0.2)
    comp = dedup_components(pairs, d.select("doc_id"))
    sized = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    w = (Window.partitionBy("component")
         .orderBy(F.desc("n_chars"), "doc_id"))
    return (sized.select(
        F.col("component").cast("bigint").alias("component"),
        "doc_id", "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("component"))
        .alias("cluster_size"))
        .filter(F.col("rn") == 1)
        .select("component", F.col("doc_id").alias("rep_doc_id"),
                F.col("n_chars").alias("rep_chars"), "cluster_size"))


def _sql_dedup_reps() -> str:
    return f"""
WITH sized AS (
  SELECT g.component, g.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY g.component
                            ORDER BY d.n_chars DESC, g.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY g.component) AS cluster_size
  FROM ({sql_dedup_groups()}) g JOIN documents d USING (doc_id))
SELECT component, doc_id AS rep_doc_id, n_chars AS rep_chars,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM sized WHERE rn = 1
"""


# ------------------------------------- semantic decontamination -----

SEM_THRESH = 0.35  # cosine flag level for the weakly-clustered fixture
SEM_BENCH_MOD = 50  # ~2% of vectors play the benchmark (they're small)


def q_semantic_decon(spark, sf_dir):
    """Embedding-space decontamination: flag corpus vectors whose
    cosine against ANY benchmark vector (vec_id % SEM_BENCH_MOD == 0,
    ~2% of the corpus, plays the held-out set) clears the threshold — the semantic companion to
    the exact 5-gram decontaminate (registry_ext3).  The benchmark
    side is tiny and broadcast (benchmarks always are); norms are
    computed once per row before the join; cosines are rounded
    BEFORE the max on both engines so the flag can never flip on the
    float tail."""
    from ..llm.similarity import _as_double, _dot
    e = _t(spark, sf_dir, "embeddings")
    bench = (e.filter(F.col("vec_id") % SEM_BENCH_MOD == 0)
             .select(_as_double(F.col("embedding")).alias("bvec")))
    bench = bench.withColumn(
        "bnorm", F.sqrt(_dot(F.col("bvec"), F.col("bvec"))))
    corpus = (e.filter(F.col("vec_id") % SEM_BENCH_MOD != 0)
              .select("vec_id", _as_double(F.col("embedding"))
                      .alias("qvec")))
    corpus = corpus.withColumn(
        "qnorm", F.sqrt(_dot(F.col("qvec"), F.col("qvec"))))
    cos = F.round(_dot(F.col("qvec"), F.col("bvec"))
                  / (F.col("qnorm") * F.col("bnorm")), 6)
    return (corpus.crossJoin(F.broadcast(bench))
            .select("vec_id", cos.alias("cos"))
            .groupBy("vec_id")
            .agg(F.max("cos").alias("max_sim"))
            .select("vec_id", "max_sim",
                    (F.col("max_sim") >= SEM_THRESH).cast("int")
                    .alias("contaminated")))


_SQL_DOT9 = ("list_sum(list_transform(generate_series(1, 64), "
             "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")

SQL_SEMANTIC_DECON = f"""
WITH bench AS (
  SELECT embedding AS bv FROM embeddings WHERE vec_id % {SEM_BENCH_MOD} = 0),
corpus AS (
  SELECT vec_id, embedding AS qv FROM embeddings WHERE vec_id % {SEM_BENCH_MOD} <> 0),
pairs AS (
  SELECT vec_id,
         ROUND({_SQL_DOT9.format(a='qv', b='bv')} /
               (sqrt({_SQL_DOT9.format(a='qv', b='qv')}) *
                sqrt({_SQL_DOT9.format(a='bv', b='bv')})), 6) AS cos
  FROM corpus, bench)
SELECT vec_id, MAX(cos) AS max_sim,
       CASE WHEN MAX(cos) >= {SEM_THRESH} THEN 1 ELSE 0 END
         AS contaminated
FROM pairs GROUP BY vec_id
"""


# ------------------------------------- incremental-ingest dedup -----

def q_incremental_dedup(spark, sf_dir):
    """Cross-corpus dedup — the INCREMENTAL-INGEST form: which
    incoming documents ('src1' plays the new batch) near-duplicate
    any document already in the corpus?  Built on the same MinHash
    band machinery as the self-join pairs (llm/dedup.minhash_pairs);
    the production form stages the EXISTING corpus signatures once
    (the signature store minhash_pairs_staged writes) and only the
    incoming batch is hashed per ingest.  Output: one row per
    flagged incoming doc with its duplicate-partner count and the
    canonical existing partner."""
    from ..llm.dedup import minhash_pairs
    d = _t(spark, sf_dir, "documents")
    pairs = minhash_pairs(d, threshold=0.2)
    src = d.select("doc_id", (F.col("source") == "src1").alias("inc"))
    j = (pairs
         .join(src.withColumnsRenamed({"doc_id": "id_a", "inc": "inc_a"}),
               "id_a")
         .join(src.withColumnsRenamed({"doc_id": "id_b", "inc": "inc_b"}),
               "id_b"))
    cross = j.filter(F.col("inc_a") != F.col("inc_b")).select(
        F.when(F.col("inc_a"), F.col("id_a")).otherwise(F.col("id_b"))
        .alias("incoming_id"),
        F.when(F.col("inc_a"), F.col("id_b")).otherwise(F.col("id_a"))
        .alias("existing_id"))
    return (cross.groupBy("incoming_id")
            .agg(F.count(F.lit(1)).alias("n_partners"),
                 F.min("existing_id").alias("canonical_partner"))
            .orderBy("incoming_id"))


def _sql_incremental_dedup() -> str:
    return f"""
WITH pairs AS ({SQL_MINHASH_PAIRS}),
src AS (SELECT doc_id, source = 'src1' AS inc FROM documents),
cross_pairs AS (
  SELECT CASE WHEN a.inc THEN p.id_a ELSE p.id_b END AS incoming_id,
         CASE WHEN a.inc THEN p.id_b ELSE p.id_a END AS existing_id
  FROM pairs p
  JOIN src a ON a.doc_id = p.id_a
  JOIN src b ON b.doc_id = p.id_b
  WHERE a.inc <> b.inc)
SELECT incoming_id, COUNT(*) AS n_partners,
       MIN(existing_id) AS canonical_partner
FROM cross_pairs GROUP BY incoming_id ORDER BY incoming_id
"""


# ---------------------------------- exact-dup share by source ------

def q_dup_ratio_by_source(spark, sf_dir):
    """Exact-duplicate share per corpus source: 1 − distinct/total
    over the md5 text digest — the per-slice health metric behind
    the global ``dedup_exact`` operator.  COUNT(DISTINCT md5) is a
    16-byte-key distinct aggregate, map-side partial, no full-text
    shuffle."""
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct(F.md5("text")).alias("n_distinct"))
            .select("source", "n_docs", "n_distinct",
                    F.round((F.col("n_docs") - F.col("n_distinct"))
                            .cast("double") / F.col("n_docs"), 6)
                    .alias("dup_ratio"))
            .orderBy("source"))


SQL_DUP_RATIO_BY_SOURCE = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       ROUND(CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE)
             / COUNT(*), 6) AS dup_ratio
FROM documents GROUP BY source ORDER BY source
"""

# ------------------------------------------------ bloom decontam ----

from ..llm.bloomfilter import BLOOM_M, DECON_N  # noqa: E402
from ..operators.sketches import (BLOOM_K, bloom_bitsets,  # noqa: E402
                                  bloom_words)


def q_llm_bloom_decontam(spark, sf_dir):
    """Corpus docs (source != src0) are DROPPED when any of their
    word 5-grams bloom-hits the src0 benchmark set.  Output: the
    per-source funnel (docs in, docs dropped, docs kept).

    Scale shape (llm/bloomfilter.py, shared with the streaming twin
    bloom_decontam_stream): the benchmark grams never leave the
    executors as a list — they fold into BLOOM_M bits via bit_or
    word partials (the driver collects m/64 words once), and the
    probe side tests each distinct (doc, gram)'s k positions against
    the BROADCAST bitset in one vectorized numpy pass per Arrow
    batch.  At 100 TB the bitset for a 10^9-gram benchmark is
    ~1.2 GB broadcast once, vs shuffling the corpus's grams against
    a multi-TB gram table — the standard production decontam trade
    (deterministic FPR instead of an exact join; the FPR is part of
    the checked semantics)."""
    from ..llm.bloomfilter import doc_hit_flags
    from ..llm.dedup import shingles

    d = _t(spark, sf_dir, "documents")
    bench = (d.filter(F.col("source") == "src0")
             .select(F.explode(shingles("text", DECON_N)).alias("g"))
             .distinct())
    bits = bloom_bitsets(bloom_words(bench, F.col("g"), BLOOM_M),
                         BLOOM_M)[None]
    corpus = d.filter(F.col("source") != "src0")
    # per-doc flag straight from the gram probe's aggregate, then an
    # UNFORCED left join back (AQE picks the strategy) — never a
    # forced broadcast of a data-dependent, potentially O(corpus)
    # id set (round-11 verdict What's-wrong #1)
    flagged = corpus.join(doc_hit_flags(corpus, bits), "doc_id", "left")
    hit = F.coalesce(F.col("__hit"), F.lit(False))
    return (flagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(hit, 1)
                       .otherwise(0)).cast("bigint").alias("n_dropped"),
                 F.sum(F.when(hit, 0)
                       .otherwise(1)).cast("bigint").alias("n_kept"))
            .orderBy("source"))


def _sql_bloom_decontam() -> str:
    """DuckDB replay of the EXACT bloom decision: a corpus gram hits
    iff every one of its k positions is set by SOME benchmark gram's
    positions — k-out-of-k membership in the benchmark's position
    set, false positives included."""
    gram5 = ("UNNEST(list_transform(generate_series(1, len(ws) - 4), "
             "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' "
             "|| ws[i+3] || ' ' || ws[i+4]))")
    pos = " UNION ALL ".join(
        f"SELECT g, CAST('0x' || substr(md5('{i}:' || g), 1, 12) "
        f"AS BIGINT) % {BLOOM_M} AS pos FROM {{src}}"
        for i in range(BLOOM_K))
    return f"""
WITH bgrams AS (
  SELECT DISTINCT {gram5} AS g
  FROM (SELECT string_split(lower(trim(text)), ' ') AS ws
        FROM documents WHERE source = 'src0')),
bpos AS (SELECT DISTINCT pos FROM ({pos.format(src='bgrams')})),
cgrams AS (
  SELECT DISTINCT doc_id, {gram5} AS g
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
        FROM documents WHERE source <> 'src0')),
cg AS (SELECT DISTINCT g FROM cgrams),
cpos AS ({pos.format(src='cg')}),
hits AS (
  SELECT c.g
  FROM cpos c LEFT JOIN bpos b ON b.pos = c.pos
  GROUP BY c.g
  HAVING COUNT(*) = {BLOOM_K} AND COUNT(b.pos) = {BLOOM_K}),
dropped AS (
  SELECT DISTINCT cgrams.doc_id
  FROM cgrams JOIN hits ON hits.g = cgrams.g)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
WHERE d.source <> 'src0'
GROUP BY d.source
ORDER BY d.source
"""


# ------------------------------------------ dedup self-eval ---------

DEDUP_EVAL_T = 0.25        # exactly-representable threshold: the
#                            float verify (i/u >= 0.25) and the
#                            integer ground truth (4i >= u) cannot
#                            disagree on a boundary pair


def q_llm_dedup_eval(spark, sf_dir):
    """RECALL OF THE BANDED MINHASH DEDUP, measured against exact
    ground truth — the self-evaluation a production dedup pipeline
    ships with: ground truth is the EXACT trigram-Jaccard pair set at
    threshold 1/4 computed by the prefix-filter join (PPJoin — exact,
    no cross product), the system under test is the 8-band MinHash
    candidate+verify pipeline at the same threshold OVER THE SAME
    48-bit hashed gram space (both sides hash md5(gram)[:12] of the
    identical tokens()-derived trigrams, so the Jaccard values are
    definitionally comparable).  Verified MinHash pairs are a SUBSET
    of ground truth by construction (the verify step recomputes the
    same exact Jaccard); what banding can lose is recall — pairs
    above threshold sharing none of the 8 band minhashes.  Output:
    one row (n_exact, n_found, n_false_band, recall_bp).

    Scale shape: both sides are the already-audited scale-safe joins
    (prefix-filter equi-join; banded self-join + verify); the eval
    adds one left-anti join on pair ids and a one-row aggregate."""
    from ..llm.dedup import minhash_pairs, prefix_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    exact = (prefix_jaccard_pairs(d, n=3, t_num=1, t_den=4)
             .select("id_a", "id_b", F.lit(1).alias("e")))
    # broadcast_docs=False: the verify side's per-doc shingle-set
    # table is data-dependent and O(corpus) — at the 100 TB scale
    # this eval's docstring argues for, the forced broadcast default
    # is exactly what the round-12 broadcast audit bans (it hides
    # behind the parameter, so the AST sweep can't see it)
    found = (minhash_pairs(d, threshold=DEDUP_EVAL_T,
                           broadcast_docs=False)
             .select("id_a", "id_b", F.lit(1).alias("f")))
    # one declarative plan: full outer join on pair ids, indicator
    # aggregate — no driver-side counts; every sum coalesces so a
    # pair-free corpus yields (0,0,0,0) like the oracle, not NULLs
    both = exact.join(found, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.coalesce(F.sum("e"), F.lit(0)).cast("bigint")
        .alias("n_exact"),
        F.coalesce(F.sum("f"), F.lit(0)).cast("bigint")
        .alias("n_found"),
        F.coalesce(F.sum(F.when(F.col("f").isNotNull()
                                & F.col("e").isNull(), 1)
                         .otherwise(0)), F.lit(0)).cast("bigint")
        .alias("n_false_band"),
        F.expr("coalesce((10000 * sum(if(e is not null and f is not"
               " null, 1, 0))) div sum(e), 0)").alias("recall_bp"))


def _sql_dedup_eval() -> str:
    return f"""
WITH found AS ({sql_minhash_pairs(DEDUP_EVAL_T)}),
shx AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
ints AS (
  SELECT doc_id,
         list_distinct(list_transform(sh,
           s -> CAST('0x' || substr(md5(s), 1, 12) AS BIGINT))) AS si
  FROM shx WHERE len(sh) > 0),
exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ints a JOIN ints b ON a.doc_id < b.doc_id
  WHERE 4 * len(list_intersect(a.si, b.si)) >=
        (len(a.si) + len(b.si) - len(list_intersect(a.si, b.si)))),
common AS (SELECT * FROM found WHERE (id_a, id_b) IN
           (SELECT (id_a, id_b) FROM exact))
SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS n_found,
       CAST((SELECT COUNT(*) FROM found) -
            (SELECT COUNT(*) FROM common) AS BIGINT) AS n_false_band,
       CAST(CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN 0 ELSE
         (10000 * (SELECT COUNT(*) FROM common)) //
         (SELECT COUNT(*) FROM exact) END AS BIGINT) AS recall_bp
"""

# ------------------------------------------------- novelty ----------

NOVELTY_N = 3


def q_llm_novelty(spark, sf_dir):
    """Per-document n-gram NOVELTY — the training-data curation
    signal for ordering/filtering a corpus by marginal information:
    the fraction of a doc's distinct word trigrams whose FIRST
    corpus occurrence (by doc_id order — the canonical ingest order)
    is this document.  Early docs score high, near-duplicates of
    earlier material score near zero; unlike pairwise dedup this is
    a per-doc score computable in two aggregates.

    Shape: explode→distinct (doc, gram), per-gram min(doc_id) (one
    map-side-combinable aggregate), one UNFORCED join back on gram
    (the first-occurrence table is gram-vocabulary-sized — AQE
    broadcasts it only while it fits), one per-doc aggregate.  Docs
    shorter than the gram order produce no grams and are absent —
    the scoreless-doc policy the oracle shares."""
    from ..llm.dedup import shingles

    d = _t(spark, sf_dir, "documents")
    grams = (d.select("doc_id",
                      F.explode(shingles("text", NOVELTY_N)).alias("g"))
             .distinct())
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (grams.join(first, "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                       .otherwise(0)).cast("bigint").alias("n_novel"))
            .select("doc_id", "n_grams", "n_novel",
                    F.expr("(10000 * n_novel) div n_grams")
                    .alias("novelty_bp"))
            .orderBy("doc_id"))


SQL_LLM_NOVELTY = f"""
WITH grams AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(ws) - {NOVELTY_N - 1}),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
        FROM documents)),
first AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
SELECT grams.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN first.first_doc = grams.doc_id
                THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((10000 * SUM(CASE WHEN first.first_doc = grams.doc_id
                         THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
         AS novelty_bp
FROM grams JOIN first USING (g)
GROUP BY grams.doc_id ORDER BY grams.doc_id
"""

# ------------------------------------------- winnowing (MOSS) -------
# helpers + constants live in llm/dedup.py (shared with the
# streaming ingest twin, streaming/jobs.winnow_dedup_stream)

from ..llm.dedup import (WIN_K, WIN_MAXDF, WIN_T,  # noqa: E402
                         WIN_W, winnow_cross_flags,  # noqa: F401
                         winnow_fingerprints)


def q_llm_winnow_pairs(spark, sf_dir):
    """Near-duplicate pairs via ROBUST WINNOWING fingerprints — the
    MOSS selection rule (Schleimer, Wilkerson & Aiken, SIGMOD'03):
    hash every POSITIONAL word k-gram (md5 — both engines emit the
    same lowercase hex, and hex strings order lexicographically the
    same, so "minimum hash in window" is engine-portable without a
    single numeric cast), slide a w-window over the hash sequence,
    keep each window's minimum, dedupe per doc.  Guarantee: any
    shared word run of length ≥ w+k-1 contributes a common
    fingerprint, while storage is ~2/(w+1) of the gram count.
    Pairs come from the inverted index: explode (doc_id, fp),
    self-join on fp, count shared fingerprints ≥ WIN_T.

    Scale shape: fingerprinting is embarrassingly parallel (one
    projection, no shuffle); the pair join shuffles on fp with
    per-key fan-out bounded by the WIN_MAXDF document-frequency cap
    — boilerplate fingerprints shared by hundreds of docs (license
    headers, navigation chrome) are dropped BEFORE the join, the
    same df-cap every production near-dup index applies, so no hot
    fp key can quadratically blow a reducer.  Docs shorter than
    k+w-1 words degrade to one whole-doc window (the min of all
    their gram hashes) — MOSS's natural boundary case.  Short docs
    (< k words) have no grams and no fingerprints."""
    from ..llm.dedup import winnow_pairs
    return winnow_pairs(_t(spark, sf_dir, "documents"))


SQL_LLM_WINNOW_PAIRS = f"""
WITH base AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) - {WIN_K - 1} >= 1 THEN
           list_transform(generate_series(1, len(ws) - {WIN_K - 1}),
             i -> md5(array_to_string(
                    list_slice(ws, i, i + {WIN_K - 1}), ' ')))
         ELSE CAST([] AS VARCHAR[]) END AS h
  FROM base),
fp AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           UNNEST(list_transform(
             generate_series(1, GREATEST(len(h) - {WIN_W - 1}, 1)),
             p -> list_min(list_slice(h, p, p + {WIN_W - 1})))) AS fp
    FROM g WHERE len(h) >= 1)),
keep AS (SELECT fp FROM fp GROUP BY fp
         HAVING COUNT(*) <= {WIN_MAXDF}),
pf AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM pf a JOIN pf b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WIN_T}
"""

# ------------------------------------------------- SemDeDup ---------

# constants + shared building blocks live in llm/semdedup.py (shared
# with the streaming ingest twin, streaming/jobs.semdedup_stream)
from ..llm.semdedup import (SEM_CELLS, SEM_DIM,  # noqa: E402,F401
                            SEM_ITERS, SEM_QS, SEM_TAU2_BP, quantize,
                            sem_cond)


def q_llm_semdedup(spark, sf_dir):
    """SemDeDup survival funnel — cluster, dedup within cluster, keep
    one representative — with every stage integer-exact so the WHOLE
    pipeline carries a composed DuckDB oracle:

      1. quantize embeddings by floor(x·2^10) (exact on doubles) and
         fit SEM_CELLS integer-Lloyd cells (ml/intlloyd: seeds are
         the vec_ids below SEM_CELLS — dense testdata ids — argmin
         exact squared-L2 with tie → smaller cell, ``sum div count``
         centroid updates, SEM_ITERS unrolled iterations),
      2. enumerate WITHIN-CELL pairs (a < b by vec_id) with cosine ≥
         τ, decided integer-exactly: dot ≥ 0 AND dot²·10⁴ ≥
         τ²bp·|a|²·|b|² — the products exceed int64 (dot² ≤ 2^52,
         ×10⁴ ≈ 4.5e19) so BOTH engines compare in wide integers
         (Spark DECIMAL(38,0), DuckDB HUGEINT); zero-norm vectors
         are excluded up front (NaN cosine orders differently
         across engines),
      3. keep-earliest representatives: drop b iff ANY same-cell
         a < b has cosine ≥ τ (the deterministic ε-ball rule —
         an anti-join on the pair table, no iterative components),
      4. emit the survival funnel: vectors → occupied cells →
         dup pairs → survivors.

    Scale shape — the SemDeDup argument: pair work is bounded
    WITHIN cells, Σ_c n_c·(n_c−1)/2, never a global all-pairs; at
    corpus scale SEM_CELLS grows ∝ N (the paper runs 110k clusters
    for 5B docs) so per-cell population — and therefore per-cell
    pair fan-out — stays a constant target, and the pair join is an
    equi-join on cell that AQE splits on skewed (hot-cell) keys.
    The Lloyd fit itself never shuffles the corpus: per iteration
    one (cell, dim) rollup of SEM_CELLS·SEM_DIM rows; the centroid
    table is a model constant (collect-audit-allowlisted).  The
    within-cell self-join re-reads the CHECKPOINTED quantized table
    (one lazy materialization inside the single final action — the
    r15 collect-free form; the r14 parquet staging paid a blocking
    write+read job for the same reuse), so the funnel is one
    hash-checked query, not four."""
    from ..llm.semdedup import assign_cells, dot_over
    from ..ml.intlloyd import integer_lloyd

    e = _t(spark, sf_dir, "embeddings")
    # lazy checkpoint instead of the r14 parquet staging — the
    # quantized table materializes under the Lloyd seed collect and
    # every later consumer reads its blocks (no write+read jobs)
    arrq = quantize(e).localCheckpoint(eager=False)

    cents = integer_lloyd(arrq, SEM_CELLS, SEM_ITERS, SEM_DIM)
    # 3 consumers (both pair sides + funnel) — lazy: materialized by
    # the caller's one action, reused from blocks thereafter
    vecs = assign_cells(arrq, cents).localCheckpoint(eager=False)

    a = vecs.select(F.col("vec_id").alias("ai"), F.col("qa").alias("aq"),
                    "cell", F.col("n2").alias("a2"))
    b = vecs.select(F.col("vec_id").alias("bi"), F.col("qa").alias("bq"),
                    "cell", F.col("n2").alias("b2"))
    cand = (a.join(b, "cell").filter(F.col("ai") < F.col("bi"))
            .select("ai", "bi", "a2", "b2",
                    dot_over("aq", "bq").alias("dot")))
    pairs = (cand.filter(sem_cond(F.col("dot"), F.col("a2"),
                                  F.col("b2"), SEM_TAU2_BP))
             # 2 consumers: funnel + drop set — lazy (same rationale)
             .localCheckpoint(eager=False))
    dropped = pairs.select(F.col("bi").alias("vec_id")).distinct()
    survivors = vecs.join(dropped, "vec_id", "left_anti")

    def stage(i, name, df):
        return df.agg(F.lit(i).alias("stage_id"),
                      F.lit(name).alias("stage"),
                      F.count(F.lit(1)).alias("n"))

    cells = vecs.select("cell").distinct()
    return (stage(1, "vectors", vecs)
            .unionByName(stage(2, "cells", cells))
            .unionByName(stage(3, "dup_pairs", pairs))
            .unionByName(stage(4, "survivors", survivors))
            .orderBy("stage_id"))


def _sql_sem_parts(prefix: str = "", src: str = "embeddings",
                   seed_smallest: bool = False) -> list[str]:
    """The composable DuckDB SemDeDup block: quantize + Lloyd (from
    ml/intlloyd) + final assignment (``<p>af``) + within-cell pairs
    above τ (``<p>pr``) + keep-earliest drop set (``<p>dr``).  With
    the default prefix this is exactly the standalone llm_semdedup
    oracle's prefix; llm_curation_sem composes it (prefix 's') over
    the lexical-dedup survivors."""
    from ..ml.intlloyd import sql_l2, sql_lloyd_ctes
    p = prefix
    gs = f"generate_series(1, {SEM_DIM})"
    parts, prev = sql_lloyd_ctes(SEM_CELLS, SEM_ITERS, SEM_DIM,
                                 SEM_QS, src=src, prefix=p,
                                 seed_smallest=seed_smallest)
    parts.append(
        f"{p}af AS MATERIALIZED (SELECT vec_id, qa, cid, n2 FROM ("
        f"SELECT v.vec_id, v.qa, c.cid, "
        f"list_sum(list_transform(v.qa, x -> x * x)) AS n2, "
        f"ROW_NUMBER() OVER (PARTITION BY v.vec_id "
        f"ORDER BY {sql_l2(gs, 'v', 'c')}, c.cid) AS rn "
        f"FROM {p}q v, {prev} c) WHERE rn = 1 AND n2 > 0)")
    dot = f"list_sum(list_transform({gs}, i -> a.qa[i] * b.qa[i]))"
    parts.append(
        f"{p}pr AS MATERIALIZED (SELECT ai, bi FROM ("
        f"SELECT a.vec_id AS ai, b.vec_id AS bi, {dot} AS dot, "
        f"a.n2 AS a2, b.n2 AS b2 "
        f"FROM {p}af a JOIN {p}af b ON a.cid = b.cid "
        f"AND a.vec_id < b.vec_id)"
        f" WHERE dot >= 0 AND CAST(dot * dot AS HUGEINT) * 10000 >= "
        f"CAST(a2 * b2 AS HUGEINT) * {SEM_TAU2_BP})")
    parts.append(f"{p}dr AS (SELECT DISTINCT bi AS vec_id FROM {p}pr)")
    return parts


def _sql_semdedup() -> str:
    parts = _sql_sem_parts()
    return ("WITH " + ",\n".join(parts) + "\n"
            "SELECT 1 AS stage_id, 'vectors' AS stage, "
            "COUNT(*) AS n FROM af\n"
            "UNION ALL SELECT 2, 'cells', COUNT(DISTINCT cid) FROM af\n"
            "UNION ALL SELECT 3, 'dup_pairs', COUNT(*) FROM pr\n"
            "UNION ALL SELECT 4, 'survivors', COUNT(*) FROM af "
            "WHERE vec_id NOT IN (SELECT vec_id FROM dr)\n"
            "ORDER BY stage_id")


SQL_LLM_SEMDEDUP = _sql_semdedup()


def q_llm_line_dedup(spark, sf_dir):
    """C4-style line-level dedup with corpus reassembly.

    Plan shape at scale: segmentation is one Generate (explode of a
    per-doc integer sequence) — no shuffle; the occurrence table is
    a groupBy on the segment (map-side combined, so within-partition
    repeats collapse before the exchange; at 100 TB the group key
    swaps for the 16-byte md5 of the segment — same exchange, fixed-
    width rows); the join back REUSES that hash partitioning, with
    ultra-common segments being heavy-hitter keys the partial agg
    absorbs on the count side and AQE skew-join splits on the probe
    side (the substring_dup_stats argument, llm/dedup.py:463).
    Reassembly groups by doc_id — bounded by document length, the
    same per-doc bound every packer/chunker in the registry carries.
    Documents whose every segment is boilerplate survive with
    n_kept = 0 and an empty cleaned string (the left join), so the
    output is a total function of the corpus — downstream filters
    decide whether empty docs drop.  Implementation shared with the
    STREAMING line store (llm/dedup.py:line_segments /
    line_rewrite_segments; streaming/jobs.py:line_dedup_stream)."""
    return line_dedup_rewrite(_t(spark, sf_dir, "documents"))


SQL_LINE_DEDUP = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents
), b AS (
  SELECT doc_id, toks,
         CAST((len(toks) + {LINE_W - 1}) // {LINE_W} AS BIGINT)
           AS n_segs
  FROM t
), s AS (
  SELECT doc_id, n_segs, i,
         array_to_string(
           toks[(i * {LINE_W} + 1):(i * {LINE_W} + {LINE_W})],
           ' ') AS seg
  FROM b, LATERAL (SELECT unnest(range(n_segs)) AS i) u
), c AS (
  SELECT seg, COUNT(*) AS occ FROM s GROUP BY seg
), k AS (
  SELECT s.doc_id, s.i, s.seg
  FROM s JOIN c USING (seg) WHERE c.occ < {LINE_MAXOCC}
), r AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(seg, ' ' ORDER BY i) AS cleaned
  FROM k GROUP BY doc_id
)
SELECT b.doc_id, b.n_segs,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.cleaned, '') AS cleaned
FROM b LEFT JOIN r USING (doc_id)
"""


register({
    "dedup_exact":       {"fn": q_dedup_exact,       "sql": SQL_DEDUP_EXACT},
    "llm_minhash_signature": {"fn": q_minhash_signature, "sql": SQL_MINHASH_SIGNATURE},
    "llm_minhash_pairs":     {"fn": q_minhash_pairs,     "sql": SQL_MINHASH_PAIRS},
    "llm_simhash":           {"fn": q_simhash,           "sql": SQL_SIMHASH},
    "llm_simhash_pairs":     {"fn": q_simhash_pairs,     "sql": SQL_SIMHASH_PAIRS},
    "llm_ngram_jaccard":     {"fn": q_ngram_jaccard,     "sql": SQL_NGRAM_JACCARD},
    "llm_fingerprint":       {"fn": q_fingerprint,       "sql": SQL_FINGERPRINT},
    "llm_minhash_pipeline": {"fn": q_llm_minhash_pipeline,
                             "sql": _sql_minhash_pipeline()},
    "llm_dedup_groups": {"fn": q_dedup_groups,   "sql": sql_dedup_groups()},
    "record_linkage":   {"fn": q_record_linkage, "sql": SQL_RECORD_LINKAGE},
    "llm_decontaminate": {"fn": q_decontaminate, "sql": SQL_DECONTAMINATE},
    "llm_substr_dedup": {"fn": q_llm_substr_dedup,
                         "sql": SQL_SUBSTR_DEDUP},
    "llm_jaccard_prefix": {"fn": q_jaccard_prefix,
                           "sql": SQL_JACCARD_PREFIX},
    "dedup_reps":      {"fn": q_dedup_reps,      "sql": _sql_dedup_reps()},
    "llm_incremental_dedup": {"fn": q_incremental_dedup,
                              "sql": _sql_incremental_dedup()},
    "semantic_decon": {"fn": q_semantic_decon,
                       "sql": SQL_SEMANTIC_DECON},
    "dup_ratio_by_source": {"fn": q_dup_ratio_by_source,
                            "sql": SQL_DUP_RATIO_BY_SOURCE},
    "llm_bloom_decontam":  {"fn": q_llm_bloom_decontam,
                            "sql": _sql_bloom_decontam()},
    "llm_novelty":         {"fn": q_llm_novelty,
                            "sql": SQL_LLM_NOVELTY},
    "llm_dedup_eval":      {"fn": q_llm_dedup_eval,
                            "sql": _sql_dedup_eval()},
    "llm_winnow_pairs": {"fn": q_llm_winnow_pairs,
                         "sql": SQL_LLM_WINNOW_PAIRS},
    "llm_semdedup":     {"fn": q_llm_semdedup,
                         "sql": SQL_LLM_SEMDEDUP},
    "llm_line_dedup": {"fn": q_llm_line_dedup,
                       "sql": SQL_LINE_DEDUP},
})
