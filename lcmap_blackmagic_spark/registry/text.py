"""Text and training-data registry entries: tokenization and text
statistics, quality and repetition filters, TF-IDF / n-gram / BPE
counting, data mixing, packing, chunking and scheduling.

The notes below moved here with the queries they describe; a few
paragraphs describe queries that now live in sibling modules.

Third wave of training-data-pipeline operators: TF-IDF, corpus
n-gram top-k, text normalization, int8 embedding quantization, and
SQL-family completeness (GROUPING SETS, map functions).

Cross-engine exactness rules used here (same contract as the rest of
the registry):

- no transcendentals in checked outputs (JVM ``Math.log`` and libm
  may differ in the last ulp) — TF-IDF uses the log-free rational idf
  ``(N+1)/(df+1)``, monotone in the classic idf, so rankings match;
- no ROUND on raw doubles at decision points — quantization rounds
  via ``floor(x + 0.5)``, which is exact IEEE arithmetic in any
  engine;
- array outputs exploded to scalar rows (driver canonicalization
  cannot hash lists).

Fifth extension wave — the round-5 scale operators:

- ``hll_sketch``: deterministic HyperLogLog distinct counts — the
  mergeable, O(m)-state replacement for exact COUNT(DISTINCT) at
  100 TB, made oracle-checkable by integer-only register math
  (operators/sketches.py),
- ``llm_substr_dedup``: exact-substring duplication profiling (the
  character-gram dedup signal of Lee et al. 2022),
- ``merge_upsert``: CDC MERGE INTO semantics (U/D/I change set
  applied in one full-outer join — operators/merge.py),
- ``llm_rarity``: unigram-LM corpus-typicality quality score in the
  repo's log-free rational form.

Same determinism contract as the rest of the registry (registry.py
docstring): md5-slice hashes, integer arithmetic until one final
division, DECIMAL money, explicit BIGINT casts on DuckDB counts.

Sixteenth extension wave (round 10) — Gopher REPETITION rules.

The round-9 ``llm_gopher_filter`` applies the quality half of the
Gopher ruleset (Rae et al. 2021, Table A1: length / mean-word-length /
stopwords / alpha / symbol ratios); this wave adds the REPETITION
half — the "too much repeated content" signals a pre-training
curation pass drops boilerplate and spam on (named llm_gopher_repetition: the
registry's earlier ``llm_repetition`` is the 3-gram repeat-ratio
profile in registry_ext3 — this entry is the composed Gopher-
thresholded DECISION over 2- and 5-grams):

- top 2-gram share: fraction of the document's tokens covered by its
  single most frequent word 2-gram (Gopher drops > 0.20);
- duplicate 5-gram fraction: fraction of 5-gram positions whose gram
  occurs more than once in the document (Gopher drops > 0.15).

Both are integer-exact (counts and basis-point integer divisions —
``div`` truncates toward zero identically in both engines), so the
whole query carries a bit-exact DuckDB oracle.  Reference anchor:
nothing in lcmap-blackmagic — this is the LLM-data-pipeline surface
the brief adds as first-class.

Scale shape: one explode per n, counts keyed (doc_id, gram) with
map-side partial combine, then a doc-keyed aggregate — nothing wider
than a document's gram set ever groups together, no windows, no
collects.

Twenty-third extension wave (round 14) — data-MIXING operators:
the selection step that turns a deduplicated, quality-filtered corpus
into a training mixture with controlled per-domain token shares.
Curation (llm_curation / llm_curation_sem) decides WHICH documents
are good; these decide HOW MUCH of each domain the training run
actually consumes — the knob the mixture-design literature tunes
(GPT-3's weighted sampling, The Pile's per-subset epochs, Xie et
al.'s DoReMi reweighting, Muennighoff et al. 2023's data-constrained
repeats).

- ``llm_mix_balanced``: balanced-domain selection — every ``source``
  contributes the SAME number of tokens (half the smallest domain's
  total), taken greedily in ingest (doc_id) order.  The running
  token count is a DISTRIBUTED TWO-PHASE PREFIX SUM, not one window
  partition per domain: a window partitioned by source alone puts an
  entire domain in ONE task (the classic 100 TB window failure —
  a web-crawl domain can be most of the corpus); instead, documents
  are bucketed by ``doc_id div MIX_BUCKET``, the within-bucket
  running sum is a window over bounded-size (source, bucket) groups,
  and each bucket's starting offset comes from a per-(source,bucket)
  SUM aggregate — corpus/MIX_BUCKET rows — cumulated and joined
  back on the same (source, bucket) keys the big side is already
  shuffled on.  At production scale MIX_BUCKET is chosen ~2^20 so
  the offset frame is millions of times smaller than the corpus and
  AQE broadcasts it; the fixture value keeps several buckets alive
  at sf0.001.

- ``llm_mix_epochs``: the data-constrained mixture plan (Muennighoff
  et al. 2023 shape): given a global token budget (80% of the
  corpus) split UNIFORMLY across domains, emit per domain its total
  tokens, its target share, and the EPOCH COUNT ceil(target/total)
  — domains smaller than their share repeat (epochs > 1), larger
  ones truncate (epochs = 1).  Pure integer arithmetic (ceil
  division as (a + b - 1) div b), one aggregate over the corpus —
  the plan an actual sampler (stratified_sample / priority_sample)
  then executes.

Reference anchor: nothing in lcmap-blackmagic — mixture design is an
engine-first addition for the training-data pipeline (brief
§LLM-ops).  Both entries carry full DuckDB oracles; token semantics
are llm_token_count's ws_tokens (split on single space, lowered,
trimmed) so the mixing and counting surfaces agree.

Twenty-fourth extension wave (round 14) — the SCHEDULING surface
of the training-data pipeline: after curation picks the documents and
mixing picks the domain shares, these three decide what the loader
actually reads, in what order, with which boilerplate excised.

- ``llm_line_dedup``: line-level corpus REWRITE — the C4 rule
  ("discard all but boilerplate spans that repeat across the
  corpus"; Raffel et al. 2020 §2.2, RefinedWeb / Dolma line dedup)
  re-expressed over segments: every document is cut into consecutive
  ``LINE_W``-token segments (the fixtures carry no newlines, so the
  deterministic segmentation stands in for line breaks — on real
  corpora the split expression swaps for ``split(text, '\\n')`` and
  nothing else changes), a segment occurring ≥ ``LINE_MAXOCC`` times
  corpus-wide is boilerplate, and every document is REASSEMBLED from
  its surviving segments in order.  Unlike ``substring_dup_stats``
  (llm/dedup.py — the per-doc duplication PROFILE), this emits the
  cleaned corpus itself: (doc_id, n_segs, n_kept, cleaned).

- ``llm_epoch_shuffle``: the deterministic multi-epoch SHUFFLE
  SCHEDULE a distributed loader consumes — per epoch a fresh
  pseudorandom permutation, keyed md5(epoch, doc) so every engine,
  shard count, and rerun agrees (the repo-wide _md48 contract).
  Order materializes as (shard, pos-in-shard): shard = key mod
  ``SHUFFLE_SHARDS``, position = a window over ONE (epoch, shard)
  group.  At 100 TB the shard count is the knob (∝ corpus / target
  shard size, exactly like MIX_BUCKET in registry_ext22) so no
  window partition ever exceeds the target shard size; a single
  corpus-wide row_number would serialize the epoch into one task —
  the plan-audit trap this shape exists to avoid.

- ``llm_curriculum``: length-curriculum tier assignment (Bengio et
  al. 2009 easy-first ordering; short-to-long is the standard LM
  pacing axis): tier = floor(TIERS · rank_lt / N) with rank_lt the
  TIE-COLLAPSED strict rank of the doc's token count — computed from
  the per-value count table via the registry_ext10 ``cum_below``
  three-level prefix pyramid, never a corpus-wide rank window (ties
  on a dense integer domain make per-value groups unbounded; the
  collapsed rank is both the definitionally stable choice and the
  only one computable without a total order).  Within a tier the
  read order is the same shard-and-key shuffle as
  ``llm_epoch_shuffle``, so the loader streams tiers easy→hard with
  deterministic intra-tier randomness.

Two more round out the wave's tail: ``llm_seq_pack_bestfit`` (the
quality tier of the packing family — best-fit-decreasing with the
free-list recursive-CTE oracle's LATERAL swapped for an argmin) and
``eval_mrr_map`` (grouped MRR + MAP, the two classic ranked-retrieval
metrics the eval family lacked, tie-collapsed competition ranks from
the cum_below pyramid — never a per-group corpus sort window).

Reference anchor: nothing in lcmap-blackmagic — scheduling is an
engine-first addition for the training-data pipeline (brief §LLM-ops),
composing with llm_mix_epochs (how many epochs) and llm_seq_pack
(what fills each sequence).  All entries carry full DuckDB oracles;
token semantics are llm_token_count's ws_tokens.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.text import LANG_MARKERS, lang_id, quality_scores
from .analytics import _md48, cum_below
from .base import _t, register
from .dedup import SQL_TOKS


def q_text_stats(spark, sf_dir):
    """Text quality scoring: token count, mean token length, stopword
    ratio — codegen-only string arithmetic, no higher-order functions
    (HOFs evaluate interpreted, measured 8-30× slower in SCALE.md):

    - Σ len(token) ≡ len(trimmed) − (n_tokens − 1), because split(' ')
      partitions the string and separators are single chars;
    - stopword hits counted with zero-width-boundary regex over the
      space-padded text (lookarounds don't consume, so adjacent
      stopwords all match) — identical to exact token equality since
      tokens are the maximal runs between single spaces.
    """
    d = _t(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    n_tokens = F.size(F.split(trimmed, " "))
    sum_len = (F.length(trimmed) - n_tokens + 1).cast("double")
    padded = F.concat(F.lit(" "), trimmed, F.lit(" "))
    n_stop = F.regexp_count(padded, F.lit("(?<= )(?:the|a|of|and)(?= )"))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(sum_len / n_tokens, 6).alias("mean_token_len"),
        F.round(n_stop / n_tokens, 6).alias("stopword_ratio"),
    )


SQL_TEXT_STATS = """
SELECT doc_id,
       len(string_split(trim(text), ' ')) AS n_tokens,
       ROUND(list_sum(list_transform(string_split(trim(text), ' '),
                                     t -> length(t))) * 1.0
             / len(string_split(trim(text), ' ')), 6) AS mean_token_len,
       ROUND(len(list_filter(string_split(trim(text), ' '),
                             t -> t IN ('the', 'a', 'of', 'and'))) * 1.0
             / len(string_split(trim(text), ' ')), 6) AS stopword_ratio
FROM documents
"""


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return lang_id(d).select("doc_id", "pred_lang")


def _sql_score(lang: str) -> str:
    marks = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({SQL_TOKS}, t -> t IN ({marks})))"


_LANGS = sorted(LANG_MARKERS)
_SQL_BEST = "GREATEST(" + ", ".join(_sql_score(lg) for lg in _LANGS) + ")"
_SQL_PRED = ("CASE WHEN " + _SQL_BEST + " = 0 THEN 'und' "
             + " ".join(f"WHEN {_sql_score(lg)} = {_SQL_BEST} THEN '{lg}'"
                        for lg in _LANGS)
             + " END")

SQL_LANG_ID = f"SELECT doc_id, {_SQL_PRED} AS pred_lang FROM documents"


def q_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return quality_scores(d).select(
        "doc_id", "n_tokens", "mean_token_len", "stopword_ratio",
        "punct_ratio")


SQL_QUALITY = f"""
SELECT doc_id,
       len({SQL_TOKS}) AS n_tokens,
       ROUND(list_sum(list_transform({SQL_TOKS}, t -> length(t))) * 1.0
             / len({SQL_TOKS}), 6) AS mean_token_len,
       ROUND(len(list_filter({SQL_TOKS},
                 t -> t IN ('the','a','of','and','to','in'))) * 1.0
             / len({SQL_TOKS}), 6) AS stopword_ratio,
       ROUND((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
             * 1.0 / length(text), 6) AS punct_ratio
FROM documents
"""


# -------------------------------------------------- token counting --

# GPT-2-ish coarse pretokenizer: letter runs, single digits, single
# non-alphanumeric marks. Same semantics in Java regex and RE2.
BPE_PATTERN = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"


def q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), " ")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))
    return d.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("ws_tokens"),
        F.size(bpe).cast("bigint").alias("bpe_tokens"),
        F.length("text").cast("bigint").alias("chars"))


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS chars
FROM documents
"""

# --------------------------------------------------------- TF-IDF ---

TFIDF_TOPK = 5
# shared tokenizer: lowercase, split on single spaces (the corpus
# contract used by the dedup/fingerprint family)
_SQL_TOKS = "string_split(lower(trim(text)), ' ')"


def q_tfidf_topk(spark, sf_dir):
    """Top-k characteristic terms per document by TF-IDF.

    Plan shape (the 100 TB pattern): one explode → (doc, term)
    aggregate for term frequencies; document frequencies derived from
    the SAME aggregate (no second scan) by a term-level count; idf
    joined back on term (shuffle join — the df table is term-sized,
    which can exceed broadcast range on a web corpus); top-k per doc
    via row_number. idf is the log-free rational form (N+1)/(df+1) —
    monotone in ln((N+1)/(df+1)), so the ranking is the classic one
    while staying bit-exact across engines."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar, known before planning (one cheap agg)
    toks = F.explode(F.split(F.lower(F.trim("text")), " ")).alias("term")
    tf = (d.select("doc_id", toks)
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1)).cast("double")
    scored = (tf.join(df_, "term")
              .select("doc_id", "term", "tf",
                      (F.col("tf").cast("double") * idf).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TFIDF_TOPK)
            .select("doc_id", "term", F.col("tf").cast("bigint").alias("tf"),
                    "tfidf", F.col("rn").cast("int").alias("rn")))


def sql_tfidf_topk() -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, u.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM documents, UNNEST({_SQL_TOKS}) AS u(term)
  GROUP BY doc_id, u.term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         CAST(tf.tf AS DOUBLE) *
         (CAST(n.n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
SELECT doc_id, term, tf, tfidf, CAST(rn AS INT) AS rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored)
WHERE rn <= {TFIDF_TOPK}
"""


# ------------------------------------------------- n-gram top-k -----

NGRAM_TOPK = 20


def q_ngram_topk(spark, sf_dir):
    """Corpus-level top-k word bigrams: explode → hash aggregate →
    TakeOrderedAndProject (orderBy+limit plans as a per-partition
    top-k merge on the driver, never a full sort — the scale-safe
    global top-k). Deterministic tie-break by the bigram itself."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")
    # bigram i = tok[i] + ' ' + tok[i+1]; slice+zip free of HOF lambdas
    pairs = F.zip_with(F.slice(toks, 1, F.size(toks) - 1),
                       F.slice(toks, 2, F.size(toks) - 1),
                       lambda a, b: F.concat_ws(" ", a, b))
    return (d.select(F.explode(pairs).alias("bigram"))
            .groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), "bigram")
            .limit(NGRAM_TOPK))


def sql_ngram_topk() -> str:
    return f"""
WITH t AS (SELECT {_SQL_TOKS} AS toks FROM documents),
b AS (SELECT toks[u.i] || ' ' || toks[u.i + 1] AS bigram
      FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i))
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM b GROUP BY bigram
ORDER BY cnt DESC, bigram
LIMIT {NGRAM_TOPK}
"""


# -------------------------------------------- text normalization ----

# Java-regex ∩ RE2 subset, identical semantics in both engines
_PUNCT_RE = "[^a-z0-9 ]"
_WS_RE = " +"


def q_text_normalize(spark, sf_dir):
    """Cleaning pass of a training-data pipeline: lowercase → strip
    non-alphanumerics → collapse whitespace → trim. Pure codegen
    string ops, pipelined into the scan (no shuffle)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), _PUNCT_RE, " "), _WS_RE, " "))
    return d.select(
        "doc_id", norm.alias("norm"),
        F.length(norm).cast("bigint").alias("norm_len"),
        (F.length("text") - F.length(norm)).cast("bigint")
        .alias("chars_removed"))


def sql_text_normalize() -> str:
    return f"""
WITH x AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '{_PUNCT_RE}',
                                            ' ', 'g'),
                             '{_WS_RE}', ' ', 'g')) AS norm
  FROM documents)
SELECT doc_id, norm,
       CAST(length(norm) AS BIGINT) AS norm_len,
       CAST(length(text) - length(norm) AS BIGINT) AS chars_removed
FROM x
"""


# ---------------------------------------------- document chunking --

CHUNK_SIZE = 64    # tokens per chunk
CHUNK_STRIDE = 48  # start-to-start distance (16-token overlap)


def q_chunk(spark, sf_dir):
    """Strided document chunking — the RAG / pre-training windowing
    step: each doc yields overlapping token windows of ``CHUNK_SIZE``
    every ``CHUNK_STRIDE`` tokens (final partial window kept iff ≥
    half size, the common convention). One narrow projection + one
    Generate (posexplode) — no shuffle, no UDF; chunk text is hashed
    (md5) so the checked output stays compact."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")
    n = F.size(toks)
    # window starts: 1, 1+stride, ... while start ≤ n - size/2
    n_chunks = F.greatest(
        F.lit(1),
        (F.floor((n - F.lit(CHUNK_SIZE // 2)) / CHUNK_STRIDE) + 1)
        .cast("int"))
    starts = F.transform(F.sequence(F.lit(0), n_chunks - 1),
                         lambda i: i * CHUNK_STRIDE + 1)
    chunks = F.transform(
        starts, lambda s: F.struct(
            s.alias("start"),
            F.least(F.lit(CHUNK_SIZE), n - s + 1).alias("len"),
            F.md5(F.array_join(F.slice(toks, s, CHUNK_SIZE), " ")
                  .cast("binary")).alias("h")))
    return (d.select("doc_id", F.posexplode(chunks).alias("chunk_id", "c"))
            .select("doc_id", "chunk_id",
                    F.col("c.start").alias("start"),
                    F.col("c.len").alias("n_tokens"),
                    F.col("c.h").alias("chunk_md5")))


SQL_CHUNK = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks,
         len(string_split(lower(trim(text)), ' ')) AS n
  FROM documents),
c AS (
  SELECT doc_id, toks, n,
         GREATEST(1, CAST(FLOOR((n - {CHUNK_SIZE // 2})
                               / {CHUNK_STRIDE}) + 1 AS INT)) AS n_chunks
  FROM t)
SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
       CAST(u.i * {CHUNK_STRIDE} + 1 AS INT) AS start,
       CAST(LEAST({CHUNK_SIZE}, n - (u.i * {CHUNK_STRIDE} + 1) + 1) AS INT)
         AS n_tokens,
       md5(array_to_string(list_slice(toks, u.i * {CHUNK_STRIDE} + 1,
                                      u.i * {CHUNK_STRIDE} + {CHUNK_SIZE}),
                           ' ')) AS chunk_md5
FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
"""


# ------------------------------------------------- sequence packing -

PACK_CAPACITY = 512  # tokens per training sequence (context window)


def q_seq_pack(spark, sf_dir):
    """Greedy sequence packing: assign documents to fixed-capacity
    training windows (first-fit over a deterministic order) —
    the step that turns a tokenized corpus into dense batches.

    Shape: documents are hash-sharded (md5 48-bit prefix — the
    engine-portable hash every other sharded operator uses, so DuckDB
    replays the shard assignment exactly); packing runs per shard in
    one ``applyInPandas`` pass (packing is inherently sequential
    WITHIN a bin, so the parallel unit is the shard; bins never span
    shards — exactly how distributed packing is run in production).
    Output is one row per document: (shard, bin, off, len).  FULL
    oracle since round 12: the bin free-list that "defeats SQL" fits
    in a DuckDB recursive-CTE LIST column — the walk carries the
    per-shard remaining-capacity list and replays first-fit decision
    by decision (invariants additionally property-tested in
    tests/test_llm_ops.py)."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents")
    n_shards = 16
    toks = F.size(F.split(F.lower(F.trim("text")), " "))
    base = d.select(
        "doc_id",
        F.least(toks, F.lit(PACK_CAPACITY)).cast("int").alias("n_tok"),
        (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                            1, 12), 16, 10).cast("bigint")
         % n_shards).cast("int").alias("shard"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tok", "doc_id"],
                              ascending=[False, True]).reset_index(drop=True)
        bins: list[int] = []   # remaining capacity per bin
        out_bin, out_off = [], []
        for n in pdf["n_tok"]:
            n = int(n)
            for i, rem in enumerate(bins):  # first fit
                if rem >= n:
                    out_bin.append(i)
                    out_off.append(PACK_CAPACITY - rem)
                    bins[i] = rem - n
                    break
            else:
                out_bin.append(len(bins))
                out_off.append(0)
                bins.append(PACK_CAPACITY - n)
        pdf["bin"] = out_bin
        pdf["off"] = out_off
        return pdf[["shard", "doc_id", "n_tok", "bin", "off"]]

    return (base.groupBy("shard").applyInPandas(
        pack, schema="shard int, doc_id long, n_tok int, bin int, off int"))


def q_seq_pack_nextfit(spark, sf_dir):
    """Oracle-checked packing variant: NEXT-fit over the same
    decreasing order.  Unlike first-fit (whose per-bin free-list
    state defeats SQL), next-fit carries only (current bin, fill) —
    small enough for a recursive-CTE oracle to replay row by row.

    Same distribution shape as ``q_seq_pack``: hash-sharded, one
    sequential ``applyInPandas`` pass per shard, bins never span
    shards."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents")
    n_shards = 16
    toks = F.size(F.split(F.lower(F.trim("text")), " "))
    base = d.select(
        "doc_id",
        F.least(toks, F.lit(PACK_CAPACITY)).cast("int").alias("n_tok"),
        (F.col("doc_id") % n_shards).cast("int").alias("shard"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tok", "doc_id"],
                              ascending=[False, True]).reset_index(drop=True)
        cur_bin, fill = 0, 0
        out_bin, out_off = [], []
        for n in pdf["n_tok"]:
            n = int(n)
            if fill + n <= PACK_CAPACITY:
                out_bin.append(cur_bin)
                out_off.append(fill)
                fill += n
            else:
                cur_bin += 1
                out_bin.append(cur_bin)
                out_off.append(0)
                fill = n
        pdf["bin"] = out_bin
        pdf["off"] = out_off
        return pdf[["shard", "doc_id", "n_tok", "bin", "off"]]

    return (base.groupBy("shard").applyInPandas(
        pack, schema="shard int, doc_id long, n_tok int, bin int, off int"))


SQL_SEQ_PACK = f"""
WITH RECURSIVE ordered AS (
  SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) % 16 AS INT) AS shard,
         doc_id,
         CAST(least(len(string_split(lower(trim(text)), ' ')),
                    {PACK_CAPACITY}) AS INT) AS n_tok,
         ROW_NUMBER() OVER (
           PARTITION BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 12) AS BIGINT) % 16
           ORDER BY least(len(string_split(lower(trim(text)), ' ')),
                          {PACK_CAPACITY}) DESC, doc_id) AS rn
  FROM documents),
walk AS (
  -- first-fit replayed exactly: the recursive state is the bin
  -- free-list itself (remaining capacity per bin, a LIST column);
  -- each step scans for the first bin that fits, updates it in
  -- place, or opens a new one
  SELECT shard, doc_id, n_tok, rn,
         0 AS bin, 0 AS off, [{PACK_CAPACITY} - n_tok] AS rems
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.doc_id, o.n_tok, o.rn,
         CASE WHEN fit.idx IS NOT NULL THEN fit.idx - 1
              ELSE len(w.rems) END,
         CASE WHEN fit.idx IS NOT NULL
              THEN {PACK_CAPACITY} - w.rems[fit.idx] ELSE 0 END,
         CASE WHEN fit.idx IS NOT NULL
              THEN w.rems[:fit.idx-1] || [w.rems[fit.idx] - o.n_tok]
                   || w.rems[fit.idx+1:]
              ELSE w.rems || [{PACK_CAPACITY} - o.n_tok] END
  FROM walk w
  JOIN ordered o ON o.shard = w.shard AND o.rn = w.rn + 1
  CROSS JOIN LATERAL (
    SELECT NULLIF(list_position(
             list_transform(w.rems, r -> r >= o.n_tok), true),
           0) AS idx) fit)
SELECT shard, doc_id, n_tok, CAST(bin AS INT) AS bin,
       CAST(off AS INT) AS off
FROM walk
"""


SQL_SEQ_PACK_NEXTFIT = f"""
WITH RECURSIVE ordered AS (
  SELECT CAST(doc_id % 16 AS INT) AS shard, doc_id,
         CAST(least(len(string_split(lower(trim(text)), ' ')),
                    {PACK_CAPACITY}) AS INT) AS n_tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 16
                            ORDER BY least(len(string_split(lower(trim(text)), ' ')),
                                           {PACK_CAPACITY}) DESC, doc_id) AS rn
  FROM documents),
walk AS (
  SELECT shard, doc_id, n_tok, rn,
         0 AS bin, 0 AS off, n_tok AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.doc_id, o.n_tok, o.rn,
         CASE WHEN w.fill + o.n_tok <= {PACK_CAPACITY} THEN w.bin
              ELSE w.bin + 1 END,
         CASE WHEN w.fill + o.n_tok <= {PACK_CAPACITY} THEN w.fill
              ELSE 0 END,
         CASE WHEN w.fill + o.n_tok <= {PACK_CAPACITY} THEN w.fill + o.n_tok
              ELSE o.n_tok END
  FROM walk w JOIN ordered o ON o.shard = w.shard AND o.rn = w.rn + 1)
SELECT shard, doc_id, n_tok, CAST(bin AS INT) AS bin, CAST(off AS INT) AS off
FROM walk
"""


# -------------------------------------------------- feature hash ---

N_FEATURE_BUCKETS = 256


def q_feature_hash(spark, sf_dir):
    """Hashing-trick featurization: tokens hash into a fixed bucket
    space (md5 digest slice — the repo's engine-portable hash idiom)
    and counts aggregate per (doc, bucket).  Explode → codegen hash →
    map-side partial count → one shuffle on (doc_id, bucket); the
    fixed bucket space is what keeps the feature matrix bounded at
    corpus scale."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("tok"))
    bucket = (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
              .cast("long") % N_FEATURE_BUCKETS)
    return (tok.select("doc_id", bucket.alias("bucket"))
               .groupBy("doc_id", "bucket")
               .agg(F.count(F.lit(1)).alias("cnt")))


SQL_FEATURE_HASH = f"""
SELECT doc_id,
       CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT
            % {N_FEATURE_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT doc_id, UNNEST(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents) t
GROUP BY doc_id, CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT
                      % {N_FEATURE_BUCKETS} AS BIGINT)
"""


# ------------------------------------------- repetition ratio ------


def q_repetition(spark, sf_dir):
    """Corpus-quality repetition signal (the Gopher-style duplicate
    n-gram fraction): per document, the share of word 3-grams that
    are repeats, plus the count of the most-repeated gram.

    Grams come from posexplode + two ``lead`` windows (codegen
    projections around one per-doc sort) — NOT an interpreted
    ``transform`` HOF, per the house rule for hot text paths.  All
    three aggregation steps key on doc_id, so every shuffle carries
    the same partitioning and the heavy strings reduce map-side."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), " "))
         .alias("pos", "w"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    grams = (words
             .withColumn("w1", F.lead("w", 1).over(win))
             .withColumn("w2", F.lead("w", 2).over(win))
             .filter(F.col("w2").isNotNull())
             .select("doc_id",
                     F.concat_ws(" ", "w", "w1", "w2").alias("g")))
    gram_counts = grams.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("c"))
    return (gram_counts.groupBy("doc_id")
            .agg(F.sum("c").alias("n_grams"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.round(F.lit(1.0)
                         - F.count(F.lit(1)) / F.sum("c"), 6)
                  .alias("rep_ratio"),
                 F.max("c").alias("max_rep")))


SQL_REPETITION = """
WITH grams AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(ws) - 2),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
        FROM documents) t),
gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT)   AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(1.0 - COUNT(*) * 1.0 / SUM(c), 6) AS rep_ratio,
       CAST(MAX(c) AS BIGINT)   AS max_rep
FROM gc GROUP BY doc_id
"""


# email-ish then phone-ish; Java and DuckDB (RE2-ish) both support
# these constructs identically (no lookaround, no backrefs)
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}"


def q_pii_scrub(spark, sf_dir):
    """Corpus PII scrubbing: redact email addresses and phone-shaped
    numbers with typed placeholders and report per-doc hit counts —
    the standard pre-training cleanup pass. Pure regexp_replace /
    regexp_count (JVM codegen, one narrow projection, no shuffle);
    the patterns avoid lookarounds so Java and DuckDB regex engines
    agree character-for-character.

    The synthetic corpus carries no PII, so every third doc gets a
    deterministic contact line injected IN-QUERY (doc_id-derived
    email + phone, mirrored verbatim in the oracle) — the scrub then
    demonstrably fires: those docs report hits and a changed digest,
    the rest pass through untouched."""
    d = _t(spark, sf_dir, "documents")
    contact = F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-2345."))
    text = F.when(F.col("doc_id") % 3 == 0,
                  F.concat(F.col("text"), contact)) \
            .otherwise(F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE, "<PHONE>")
    return d.select(
        "doc_id",
        F.regexp_count(text, F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count(text, F.lit(PII_PHONE_RE)).alias("n_phone"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"),
        F.length(scrubbed).alias("scrubbed_len"))


_SQL_PII_TEXT = ("CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' "
                 "|| doc_id || '@example.com or 555-' "
                 "|| lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') "
                 "|| '-2345.' ELSE text END")

SQL_PII_SCRUB = f"""
WITH t AS (SELECT doc_id, {_SQL_PII_TEXT} AS text FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_email,
       len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS n_phone,
       md5(regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PII_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5,
       length(regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                             '{PII_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_len
FROM t
"""


# -------------------------------------------- unigram rarity --------

def q_llm_rarity(spark, sf_dir):
    """Corpus-typicality quality score per document
    (llm/text.rarity_scores — the log-free unigram-LM form)."""
    from ..llm.text import rarity_scores
    d = _t(spark, sf_dir, "documents")
    return rarity_scores(d)


SQL_LLM_RARITY = """
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents)
  WHERE tok <> ''),
counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
total AS (SELECT SUM(c) AS n_total FROM counts)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM((n_total * 1000000) // c) AS DOUBLE)
             / (COUNT(*) * 1000000.0), 6) AS rarity
FROM toks JOIN counts USING (tok) CROSS JOIN total
GROUP BY doc_id
"""


# ---------------------------------------------- BPE merge learning -

BPE_MERGES = 8


def q_llm_bpe_merges(spark, sf_dir):
    """Tokenizer-training statistics: the first 8 BPE merges learned
    from the corpus (llm/text.bpe_merges — word-frequency sufficient
    statistics, one corpus pass, declarative merge rounds)."""
    from ..llm.text import bpe_merges
    return bpe_merges(_t(spark, sf_dir, "documents"), BPE_MERGES)


def _sql_bpe_merges(n: int = BPE_MERGES) -> str:
    """Unrolled-CTE oracle: round r = pair counts over s{r-1} →
    1-row argmax → two-pass literal replace into s{r} — the exact
    declarative program the Spark side chains, so every intermediate
    vocabulary state matches byte-for-byte."""
    toks = "string_split(trim(sym), ' ')"
    pair_list = (f"list_transform(range(1, len({toks})), "
                 f"i -> {toks}[i] || ' ' || {toks}[i + 1])")
    ctes = ["""w AS MATERIALIZED (
  SELECT w, COUNT(*) AS cnt FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents) WHERE w <> '' GROUP BY w)""",
            r"""s0 AS MATERIALIZED (
  SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS sym, cnt
  FROM w)"""]
    for r in range(1, n + 1):
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT pair, SUM(cnt) AS total FROM (
    SELECT unnest({pair_list}) AS pair, cnt FROM s{r - 1})
  GROUP BY pair)""")
        ctes.append(f"""b{r} AS MATERIALIZED (
  SELECT {r} AS merge_rank, pair, replace(pair, ' ', '') AS merged,
         CAST(total AS BIGINT) AS total
  FROM p{r} ORDER BY total DESC, pair LIMIT 1)""")
        ctes.append(f"""s{r} AS MATERIALIZED (
  SELECT replace(replace(sym, ' ' || b.pair || ' ',
                         ' ' || b.merged || ' '),
                 ' ' || b.pair || ' ', ' ' || b.merged || ' ') AS sym,
         cnt
  FROM s{r - 1}, b{r} b)""")
    union = "\nUNION ALL\n".join(
        f"SELECT merge_rank, pair, merged, total FROM b{r}"
        for r in range(1, n + 1))
    return "WITH " + ",\n".join(ctes) + "\n" + union


def q_llm_bpe_encode(spark, sf_dir):
    """Tokenizer apply: replay the 8 learned merges over the corpus
    and count BPE tokens per document (llm/text.bpe_encode — the
    merges collect to constants, exactly a broadcast model apply)."""
    from ..llm.text import bpe_encode, bpe_merges
    d = _t(spark, sf_dir, "documents")
    return bpe_encode(d, bpe_merges(d, BPE_MERGES))


def _sql_bpe_encode(n: int = BPE_MERGES) -> str:
    """Oracle: the training CTE chain (same as _sql_bpe_merges) plus
    an apply stage — each word re-splits and the merges replay via
    the same two-pass replaces, scalar-subquerying b1..b8."""
    body = _sql_bpe_merges(n)
    head = body[:body.rindex("SELECT merge_rank, pair, merged, total FROM b1")]
    sym = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    for r in range(1, n + 1):
        pat = f"' ' || (SELECT pair FROM b{r}) || ' '"
        rep = f"' ' || (SELECT merged FROM b{r}) || ' '"
        sym = f"replace(replace({sym}, {pat}, {rep}), {pat}, {rep})"
    return f"""{head.rstrip()},
words AS MATERIALIZED (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents) WHERE w <> ''),
enc AS MATERIALIZED (
  SELECT doc_id,
         length(trim({sym}))
           - length(replace(trim({sym}), ' ', '')) + 1 AS nt
  FROM words)
SELECT doc_id, CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_words
FROM enc GROUP BY doc_id
"""


# ------------------------------------------------ Python UDTF ------

def q_udtf_chunks(spark, sf_dir):
    """The strided chunker as a Spark 4 PYTHON UDTF (table function in
    a LATERAL join) — mechanism coverage for SURVEY §2.9's UDF/UDTF
    surface. Same contract and SAME ORACLE as the declarative
    ``llm_chunk`` (registry_llm2.q_chunk), so the two implementations
    cross-check each other through the shared SQL. The declarative
    Generate form remains the production path (codegen, no Python
    workers); the UDTF is the escape hatch for row-generating logic
    built-ins can't express — arrow-optimized, batched per partition.
    """
    from pyspark.sql.functions import udtf


    size, stride = CHUNK_SIZE, CHUNK_STRIDE

    @udtf(returnType="doc_id bigint, chunk_id int, start int, "
                     "n_tokens int, chunk_md5 string")
    class ChunkUDTF:
        def eval(self, doc_id, text):
            import hashlib
            toks = text.strip().lower().split(" ")
            n = len(toks)
            n_chunks = max(1, (n - size // 2) // stride + 1)
            for i in range(n_chunks):
                s = i * stride + 1
                window = " ".join(toks[s - 1:s - 1 + size])
                yield (doc_id, i, s, min(size, n - s + 1),
                       hashlib.md5(window.encode()).hexdigest())

    spark.udtf.register("chunk_udtf", ChunkUDTF)
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        "SELECT c.* FROM udtf_docs, "
        "LATERAL chunk_udtf(doc_id, text) AS c")


def _sql_udtf_chunks() -> str:
    return SQL_CHUNK


# ----------------------------------------------- PMI collocations ---

PMI_MIN_COUNT = 5
PMI_TOPK = 40


def q_pmi_bigrams(spark, sf_dir):
    """Top adjacent-word collocations by a scaled-integer PMI ratio:
    score = ((c_xy * 10^6) // c_x) * N_bi // c_y — monotone in
    pointwise mutual information (log is monotone), exact in int64
    through ~sf10 corpora, and log-free so both engines agree
    bit-for-bit.

    Shape: bigrams come from codegen ``arrays_zip``/``slice`` over
    the token array — NO per-document window sort, no shuffle before
    the (tok, tok2) count; the bigram total is derived arithmetically
    (Σ tokens − n_docs), so the corpus is token-exploded exactly
    twice (unigrams + bigrams), each a single pass."""
    d = _t(spark, sf_dir, "documents")
    arr = d.select("doc_id",
                   F.split(F.lower(F.trim("text")), " ").alias("toks"))
    bi = arr.select(F.expr(
        "inline(arrays_zip(slice(toks, 1, size(toks) - 1),"
        "                  slice(toks, 2, size(toks) - 1)))")) \
        .toDF("tok", "tok2")
    c_xy = bi.groupBy("tok", "tok2").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = (arr.select(F.explode("toks").alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    n_docs = d.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    n_bi = (uni.groupBy().agg(F.sum("c").alias("n_tok"))
            .crossJoin(n_docs)
            .select((F.col("n_tok") - F.col("n_docs")).alias("n_bi")))
    # the unigram-count joins are UNFORCED: `uni` is word-vocabulary
    # sized — Heaps-law sublinear but unbounded at 10^10 docs — so
    # AQE must pick broadcast only when the dictionary actually fits
    # (n_bi stays an explicit one-row broadcast)
    scored = (c_xy.filter(F.col("c_xy") >= PMI_MIN_COUNT)
              .join(uni.withColumnRenamed("c", "c_x"), "tok")
              .join(uni.select(F.col("tok").alias("tok2"),
                               F.col("c").alias("c_y")), "tok2")
              .crossJoin(F.broadcast(n_bi)))
    # integer div throughout (Spark's / is float; the oracle uses //)
    scored = scored.select(
        F.concat_ws(" ", "tok", "tok2").alias("bigram"),
        "c_xy", "c_x", "c_y",
        (F.expr("((c_xy * 1000000) div c_x) * n_bi div c_y")
         .alias("pmi_score")))
    return (scored.orderBy(F.desc("pmi_score"), "bigram")
            .limit(PMI_TOPK))


SQL_PMI_BIGRAMS = f"""
WITH toks AS (
  SELECT doc_id, pos, tok
  FROM (SELECT doc_id,
               generate_subscripts(string_split(lower(trim(text)), ' '), 1)
                 AS pos,
               unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents)),
bi AS (
  SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok2
  FROM toks),
bi2 AS (SELECT * FROM bi WHERE tok2 IS NOT NULL),
c_xy AS (SELECT tok, tok2, COUNT(*) AS c_xy FROM bi2 GROUP BY tok, tok2),
uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
n AS (SELECT COUNT(*) AS n_bi FROM bi2)
SELECT x.tok || ' ' || x.tok2 AS bigram, x.c_xy,
       u1.c AS c_x, u2.c AS c_y,
       ((x.c_xy * 1000000) // u1.c) * n.n_bi // u2.c AS pmi_score
FROM c_xy x
JOIN uni u1 ON u1.tok = x.tok
JOIN uni u2 ON u2.tok = x.tok2
CROSS JOIN n
WHERE x.c_xy >= {PMI_MIN_COUNT}
ORDER BY pmi_score DESC, bigram
LIMIT {PMI_TOPK}
"""


# ------------------------------------------- n-gram LM scoring ------

def q_lm_score(spark, sf_dir):
    """Bigram language-model log-probability per document (add-one
    smoothing), trained on the corpus itself — the model-based
    quality signal beside the log-free unigram rarity
    (llm/text.rarity_scores).  avg_logprob = Σ ln((c12+1)/(c1+V))/n
    over the doc's bigrams.

    Shape: bigrams via codegen arrays_zip (the pmi_bigrams pass); the
    bigram/unigram count tables are vocabulary-sized, joined UNFORCED
    (AQE broadcasts while they fit); one (doc) aggregate.  ln enters only through ratios of exact
    integers, and the per-doc sum is wrapped in ROUND(6) — the
    cross-engine float policy the BM25 scorer documents."""
    d = _t(spark, sf_dir, "documents")
    arr = d.select("doc_id",
                   F.split(F.lower(F.trim("text")), " ").alias("toks"))
    bi = (arr.select("doc_id", F.expr(
        "inline(arrays_zip(slice(toks, 1, size(toks) - 1),"
        "                  slice(toks, 2, size(toks) - 1)))"))
        .toDF("doc_id", "tok", "tok2"))
    c_xy = bi.groupBy("tok", "tok2").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = (arr.select(F.explode("toks").alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("c_x")))
    vocab = uni.groupBy().agg(F.count(F.lit(1)).alias("v"))
    # count-table joins UNFORCED: c_xy is bigram-vocabulary sized and
    # uni unigram-vocabulary sized — both unbounded at corpus scale;
    # AQE broadcasts them only while they fit (vocab is one row)
    scored = (bi.join(c_xy, ["tok", "tok2"])
              .join(uni, "tok")
              .crossJoin(F.broadcast(vocab)))
    logp = F.log((F.col("c_xy") + 1).cast("double")
                 / (F.col("c_x") + F.col("v")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.sum(logp)
                         / F.count(F.lit(1)), 6).alias("avg_logprob"))
            .orderBy("doc_id"))


SQL_LM_SCORE = """
WITH arr AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
  FROM documents),
bi AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i])) AS tok,
         UNNEST(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i + 1])) AS tok2
  FROM arr),
c_xy AS (SELECT tok, tok2, COUNT(*) AS c_xy FROM bi GROUP BY tok, tok2),
uni AS (
  SELECT tok, COUNT(*) AS c_x
  FROM (SELECT UNNEST(ws) AS tok FROM arr) GROUP BY tok),
vocab AS (SELECT COUNT(*) AS v FROM uni)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(SUM(ln(CAST(c_xy + 1 AS DOUBLE) / (c_x + v)))
             / COUNT(*), 6) AS avg_logprob
FROM bi JOIN c_xy USING (tok, tok2) JOIN uni USING (tok)
CROSS JOIN vocab
GROUP BY doc_id ORDER BY doc_id
"""

# ------------------------------------- source mixture weights ------

MIX_ALPHA_SCALE = 1 << 20  # sqrt(n) fixed-point scale


def _mix_plan(per_src):
    """The n^0.5 temperature-mixing plan, shared by
    ``source_mix_weights`` and the composed ``llm_trainprep``
    (one definition, so the pipeline cannot desynchronize from the
    operator it composes): fixed-point sqrt weights, order-free
    integer normalizer, and the exact planned-docs quotient.
    w_fix·n_tot exceeds int64 once a source passes ~4×10^8 docs
    (w_fix ≈ sqrt(n)·2^20), so the product runs in DECIMAL(38,0)
    and `div` returns the exact bigint quotient — the ab_ttest
    wide-intermediate rule applied to planning math."""
    scaled = per_src.withColumn(
        "w_fix", F.floor(F.sqrt(F.col("n_docs").cast("double"))
                         * MIX_ALPHA_SCALE).cast("bigint"))
    tot = scaled.agg(F.sum("w_fix").alias("w_tot"),
                     F.sum("n_docs").alias("n_tot"))
    return (scaled.join(F.broadcast(tot))
            .withColumn("planned_docs",
                        F.expr("(CAST(w_fix AS DECIMAL(38,0)) * n_tot)"
                               " div w_tot")))


def _sql_mix(src: str) -> str:
    """DuckDB CTE block mirroring ``_mix_plan`` over ``src``; emits
    CTE ``mixplan``(source, n_docs, w_fix, w_tot, n_tot,
    planned_docs) — HUGEINT intermediates as the Spark side's
    DECIMAL(38,0)."""
    return f"""
scaled AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {MIX_ALPHA_SCALE})
              AS BIGINT) AS w_fix
  FROM {src}),
tot AS (SELECT CAST(SUM(w_fix) AS BIGINT) AS w_tot,
               CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM scaled),
mixplan AS (
  SELECT source, n_docs, w_fix, w_tot, n_tot,
         CAST((CAST(w_fix AS HUGEINT) * n_tot) // w_tot AS BIGINT)
           AS planned_docs
  FROM scaled CROSS JOIN tot)"""


def q_source_mix_weights(spark, sf_dir):
    """Temperature-sampling mixture weights per source, α = 1/2:
    w_s = n_s^α / Σ n_t^α.  sqrt(bigint→double) is correctly
    rounded in IEEE-754 (both engines), and floor(·2^20) makes each
    term an exact bigint, so the normalizer is an order-free integer
    sum — the final division is the only float op.  planned_docs
    resamples the corpus to its own size under the mixture."""
    d = _t(spark, sf_dir, "documents")
    per_src = (d.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs")))
    return (_mix_plan(per_src)
            .select("source", "n_docs",
                    F.round(F.col("w_fix") / F.col("w_tot"), 6)
                    .alias("weight"),
                    "planned_docs")
            .orderBy("source"))


SQL_SOURCE_MIX_WEIGHTS = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
{_sql_mix("per_src")}
SELECT source, n_docs,
       ROUND(CAST(w_fix AS DOUBLE) / w_tot, 6) AS weight,
       planned_docs
FROM mixplan ORDER BY source
"""


# --------------------------------------------- class weights -------

def q_class_weights(spark, sf_dir):
    """Inverse-frequency class weights over the language label:
    w_c = N / (K · n_c) — integers until the one division.  The
    output is the tiny table a trainer broadcasts into its loss."""
    d = _t(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per_lang.agg(F.sum("n_docs").alias("n_tot"),
                       F.count(F.lit(1)).alias("k"))
    return (per_lang.join(F.broadcast(tot))
            .select("lang", "n_docs",
                    F.round(F.col("n_tot")
                            / (F.col("k") * F.col("n_docs")), 6)
                    .alias("weight"))
            .orderBy("lang"))


SQL_CLASS_WEIGHTS = """
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot,
               CAST(COUNT(*) AS BIGINT) AS k FROM per_lang)
SELECT lang, n_docs,
       ROUND(CAST(n_tot AS DOUBLE) / (k * n_docs), 6) AS weight
FROM per_lang CROSS JOIN tot ORDER BY lang
"""


# ------------------------------------ doc length histogram ---------

def q_doc_length_hist(spark, sf_dir):
    """Power-of-two document-length histogram: bucket =
    floor(log2(n_chars + 1)) computed as the LENGTH OF THE BINARY
    STRING minus one — both engines print minimal binary (no
    leading zeros), so no floating log ever runs."""
    d = _t(spark, sf_dir, "documents")
    bucket = (F.length(F.expr("bin(n_chars + 1)")) - 1).cast("bigint")
    return (d.groupBy(bucket.alias("log2_bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"))
            .orderBy("log2_bucket"))


SQL_DOC_LENGTH_HIST = """
SELECT CAST(length(bin(n_chars + 1)) - 1 AS BIGINT) AS log2_bucket,
       COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------
# Gopher/C4-style document filter: the composed keep/drop DECISION
# (llm_quality exposes the raw scores; this is the ruleset applied,
# with a per-rule breakdown so a curation run can report WHY a
# document fell).  All five rules are integer-exact — ratios become
# cross-multiplied integer comparisons — so the whole filter carries
# a bit-exact oracle.

GOPHER_TOK_MIN, GOPHER_TOK_MAX = 30, 80     # token-count band
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 3, 10      # mean word length band
GOPHER_MIN_STOP = 2                         # >= 2 stopword hits
# >= 80% of tokens contain a letter; symbol('#' or '...')-to-word
# ratio <= 10%
GOPHER_ALPHA_NUM, GOPHER_ALPHA_DEN = 4, 5
GOPHER_SYM_NUM, GOPHER_SYM_DEN = 1, 10


def q_llm_gopher_filter(spark, sf_dir):
    """Per-document rule verdicts + the final keep flag, all in
    whole-stage codegen (regexp counts over the space-padded lowered
    text — the llm/text.quality_scores technique; no interpreted
    higher-order functions): token-count band, mean-word-length band
    (3n <= sum_len <= 10n, where sum_len = len - n + 1 exactly
    because split(' ') partitions the string), minimum stopword
    hits, alpha-bearing token share, and symbol-to-word ratio."""
    import re

    from ..llm.text import STOPWORDS

    d = _t(spark, sf_dir, "documents")
    lowered = F.lower(F.trim("text"))
    n = F.size(F.split(lowered, " "))
    sum_len = F.length(lowered) - n + 1
    padded = F.concat(F.lit(" "), lowered, F.lit(" "))
    stop_re = ("(?<= )(?:" + "|".join(re.escape(w) for w in STOPWORDS)
               + ")(?= )")
    stop_hits = F.regexp_count(padded, F.lit(stop_re))
    # one count per token containing a letter: the lookbehind pins
    # the match to a token start, the lazy [^ ]*? consumes up to the
    # first letter, and the rest of the token cannot re-match (no
    # preceding space inside a token)
    alpha_toks = F.regexp_count(padded, F.lit("(?<= )[^ ]*?[a-z]"))
    hashes = (F.length(lowered)
              - F.length(F.regexp_replace(lowered, "#", "")))
    ellipses = F.regexp_count(lowered, F.lit(r"\.\.\."))
    sym = hashes + ellipses
    rules = {
        "r_len": n.between(GOPHER_TOK_MIN, GOPHER_TOK_MAX),
        "r_mwl": (sum_len >= GOPHER_MWL_MIN * n)
        & (sum_len <= GOPHER_MWL_MAX * n),
        "r_stop": stop_hits >= GOPHER_MIN_STOP,
        "r_alpha": alpha_toks * GOPHER_ALPHA_DEN >= n * GOPHER_ALPHA_NUM,
        "r_sym": sym * GOPHER_SYM_DEN <= n * GOPHER_SYM_NUM,
    }
    out = d.select("doc_id", n.cast("bigint").alias("n_tokens"),
                   *[v.alias(k) for k, v in rules.items()])
    keep = F.lit(True)
    for k in rules:
        keep = keep & F.col(k)
    return out.withColumn("keep", keep).orderBy("doc_id")


def _sql_llm_gopher_filter() -> str:
    from ..llm.text import STOPWORDS
    toks = "string_split(lower(trim(text)), ' ')"
    stop_list = ",".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({toks}) AS BIGINT) AS n,
         CAST(length(lower(trim(text))) - len({toks}) + 1 AS BIGINT)
           AS sum_len,
         CAST(len(list_filter({toks}, t -> t IN ({stop_list})))
              AS BIGINT) AS stop_hits,
         CAST(len(list_filter({toks}, t -> regexp_matches(t, '[a-z]')))
              AS BIGINT) AS alpha_toks,
         CAST(length(lower(trim(text)))
              - length(replace(lower(trim(text)), '#', ''))
              + len(regexp_extract_all(lower(trim(text)), '\\.\\.\\.'))
              AS BIGINT) AS sym
  FROM documents),
rules AS (
  SELECT doc_id, n AS n_tokens,
         n BETWEEN {GOPHER_TOK_MIN} AND {GOPHER_TOK_MAX} AS r_len,
         sum_len >= {GOPHER_MWL_MIN} * n
           AND sum_len <= {GOPHER_MWL_MAX} * n AS r_mwl,
         stop_hits >= {GOPHER_MIN_STOP} AS r_stop,
         alpha_toks * {GOPHER_ALPHA_DEN} >= n * {GOPHER_ALPHA_NUM}
           AS r_alpha,
         sym * {GOPHER_SYM_DEN} <= n * {GOPHER_SYM_NUM} AS r_sym
  FROM base)
SELECT doc_id, n_tokens, r_len, r_mwl, r_stop, r_alpha, r_sym,
       (r_len AND r_mwl AND r_stop AND r_alpha AND r_sym) AS keep
FROM rules ORDER BY doc_id
"""


TOP2_MAX_BP = 2000      # Gopher: top 2-gram share <= 0.20
DUP5_MAX_BP = 1500      # Gopher: duplicate 5-gram fraction <= 0.15


def _gram_col(n: int):
    """Word n-grams WITH multiplicity (llm/dedup.shingles is the
    distinct-set form used for Jaccard; repetition needs counts)."""
    toks = F.split(F.lower(F.trim("text")), " ")
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(k >= 1, grams).otherwise(
        F.array().cast("array<string>"))


def q_llm_repetition(spark, sf_dir):
    """Per-document repetition profile + the composed keep flag."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim("text")), " "))
        .cast("bigint").alias("n_tokens"))

    def gram_counts(n):
        return (d.select("doc_id", F.explode(_gram_col(n)).alias("g"))
                .groupBy("doc_id", "g")
                .agg(F.count(F.lit(1)).alias("c")))

    top2 = (gram_counts(2).groupBy("doc_id")
            .agg(F.max("c").alias("top2_count")))
    dup5 = (gram_counts(5).groupBy("doc_id")
            .agg(F.sum(F.when(F.col("c") >= 2, F.col("c"))
                       .otherwise(0)).alias("dup5"),
                 F.sum("c").alias("pos5")))
    out = (base.join(top2, "doc_id", "left")
           .join(dup5, "doc_id", "left")
           .select(
               "doc_id", "n_tokens",
               F.coalesce("top2_count", F.lit(0)).alias("top2_count"),
               F.expr("coalesce(top2_count, 0) * 2 * 10000 "
                      "div n_tokens").alias("top2_share_bp"),
               F.expr("CASE WHEN coalesce(pos5, 0) > 0 THEN "
                      "coalesce(dup5, 0) * 10000 div pos5 "
                      "ELSE CAST(0 AS BIGINT) END")
               .alias("dup5_share_bp")))
    return (out.select(
        "*",
        ((F.col("top2_share_bp") <= TOP2_MAX_BP)
         & (F.col("dup5_share_bp") <= DUP5_MAX_BP)).alias("keep"))
        .orderBy("doc_id"))


def _sql_llm_repetition() -> str:
    toks = "string_split(lower(trim(text)), ' ')"
    g2 = ("UNNEST(list_transform(generate_series(1, len(ws) - 1), "
          "i -> ws[i] || ' ' || ws[i+1]))")
    g5 = ("UNNEST(list_transform(generate_series(1, len(ws) - 4), "
          "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' "
          "|| ws[i+3] || ' ' || ws[i+4]))")
    return f"""
WITH base AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens,
         {toks} AS ws
  FROM documents),
c2 AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, {g2} AS g FROM base WHERE len(ws) >= 2)
  GROUP BY doc_id, g),
t2 AS (SELECT doc_id, MAX(c) AS top2_count FROM c2 GROUP BY doc_id),
c5 AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, {g5} AS g FROM base WHERE len(ws) >= 5)
  GROUP BY doc_id, g),
d5 AS (SELECT doc_id,
              SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup5,
              SUM(c) AS pos5
       FROM c5 GROUP BY doc_id),
prof AS (
  SELECT b.doc_id, b.n_tokens,
         CAST(COALESCE(t2.top2_count, 0) AS BIGINT) AS top2_count,
         CAST(COALESCE(t2.top2_count, 0) * 2 * 10000
              // b.n_tokens AS BIGINT) AS top2_share_bp,
         CAST(CASE WHEN COALESCE(d5.pos5, 0) > 0
                   THEN COALESCE(d5.dup5, 0) * 10000 // d5.pos5
                   ELSE 0 END AS BIGINT) AS dup5_share_bp
  FROM base b
  LEFT JOIN t2 ON t2.doc_id = b.doc_id
  LEFT JOIN d5 ON d5.doc_id = b.doc_id)
SELECT *, (top2_share_bp <= {TOP2_MAX_BP}
           AND dup5_share_bp <= {DUP5_MAX_BP}) AS keep
FROM prof ORDER BY doc_id
"""


def q_llm_vocab_stats(spark, sf_dir):
    """Per-SOURCE vocabulary profile — the corpus-analysis numbers a
    tokenizer/mixture design reads first: token count, distinct
    vocabulary size, hapax legomena (frequency-1 tokens, the Zipf
    tail mass), the modal token's share in basis points, and the
    type-token ratio in basis points.  All integers and truncating
    divisions — bit-exact oracle.

    Scale shape: one explode, counts keyed (source, token) with
    map-side combine, then one source-keyed aggregate — vocabulary-
    sized state per source, never corpus-sized."""
    d = _t(spark, sf_dir, "documents")
    toks = (d.select("source",
                     F.explode(F.split(F.lower(F.trim("text")), " "))
                     .alias("w"))
            .groupBy("source", "w")
            .agg(F.count(F.lit(1)).alias("c")))
    return (toks.groupBy("source")
            .agg(F.sum("c").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_vocab"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .alias("n_hapax"),
                 F.max("c").alias("top_count"))
            .select("source", "n_tokens", "n_vocab", "n_hapax",
                    F.expr("top_count * 10000 div n_tokens")
                    .alias("top_share_bp"),
                    F.expr("n_vocab * 10000 div n_tokens")
                    .alias("ttr_bp"))
            .orderBy("source"))


SQL_LLM_VOCAB_STATS = """
WITH toks AS (
  SELECT source, UNNEST(string_split(lower(trim(text)), ' ')) AS w
  FROM documents),
c AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax,
       CAST(MAX(c) * 10000 // SUM(c) AS BIGINT) AS top_share_bp,
       CAST(COUNT(*) * 10000 // SUM(c) AS BIGINT) AS ttr_bp
FROM c GROUP BY source ORDER BY source
"""

# ------------------------------------- DSIR importance scoring ------

# constants + helpers live in llm/text.py (shared with the
# streaming scorer, streaming/jobs.dsir_score_stream)
from ..llm.text import (DSIR_B, DSIR_SCALE,  # noqa: E402,F401
                        dsir_doc_scores, dsir_weights)


def q_llm_dsir_score(spark, sf_dir):
    """Data-selection importance scoring in the DSIR shape (Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling"): hash every token into DSIR_B buckets, estimate
    per-feature target (source='src0') vs raw (everything else)
    frequencies with add-one smoothing, and score each raw document
    by its mean per-token importance ratio — high = looks like the
    target distribution.  Log-free rational twin of the log-ratio
    (the rarity_scores / lm_score precedent — same ranking signal,
    zero transcendentals in checked outputs): the per-feature weight
    is the exact integer

        w(f) = ((ct+1) · (NR+B) · 10000) div ((cr+1) · (NT+B))

    and the per-doc score is sum(w) div n_tok — bigint end-to-end,
    bit-exact across engines.

    Scale shape: token hashing is a projection; the two count
    aggregates are map-side combined; the weight table is AT MOST
    DSIR_B = 4096 rows — bounded by a constant, not by data — so
    the forced broadcast back onto the token stream is safe at any
    corpus size (the corpus never shuffles).  Range bound: the
    weight numerator (ct+1)·(NR+B)·10^4 must stay below 2^63.  With
    balanced buckets (ct ≈ NT/DSIR_B) that is NT·NR ≲ 3.8·10^18;
    the assumption-free worst case (one bucket holding every target
    token, ct = NT) is NT·NR ≲ 9.2·10^14.  Past either bound, drop
    DSIR_SCALE a decade per decade of growth or move the two scaled
    products to DECIMAL(38,0) — the estimator is unchanged, but do
    it in BOTH engines: non-ANSI Spark wraps int64 silently while
    DuckDB raises, so an overflow is a cross-engine divergence the
    oracle only catches once the data is big enough to trip it."""
    d = _t(spark, sf_dir, "documents")
    target = d.filter(F.col("source") == "src0")
    raw = d.filter(F.col("source") != "src0")
    return dsir_doc_scores(raw, dsir_weights(target, raw))


SQL_LLM_DSIR_SCORE = f"""
WITH tl AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
           % {DSIR_B} AS f
  FROM (SELECT doc_id, source,
               UNNEST(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''),
ct AS (SELECT f, COUNT(*) AS ct FROM tl
       WHERE source = 'src0' GROUP BY f),
cr AS (SELECT f, COUNT(*) AS cr FROM tl
       WHERE source <> 'src0' GROUP BY f),
tot AS (SELECT
  (SELECT COUNT(*) FROM tl WHERE source = 'src0') AS nt,
  (SELECT COUNT(*) FROM tl WHERE source <> 'src0') AS nr),
w AS (
  SELECT f,
         ((COALESCE(ct, 0) + 1) * (nr + {DSIR_B}) * {DSIR_SCALE})
           // ((COALESCE(cr, 0) + 1) * (nt + {DSIR_B})) AS w
  FROM ct FULL JOIN cr USING (f), tot)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
       CAST(SUM(w.w) AS BIGINT) AS wsum,
       CAST(SUM(w.w) // COUNT(*) AS BIGINT) AS score_bp
FROM tl t JOIN w USING (f)
WHERE t.source <> 'src0'
GROUP BY t.doc_id
"""

MIX_BUCKET = 64      # docs per prefix-sum bucket (2^20 at scale)
MIX_SHARE_PCT = 80   # llm_mix_epochs: global budget, % of corpus


def _doc_tokens(spark, sf_dir):
    """(doc_id, source, tok): whitespace token counts — identical
    semantics to llm_token_count's ws_tokens column."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source",
        F.size(F.split(F.lower(F.trim(F.col("text"))), " "))
        .cast("long").alias("tok"))


def q_llm_mix_balanced(spark, sf_dir):
    """Balanced-domain mixture selection via a distributed prefix
    sum.  Selection rule: within each source, docs are taken in
    doc_id order while the running total BEFORE the doc is under the
    budget (so the crossing doc is included — every domain reaches
    its budget exactly once); budget = min(domain totals) div 2, the
    same for every domain.  Output: the selected docs with their
    running totals — the exact frame a downstream packer consumes.

    Plan shape (see module docstring): one shuffle to (source,
    bucket) for the bounded within-bucket window, one small
    aggregate + window over corpus/MIX_BUCKET rows for the offsets,
    one equi-join back on the keys the big side is already
    partitioned by, and a 1-row budget frame cross-joined (always
    broadcast).  No window partition ever exceeds MIX_BUCKET docs,
    no matter how skewed the domain sizes are."""
    t = _doc_tokens(spark, sf_dir)
    b = t.withColumn("bucket", F.expr(f"doc_id div {MIX_BUCKET}"))

    w_in = Window.partitionBy("source", "bucket").orderBy("doc_id")
    local = b.withColumn("local_cum", F.sum("tok").over(w_in))

    sums = b.groupBy("source", "bucket").agg(F.sum("tok").alias("bs"))
    w_off = Window.partitionBy("source").orderBy("bucket")
    offs = (sums
            .withColumn("off", F.sum("bs").over(w_off) - F.col("bs"))
            .select("source", "bucket", "off"))

    cum = (local.join(offs, ["source", "bucket"])
           .withColumn("cum_tok", F.col("local_cum") + F.col("off")))

    budget = (t.groupBy("source").agg(F.sum("tok").alias("total"))
              .agg(F.expr("min(total) div 2").alias("budget")))
    return (cum.crossJoin(F.broadcast(budget))
            .filter(F.col("cum_tok") - F.col("tok") < F.col("budget"))
            .select("doc_id", "source", "tok", "cum_tok"))


SQL_MIX_BALANCED = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
           AS tok
  FROM documents
), c AS (
  SELECT doc_id, source, tok,
         CAST(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id)
              AS BIGINT) AS cum_tok
  FROM t
), b AS (
  SELECT CAST(MIN(total) // 2 AS BIGINT) AS budget
  FROM (SELECT SUM(tok) AS total FROM t GROUP BY source)
)
SELECT doc_id, source, tok, cum_tok
FROM c, b
WHERE cum_tok - tok < budget
"""


def q_llm_mix_epochs(spark, sf_dir):
    """Data-constrained mixture plan: uniform target share per
    domain out of a global budget of MIX_SHARE_PCT% of corpus
    tokens; epochs = ceil(target / total) in exact integer
    arithmetic.  One corpus aggregate + a 1-row broadcast of the
    (grand total, domain count) pair."""
    t = _doc_tokens(spark, sf_dir)
    per = t.groupBy("source").agg(F.sum("tok").alias("total_tok"))
    g = per.agg(
        F.sum("total_tok").alias("grand"),
        F.count(F.lit(1)).alias("k"))
    return (per.crossJoin(F.broadcast(g))
            .withColumn("target_tok", F.expr(
                f"(grand * {MIX_SHARE_PCT} div 100) div k"))
            .withColumn("epochs", F.expr(
                "(target_tok + total_tok - 1) div total_tok"))
            .select("source", "total_tok", "target_tok", "epochs"))


SQL_MIX_EPOCHS = f"""
WITH t AS (
  SELECT source,
         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
           AS tok
  FROM documents
), per AS (
  SELECT source, SUM(tok) AS total_tok FROM t GROUP BY source
), g AS (
  SELECT SUM(total_tok) AS grand, COUNT(*) AS k FROM per
)
SELECT source, CAST(total_tok AS BIGINT) AS total_tok,
       CAST((grand * {MIX_SHARE_PCT} // 100) // k AS BIGINT)
         AS target_tok,
       CAST((((grand * {MIX_SHARE_PCT} // 100) // k) + total_tok - 1)
            // total_tok AS BIGINT) AS epochs
FROM per, g
"""


MIX_SQ_SCALE = 10 ** 8   # isqrt(n·10^8) ≈ √n·10^4 — α=0.5 weights


def q_llm_mix_temperature(spark, sf_dir):
    """Temperature-scaled domain sampling weights — w_s ∝ n_s^α with
    α = 0.5, the multilingual mixing rule (mBERT / XLM-R / mT5
    exponential smoothing): upsample small domains, damp the giant
    ones.  Emitted per source: total tokens, the α=1 proportional
    share (basis points), and the α=0.5 temperature weight (basis
    points) — the flattening is the delta between the two columns.

    The sqrt is EXACT-integer despite both engines computing it in
    doubles: s0 = floor(sqrt(double(n·10^8))) can be off by at most
    ±1 (the conversion error is ≤ 1 ulp relative, so the absolute
    error in s stays ≪ 1 for s < 2^52), and two integer correction
    steps — subtract 1 while s² > x, add 1 while (s+1)² ≤ x — land
    both engines on THE integer sqrt regardless of how their libm
    rounded.  All downstream arithmetic is bigint div.  (n·10^8
    must stay under 2^63: fine to ~9·10^10 tokens per domain; past
    that, widen to DECIMAL(38,0) — the snapshot-store pattern.)
    One corpus aggregate; the per-source frame is domain-count
    sized; the 1-row denominators broadcast."""
    t = _doc_tokens(spark, sf_dir)
    per = t.groupBy("source").agg(F.sum("tok").alias("total_tok"))
    x = F.col("total_tok") * F.lit(MIX_SQ_SCALE)
    s0 = F.floor(F.sqrt(x.cast("double"))).cast("bigint")
    s1 = s0 - F.when(s0 * s0 > x, F.lit(1)).otherwise(F.lit(0))
    s = s1 + F.when((s1 + 1) * (s1 + 1) <= x,
                    F.lit(1)).otherwise(F.lit(0))
    withs = per.withColumn("sq", s)
    g = withs.agg(F.sum("total_tok").alias("grand"),
                  F.sum("sq").alias("sq_sum"))
    return (withs.crossJoin(F.broadcast(g))
            .withColumn("share_bp",
                        F.expr("total_tok * 10000 div grand"))
            .withColumn("w_half_bp",
                        F.expr("sq * 10000 div sq_sum"))
            .select("source", "total_tok", "share_bp", "w_half_bp"))


SQL_MIX_TEMPERATURE = f"""
WITH t AS (
  SELECT source,
         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
           AS tok
  FROM documents
), per AS (
  SELECT source, CAST(SUM(tok) AS BIGINT) AS total_tok
  FROM t GROUP BY source
), sq AS (
  SELECT source, total_tok,
         (SELECT s1 + (CASE WHEN (s1 + 1) * (s1 + 1) <= x
                            THEN 1 ELSE 0 END)
          FROM (SELECT s0 - (CASE WHEN s0 * s0 > x
                                  THEN 1 ELSE 0 END) AS s1, x
                FROM (SELECT CAST(floor(sqrt(CAST(
                        total_tok * {MIX_SQ_SCALE} AS DOUBLE)))
                        AS BIGINT) AS s0,
                        total_tok * {MIX_SQ_SCALE} AS x))) AS sq
  FROM per
), g AS (
  SELECT SUM(total_tok) AS grand, SUM(sq) AS sq_sum FROM sq
)
SELECT source, total_tok,
       CAST(total_tok * 10000 // grand AS BIGINT) AS share_bp,
       CAST(sq * 10000 // sq_sum AS BIGINT) AS w_half_bp
FROM sq, g
"""

EPOCHS = 3        # epochs scheduled by llm_epoch_shuffle
SHUFFLE_SHARDS = 16   # ∝ corpus size at scale — see module docstring

CURR_TIERS = 4    # curriculum difficulty tiers


def q_llm_epoch_shuffle(spark, sf_dir):
    """Deterministic multi-epoch shard-and-shuffle schedule.  One
    Generate (epochs per doc), one projection (key, shard), one
    window over (epoch, shard) groups whose size the shard count
    bounds — see module docstring for the ∝-N shard argument."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = d.withColumn(
        "epoch",
        F.explode(F.array(*[F.lit(i).cast("long")
                            for i in range(EPOCHS)])))
    k = _md48(F.concat(F.lit("e"), F.col("epoch").cast("string"),
                       F.lit(":"), F.col("doc_id").cast("string")))
    keyed = (e.withColumn("shuffle_key", k)
             .withColumn("shard",
                         F.col("shuffle_key") % SHUFFLE_SHARDS))
    w = (Window.partitionBy("epoch", "shard")
         .orderBy("shuffle_key", "doc_id"))
    return (keyed.withColumn("pos", F.row_number().over(w))
            .select("epoch", "shard", "pos", "doc_id", "shuffle_key"))


SQL_EPOCH_SHUFFLE = f"""
WITH e AS (
  SELECT doc_id, i AS epoch
  FROM documents, LATERAL (SELECT unnest(range({EPOCHS})) AS i) u
), k AS (
  SELECT epoch, doc_id,
         CAST('0x' || substr(md5('e' || epoch || ':' || doc_id),
                             1, 12) AS BIGINT) AS shuffle_key
  FROM e
)
SELECT epoch, shuffle_key % {SHUFFLE_SHARDS} AS shard,
       ROW_NUMBER() OVER (
         PARTITION BY epoch, shuffle_key % {SHUFFLE_SHARDS}
         ORDER BY shuffle_key, doc_id) AS pos,
       doc_id, shuffle_key
FROM k
"""


def q_llm_curriculum(spark, sf_dir):
    """Length-curriculum tier assignment + intra-tier shuffle order.
    The tie-collapsed strict rank comes from cum_below's per-value
    count table (three bounded-partition prefix levels, integer all
    the way); the only forced broadcast is the one-row global count.
    The join back on the token-count value is a plain equi-join —
    the count table is value-domain-sized, AQE decides its side."""
    t = _doc_tokens(spark, sf_dir).select("doc_id", "tok")
    cb = cum_below(t, "tok").select(
        F.col("v").alias("tok"), "cum_lt")
    n = t.agg(F.count(F.lit(1)).alias("n_docs"))
    ranked = (t.join(cb, "tok")
              .crossJoin(F.broadcast(n))
              .withColumn("tier", F.expr(
                  f"({CURR_TIERS} * cum_lt) div n_docs"))
              .withColumn("shuffle_key", _md48(
                  F.concat(F.lit("c:"),
                           F.col("doc_id").cast("string"))))
              .withColumn("shard",
                          F.col("shuffle_key") % SHUFFLE_SHARDS))
    w = (Window.partitionBy("tier", "shard")
         .orderBy("shuffle_key", "doc_id"))
    return (ranked.withColumn("pos", F.row_number().over(w))
            .select("doc_id", "tok", "tier", "shard", "pos"))


SQL_CURRICULUM = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
           AS tok
  FROM documents
), r AS (
  SELECT doc_id, tok,
         CAST({CURR_TIERS} * (RANK() OVER (ORDER BY tok) - 1)
              // (SELECT COUNT(*) FROM t) AS BIGINT) AS tier,
         CAST('0x' || substr(md5('c:' || doc_id), 1, 12) AS BIGINT)
           AS shuffle_key
  FROM t
)
SELECT doc_id, tok, tier,
       shuffle_key % {SHUFFLE_SHARDS} AS shard,
       ROW_NUMBER() OVER (
         PARTITION BY tier, shuffle_key % {SHUFFLE_SHARDS}
         ORDER BY shuffle_key, doc_id) AS pos
FROM r
"""


def q_llm_seq_pack_bestfit(spark, sf_dir):
    """BEST-fit-decreasing sequence packing — the quality tier of
    the packing family (llm_seq_pack = first-fit-decreasing,
    llm_seq_pack_nextfit = next-fit): each document goes to the open
    bin with the SMALLEST remaining capacity that still fits (ties →
    lowest bin index), minimizing the slack each placement strands.
    Same distribution contract as the siblings: md5-hash-sharded,
    one sequential ``applyInPandas`` pass per shard (packing is
    inherently sequential within a bin; the shard is the parallel
    unit and bins never span shards), identical output schema.  The
    oracle replays the SAME free-list recursive walk as
    llm_seq_pack's, with the first-fit LATERAL swapped for the
    argmin: ``list_position(rems, list_min(list_filter(rems,
    r -> r >= n)))`` — first position of the minimal fitting
    remainder, NULL (→ new bin) when nothing fits."""
    import pandas as pd


    d = _t(spark, sf_dir, "documents")
    n_shards = 16
    toks = F.size(F.split(F.lower(F.trim("text")), " "))
    base = d.select(
        "doc_id",
        F.least(toks, F.lit(PACK_CAPACITY)).cast("int").alias("n_tok"),
        (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                            1, 12), 16, 10).cast("bigint")
         % n_shards).cast("int").alias("shard"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tok", "doc_id"],
                              ascending=[False, True]).reset_index(drop=True)
        bins: list[int] = []   # remaining capacity per bin
        out_bin, out_off = [], []
        for n in pdf["n_tok"]:
            n = int(n)
            best = -1
            for i, rem in enumerate(bins):   # best fit, first-on-tie
                if rem >= n and (best < 0 or rem < bins[best]):
                    best = i
            if best >= 0:
                out_bin.append(best)
                out_off.append(PACK_CAPACITY - bins[best])
                bins[best] -= n
            else:
                out_bin.append(len(bins))
                out_off.append(0)
                bins.append(PACK_CAPACITY - n)
        pdf["bin"] = out_bin
        pdf["off"] = out_off
        return pdf[["shard", "doc_id", "n_tok", "bin", "off"]]

    return (base.groupBy("shard").applyInPandas(
        pack, schema="shard int, doc_id long, n_tok int, bin int, off int"))


def _sql_seq_pack_bestfit() -> str:
    return f"""
WITH RECURSIVE ordered AS (
  SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) % 16 AS INT) AS shard,
         doc_id,
         CAST(least(len(string_split(lower(trim(text)), ' ')),
                    {PACK_CAPACITY}) AS INT) AS n_tok,
         ROW_NUMBER() OVER (
           PARTITION BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 12) AS BIGINT) % 16
           ORDER BY least(len(string_split(lower(trim(text)), ' ')),
                          {PACK_CAPACITY}) DESC, doc_id) AS rn
  FROM documents),
walk AS (
  -- best-fit replayed exactly: same free-list state as the
  -- first-fit oracle, argmin placement instead of first-fit
  SELECT shard, doc_id, n_tok, rn,
         0 AS bin, 0 AS off, [{PACK_CAPACITY} - n_tok] AS rems
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.doc_id, o.n_tok, o.rn,
         CASE WHEN fit.idx IS NOT NULL THEN fit.idx - 1
              ELSE len(w.rems) END,
         CASE WHEN fit.idx IS NOT NULL
              THEN {PACK_CAPACITY} - w.rems[fit.idx] ELSE 0 END,
         CASE WHEN fit.idx IS NOT NULL
              THEN w.rems[:fit.idx-1] || [w.rems[fit.idx] - o.n_tok]
                   || w.rems[fit.idx+1:]
              ELSE w.rems || [{PACK_CAPACITY} - o.n_tok] END
  FROM walk w
  JOIN ordered o ON o.shard = w.shard AND o.rn = w.rn + 1
  CROSS JOIN LATERAL (
    SELECT list_position(w.rems,
             list_min(list_filter(w.rems, r -> r >= o.n_tok)))
           AS idx) fit)
SELECT shard, doc_id, n_tok, CAST(bin AS INT) AS bin,
       CAST(off AS INT) AS off
FROM walk
"""


def q_llm_pack_efficiency(spark, sf_dir):
    """The packing-quality LADDER, measured: one report row per
    strategy (best-fit / first-fit / next-fit over the identical
    md5-sharded decreasing order) with its bin count, packed tokens,
    and utilization in basis points — the comparison a batch-shape
    tuner actually reads (packed_tok is identical across strategies
    by construction; n_bins and util_bp are where they differ).
    Integer-exact: utilization = packed·10^4 div (bins·capacity).
    The oracle nests all three recursive free-list/state walks as
    derived tables under one WITH — the sql_dedup_groups nesting
    trick, three replays in one statement."""
    parts = [fn(spark, sf_dir).withColumn("strategy", F.lit(nm))
             for nm, fn in (("best_fit", q_llm_seq_pack_bestfit),
                            ("first_fit", q_seq_pack),
                            ("next_fit", q_seq_pack_nextfit))]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (u.groupBy("strategy")
            .agg(F.countDistinct("shard", "bin").alias("n_bins"),
                 F.sum("n_tok").cast("bigint").alias("packed_tok"))
            .withColumn("util_bp", F.expr(
                f"packed_tok * 10000 div (n_bins * {PACK_CAPACITY})"))
            .orderBy("strategy"))


def _sql_pack_efficiency() -> str:
    return f"""
WITH bf AS (SELECT * FROM ({_sql_seq_pack_bestfit()}) x),
ff AS (SELECT * FROM ({SQL_SEQ_PACK}) x),
nf AS (SELECT * FROM ({SQL_SEQ_PACK_NEXTFIT}) x),
u AS (
  SELECT 'best_fit' AS strategy, shard, bin, n_tok FROM bf
  UNION ALL SELECT 'first_fit', shard, bin, n_tok FROM ff
  UNION ALL SELECT 'next_fit', shard, bin, n_tok FROM nf)
SELECT strategy,
       CAST(COUNT(DISTINCT (shard, bin)) AS BIGINT) AS n_bins,
       CAST(SUM(n_tok) AS BIGINT) AS packed_tok,
       CAST(SUM(n_tok) * 10000
            // (COUNT(DISTINCT (shard, bin)) * {PACK_CAPACITY})
            AS BIGINT) AS util_bp
FROM u GROUP BY strategy ORDER BY strategy
"""


register({
    "text_stats":        {"fn": q_text_stats,        "sql": SQL_TEXT_STATS},
    "llm_lang_id":           {"fn": q_lang_id,           "sql": SQL_LANG_ID},
    "llm_quality":           {"fn": q_quality,           "sql": SQL_QUALITY},
    "llm_token_count":   {"fn": q_token_count,      "sql": SQL_TOKEN_COUNT},
    "llm_tfidf_topk":   {"fn": q_tfidf_topk,     "sql": sql_tfidf_topk()},
    "llm_ngram_topk":   {"fn": q_ngram_topk,     "sql": sql_ngram_topk()},
    "llm_normalize":    {"fn": q_text_normalize, "sql": sql_text_normalize()},
    "llm_seq_pack":     {"fn": q_seq_pack,       "sql": SQL_SEQ_PACK},
    "llm_chunk":        {"fn": q_chunk,          "sql": SQL_CHUNK},
    "llm_seq_pack_nextfit": {"fn": q_seq_pack_nextfit,
                             "sql": SQL_SEQ_PACK_NEXTFIT},
    "llm_pii_scrub":    {"fn": q_pii_scrub,     "sql": SQL_PII_SCRUB},
    "llm_feature_hash": {"fn": q_feature_hash,  "sql": SQL_FEATURE_HASH},
    "llm_repetition":   {"fn": q_repetition,    "sql": SQL_REPETITION},
    "llm_rarity":       {"fn": q_llm_rarity,   "sql": SQL_LLM_RARITY},
    "llm_bpe_merges":   {"fn": q_llm_bpe_merges,
                         "sql": _sql_bpe_merges()},
    "llm_bpe_encode":   {"fn": q_llm_bpe_encode,
                         "sql": _sql_bpe_encode()},
    "udtf_chunks":      {"fn": q_udtf_chunks,
                         "sql": _sql_udtf_chunks()},
    "llm_lm_score":     {"fn": q_lm_score,         "sql": SQL_LM_SCORE},
    "pmi_bigrams":      {"fn": q_pmi_bigrams,      "sql": SQL_PMI_BIGRAMS},
    "source_mix_weights": {"fn": q_source_mix_weights,
                           "sql": SQL_SOURCE_MIX_WEIGHTS},
    "class_weights":      {"fn": q_class_weights,
                           "sql": SQL_CLASS_WEIGHTS},
    "doc_length_hist":    {"fn": q_doc_length_hist,
                           "sql": SQL_DOC_LENGTH_HIST},
    "llm_gopher_filter": {"fn": q_llm_gopher_filter,
                          "sql": _sql_llm_gopher_filter()},
    "llm_gopher_repetition": {"fn": q_llm_repetition,
                              "sql": _sql_llm_repetition()},
    "llm_vocab_stats": {"fn": q_llm_vocab_stats,
                        "sql": SQL_LLM_VOCAB_STATS},
    "llm_dsir_score":   {"fn": q_llm_dsir_score,
                         "sql": SQL_LLM_DSIR_SCORE},
    "llm_mix_balanced": {"fn": q_llm_mix_balanced,
                         "sql": SQL_MIX_BALANCED},
    "llm_mix_epochs": {"fn": q_llm_mix_epochs,
                       "sql": SQL_MIX_EPOCHS},
    "llm_mix_temperature": {"fn": q_llm_mix_temperature,
                            "sql": SQL_MIX_TEMPERATURE},
    "llm_epoch_shuffle": {"fn": q_llm_epoch_shuffle,
                          "sql": SQL_EPOCH_SHUFFLE},
    "llm_curriculum": {"fn": q_llm_curriculum,
                       "sql": SQL_CURRICULUM},
    "llm_seq_pack_bestfit": {"fn": q_llm_seq_pack_bestfit,
                             "sql": _sql_seq_pack_bestfit()},
    "llm_pack_efficiency": {"fn": q_llm_pack_efficiency,
                            "sql": _sql_pack_efficiency()},
})
