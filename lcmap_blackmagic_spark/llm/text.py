"""Text analysis over a document table — all built-in JVM expressions
(no Python UDFs): tokenization, quality scoring, n-gram-marker
language ID, content fingerprinting.

Tokenization contract (shared with dedup + the SQL oracles):
``split(lower(trim(text)), ' ')`` — single-space word split of the
lowercased, trimmed text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Marker tokens per language for the n-gram-heuristic language ID.
# Real corpora would use character n-gram profiles; the marker-set
# argmax is the same plan shape (explode → match → score → argmax).
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "es": ("el", "los", "las", "y"),
    "zh": ("de5", "shi4", "le5", "he2"),
}


def tokens(text_col: Column | str = "text") -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), " ")


def token_count(text_col: Column | str = "text") -> Column:
    return F.size(tokens(text_col))


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword quality features per document.

    Codegen-only string arithmetic — no higher-order functions (HOFs
    evaluate interpreted; SCALE.md measures them 8-30× slower):

    - Σ len(token) ≡ len(lowered) − (n_tokens − 1): split(' ')
      partitions the lowered string and each separator is one char,
      so the mean needs no per-token loop;
    - stopword hits via a zero-width-boundary regex over the
      space-padded lowered text (lookarounds don't consume, so
      adjacent stopwords all match) — identical to exact token
      equality since tokens are the maximal runs between spaces.
    """
    lowered = F.lower(F.trim(F.col(text_col)))
    n_tokens = F.size(F.split(lowered, " "))
    sum_len = (F.length(lowered) - n_tokens + 1).cast("double")
    padded = F.concat(F.lit(" "), lowered, F.lit(" "))
    import re
    # re.escape each word: a future stopword containing a regex
    # metachar must stay a literal, or the count silently diverges
    # from the oracle's exact token equality
    stop_re = ("(?<= )(?:" + "|".join(re.escape(w) for w in STOPWORDS)
               + ")(?= )")
    n_stop = F.regexp_count(padded, F.lit(stop_re))
    n_punct = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "[.,;:!?]", ""))
    return df.withColumns({
        "n_tokens": n_tokens,
        "n_chars_obs": F.length(F.col(text_col)),
        "mean_token_len": F.round(sum_len / n_tokens, 6),
        "stopword_ratio": F.round(n_stop / n_tokens, 6),
        "punct_ratio": F.round(n_punct / F.length(F.col(text_col)), 6),
    })


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language ID: score each language by marker hits,
    argmax with deterministic tie-break (score desc, lang asc);
    'und' when no marker fires."""
    toks = tokens(text_col)
    scored = df.withColumns({
        f"score_{lang}": F.size(F.filter(toks, lambda t: t.isin(*marks)))
        for lang, marks in LANG_MARKERS.items()
    })
    # argmax via greatest + case chain in asc-lang order (deterministic)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return scored.withColumn("pred_lang", pred)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprints: full-text md5 plus a winnowed shingle
    fingerprint (min md5 over 3-word shingles — a rolling-hash-style
    document signature stable under small edits at the margins)."""
    from .dedup import shingles
    sh = shingles(text_col, 3)
    return df.withColumns({
        "fp_md5": F.md5(F.col(text_col).cast("binary")),
        "fp_shingle": F.array_min(
            F.transform(sh, lambda s: F.md5(s.cast("binary")))),
    })


RARITY_SCALE = 1_000_000


def rarity_scores(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Unigram-LM document quality signal (the CCNet-style "is this
    text statistically typical of the corpus" score): each token's
    surprisal proxy is the corpus-inverse-frequency ``N / count(tok)``
    and a document scores the MEAN over its tokens — high = many rare
    tokens (gibberish/IDs/boilerplate-free), low = common words. The
    classic form uses ``-log p``; this is the repo's log-free rational
    twin (no transcendentals in checked outputs — registry.py), kept
    cross-engine-exact by integer-scaling: per-token value is
    ``(N * 1e6) div count`` (pure bigint arithmetic, order-free sum),
    with ONE double division at the end.

    Scale shape: the vocabulary aggregate is map-side combined and
    tiny relative to the corpus (Heaps' law), so it broadcasts to the
    token stream — the corpus side never shuffles. At an extreme
    vocabulary (> ~100M terms) drop the two broadcast hints and let
    AQE pick the shuffle join.

    Range bound: the 1e6 integer scaling holds to ~9×10^12 corpus
    tokens (N·scale < 2^63) and per-doc sums of ≤ ~1000 hapax tokens
    at that N; beyond that, drop RARITY_SCALE a decade per decade of
    corpus growth (costing one digit of score resolution) or move the
    two scaled expressions to DECIMAL(38,0) — the estimator is
    unchanged either way.
    """
    toks = (df.select(F.col(id_col),
                      F.explode(F.split(F.lower(F.col(text_col)),
                                        "[^a-z]+")).alias("tok"))
            .filter(F.col("tok") != ""))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("n_total"))
    inv = F.expr(f"(n_total * {RARITY_SCALE}) div c")
    # the count-table join is UNFORCED (token-vocabulary sized,
    # unbounded at corpus scale — AQE broadcasts it only while it
    # fits); `total` stays an explicit one-row broadcast
    return (toks.join(counts, "tok")
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(inv).alias("sinv"))
            .select(id_col, "n_tokens",
                    F.round(F.col("sinv").cast("double")
                            / (F.col("n_tokens") * F.lit(float(RARITY_SCALE))),
                            6).alias("rarity")))


def bpe_merges(df: DataFrame, n_merges: int = 8,
               text_col: str = "text") -> DataFrame:
    """Learn the first ``n_merges`` byte-pair-encoding merges from the
    corpus — the statistics pass of tokenizer training (Sennrich et
    al. 2016), Spark-first: the corpus collapses to a (word, count)
    table ONCE (BPE never merges across word boundaries, so word
    frequencies are sufficient statistics — the explode/aggregate
    touches the corpus a single time and every merge round then runs
    on the tiny vocabulary table). Each round is fully declarative:
    adjacent-pair explode → count aggregate → 1-row argmax (total
    DESC, pair ASC — deterministic tie-break) → broadcast cross join
    → literal two-pass replace applying the merge to every word.

    Merge application is ``replace`` run TWICE: single-pass literal
    replace skips an occurrence whose leading space was consumed by
    the previous match (' a b a b ' merges 1st and 3rd occurrence
    only); the survivors are isolated after pass one, so the second
    pass completes them — the result equals greedy left-to-right
    non-overlapping BPE ('a a a' → 'aa a', never 'a aa'), and both
    engines share the scan-after-replacement semantics, so the DuckDB
    oracle replays it byte-for-byte.

    Output: (rank, pair, merged, total) — one row per learned merge,
    rank 1 = first merge. The plan is ``n_merges`` chained rounds in
    ONE job; at a web-corpus vocabulary (~10⁷ words) each round is a
    narrow aggregate over the vocab table, and the argmax is a
    TakeOrdered, never a full sort."""
    toks = (df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                        "[^a-z]+")).alias("w"))
            .filter(F.col("w") != ""))
    vocab = toks.groupBy("w").agg(F.sum(F.lit(1)).alias("cnt"))
    # ONE corpus pass: the (word, count) vocabulary is tiny (Heaps'
    # law), so it is localCheckpoint-ed and every merge round reads
    # the materialized vocab instead of re-running the corpus explode
    # through r rounds of lineage (measured 9.0 -> ~1.5 s at sf0.1;
    # without the checkpoint round r recomputes rounds 1..r-1)
    # lazy (r15): the whole merge pyramid executes under the caller's
    # single action — each round's truncated table materializes there
    # on first touch; the r14 eager form ran one blocking job per
    # round (n_merges + 1 sequential jobs before the action)
    state = vocab.select(
        F.concat(F.lit(" "),
                 F.regexp_replace("w", "(.)", "$1 ")).alias("sym"),
        "cnt").localCheckpoint(eager=False)
    t = F.split(F.trim(F.col("sym")), " ")
    pair_arr = F.when(
        F.size(t) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.concat(F.element_at(t, i), F.lit(" "),
                                       F.element_at(t, i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    best_rows = []
    for r in range(1, n_merges + 1):
        counts = (state.select(F.explode(pair_arr).alias("pair"), "cnt")
                  .groupBy("pair").agg(F.sum("cnt").alias("total")))
        best = (counts.orderBy(F.col("total").desc(), F.col("pair"))
                .limit(1)
                .select(F.lit(r).alias("merge_rank"), "pair",
                        F.replace(F.col("pair"), F.lit(" "), F.lit(""))
                        .alias("merged"), "total"))
        best_rows.append(best)
        pat = F.concat(F.lit(" "), F.col("pair"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("merged"), F.lit(" "))
        once = F.replace(F.col("sym"), pat, rep)
        state = (state.crossJoin(F.broadcast(best))
                 .select(F.replace(once, pat, rep).alias("sym"), "cnt")
                 .localCheckpoint(eager=False))
    out = best_rows[0]
    for b in best_rows[1:]:
        out = out.unionByName(b)
    return out


def bpe_encode(df: DataFrame, merges: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Apply learned BPE merges (the output of ``bpe_merges``) to the
    corpus and count the resulting tokens per document — the encode
    half of the tokenizer. Each word char-splits and the merges
    replay IN RANK ORDER as chained two-pass literal replaces (the
    exact operation training used, so train→encode round-trips);
    token count per word = spaces remaining + 1, summed per doc as
    pure integer arithmetic.

    Plan shape: merges is k rows (collected to literals — a learned
    tokenizer IS a constant at apply time, exactly like a broadcast
    model); the corpus pass is ONE projection with 2k chained
    replaces inside whole-stage codegen, no shuffle except the final
    per-doc sum."""
    ranked = sorted(merges.collect(), key=lambda r: r["merge_rank"])
    words = (df.select(F.col(id_col),
                       F.explode(F.split(F.lower(F.col(text_col)),
                                         "[^a-z]+")).alias("w"))
             .filter(F.col("w") != ""))
    sym = F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 "))
    for r in ranked:
        pat = F.lit(f" {r['pair']} ")
        rep = F.lit(f" {r['merged']} ")
        sym = F.replace(F.replace(sym, pat, rep), pat, rep)
    n_tok = (F.length(F.trim(sym))
             - F.length(F.replace(F.trim(sym), F.lit(" "), F.lit("")))
             + 1)
    return (words.select(F.col(id_col), n_tok.alias("nt"))
            .groupBy(id_col)
            .agg(F.sum("nt").alias("n_bpe_tokens"),
                 F.count(F.lit(1)).alias("n_words")))


# ---- DSIR importance scoring — shared by registry.text (batch
# ---- query) and the streaming scorer (streaming/jobs.dsir_score_stream)
DSIR_B = 4096       # hashed feature buckets
DSIR_SCALE = 10_000


def dsir_features(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, f): every token of every document hashed into the
    DSIR_B-bucket feature space (md5-derived — engine-portable).
    One explode + projection, no shuffle."""
    return (df.select(F.col(id_col),
                      F.explode(tokens(text_col)).alias("tok"))
            .filter(F.col("tok") != "")
            .select(F.col(id_col),
                    (F.conv(F.substring(F.md5(F.col("tok")
                                              .cast("binary")), 1, 8),
                            16, 10).cast("bigint") % DSIR_B)
                    .alias("f")))


def dsir_weights(target_docs: DataFrame,
                 raw_docs: DataFrame) -> DataFrame:
    """The frozen DSIR weight table (f, w) — EXACTLY DSIR_B rows,
    bounded by a constant: per-feature smoothed target/raw frequency
    ratio in exact integer basis points,

        w(f) = ((ct+1) · (NR+B) · 10000) div ((cr+1) · (NT+B)).

    ALL DSIR_B buckets are materialized (left joins onto the full
    feature range), so features unseen at freeze time still carry
    their add-one-smoothing default — the streaming scorer must
    never silently drop a token whose bucket no frozen corpus
    happened to populate (an inner join against a sparse table did
    exactly that; caught in review).  See
    registry.text.q_llm_dsir_score for the estimator argument and
    the int64 headroom bound."""
    t = dsir_features(target_docs)
    r = dsir_features(raw_docs)
    spark = target_docs.sparkSession
    feats = spark.range(DSIR_B).select(F.col("id").alias("f"))
    ct = t.groupBy("f").agg(F.count(F.lit(1)).alias("ct"))
    cr = r.groupBy("f").agg(F.count(F.lit(1)).alias("cr"))
    tot = (t.agg(F.count(F.lit(1)).alias("nt"))
           .crossJoin(r.agg(F.count(F.lit(1)).alias("nr"))))
    return (feats.join(ct, "f", "left").join(cr, "f", "left")
            .select("f", F.coalesce("ct", F.lit(0)).alias("ct"),
                    F.coalesce("cr", F.lit(0)).alias("cr"))
            .crossJoin(F.broadcast(tot))
            .select("f", F.expr(
                f"((ct + 1) * (nr + {DSIR_B}) * {DSIR_SCALE}) div "
                f"((cr + 1) * (nt + {DSIR_B}))").alias("w")))


def dsir_doc_scores(docs: DataFrame, wtab: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """(id, n_tok, wsum, score_bp): per-document mean importance
    ratio against a weight table.  The broadcast is safe at any
    corpus size — wtab is ≤ DSIR_B = 4096 rows by construction."""
    return (dsir_features(docs, id_col)
            .join(F.broadcast(wtab), "f")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tok"),
                 F.sum("w").alias("wsum"))
            .select(id_col, "n_tok", "wsum",
                    F.expr("wsum div n_tok").alias("score_bp")))
