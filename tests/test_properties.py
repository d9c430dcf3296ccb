"""Property-based tests (hypothesis) for the pure relational helpers —
the reference has only example tests (SURVEY §5); properties pin the
full input domain. Each example batches its cases into one DataFrame
so the Spark round-trip cost is paid once per example, and example
counts stay small (Spark evaluation, not the generator, is the cost).
"""

import datetime
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lcmap_blackmagic_spark.functions.dates import (date_from_ordinal,
                                                    ordinal_from_date,
                                                    prediction_dates_array)
from lcmap_blackmagic_spark.operators.sampling import (class_targets,
                                                       stratified_sample)

SETTINGS = settings(max_examples=8, deadline=None,
                    suppress_health_check=[HealthCheck.function_scoped_fixture])


@SETTINGS
@given(st.lists(st.integers(min_value=1, max_value=1_000_000),
                min_size=1, max_size=50, unique=True))
def test_ordinal_date_roundtrip(spark, ordinals):
    df = spark.createDataFrame([(o,) for o in ordinals], "o int")
    out = df.select(
        "o",
        ordinal_from_date(date_from_ordinal(F.col("o"))).alias("back"),
        date_from_ordinal(F.col("o")).alias("d")).collect()
    for r in out:
        assert r["back"] == r["o"]
        # parity with python's proleptic calendar
        assert r["d"] == datetime.date.fromordinal(r["o"])


@SETTINGS
@given(st.lists(
    st.tuples(st.integers(min_value=700_000, max_value=730_000),
              st.integers(min_value=0, max_value=15_000),
              st.integers(min_value=1, max_value=12),
              st.integers(min_value=1, max_value=28)),
    min_size=1, max_size=20))
def test_prediction_dates_properties(spark, cases):
    rows = []
    for i, (s_ord, span, month, day) in enumerate(cases):
        s = datetime.date.fromordinal(s_ord)
        e = datetime.date.fromordinal(s_ord + span)
        rows.append((i, s.isoformat(), e.isoformat(), month, day))
    df = spark.createDataFrame(
        rows, "i int, sday string, eday string, m int, d int")
    for r in df.collect():
        got = (df.filter(F.col("i") == r["i"])
               .select(prediction_dates_array(
                   "sday", "eday", r["m"], r["d"]).alias("ds"))
               .first()["ds"])
        s = datetime.date.fromisoformat(r["sday"])
        e = datetime.date.fromisoformat(r["eday"])
        want = [datetime.date(y, r["m"], r["d"])
                for y in range(s.year, e.year + 1)
                if s <= datetime.date(y, r["m"], r["d"]) <= e]
        assert got == want


@SETTINGS
@given(st.dictionaries(st.integers(min_value=0, max_value=5),
                       st.integers(min_value=1, max_value=60),
                       min_size=1, max_size=6),
       st.integers(min_value=1, max_value=100),
       st.integers(min_value=0, max_value=5),
       st.integers(min_value=5, max_value=40))
def test_stratified_sample_respects_caps(spark, hist, target, cmin, cmax):
    rows = [(label, i) for label, n in hist.items() for i in range(n)]
    df = spark.createDataFrame(rows, "label int, rid int")
    total = len(rows)
    got = (stratified_sample(df, "label", target, cmin, cmax,
                             order_col="rid")
           .groupBy("label").count().collect())
    counts = {r["label"]: r["count"] for r in got}
    for label, n in hist.items():
        cap = min(max(math.ceil(target * (n / total)), cmin), cmax)
        # never more than the cap, and exactly min(cap, available)
        assert counts.get(label, 0) == min(cap, n)


# ---- round-5 operator laws (hypothesis) ---------------------------

@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 1000)),
                min_size=1, max_size=60),
       st.lists(st.tuples(st.integers(0, 30), st.integers(0, 1000),
                          st.sampled_from(["U", "D", "I"])),
                max_size=30))
def test_merge_into_laws(spark, target_rows, change_rows):
    """MERGE invariants on random UNFILTERED change sets — the full
    matched/unmatched matrix from the module docstring: matched D
    deletes, unmatched D no-ops, matched U updates, unmatched U is
    DROPPED (no resurrection), I upserts whether or not the key
    exists. Only the at-most-one-source-row-per-key precondition is
    enforced (as Delta does by erroring)."""
    import pyspark.sql.functions as F

    from lcmap_blackmagic_spark.operators.merge import merge_into
    tgt = {}
    for k, v in target_rows:
        tgt[k] = v
    seen, chg = set(), []
    for k, v, op in change_rows:
        if k in seen:
            continue  # precondition: one source row per key
        seen.add(k)
        chg.append((k, v, op))
    target = spark.createDataFrame(list(tgt.items()) or [(0, 0)],
                                   "k LONG, v LONG")
    if not tgt:
        target = target.filter("false")
    if chg:
        source = spark.createDataFrame(chg, "k LONG, v LONG, op STRING")
    else:
        source = spark.createDataFrame([], "k LONG, v LONG, op STRING")
    got = {r["k"]: r["v"] for r in merge_into(target, source, "k").collect()}
    want = dict(tgt)
    for k, v, op in chg:
        if op == "D":
            want.pop(k, None)
        elif op == "I":
            want[k] = v                       # insert or upsert
        elif k in tgt:
            want[k] = v                       # matched update
        # unmatched U: dropped — no resurrection
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, 10 ** 6), min_size=1, max_size=300))
def test_hll_permutation_and_duplication_invariance(spark, keys):
    """The HLL estimate depends only on the SET of keys: shuffling
    and duplicating rows never changes it (register MAX is
    idempotent/commutative)."""
    import random as _r

    from lcmap_blackmagic_spark.operators.sketches import hll_distinct
    base = spark.createDataFrame([(k,) for k in keys], "k LONG")
    dup = keys + keys[:: 2]
    _r.Random(7).shuffle(dup)
    mixed = spark.createDataFrame([(k,) for k in dup], "k LONG")
    a = hll_distinct(base.withColumn("g", F.lit(1)), ["g"], "k").collect()
    b = hll_distinct(mixed.withColumn("g", F.lit(1)), ["g"], "k").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


@given(n=st.integers(10, 300), frac=st.sampled_from([0.1, 0.2, 0.5]))
@settings(max_examples=8, deadline=None)
def test_train_test_split_hash_partitions_exactly(spark, n, frac):
    """The md5-coin holdout split: train ∪ test = input, train ∩
    test = ∅, membership deterministic across calls, and the test
    fraction lands near the requested one (the coin is 48-bit
    uniform on the id hash)."""
    from lcmap_blackmagic_spark.operators.sampling import \
        train_test_split_hash
    df = spark.range(n).selectExpr("id AS px", "id * 7 AS py",
                                   "id % 3 AS label")
    tr, te = train_test_split_hash(df, ["px", "py"], frac)
    tr_ids = sorted(r["px"] for r in tr.collect())
    te_ids = sorted(r["px"] for r in te.collect())
    assert sorted(tr_ids + te_ids) == list(range(n))
    assert not set(tr_ids) & set(te_ids)
    tr2, te2 = train_test_split_hash(df, ["px", "py"], frac)
    assert sorted(r["px"] for r in te2.collect()) == te_ids
    # Bernoulli(frac) over n draws: allow a generous 4-sigma band
    import math
    sigma = math.sqrt(n * frac * (1 - frac))
    assert abs(len(te_ids) - n * frac) <= 4 * sigma + 1


@SETTINGS
@given(st.data())
def test_winnow_guarantee_shared_run_yields_shared_fp(spark, data):
    """The MOSS winnowing guarantee: any shared word run of length
    ≥ WIN_W + WIN_K − 1 between two documents leaves at least one
    COMMON fingerprint, regardless of surrounding context."""
    from lcmap_blackmagic_spark.llm.dedup import (WIN_K, WIN_W,
                                                  winnow_fingerprints)
    words = st.text(alphabet="abcdef", min_size=1, max_size=4)
    run_len = WIN_W + WIN_K - 1
    run = data.draw(st.lists(words, min_size=run_len,
                             max_size=run_len + 4))
    ctx_a = data.draw(st.lists(words, min_size=0, max_size=10))
    ctx_b = data.draw(st.lists(words, min_size=0, max_size=10))
    doc_a = " ".join(ctx_a + run)
    doc_b = " ".join(run + ctx_b)
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)],
                               "doc_id long, text string")
    fps = winnow_fingerprints(df).collect()
    a = {r["fp"] for r in fps if r["doc_id"] == 1}
    b = {r["fp"] for r in fps if r["doc_id"] == 2}
    assert a & b, (doc_a, doc_b)


@SETTINGS
@given(st.lists(st.tuples(st.integers(1, 40), st.integers(0, 40)),
                min_size=1, max_size=60))
def test_pareto_skyline_matches_bruteforce(spark, xy):
    """The bucketed skyline plan must agree with the O(n²)
    definition: a distinct point survives iff no other point has
    x' ≥ x and y' ≥ y with one strict."""
    from pyspark.sql import Window

    from lcmap_blackmagic_spark.registry.analytics import SKY_BUCKETS

    pts = {}
    for x, y in xy:
        pts[(x, y)] = pts.get((x, y), 0) + 1
    want = {(x, y, n) for (x, y), n in pts.items()
            if not any((x2 >= x and y2 >= y and (x2 > x or y2 > y))
                       for (x2, y2) in pts)}

    # replicate q_pareto_skyline's plan over an arbitrary point set
    pdf = spark.createDataFrame(
        [(x, y, n) for (x, y), n in pts.items()],
        "x long, y long, n_docs long")
    lo, hi = pdf.agg(F.min("x"), F.max("x")).collect()[0]
    span = max(int(hi) - int(lo) + 1, 1)
    bx = ((F.col("x") - F.lit(int(lo))) * SKY_BUCKETS / span) \
        .cast("int")
    w = (Window.partitionBy("b").orderBy(F.desc("x"), F.desc("y"))
         .rowsBetween(Window.unboundedPreceding, -1))
    local = (pdf.withColumn("b", bx)
             .withColumn("pm", F.max("y").over(w))
             .filter(F.col("pm").isNull() | (F.col("pm") < F.col("y"))))
    bmax = {int(r["b"]): int(r["my"]) for r in
            (pdf.withColumn("b", bx).groupBy("b")
             .agg(F.max("y").alias("my")).collect())}
    suffix, best = {}, None
    for b in sorted(bmax, reverse=True):
        suffix[b] = best
        best = bmax[b] if best is None else max(best, bmax[b])
    expr = F.lit(None).cast("bigint")
    for b, s in suffix.items():
        if s is not None:
            expr = F.when(F.col("b") == b, F.lit(s)).otherwise(expr)
    got = {(r["x"], r["y"], r["n_docs"]) for r in
           (local.withColumn("hy", expr)
            .filter(F.col("hy").isNull() | (F.col("y") > F.col("hy")))
            .select("x", "y", "n_docs").collect())}
    assert got == want
