"""DSIR importance-resampling selection (`operators/selection.py`).

Pinned three independent ways: a pure-Python Counter twin implements
the full train→score math for exact mode (and, fed the Spark bucket
mapping, for hashed mode); a DuckDB SQL oracle re-derives exact-mode
scores dialect-independently; and planted-corpus tests assert the
selection behavior the operator exists for (target-like documents
win). Plan pins hold the 100 TB contract: broadcast model join, no
sort-merge, one shuffle for scoring.
"""

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sparvi_core_spark.operators.ranking import TOKEN_SPLIT_PATTERN
from sparvi_core_spark.operators.selection import (
    doc_features,
    importance_resample,
    merge_dsir_models,
    score_dsir,
    select_corpus,
    train_dsir,
)

TARGET = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the lazy dog sleeps while the quick fox runs"),
    (3, "quick brown foxes and lazy dogs in the meadow"),
]
RAW = [
    (10, "buy cheap pills online best price guaranteed now"),
    (11, "the quick brown fox visits the lazy dog again"),
    (12, "click here for cheap online deals best offers"),
    (13, "lazy dogs and quick foxes play in the meadow"),
    (14, "cheap cheap cheap pills pills online online now"),
    (15, "the dog and the fox are quick and lazy"),
    (16, "best price online now click here buy cheap"),
    (17, ""),
    (18, None),
]


def _py_tokens(text):
    return [t for t in re.split(TOKEN_SPLIT_PATTERN, text.lower()) if t]


def _py_features(text, ngram_n=2):
    toks = _py_tokens(text)
    feats = list(toks)
    for k in range(2, ngram_n + 1):
        feats += [
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        ]
    return feats


def _py_dsir_scores(target, raw, docs, alpha=1.0, ngram_n=2, bucket_of=None):
    """Independent Counter-based DSIR: returns {doc_id: log_w}."""
    enc = (lambda f: bucket_of[f]) if bucket_of else (lambda f: f)
    tc, rc = Counter(), Counter()
    for _, text in target:
        tc.update(enc(f) for f in _py_features(text, ngram_n))
    for _, text in raw:
        if text:
            rc.update(enc(f) for f in _py_features(text, ngram_n))
    n_t, n_r = sum(tc.values()), sum(rc.values())
    d = NUM_BUCKETS if bucket_of is not None else len(set(tc) | set(rc))
    out = {}
    for doc_id, text in docs:
        if not text:
            continue
        feats = [enc(f) for f in _py_features(text, ngram_n)]
        if not feats:
            continue
        s = sum(
            math.log(tc[f] + alpha)
            - math.log(n_t + alpha * d)
            - math.log(rc[f] + alpha)
            + math.log(n_r + alpha * d)
            for f in feats
        )
        out[doc_id] = round(s, 6)
    return out


NUM_BUCKETS = 64


@pytest.fixture(scope="module")
def corpora(spark):
    target = spark.createDataFrame(TARGET, ["doc_id", "text"])
    raw = spark.createDataFrame(RAW, ["doc_id", "text"])
    return target, raw


def test_exact_mode_matches_python_twin(spark, corpora):
    target, raw = corpora
    model = train_dsir(target, raw, num_buckets=None)
    got = {
        r["doc_id"]: r["log_importance"]
        for r in score_dsir(raw, model).collect()
    }
    want = _py_dsir_scores(TARGET, RAW, RAW)
    assert set(got) == set(want)  # empty/NULL docs absent on both sides
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=2e-6), k


def test_hashed_mode_matches_twin_via_spark_bucket_map(spark, corpora):
    """The hashed pipeline ≡ the exact twin run over Spark's own
    feature→bucket mapping — pins counting/smoothing/aggregation
    independently of the (shared) hash primitive."""
    target, raw = corpora
    every = target.unionByName(raw.filter(F.col("text").isNotNull()))
    pairs = (
        every.select(
            F.explode(doc_features("text", 2, None)).alias("f")
        )
        .distinct()
        .select(
            "f",
            F.pmod(F.xxhash64("f"), F.lit(NUM_BUCKETS))
            .cast("string")
            .alias("b"),
        )
        .collect()
    )
    bucket_of = {r["f"]: r["b"] for r in pairs}
    model = train_dsir(target, raw, num_buckets=NUM_BUCKETS)
    got = {
        r["doc_id"]: r["log_importance"]
        for r in score_dsir(raw, model).collect()
    }
    want = _py_dsir_scores(TARGET, RAW, RAW, bucket_of=bucket_of)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=2e-6), k


def test_local_dsir_score_parity(spark, corpora):
    """Dialect-independent re-derivation of exact-mode scores."""
    duckdb = pytest.importorskip("duckdb")
    target, raw = corpora
    model = train_dsir(target, raw, num_buckets=None)
    got = {
        (r["doc_id"], r["log_importance"], r["n_features"])
        for r in score_dsir(raw, model).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE tgt AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in TARGET)
        + ") v(doc_id, text)"
    )
    vals = ",".join(
        f"({i}, " + ("NULL" if t is None else f"'{t}'") + ")"
        for i, t in RAW
    )
    con.execute(
        f"CREATE TABLE raw AS SELECT * FROM (VALUES {vals}) v(doc_id, text)"
    )
    feat_sql = """
        SELECT doc_id, unnest(l || list_transform(
                   range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS feature
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS l
              FROM {src})
    """
    oracle = con.execute(
        f"""
        WITH tf AS ({feat_sql.format(src='tgt')}),
             rf AS ({feat_sql.format(src='raw')}),
             counts AS (
               SELECT feature,
                      count(*) FILTER (side = 't') AS n_target,
                      count(*) FILTER (side = 'r') AS n_raw
               FROM (SELECT feature, 't' AS side FROM tf
                     UNION ALL SELECT feature, 'r' FROM rf)
               GROUP BY feature),
             tot AS (SELECT sum(n_target) AS nt, sum(n_raw) AS nr,
                            count(*) AS d FROM counts)
        SELECT f.doc_id,
               round(sum(ln(coalesce(c.n_target, 0) + 1.0)
                         - ln(t.nt + t.d)
                         - ln(coalesce(c.n_raw, 0) + 1.0)
                         + ln(t.nr + t.d)), 6) AS log_importance,
               count(*) AS n_features
        FROM ({feat_sql.format(src='raw')}) f
        LEFT JOIN counts c USING (feature), tot t
        GROUP BY f.doc_id
        """
    ).fetchall()
    want = {(i, w, n) for i, w, n in oracle}
    assert {i for i, _, _ in got} == {i for i, _, _ in want}
    wm = {i: (w, n) for i, w, n in oracle}
    for i, w, n in got:
        assert n == wm[i][1]
        assert w == pytest.approx(wm[i][0], abs=2e-6)


def test_merge_equals_joint_retrain(spark, corpora):
    target, raw = corpora
    joint = train_dsir(target, raw, num_buckets=NUM_BUCKETS)
    half_a = train_dsir(
        target.filter("doc_id <= 1"), raw.filter("doc_id <= 12"),
        num_buckets=NUM_BUCKETS,
    )
    half_b = train_dsir(
        target.filter("doc_id > 1"), raw.filter("doc_id > 12"),
        num_buckets=NUM_BUCKETS,
    )
    merged = merge_dsir_models(half_a, half_b)
    a = {
        (r["feature"], r["n_target"], r["n_raw"])
        for r in joint.counts.collect()
    }
    b = {
        (r["feature"], r["n_target"], r["n_raw"])
        for r in merged.counts.collect()
    }
    assert a == b
    ja = {
        tuple(r) for r in score_dsir(raw, joint).collect()
    }
    jb = {
        tuple(r) for r in score_dsir(raw, merged).collect()
    }
    assert ja == jb


def test_merge_featurization_mismatch_raises(spark, corpora):
    target, raw = corpora
    a = train_dsir(target, raw, num_buckets=32)
    b = train_dsir(target, raw, num_buckets=64)
    with pytest.raises(ValueError, match="featurization"):
        merge_dsir_models(a, b)


def test_empty_side_raises(spark, corpora):
    target, raw = corpora
    model = train_dsir(target.filter("doc_id < 0"), raw)
    with pytest.raises(ValueError, match="empty side"):
        score_dsir(raw, model)


def test_resample_greedy_and_seeded_determinism(spark, corpora):
    target, raw = corpora
    model = train_dsir(target, raw, num_buckets=NUM_BUCKETS)
    scores = score_dsir(raw, model)
    ordered = [
        r["doc_id"]
        for r in scores.orderBy(
            F.desc("log_importance"), "doc_id"
        ).collect()
    ]
    greedy = {
        r["doc_id"]
        for r in importance_resample(scores, 3, greedy=True).collect()
    }
    assert greedy == set(ordered[:3])
    s1 = {r["doc_id"] for r in importance_resample(scores, 4, seed=7).collect()}
    s2 = {r["doc_id"] for r in importance_resample(scores, 4, seed=7).collect()}
    assert s1 == s2 and len(s1) == 4


def test_select_corpus_prefers_target_like(spark, corpora):
    """The reason the operator exists: target-like raw documents
    out-select spam under hard (greedy) selection."""
    target, raw = corpora
    model = train_dsir(target, raw, num_buckets=NUM_BUCKETS)
    picked = select_corpus(raw, model, 3, greedy=True)
    ids = {r["doc_id"] for r in picked.collect()}
    assert ids == {11, 13, 15}  # fox/dog docs, not the spam
    assert set(picked.columns) == {"doc_id", "text", "log_importance"}


def test_score_plan_broadcasts_and_single_shuffle(spark, corpora):
    import sparvi_core_spark.operators.selection as S

    target, raw = corpora
    model = train_dsir(target, raw, num_buckets=NUM_BUCKETS)
    model.counts.persist()
    try:
        model.counts.count()
        # hashed + broadcastable → the Arrow scoring kernel: no join,
        # no doc-grain exchange at all (round 12)
        plan = (
            score_dsir(raw, model)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "MapInPandas" in plan
        assert "Join" not in plan
        assert "Exchange hashpartitioning(doc_id" not in plan
        # the join fallback (over-cap bucket table) keeps the old
        # contract: broadcast join, corpus crosses exactly one exchange
        old = S._HASHED_KERNEL_MAX_D
        S._HASHED_KERNEL_MAX_D = 0
        try:
            plan_j = (
                score_dsir(raw, model)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            S._HASHED_KERNEL_MAX_D = old
        assert "BroadcastHashJoin" in plan_j
        assert "SortMergeJoin" not in plan_j
        assert plan_j.count("Exchange hashpartitioning(doc_id") == 1
    finally:
        model.counts.unpersist()


def test_kgram_features_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, ""), (4, "a b c")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", doc_features("text", 2, None).alias("f")
        ).collect()
    }
    assert rows[1] == ["one"]
    assert rows[2] == ["two", "words", "two words"]
    assert rows[3] == []
    assert rows[4] == ["a", "b", "c", "a b", "b c"]


# ---------------------------------------------------------------------------
# filter_sweep — threshold attrition curves
# ---------------------------------------------------------------------------

from sparvi_core_spark.operators.selection import filter_sweep  # noqa: E402


@pytest.fixture(scope="module")
def scored(spark):
    rows = [
        (i, None if i % 7 == 3 else (i % 11) / 10.0, 10 * (i + 1))
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double, toks long")


@pytest.mark.parametrize("descending", [True, False])
def test_filter_sweep_matches_brute_force(spark, scored, descending):
    ts = [0.0, 0.25, 0.5, 0.95, 1.5]
    out = {
        r["threshold"]: r
        for r in filter_sweep(
            scored, "score", ts, weight_col="toks", descending=descending
        ).collect()
    }
    total_n = scored.count()
    total_w = scored.agg(F.sum("toks")).collect()[0][0]
    assert sorted(out) == sorted(ts)
    for t in ts:
        cond = F.col("score") >= t if descending else F.col("score") <= t
        surv = scored.filter(cond)
        n = surv.count()
        w = surv.agg(F.coalesce(F.sum("toks"), F.lit(0))).collect()[0][0]
        got = out[t]
        assert got["docs_kept"] == n, t
        assert got["weight_kept"] == w, t
        assert got["doc_frac"] == pytest.approx(n / total_n, abs=6e-5)
        assert got["weight_frac"] == pytest.approx(w / total_w, abs=6e-5)


def test_filter_sweep_no_weight_and_dedup_thresholds(spark, scored):
    out = filter_sweep(scored, "score", [0.5, 0.5, 0.2]).collect()
    assert [r["threshold"] for r in out] == [0.2, 0.5]
    assert all(r["weight_kept"] is None for r in out)
    assert all(r["weight_frac"] is None for r in out)
    with pytest.raises(ValueError):
        filter_sweep(scored, "score", [])


def test_filter_sweep_null_scores_never_survive(spark):
    df = spark.createDataFrame(
        [(1, None, 5), (2, None, 5)], "doc_id long, score double, toks long"
    )
    row = filter_sweep(df, "score", [0.0], weight_col="toks").collect()[0]
    assert row["docs_kept"] == 0 and row["weight_kept"] == 0.0
    assert row["doc_frac"] == 0.0 and row["weight_frac"] == 0.0


def test_filter_sweep_single_scan(spark, scored):
    """One corpus pass regardless of threshold count: the corpus scan
    appears a bounded number of times (bucket agg + totals), never
    once per threshold."""
    plan = (
        filter_sweep(scored, "score", [i / 20 for i in range(20)])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # corpus relations carry the doc_id column; the third LogicalRDD is
    # the 20-row threshold frame
    assert plan.count("LogicalRDD [doc_id") == 2


def test_filter_sweep_fuzz_monotone(spark):
    """Seeded fuzz over random scores/weights/NULLs: docs_kept and
    weight_kept must be monotone non-increasing in the threshold
    (descending mode) and the fractions bounded in [0, 1]."""
    import random

    rng = random.Random(7)
    rows = [
        (
            i,
            None if rng.random() < 0.15 else rng.uniform(-2, 2),
            rng.randint(0, 500),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, toks long")
    ts = sorted(rng.uniform(-2.5, 2.5) for _ in range(15))
    out = filter_sweep(df, "score", ts, weight_col="toks").collect()
    assert [r["threshold"] for r in out] == ts
    for a, b in zip(out, out[1:]):
        assert a["docs_kept"] >= b["docs_kept"]
        assert a["weight_kept"] >= b["weight_kept"]
    for r in out:
        assert 0.0 <= r["doc_frac"] <= 1.0
        assert 0.0 <= r["weight_frac"] <= 1.0


def test_dsir_weight_table_memoized_logs_bit_identical(spark):
    """Memoizing the JVM logs by input value changes no bit of the
    weight table: compared against two uncached ``Math.log`` calls per
    bucket, with repeated counts, NULL counts and unseen buckets."""
    import numpy as np

    from sparvi_core_spark.operators.selection import _dsir_weight_table

    rows = [
        {"feature": b, "n_target": None if b % 7 == 0 else b % 4,
         "n_raw": None if b % 5 == 0 else (b * 3) % 6}
        for b in range(0, 64, 2)
    ]
    alpha, const, buckets = 0.5, -0.25, 70
    got = _dsir_weight_table(spark, rows, alpha, const, buckets)

    jlog = spark._jvm.java.lang.Math.log
    log_a = float(jlog(0.0 + alpha))
    want = np.full(buckets, (log_a - log_a) + const, dtype=np.float64)
    for r in rows:
        want[r["feature"]] = (
            float(jlog(float(r["n_target"] or 0) + alpha))
            - float(jlog(float(r["n_raw"] or 0) + alpha))
        ) + const
    assert got.dtype == want.dtype
    assert got.tobytes() == want.tobytes()
