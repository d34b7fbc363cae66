"""Dedup operators: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

import pytest
from pyspark.sql import functions as F

from sparvi_core_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_stats,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    near = "the quick brown fox jumps over the lazy cat and runs far away home tonight"
    other = "completely different content about spark query engines and data pipelines here now"
    rows = [
        (0, base),
        (1, base),        # exact dup of 0
        (2, near),        # near dup of 0 (one word changed)
        (3, other),
        (4, "tiny doc"),  # too short for 3-shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_stats(docs):
    row = exact_dedup_stats(docs, ["text"]).first()
    assert row["total_rows"] == 5
    assert row["distinct_keys"] == 4
    assert row["surplus_rows"] == 1
    assert row["duplicated_groups"] == 1
    assert exact_dedup(docs, ["text"]).count() == 4


def test_minhash_signature_properties(docs):
    sig = minhash_signatures(docs, num_hashes=4).collect()
    by_id = {r["id"]: [r[f"h{k}"] for k in range(4)] for r in sig}
    assert by_id[0] == by_id[1]          # identical docs → identical signatures
    assert by_id[0] != by_id[3]          # different docs → different signatures
    assert 4 not in by_id                # too-short doc has no shingles
    assert all(len(h) == 32 for h in by_id[0])  # md5 hex


def test_minhash_dedup_finds_planted_pairs(docs):
    pairs = minhash_dedup_pairs(docs, num_hashes=8, bands=4, threshold=0.5)
    found = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert found.get((0, 1)) == 1.0
    assert (0, 2) in found or (1, 2) in found  # near-dup caught by some band
    assert all(a != 3 and b != 3 for a, b in found)


def test_lsh_skew_bucket_guard(spark):
    # 50 identical docs → one giant bucket; max_bucket drops it
    rows = [(i, "same same same same same") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df, num_hashes=4)
    pairs = lsh_candidate_pairs(sig, num_hashes=4, bands=2, max_bucket=10)
    assert pairs.count() == 0
    pairs_all = lsh_candidate_pairs(sig, num_hashes=4, bands=2, max_bucket=10_000)
    assert pairs_all.count() == 50 * 49 // 2


def test_ngram_jaccard(docs):
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert found[(0, 1)] == 1.0
    assert (0, 2) in found and 0.5 < found[(0, 2)] < 1.0
    assert not any({a, b} == {0, 3} for a, b in found)


def test_simhash_identical_and_near(docs):
    sh = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[0] == sh[1]
    # one changed word out of 14 → small hamming distance
    ham = bin(sh[0] ^ sh[2]).count("1")
    assert 0 <= ham <= 10
    pairs = simhash_near_pairs(docs, max_hamming=10)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert found.get((0, 1)) == 0


def test_minhash_on_real_documents(spark, views):
    pairs = minhash_dedup_pairs(views["documents"], threshold=0.5).collect()
    assert len(pairs) > 0, "driver corpus has planted near-dups"
    assert all(r["est_jaccard"] >= 0.5 for r in pairs)


def test_dedup_clusters_chain(spark):
    from sparvi_core_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_clusters_string_ids_multi_hop(spark):
    """Non-numeric doc ids (valid for every pair producer) must
    propagate through multi-hop components: the convergence digest is
    type-aware — integral ids keep the exact decimal label sum, string
    ids use the xxhash64 digest (a decimal cast of a string would
    throw under ANSI mode, or NULL into false convergence without it,
    silently stopping propagation after the fused first round)."""
    from sparvi_core_spark.operators.dedup import dedup_clusters

    # a 4-hop chain: wrong labels if convergence fires early
    pairs = spark.createDataFrame(
        [("d", "e"), ("c", "d"), ("b", "c"), ("a", "b"), ("x", "y")],
        "id_a string, id_b string",
    )
    for strategy in ("label", "star"):
        got = {
            r["id"]: r["cluster"]
            for r in dedup_clusters(pairs, strategy=strategy).collect()
        }
        assert got == {
            "a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
            "x": "x", "y": "x",
        }, strategy


def test_dedup_clusters_float_ids_exact_propagation(spark):
    """Float ids must not take the truncating decimal-sum digest: two
    labels that differ only in the fraction would read as 'unchanged'
    and converge with wrong clusters."""
    from sparvi_core_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(2.5, 2.4), (2.4, 2.25), (2.25, 2.125)],
        "id_a double, id_b double",
    )
    got = {r["id"]: r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert got == {2.5: 2.125, 2.4: 2.125, 2.25: 2.125, 2.125: 2.125}



def test_dedup_clusters_fractional_decimal_ids(spark):
    """Fractional decimal ids take the xxhash64 digest, not the rounding
    decimal(38,0) sum: on this chain a round whose only label change is
    9.4 → 8.6 keeps the rounded sum (both round to 9) and used to stop
    early with the component split."""
    from sparvi_core_spark.operators.dedup import dedup_clusters

    chain = ["8.6", "20", "21", "9.4", "22", "23"]
    pairs = spark.sql(
        "SELECT CAST(a AS DECIMAL(3,1)) AS id_a, CAST(b AS DECIMAL(3,1)) AS id_b "
        "FROM VALUES " + ", ".join(f"('{a}', '{b}')" for a, b in zip(chain, chain[1:]))
        + " AS t(a, b)"
    )
    clusters = {r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert len(clusters) == 1 and str(clusters.pop()) == "8.6"

def test_dedup_clusters_nonconvergence_is_never_silent(spark):
    """A chain longer than max_iter cannot converge (labels move one hop
    per round) — must raise by default, warn when asked, and converge
    once max_iter covers the diameter."""
    import warnings

    import pytest

    from sparvi_core_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=3).collect()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup_clusters(chain, max_iter=3, raise_on_nonconverged=False)
        assert any(issubclass(x.category, RuntimeWarning) for x in w)
    got = {r["id"]: r["cluster"] for r in dedup_clusters(chain, max_iter=15).collect()}
    assert got == {i: 0 for i in range(11)}


def test_simhash_64bit_collisions_10k(spark):
    """64-bit simhash on 10k synthetic distinct docs: collisions should
    be (essentially) absent — the reason the default moved off 32-bit."""
    from pyspark.sql import functions as F

    from sparvi_core_spark.operators.dedup import simhash

    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.md5(F.concat(F.lit(f"t{j}|"), F.col("id").cast("string"))) for j in range(5)],
        ).alias("text"),
    )
    sh = simhash(docs, bits=64)
    n_docs = sh.count()
    n_distinct = sh.select("simhash").distinct().count()
    assert n_docs == 10_000
    assert n_distinct >= 9_995  # ~0 expected at 64 bits


def test_ngram_jaccard_stop_shingle_cap(spark):
    """A ubiquitous shingle must not create candidate pairs when the
    doc-frequency cap triggers, but jaccard for real near-dups is still
    computed over the FULL shingle sets (exact values)."""
    from sparvi_core_spark.operators.dedup import ngram_jaccard_pairs

    common = "the common boilerplate header"  # shared by every doc
    rows = [
        (1, common + " alpha beta gamma delta epsilon"),
        (2, common + " alpha beta gamma delta zeta"),   # near-dup of 1
        (3, common + " totally different content here now"),
        (4, common + " nothing like the others at all really"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap=3: the boilerplate shingles (df=4) are stop-shingles
    got = ngram_jaccard_pairs(df, threshold=0.5, max_doc_freq=3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got}
    assert (1, 2) in pairs
    # exact jaccard over FULL sets: docs share the boilerplate shingles
    # too, so the value must match the uncapped computation
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_doc_freq=None).collect()
    }
    assert pairs[(1, 2)] == uncapped[(1, 2)]


def test_ngram_jaccard_candidates_input(spark):
    """Candidate-pairs input skips self-join candidate generation (the
    LSH-then-verify 100 TB path) and returns exact jaccard for exactly
    those pairs."""
    from sparvi_core_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g z"),
        (3, "a b c d e f g h"),  # identical to 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
    got = ngram_jaccard_pairs(df, threshold=0.0, candidates=cand).collect()
    assert len(got) == 1
    assert got[0]["id_a"] == 1 and got[0]["id_b"] == 3 and got[0]["jaccard"] == 1.0


def test_ngram_jaccard_mass_duplicate_rescue(spark):
    """Boilerplate duplicated beyond max_doc_freq turns ALL its shingles
    into stop-shingles; the rescue pass must still pair every copy with
    the min-id representative at jaccard 1.0 (star, not clique)."""
    from sparvi_core_spark.operators.dedup import ngram_jaccard_pairs

    template = "please unsubscribe from this mailing list by clicking the link below now"
    rows = [(i, template) for i in range(8)]
    # distinct docs sharing nothing with the template keep rare shingles
    rows += [(100, "entirely unrelated content about spark and parquet files here"),
             (101, "entirely unrelated content about spark and parquet files here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # max_doc_freq=5: the template's shingles (df=8) all become stop;
    # the pair of unrelated docs (df=2) stays on the rare path
    pairs = ngram_jaccard_pairs(df, max_doc_freq=5, threshold=0.9)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # star: every non-rep template copy pairs with rep id 0 at exactly 1.0
    for i in range(1, 8):
        assert got.get((0, i)) == 1.0, f"missing rescue pair (0, {i}): {got}"
    assert got.get((100, 101)) == 1.0
    # star not clique: no (1, 2) pair
    assert (1, 2) not in got
    # uncapped run on the same corpus agrees on the rescued pairs' values
    full = ngram_jaccard_pairs(df, max_doc_freq=None, threshold=0.9)
    full_map = {(r["id_a"], r["id_b"]): r["jaccard"] for r in full.collect()}
    for k, v in got.items():
        assert full_map[k] == v


def test_solve_lsh_bands():
    """Banding solver: S-curve midpoint (1/b)^(1/r) tracks the threshold."""
    from sparvi_core_spark.operators.dedup import solve_lsh_bands

    import pytest

    assert solve_lsh_bands(0.5, 8) == (4, 2)      # midpoint 0.5 exactly
    assert solve_lsh_bands(0.8, 8) == (2, 4)      # midpoint ~0.841
    assert solve_lsh_bands(0.1, 8) == (8, 1)      # midpoint 0.125
    b, r = solve_lsh_bands(0.9, 16)
    assert b * r == 16 and (1.0 / b) ** (1.0 / r) == pytest.approx(0.9, abs=0.15)
    with pytest.raises(ValueError):
        solve_lsh_bands(1.5, 8)


# ---------------------------------------------------------------------------
# corpus_diff
# ---------------------------------------------------------------------------


def test_corpus_diff_statuses(spark):
    from sparvi_core_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "kept  SAME")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(2, "gamma CHANGED"), (3, "kept same"), (4, "brand new")],
        "doc_id long, text string",
    )
    got = {r["id"]: r["status"] for r in corpus_diff(old, new).collect()}
    # doc 3 differs only by case/whitespace → unchanged under normalize
    assert got == {1: "removed", 2: "changed", 3: "unchanged", 4: "added"}

    raw = {r["id"]: r["status"]
           for r in corpus_diff(old, new, normalize=False).collect()}
    assert raw[3] == "changed"  # without normalization the case diff counts


def test_star_cc_matches_label_strategy_on_random_graphs(spark):
    """large-star/small-star is an alternative ALGORITHM, not an
    alternative answer: identical (id, cluster) sets on seeded random
    pair graphs of mixed component shapes."""
    import random

    from sparvi_core_spark.operators.dedup import dedup_clusters

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(40 + trial * 20)
        ]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        want = {
            (r["id"], r["cluster"])
            for r in dedup_clusters(pairs, max_iter=30).collect()
        }
        got = {
            (r["id"], r["cluster"])
            for r in dedup_clusters(pairs, strategy="star").collect()
        }
        assert got == want


def test_star_cc_converges_on_chain_past_label_budget(spark):
    """A 60-link chain (diameter 60): label propagation cannot converge
    in 20 rounds, star contraction does — the adversarial-shape case the
    strategy exists for."""
    import pytest

    from sparvi_core_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=20).collect()
    got = {
        r["id"]: r["cluster"]
        for r in dedup_clusters(chain, strategy="star", max_iter=20).collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_star_cc_string_ids_and_self_loops(spark):
    """min-over-string-ids semantics match the label strategy; self-loop
    rows keep their node in the output labeled as itself."""
    from sparvi_core_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [("doc_b", "doc_a"), ("doc_b", "doc_c"), ("zzz", "zzz")],
        "id_a string, id_b string",
    )
    got = {
        r["id"]: r["cluster"]
        for r in dedup_clusters(pairs, strategy="star").collect()
    }
    assert got == {
        "doc_a": "doc_a",
        "doc_b": "doc_a",
        "doc_c": "doc_a",
        "zzz": "zzz",
    }


def test_star_cc_unknown_strategy_raises(spark):
    import pytest

    from sparvi_core_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="unknown strategy"):
        dedup_clusters(pairs, strategy="hash_to_min")


def test_ngram_containment_catches_doc_in_doc(spark):
    """A short doc fully quoted inside a long one: containment 1.0,
    Jaccard far below any dedup threshold — the asymmetric case the
    metric exists for. Python-set oracle over the same shingle
    definition pins both scores for every pair."""
    quote = "alpha beta gamma delta epsilon zeta"
    long_doc = (
        "intro words here " + quote + " and then a very long tail "
        "of unrelated content that keeps going with many more words"
    )
    rows = [(0, quote), (1, long_doc), (2, "totally different text entirely here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh_set(text, n=3):
        toks = text.split(" ")
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh_set(t) for i, t in rows}
    want_cont = {}
    want_jacc = {}
    for a in range(3):
        for b in range(a + 1, 3):
            inter = len(sets[a] & sets[b])
            if inter:
                want_cont[(a, b)] = inter / min(len(sets[a]), len(sets[b]))
                want_jacc[(a, b)] = inter / len(sets[a] | sets[b])

    got_c = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_jaccard_pairs(
            df, threshold=0.0, metric="containment"
        ).collect()
    }
    got_j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert got_c == pytest.approx(want_cont)
    assert got_j == pytest.approx(want_jacc)
    assert got_c[(0, 1)] == 1.0
    assert got_j[(0, 1)] < 0.5  # symmetric metric misses the quote


def test_ngram_containment_capped_path_exact(spark):
    """Stop-shingle cap must not change containment values (the score
    is exact over the full sets regardless of candidate pruning)."""
    base = "one two three four five six seven"
    rows = [(i, base) for i in range(6)] + [
        (10, base + " eight nine ten eleven twelve thirteen fourteen fifteen")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_jaccard_pairs(
            df, threshold=0.9, max_doc_freq=3, metric="containment"
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_jaccard_pairs(
            df, threshold=0.9, max_doc_freq=None, metric="containment"
        ).collect()
    }
    # every uncapped >=0.9 pair the capped path reports must agree
    for k, v in capped.items():
        assert uncapped.get(k) == pytest.approx(v), k
    # the superset doc contains the base entirely on both paths
    assert uncapped[(0, 10)] == 1.0


def test_ngram_metric_validation(spark):
    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="metric"):
        ngram_jaccard_pairs(df, metric="dice")


# ---------------------------------------------------------------------------
# AllPairs prefix-filter join
# ---------------------------------------------------------------------------


def _rand_corpus(spark, seed, n_docs=40, vocab=60, doc_len=12):
    import random

    rnd = random.Random(seed)
    words = [f"t{i}" for i in range(vocab)]
    rows = []
    for i in range(n_docs):
        if i % 4 == 3 and rows:
            toks = rows[-1][1].split(" ")
            toks[rnd.randrange(len(toks))] = rnd.choice(words)
            rows.append((i, " ".join(toks)))
        else:
            rows.append((i, " ".join(rnd.choice(words) for _ in range(doc_len))))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("seed,threshold", [(1, 0.5), (2, 0.8), (3, 0.3)])
def test_allpairs_lossless_vs_brute_force(spark, seed, threshold):
    """allpairs_jaccard_pairs == the uncapped brute-force self-join,
    exactly — the lossless claim, across thresholds and corpora."""
    from sparvi_core_spark.operators.dedup import allpairs_jaccard_pairs

    df = _rand_corpus(spark, seed)
    got = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in allpairs_jaccard_pairs(df, threshold=threshold).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in ngram_jaccard_pairs(
            df, threshold=threshold, max_doc_freq=None
        ).collect()
    )
    assert got == want and want, "planted near-dups must produce pairs"


def test_allpairs_candidates_prune_vs_all_pairs(spark):
    """On a diverse corpus at a high threshold, the prefix filter
    generates far fewer candidates than all C(n,2) pairs."""
    from sparvi_core_spark.operators.dedup import allpairs_candidates

    df = _rand_corpus(spark, seed=7, n_docs=60)
    n_cand = allpairs_candidates(df, threshold=0.8).count()
    assert n_cand < (60 * 59) // 2 * 0.2  # <20% of the quadratic


def test_allpairs_identical_docs_and_edge_thresholds(spark):
    from sparvi_core_spark.operators.dedup import allpairs_jaccard_pairs

    base = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, base), (3, "x y z q r s t u v w")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in allpairs_jaccard_pairs(df, threshold=1.0).collect()
    }
    assert got == {(0, 1): 1.0, (0, 2): 1.0, (1, 2): 1.0}
    with pytest.raises(ValueError, match="threshold"):
        allpairs_jaccard_pairs(df, threshold=0.0).collect()


def test_allpairs_plan_has_no_cartesian(spark):
    from sparvi_core_spark.operators.dedup import allpairs_jaccard_pairs

    df = _rand_corpus(spark, seed=9)
    plan = (
        allpairs_jaccard_pairs(df, threshold=0.8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
