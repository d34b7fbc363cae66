"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + pyarrow: inputs are written as parquet files
before the program sees them, so generation never runs inside the code
under test. The same ``seed`` gives byte-identical inputs.

Shapes follow the repository's test tables (TPC-H-ish ``lineitem``,
``orders``, ``customer``, the ``events`` stream and ``documents``
text). Each generator also returns what it planted, so the workloads
can check the program's outputs against it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes at scale 1.0. Every run of the benchmark starts a JVM and runs
# one cold round, so these keep a run of any workload well under a
# minute on four cores; a cold round costs mostly plan compilation, and
# larger inputs would mostly add time, not new code paths.
TABLE_ROWS = {"lineitem": 30_000, "orders": 8_000, "customer": 2_000,
              "events": 10_000}
N_DOCS = 500

_EPOCH_US = {  # microseconds since 1970 for a few anchor dates
    "1992-01-01": 694_224_000_000_000,
    "2001-12-31": 1_009_756_800_000_000,
    "1960-06-01": -333_849_600_000_000,
    "2100-01-01": 4_102_444_800_000_000,
    "2024-01-01": 1_704_067_200_000_000,
}


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _pick(rng, n: int, k: int) -> np.ndarray:
    return rng.choice(n, size=k, replace=False)


@dataclass
class Tables:
    """What ``make_tables`` planted: per table, the default rules that
    must fail. Every other default rule must pass."""

    failing_rules: dict[str, set[str]] = field(default_factory=dict)


def make_tables(root: str, seed: int, scale: float = 1.0) -> Tables:
    """Write ``lineitem``, ``orders``, ``customer`` and ``events`` with
    planted defects: nulls past the null-rate cap, duplicate primary
    keys, zero prices, negative values and out-of-range dates. Clean
    columns are drawn uniformly, so no other default rule can fail."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    n = {t: max(200, int(r * scale)) for t, r in TABLE_ROWS.items()}
    out = Tables()
    lo, hi = _EPOCH_US["1992-01-01"], _EPOCH_US["2001-12-31"]

    # lineitem: several lines per order, so the *key columns repeat by
    # construction and their uniqueness rules fail.
    m = n["lineitem"]
    price = rng.uniform(900.0, 105_000.0, m).round(2)
    price_null = np.zeros(m, bool)
    price_null[_pick(rng, m, int(m * 0.3))] = True  # > 25% null rate
    discount = rng.uniform(0.0, 0.1, m).round(2)
    discount[_pick(rng, m, 5)] = -0.05
    shipdate = rng.integers(lo, hi, m)
    shipdate[_pick(rng, m, 3)] = _EPOCH_US["1960-06-01"]
    _write(os.path.join(root, "lineitem.parquet"), {
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, m // 30, m),
        "l_suppkey": rng.integers(0, m // 600 + 2, m),
        "l_linenumber": rng.integers(1, 8, m).astype("int32"),
        "l_quantity": rng.integers(1, 51, m).astype("float64"),
        "l_extendedprice": pa.array(price, mask=price_null),
        "l_discount": discount,
        "l_tax": rng.uniform(0.01, 0.08, m).round(2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts(shipdate),
    })
    out.failing_rules["lineitem"] = {
        "check_l_orderkey_unique", "check_l_partkey_unique",
        "check_l_suppkey_unique", "check_l_linenumber_unique",
        "check_l_extendedprice_null_rate", "check_l_discount_positive",
        "check_l_shipdate_reasonable_past",
    }

    # orders: planted duplicate primary keys, zero totals, future dates
    m = n["orders"]
    orderkey = np.arange(m, dtype="int64")
    dup = _pick(rng, m, 8)
    orderkey[dup[:4]] = orderkey[dup[4:]]
    total = rng.uniform(1_000.0, 500_000.0, m).round(2)
    total[_pick(rng, m, 6)] = 0.0
    orderdate = rng.integers(lo, hi, m)
    orderdate[_pick(rng, m, 4)] = _EPOCH_US["2100-01-01"]
    _write(os.path.join(root, "orders.parquet"), {
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(0, n["customer"], m),
        "o_orderstatus": rng.choice(["F", "O", "P"], m),
        "o_totalprice": total,
        "o_orderdate": _ts(orderdate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], m),
    })
    out.failing_rules["orders"] = {
        "check_o_orderkey_unique", "check_o_custkey_unique",
        "check_o_totalprice_not_zero", "check_o_orderdate_not_future",
    }

    # customer: planted null names past the null-rate cap
    m = n["customer"]
    name_null = np.zeros(m, bool)
    name_null[_pick(rng, m, int(m * 0.4))] = True
    _write(os.path.join(root, "customer.parquet"), {
        "c_custkey": np.arange(m, dtype="int64"),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(m)],
                           mask=name_null),
        "c_nationkey": rng.integers(0, 25, m).astype("int32"),
        "c_acctbal": rng.uniform(0.0, 10_000.0, m).round(2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], m),
    })
    out.failing_rules["customer"] = {
        "check_c_nationkey_unique", "check_c_name_null_rate",
    }

    # events: the timestamped stream; planted negative values
    m = n["events"]
    value = rng.uniform(0.0, 100.0, m).round(2)
    value[_pick(rng, m, 7)] = -1.0
    start = _EPOCH_US["2024-01-01"]
    _write(os.path.join(root, "events.parquet"), {
        "event_id": np.arange(m, dtype="int64"),
        "ts": _ts(start + np.sort(rng.integers(0, 30 * 86_400_000_000, m))),
        "user_id": rng.integers(0, max(2, m // 50), m),
        "event_type": rng.choice(["click", "view", "purchase", "error"], m),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
    })
    out.failing_rules["events"] = {
        "check_user_id_unique", "check_value_positive",
    }
    return out


# ---------------------------------------------------------------- text

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]
_BOILERPLATE = "home about contact privacy terms of use"


def _vocab(n: int = 4_000) -> np.ndarray:
    """A fixed pseudo-word vocabulary (independent of the seed)."""
    rng = np.random.default_rng(7)
    syl = np.array([c + v for c in "bcdfghklmnprstvz" for v in "aeiou"])
    words = {"".join(rng.choice(syl, rng.integers(2, 4))) for _ in range(3 * n)}
    return np.array(sorted(words)[:n])


@dataclass
class Corpus:
    """Documents with planted near-duplicate clusters."""

    n_docs: int
    clusters: list[list[int]]  # doc ids of each planted cluster
    texts: dict[int, str]  # id -> text, for probe batches


def _doc_text(rng, vocab, probs, boiler: bool, n_lines=None) -> str:
    lines = []
    for _ in range(n_lines or rng.integers(3, 6)):
        k = 20 if n_lines else int(rng.integers(10, 22))
        words = vocab[rng.choice(len(vocab), k, p=probs)]
        stops = rng.random(k) < 0.25
        words = np.where(stops, rng.choice(_STOPWORDS, k), words)
        lines.append(" ".join(words))
    if boiler:
        lines.append(_BOILERPLATE)
    return "\n".join(lines)


def _mutate(rng, text: str, vocab) -> str:
    """A near-duplicate: one word replaced. On the 120-word cluster docs
    the word 3-gram Jaccard between any two members stays above 0.9,
    far over the dedup thresholds the workloads use."""
    lines = text.split("\n")
    i = int(rng.integers(0, len(lines)))
    words = lines[i].split(" ")
    words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(len(vocab))])
    lines[i] = " ".join(words)
    return "\n".join(lines)


def make_corpus(path: str, seed: int, scale: float = 1.0,
                id_offset: int = 0) -> Corpus:
    """``documents``-shaped parquet: Zipf word draws over a fixed
    vocabulary, a shared boilerplate line on ~40% of docs, a few
    punctuation-soup docs the quality gate must drop, and one planted
    near-duplicate cluster of three long docs per hundred docs."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab()
    probs = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    probs /= probs.sum()
    n = max(60, int(N_DOCS * scale))
    texts = [_doc_text(rng, vocab, probs, rng.random() < 0.4) for _ in range(n)]
    for i in _pick(rng, n, max(2, n // 100)):
        texts[i] = " ".join(["!!! ### $$$ %%%"] * 3)
    clusters = []
    for _ in range(max(2, n // 100)):
        base = _doc_text(rng, vocab, probs, False, n_lines=6)
        members = list(range(len(texts), len(texts) + 3))
        texts += [base] + [_mutate(rng, base, vocab) for _ in range(2)]
        clusters.append([m + id_offset for m in members])
    ids = np.arange(len(texts), dtype="int64") + id_offset
    _write(path, {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(["en", "de", "fr"], len(texts), p=[0.6, 0.2, 0.2]),
        "source": [f"src{s}" for s in rng.integers(0, 8, len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    return Corpus(len(texts), clusters,
                  {int(i): t for i, t in zip(ids, texts)})


def fresh_docs(seed: int, n: int, id_offset: int) -> dict[int, str]:
    """New documents that share no text with any corpus (distinct
    vocabulary suffix), keyed by fresh ids."""
    rng = np.random.default_rng([seed, 3, id_offset])
    vocab = np.char.add(_vocab(), "q")
    probs = np.full(len(vocab), 1.0 / len(vocab))
    return {id_offset + i: _doc_text(rng, vocab, probs, False)
            for i in range(n)}
