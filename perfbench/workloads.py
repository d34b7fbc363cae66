"""The three closed-loop workloads. One client: each call is issued after
the previous one returns, and the harness starts no threads of its own.

Every workload has the same life cycle, driven by ``run.py``:

- ``setup(dir)`` generates the seeded inputs under ``dir`` and loads
  them (``session.register_views``), building indexes where needed. It
  runs several times per run, each into a fresh directory, so set-up
  time is a median; the last set-up's inputs are the ones measured.
- ``round(n)`` is one closed-loop round; every call into the program is
  wrapped in a span named ``<layer>.<public function>``.
- ``detail()`` gives the workload's own figures for the report line.

Output checks go through ``self.check``, which counts them; a failed
check counts as a failed operation.
"""

from __future__ import annotations

import os
import statistics
import sys

import numpy as np

import data
from ledger import Tracer


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(xs: list[float]) -> tuple[float, float]:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples
    beyond it, as ``(percentile, value)``; the median when there are
    fewer than twenty samples."""
    xs = sorted(xs)
    pct = 50.0
    for p in (75.0, 90.0, 95.0, 99.0):
        if len(xs) * (1 - p / 100) >= 10:
            pct = p
    if not xs:
        return pct, 0.0
    return pct, float(np.percentile(xs, pct))


class Workload:
    tables: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, scale: float, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        self.checks = 0
        self.failures = 0

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failures += 1
            print(f"check failed: {what}", file=sys.stderr)

    def register(self, root: str) -> dict:
        from sparvi_core_spark import register_views

        with self.tr.span("session.register_views"):
            return register_views(self.spark, root, self.tables)


class QualityChecks(Workload):
    """The product path: profile each table against the previous round's
    profile, run its default rules, and fold a sketch profile of
    ``lineitem``. Driver- and job-count-bound: many small aggregate jobs
    from the profiler's and the runner's thread pools."""

    tables = ("lineitem", "orders", "customer", "events")

    def setup(self, root: str) -> None:
        from sparvi_core_spark import get_default_validations

        self.inputs = data.make_tables(root, self.seed, self.scale)
        self.register(root)
        import pyarrow.parquet as pq

        self.footer_rows = {
            t: pq.ParquetFile(os.path.join(root, f"{t}.parquet")).metadata.num_rows
            for t in self.tables}
        self.rules = {t: get_default_validations(self.spark, t)
                      for t in self.tables}
        self.history: dict[str, dict] = {}

    def round(self, n: int) -> None:
        from sparvi_core_spark import profile_table, run_validations
        from sparvi_core_spark.profiler.incremental import (
            merge_profiles,
            partition_profile,
        )

        for t in self.tables:
            with self.tr.span("profiler.profile_table"):
                prof = profile_table(self.spark, t,
                                     historical_data=self.history.get(t))
            self.history[t] = prof
            self.check(prof["row_count"] == self.footer_rows[t],
                       f"{t} row_count {prof['row_count']}")
            with self.tr.span("validations.run_validations"):
                results = run_validations(self.spark, self.rules[t])
            errors = [r["name"] for r in results if "error" in r]
            failing = {r["name"] for r in results if not r["is_valid"]}
            self.check(not errors, f"{t} rules raised: {errors}")
            self.check(failing == self.inputs.failing_rules[t],
                       f"{t} verdicts differ on "
                       f"{sorted(failing ^ self.inputs.failing_rules[t])}")
        with self.tr.span("profiler.partition_profile"):
            part = partition_profile(self.spark.table("lineitem"),
                                     batch_id=f"r{n}").localCheckpoint()
        merged = merge_profiles(part).collect()
        self.check(all(r["n_rows"] == self.footer_rows["lineitem"]
                       for r in merged), "merged lineitem n_rows")

    def detail(self) -> dict:
        per_round = len(self.tables)
        prof = self.tr.durations("profiler.profile_table")
        val = self.tr.durations("validations.run_validations")
        return {
            "profile_p50_s": _median([sum(prof[i:i + per_round])
                                      for i in range(0, len(prof), per_round)]),
            "validate_p50_s": _median([sum(val[i:i + per_round])
                                       for i in range(0, len(val), per_round)]),
        }


class CorpusPrep(Workload):
    """One round is the core chain of ``examples/corpus_pipeline.py``;
    every stage's output is materialized before the next starts.
    Executor-, shuffle- and Python-worker-bound."""

    tables = ("documents",)

    def setup(self, root: str) -> None:
        from pyspark.sql import functions as F

        os.makedirs(root, exist_ok=True)
        self.corpus = data.make_corpus(
            os.path.join(root, "documents.parquet"), self.seed, self.scale)
        docs = self.register(root)["documents"]
        self.docs = docs.select("doc_id", "text", "lang").localCheckpoint()
        self.evalset = docs.filter(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + 500_000).alias("doc_id"), "text"
        ).localCheckpoint()
        self.prior = docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 900_000).alias("doc_id"), "text"
        ).localCheckpoint()
        self.counts: list[tuple] = []

    def round(self, n: int) -> None:
        from pyspark.sql import functions as F

        from sparvi_core_spark.functions.knlm import (
            score_perplexity_kn,
            train_kn_lm,
        )
        from sparvi_core_spark.operators.boilerplate import (
            remove_boilerplate_lines,
        )
        from sparvi_core_spark.operators.classify import classify_nb, train_nb
        from sparvi_core_spark.operators.decontamination import (
            filter_ngram_contaminated,
        )
        from sparvi_core_spark.operators.dedup import novelty_filter
        from sparvi_core_spark.operators.pipeline import prepare_corpus
        from sparvi_core_spark.operators.selection import (
            select_corpus,
            train_dsir,
        )

        span = self.tr.span
        with span("operators.remove_boilerplate_lines"):
            docs = remove_boilerplate_lines(
                self.docs, min_docs=2, min_frac=0.3).localCheckpoint()
        with span("operators.prepare_corpus"):
            clean, _ = prepare_corpus(
                docs, min_quality=0.2, dedup_threshold=0.6,
                max_dup_line_frac=0.5, survivor="best_quality")
            clean = clean.localCheckpoint()
        kept = {r[0] for r in clean.select("doc_id").collect()}
        for members in self.corpus.clusters:
            self.check(len(kept.intersection(members)) == 1,
                       f"near-dup cluster {members} kept "
                       f"{sorted(kept.intersection(members))}")
        with span("functions.train_kn_lm"):
            lm = train_kn_lm(clean)
        with span("functions.score_perplexity_kn"):
            ppl = score_perplexity_kn(clean, lm,
                                      broadcast_model=True).localCheckpoint()
        cutoff = ppl.agg(F.percentile_approx("perplexity", 0.95)).first()[0]
        clean = clean.join(ppl.filter(F.col("perplexity") <= cutoff)
                           .select("doc_id"), "doc_id").localCheckpoint()
        median_q = clean.agg(
            F.percentile_approx("quality_score", 0.5)).first()[0]
        seeds = clean.select(
            "doc_id", "text",
            F.when(F.col("quality_score") >= median_q, "keep")
            .otherwise("drop").alias("seed_label"))
        with span("operators.train_nb"):
            nb = train_nb(seeds, "seed_label", num_features=1 << 16)
        with span("operators.classify_nb"):
            preds = classify_nb(clean, nb).localCheckpoint()
        clean = clean.join(preds.filter(F.col("label") == "keep")
                           .select("doc_id"), "doc_id").localCheckpoint()
        n_gated = clean.count()
        target = self.docs.filter(F.col("lang") == "en").select(
            "doc_id", "text")
        with span("operators.train_dsir"):
            dsir = train_dsir(target, clean, num_buckets=4096)
        with span("operators.select_corpus"):
            selected = select_corpus(clean, dsir, int(n_gated * 0.9),
                                     greedy=True).localCheckpoint()
        with span("operators.filter_ngram_contaminated"):
            decon = filter_ngram_contaminated(
                selected.drop("log_importance"), self.evalset,
                n=13).localCheckpoint()
        with span("operators.novelty_filter"):
            novel, _ = novelty_filter(decon, self.prior, threshold=0.8)
            novel = novel.localCheckpoint()
        counts = (docs.count(), len(kept), n_gated, selected.count(),
                  decon.count(), novel.count())
        if self.counts:
            self.check(counts == self.counts[0],
                       f"stage row counts {counts} != {self.counts[0]}")
        self.counts.append(counts)

    def detail(self) -> dict:
        return {"stage_rows": list(self.counts[0]) if self.counts else []}


class IndexIngest(Workload):
    """The stored-index ingest loop of the ``dedup-index`` CLI: a MinHash
    probe beside the writes (append, auto-compaction, deletes). Sources-
    and driver-bound. Every round's append and compaction publish a new
    snapshot, so the reads always see a fresh one."""

    tables = ("documents",)
    BATCH_COPIES = 20  # planted copies of stored docs per probe batch
    BATCH_FRESH = 30  # new docs per probe batch
    DELETES = 10  # appended ids deleted per round
    # every append adds a file to the buckets it touches, so each round's
    # compact_*_if check really compacts: maintenance sits in the loop
    MAX_FILES_PER_BUCKET = 1
    THRESHOLD = 0.8
    N_BUCKETS = 8
    INDEX_SHARE = 0.5  # the index holds half the corpus size

    def setup(self, root: str) -> None:
        from sparvi_core_spark.sources.minhash_index import write_minhash_index

        os.makedirs(root, exist_ok=True)
        self.corpus = data.make_corpus(
            os.path.join(root, "documents.parquet"), self.seed,
            self.scale * self.INDEX_SHARE)
        views = self.register(root)
        self.mh_path = os.path.join(root, "mhidx")
        write_minhash_index(views["documents"].select("doc_id", "text"),
                            self.mh_path, num_hashes=16,
                            threshold=self.THRESHOLD,
                            n_buckets=self.N_BUCKETS)
        self.stored_docs = sorted(self.corpus.texts)
        self.live_docs = self.corpus.n_docs
        self.appended_docs: list[int] = []
        self.next_id = 10_000_000

    def round(self, n: int) -> None:
        from sparvi_core_spark.sources.minhash_index import (
            append_minhash_index,
            compact_minhash_index_if,
            delete_from_minhash_index,
            probe_minhash_index,
            read_minhash_index,
        )

        spark, span = self.spark, self.tr.span
        rng = np.random.default_rng([self.seed, 6, n])

        # probe a batch of planted copies + fresh docs, append the rows
        # that matched nothing, then the auto-compaction check
        src = rng.choice(self.stored_docs, self.BATCH_COPIES, replace=False)
        copy_ids = list(range(self.next_id,
                              self.next_id + self.BATCH_COPIES))
        self.next_id += self.BATCH_COPIES
        fresh = data.fresh_docs(self.seed, self.BATCH_FRESH, self.next_id)
        self.next_id += self.BATCH_FRESH
        rows = [(i, self.corpus.texts[int(s)]) for i, s in zip(copy_ids, src)]
        rows += list(fresh.items())
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        with span("sources.probe_minhash_index"):
            pairs = probe_minhash_index(spark, self.mh_path, batch).collect()
        hit = {}
        for p in pairs:
            hit.setdefault(p["batch_id"], set()).add(
                (p["index_id"], p["est_jaccard"]))
        for i, s in zip(copy_ids, src):
            self.check(any(j == s and e >= self.THRESHOLD
                           for j, e in hit.get(i, ())),
                       f"planted copy {i} of doc {s} not found")
        novel = [r for r in rows if r[0] not in hit]
        self.check(len(novel) == len(fresh), "fresh docs matched the index")
        novel_df = spark.createDataFrame(novel, "doc_id long, text string")
        with span("sources.append_minhash_index", watch=self.mh_path):
            append_minhash_index(spark, self.mh_path, novel_df)
        with span("sources.compact_minhash_index_if",
                  watch=self.mh_path):
            compact_minhash_index_if(spark, self.mh_path,
                                     self.MAX_FILES_PER_BUCKET)
        self.appended_docs += [r[0] for r in novel]
        self.live_docs += len(novel)

        drop = self.appended_docs[:self.DELETES]
        del self.appended_docs[:self.DELETES]
        with span("sources.delete_from_minhash_index"):
            delete_from_minhash_index(spark, self.mh_path, drop)
        self.live_docs -= len(drop)

        _, mh = read_minhash_index(spark, self.mh_path)
        self.check(mh["n_docs"] - mh.get("n_tombstones", 0) == self.live_docs,
                   f"minhash manifest {mh['n_docs']} docs "
                   f"{mh.get('n_tombstones', 0)} tombstones, "
                   f"expected {self.live_docs} live")

    def detail(self) -> dict:
        probes = self.tr.durations("sources.probe_minhash_index")
        pct, tail = _tail(probes)
        appends = self.tr.durations("sources.append_minhash_index")
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.mh_path) for f in fs)
        return {
            "probe_p50_s": _median(probes),
            "read_tail_s": tail,
            "read_tail_pct": pct,
            "read_samples": len(probes),
            "append_p50_s": _median(appends),
            "maint_per_append_s": sum(
                sum(self.tr.durations(f"sources.{f}")) for f in (
                    "compact_minhash_index_if", "delete_from_minhash_index")
            ) / max(1, len(appends)),
            "index_mb": size / 1e6,
        }


WORKLOADS = {
    "quality_checks": QualityChecks,
    "corpus_prep": CorpusPrep,
    "index_ingest": IndexIngest,
}
