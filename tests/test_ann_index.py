"""IVF index on storage: write → prune → search, equal to the
in-memory IVF path, with the pruning pinned in the PLAN and in the
file listing (the 100 TB claim is exactly "non-probed cells never
leave disk")."""

import random

import pytest
from pyspark.sql import functions as F

from sparvi_core_spark.sources.ann_index import (
    read_ivf_index,
    search_ivf_index,
    write_ivf_index,
)


def _corpus(spark, n=120, dim=6, seed=11, nulls=0):
    rnd = random.Random(seed)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(dim)], f"doc-{i}")
        for i in range(n)
    ]
    for j in range(nulls):
        rows.append((n + j, None, f"null-{j}"))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, payload string"
    )


def _centroids(spark, df, k=6):
    from sparvi_core_spark.operators.similarity import kmeans_fit

    cents, _ = kmeans_fit(df, k=k, max_iter=5, seed=3)
    return cents


def test_write_read_roundtrip_and_manifest(spark, tmp_path):
    df = _corpus(spark, nulls=3)
    cents = _centroids(spark, df)
    path = str(tmp_path / "idx")
    man = write_ivf_index(df, cents, path)

    data, rcents, rman = read_ivf_index(spark, path)
    assert rman == man
    assert man["format"] == "sparvi-ivf-index/2"
    # snapshot commit: the manifest records the live file set exactly
    assert sorted(man["files"]["vectors"]) == sorted(man["rows_per_bucket"])
    assert all(v for v in man["files"]["vectors"].values())
    assert man["staging_files"] == {"vectors": []}
    assert man["tombstone_files"] == []
    assert man["n_vectors"] == 120 and man["dropped_null"] == 3
    assert man["dim"] == 6 and man["k"] == 6
    assert sum(man["rows_per_bucket"].values()) == 120
    assert data.count() == 120  # NULL vectors not indexed
    # payload rides inside the index
    row = data.filter(F.col("vec_id") == 7).first()
    assert row["payload"] == "doc-7"
    # centroids round-trip exactly
    a = sorted((r["bucket"], tuple(r["centroid"])) for r in cents.collect())
    b = sorted((r["bucket"], tuple(r["centroid"])) for r in rcents.collect())
    assert a == b


def test_search_equals_in_memory_ivf(spark, tmp_path, monkeypatch):
    from sparvi_core_spark.operators import similarity
    from sparvi_core_spark.operators.similarity import cosine_topk_ivf
    from sparvi_core_spark.sources.ann_index import append_ivf_index

    # the centroid frame each search probes against, in call order
    frames = []
    real_assign = similarity.ivf_assign_probes

    def spy(queries, centroids, *args, **kwargs):
        frames.append(centroids)
        return real_assign(queries, centroids, *args, **kwargs)

    monkeypatch.setattr(similarity, "ivf_assign_probes", spy)

    df = _corpus(spark)
    cents = _centroids(spark, df)
    path = str(tmp_path / "idx")
    write_ivf_index(df, cents, path)
    queries = df.filter(F.col("vec_id") < 10).select("vec_id", "embedding")

    got = search_ivf_index(spark, path, queries, k=5, nprobe=2)
    want = cosine_topk_ivf(df, queries, cents, k=5, nprobe=2)
    key = lambda r: (r["query_id"], r["rank"])
    g = sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3]))
    w = sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))
    assert g == w and len(g) > 0

    # the centroid frame is built once per snapshot: a second search
    # reuses it, a search after an append (a new snapshot) does not
    first = frames[0]
    frames.clear()
    search_ivf_index(spark, path, queries, k=5, nprobe=2)
    append_ivf_index(
        _corpus(spark, n=5, seed=12).withColumn("vec_id", F.col("vec_id") + 1000),
        path,
    )
    search_ivf_index(spark, path, queries, k=5, nprobe=2)
    assert len(frames) == 2
    assert frames[0] is first and frames[1] is not first


def _walk_leaves(node, out):
    """Recursively collect true physical leaves, descending through
    AQE wrappers and materialized query stages (both of which report
    zero children to collectLeaves at the top level)."""
    name = node.getClass().getSimpleName()
    if "AdaptiveSparkPlan" in name:
        _walk_leaves(node.executedPlan(), out)
        return
    if "QueryStage" in name:
        _walk_leaves(node.plan(), out)
        return
    ch = node.children()
    if ch.size() == 0:
        out.append(node)
        return
    for i in range(ch.size()):
        _walk_leaves(ch.apply(i), out)


def _scan_metrics(df):
    """(numFiles, numPartitions) summed over the executed plan's
    parquet scan leaves — run AFTER an action so the SQL metrics are
    populated. This is Spark's own count of what the scan touched."""
    leaves = []
    _walk_leaves(df._jdf.queryExecution().executedPlan(), leaves)
    files = parts = 0
    for node in leaves:
        if "parquet" not in node.nodeName().lower():
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numFiles":
                files += kv._2().value()
            elif kv._1() == "numPartitions":
                parts += kv._2().value()
    return files, parts


def test_search_prunes_partitions_in_plan_and_files(spark, tmp_path):
    df = _corpus(spark)
    cents = _centroids(spark, df)
    path = str(tmp_path / "idx")
    man = write_ivf_index(df, cents, path)
    # one query: probes exactly 2 of the 6 cells
    queries = df.filter(F.col("vec_id") == 0).select("vec_id", "embedding")

    res = search_ivf_index(spark, path, queries, k=3, nprobe=2)
    res.collect()
    # mechanism pin: the bucket predicate rides in PartitionFilters
    # (directory-level pruning), not as a post-scan row filter
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("]")[0]
    assert "bucket" in pf and ("IN" in pf or "in" in pf)

    # measured pin: Spark's own scan metrics — only the 2 probed
    # cells (of 6 on disk) were listed and read
    data, _, _ = read_ivf_index(spark, path)
    total_files = len(data.inputFiles())
    n_cells = len(man["rows_per_bucket"])
    assert n_cells >= 4
    files_read, parts_read = _scan_metrics(res)
    assert parts_read == 2
    assert 0 < files_read < total_files


def test_files_per_bucket_bounds_layout(spark, tmp_path):
    df = _corpus(spark, n=300)
    cents = _centroids(spark, df, k=4)
    path = str(tmp_path / "idx2")
    write_ivf_index(df, cents, path, files_per_bucket=2)
    data, _, man = read_ivf_index(spark, path)
    assert data.count() == 300
    from collections import Counter

    per_cell = Counter()
    for f in data.inputFiles():
        cell = f.split("bucket=")[1].split("/")[0]
        per_cell[cell] += 1
    assert per_cell and all(c <= 2 for c in per_cell.values())


def test_validation_and_format_guard(spark, tmp_path):
    df = _corpus(spark, n=20)
    cents = _centroids(spark, df, k=2)
    with pytest.raises(ValueError, match="files_per_bucket"):
        write_ivf_index(df, cents, str(tmp_path / "x"), files_per_bucket=0)
    with pytest.raises(ValueError, match="bucket"):
        write_ivf_index(
            df.withColumn("bucket", F.lit(1)), cents, str(tmp_path / "x")
        )
    # not-an-index path refuses cleanly
    plain = str(tmp_path / "plain")
    df.write.parquet(plain)
    with pytest.raises(Exception):
        read_ivf_index(spark, plain)
    # query frame missing the index's columns
    path = str(tmp_path / "idx3")
    write_ivf_index(df, cents, path)
    bad_q = df.select(F.col("vec_id").alias("qid"), "embedding")
    with pytest.raises(ValueError, match="vec_id"):
        search_ivf_index(spark, path, bad_q, k=2)


def test_duplicate_and_null_ids_refused(spark, tmp_path):
    """Index ids are a key: the data write is vectors JOIN assignment
    on the id, so a duplicate id would store more rows than the
    manifest records (and compact_ivf_index's identity check would
    then refuse a healthy index forever), while a NULL id would be
    dropped by the join but counted by the assignment. Both must fail
    BEFORE any file lands — on write AND on append."""
    from sparvi_core_spark.sources.ann_index import append_ivf_index

    df = _corpus(spark, n=30)
    cents = _centroids(spark, df, k=3)
    dup = df.union(df.limit(2))
    with pytest.raises(ValueError, match="duplicate"):
        write_ivf_index(dup, cents, str(tmp_path / "dup"))
    assert not (tmp_path / "dup").exists()
    nul = df.union(
        df.limit(1).select(
            F.lit(None).cast("long").alias("vec_id"), "embedding", "payload"
        )
    )
    with pytest.raises(ValueError, match="NULL"):
        write_ivf_index(nul, cents, str(tmp_path / "nul"))
    # a healthy index then refuses a bad append batch, untouched
    path = str(tmp_path / "idx_ok")
    man = write_ivf_index(df, cents, path)
    batch = _corpus(spark, n=4, seed=99).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    with pytest.raises(ValueError, match="duplicate"):
        append_ivf_index(batch.union(batch.limit(1)), path)
    _, _, man2 = read_ivf_index(spark, path)
    assert man2 == man  # manifest unchanged by the refused append


@pytest.mark.slow
def test_append_accumulates_and_search_matches(spark, tmp_path):
    from sparvi_core_spark.operators.similarity import cosine_topk_ivf
    from sparvi_core_spark.sources.ann_index import (
        append_ivf_index,
        ivf_index_health,
    )

    base = _corpus(spark, n=100, seed=5)
    batch = _corpus(spark, n=40, seed=6).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    cents = _centroids(spark, base)
    path = str(tmp_path / "idx_app")
    write_ivf_index(base, cents, path)
    data0, _, _ = read_ivf_index(spark, path)
    files_before = set(data0.inputFiles())

    man = append_ivf_index(batch, path)
    assert man["n_vectors"] == 140 and man["appends"] == 1
    assert sum(man["rows_per_bucket"].values()) == 140

    data, _, rman = read_ivf_index(spark, path)
    assert rman == man
    assert data.count() == 140
    # append-only: every pre-append file still in the listing
    assert files_before <= set(data.inputFiles())
    # manifest per-cell counts == actual on-disk per-cell counts
    on_disk = {
        str(r["bucket"]): r["n"]
        for r in data.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert on_disk == man["rows_per_bucket"]

    # search over the appended index == in-memory IVF over the union
    union = base.unionByName(batch)
    queries = union.filter(F.col("vec_id").isin(3, 1005)).select(
        "vec_id", "embedding"
    )
    got = search_ivf_index(spark, path, queries, k=5, nprobe=2)
    want = cosine_topk_ivf(union, queries, cents, k=5, nprobe=2)
    g = sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3]))
    w = sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))
    assert g == w and len(g) > 0

    # health over the stored index: one row per centroid, counts match
    h = {r["bucket"]: r["n"] for r in ivf_index_health(spark, path).collect()}
    assert sum(h.values()) == 140
    assert len(h) == man["k"]


@pytest.mark.slow
def test_append_null_and_dim_guards(spark, tmp_path):
    from sparvi_core_spark.sources.ann_index import append_ivf_index

    base = _corpus(spark, n=60, seed=9)
    cents = _centroids(spark, base, k=4)
    path = str(tmp_path / "idx_guard")
    write_ivf_index(base, cents, path)

    # NULL vectors accumulate in dropped_null, are not indexed
    batch = _corpus(spark, n=10, seed=10, nulls=3).withColumn(
        "vec_id", F.col("vec_id") + 500
    )
    man = append_ivf_index(batch, path)
    assert man["n_vectors"] == 70 and man["dropped_null"] == 3
    data, _, _ = read_ivf_index(spark, path)
    assert data.count() == 70

    # wrong dim refuses BEFORE writing anything
    bad = _corpus(spark, n=5, dim=4, seed=12).withColumn(
        "vec_id", F.col("vec_id") + 900
    )
    with pytest.raises(ValueError, match="dim"):
        append_ivf_index(bad, path)
    data2, _, man2 = read_ivf_index(spark, path)
    assert data2.count() == 70 and man2["n_vectors"] == 70

    # missing column refuses
    with pytest.raises(ValueError, match="vec_id"):
        append_ivf_index(
            base.select(F.col("vec_id").alias("qid"), "embedding"), path
        )
    # appending to a non-index path refuses
    plain = str(tmp_path / "plain2")
    base.write.parquet(plain)
    with pytest.raises(Exception):
        append_ivf_index(base, plain)


@pytest.mark.slow
def test_compact_rewrites_only_fragmented_cells(spark, tmp_path):
    from sparvi_core_spark.operators.similarity import (
        cosine_topk_ivf,
        ivf_assign,
    )
    from sparvi_core_spark.sources.ann_index import (
        append_ivf_index,
        compact_ivf_index,
    )

    base = _corpus(spark, n=120, seed=21)
    cents = _centroids(spark, base, k=4)
    path = str(tmp_path / "idx_cmp")
    write_ivf_index(base, cents, path)

    # a batch that lands ONLY in the two largest cells: reuse base
    # vectors already assigned there, under fresh ids
    _, _, man0 = read_ivf_index(spark, path)
    big2 = sorted(
        man0["rows_per_bucket"], key=lambda b: -man0["rows_per_bucket"][b]
    )[:2]
    asg = ivf_assign(base, cents)
    batch = base.join(
        asg.filter(F.col("bucket").isin([int(b) for b in big2])).select(
            F.col("id").alias("vec_id")
        ),
        "vec_id",
    ).withColumn("vec_id", F.col("vec_id") + 10_000)
    n_batch = batch.count()
    assert n_batch > 0
    append_ivf_index(batch, path)

    data1, _, man1 = read_ivf_index(spark, path)
    by_cell_before = {}
    for f in data1.inputFiles():
        b = f.split("bucket=")[1].split("/")[0]
        by_cell_before.setdefault(b, set()).add(f)
    for b in man1["rows_per_bucket"]:
        assert len(by_cell_before[b]) == (2 if b in big2 else 1)

    rep = compact_ivf_index(spark, path)  # target: manifest fpb = 1
    assert rep["cells_compacted"] == 2
    assert rep["rows_rewritten"] == sum(
        man1["rows_per_bucket"][b] for b in big2
    )
    assert rep["files_after"] == len(man1["rows_per_bucket"])

    data2, _, man2 = read_ivf_index(spark, path)
    assert man2["compactions"] == 1
    assert man2["rows_per_bucket"] == man1["rows_per_bucket"]
    by_cell_after = {}
    for f in data2.inputFiles():
        b = f.split("bucket=")[1].split("/")[0]
        by_cell_after.setdefault(b, set()).add(f)
    for b in man2["rows_per_bucket"]:
        assert len(by_cell_after[b]) == 1
        if b not in big2:  # untouched cells keep their exact files
            assert by_cell_after[b] == by_cell_before[b]
        else:  # fragmented cells fully rewritten
            assert not (by_cell_after[b] & by_cell_before[b])
    # no leftovers from the swap
    assert not (tmp_path / "idx_cmp" / "_compact_tmp").exists()
    assert not (tmp_path / "idx_cmp" / "_compact_journal.json").exists()

    # data identical: search over compacted == in-memory over union
    union = base.unionByName(batch)
    queries = union.limit(15).select("vec_id", "embedding")
    got = sorted(
        map(tuple, search_ivf_index(spark, path, queries, k=4).collect())
    )
    want = sorted(
        map(tuple, cosine_topk_ivf(union, queries, cents, k=4, nprobe=2).collect())
    )
    assert got == want and len(got) > 0

    # idempotent: second run is a no-op
    rep2 = compact_ivf_index(spark, path)
    assert rep2["cells_compacted"] == 0
    assert rep2["files_before"] == rep2["files_after"] == rep["files_after"]


@pytest.mark.slow
def test_compact_repair_rolls_forward_and_back(spark, tmp_path):
    """Snapshot-commit repair rule: the manifest write IS the commit,
    so the journal alone decides — new files referenced by the
    manifest mean the swap committed (repair touches NO data file:
    the replaced originals are vacuum's, not repair's); unreferenced
    new files mean it never did (delete them, the store is exactly as
    it was)."""
    import json
    import os
    import shutil

    from sparvi_core_spark.sources.ann_index import (
        MANIFEST,
        _write_text,
        repair_ivf_index,
        vacuum_ivf_index,
    )

    base = _corpus(spark, n=80, seed=31)
    cents = _centroids(spark, base, k=3)
    path = str(tmp_path / "idx_rep")
    write_ivf_index(base, cents, path)
    cell = sorted(
        d for d in os.listdir(path) if d.startswith("bucket=")
    )[0]
    orig = [
        f for f in os.listdir(os.path.join(path, cell))
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    assert len(orig) == 1
    b = cell.split("=")[1]

    # clean index: repair is a no-op
    assert repair_ivf_index(spark, path)["action"] == "clean"

    # COMMITTED: the new file landed AND the manifest references it
    # (a crash after the manifest write but before the journal drop)
    # → repair just finishes the cleanup; the original stays on disk
    # for any in-flight reader until vacuum
    copy = "compacted-test-0.parquet"
    shutil.copy(
        os.path.join(path, cell, orig[0]), os.path.join(path, cell, copy)
    )
    with open(os.path.join(path, MANIFEST)) as fh:
        man = json.load(fh)
    n_vectors = man["n_vectors"]
    man["files"]["vectors"][b] = [copy]
    _write_text(spark, path, MANIFEST, json.dumps(man))
    with open(os.path.join(path, "_compact_journal.json"), "w") as fh:
        json.dump({"cells": {b: {"new": [copy], "old": orig}}}, fh)
    assert repair_ivf_index(spark, path)["action"] == "rolled_forward"
    left = os.listdir(os.path.join(path, cell))
    assert copy in left and orig[0] in left  # original awaits vacuum
    data, _, _ = read_ivf_index(spark, path)
    assert data.count() == n_vectors  # readers see ONLY the snapshot
    vacuum_ivf_index(spark, path)
    left = os.listdir(os.path.join(path, cell))
    assert copy in left and orig[0] not in left

    # UNCOMMITTED: a new file landed but the manifest never
    # referenced it (crash before the commit) → repair deletes it
    partial = "compacted-test-1.parquet"
    shutil.copy(
        os.path.join(path, cell, copy), os.path.join(path, cell, partial)
    )
    with open(os.path.join(path, "_compact_journal.json"), "w") as fh:
        json.dump(
            {"cells": {b: {"new": [partial, "never-landed.parquet"],
                           "old": [copy]}}},
            fh,
        )
    assert repair_ivf_index(spark, path)["action"] == "rolled_back"
    left = os.listdir(os.path.join(path, cell))
    assert copy in left and partial not in left
    assert read_ivf_index(spark, path)[0].count() == n_vectors

    # orphan tmp dir without a journal: dropped
    os.makedirs(os.path.join(path, "_compact_tmp", cell), exist_ok=True)
    assert repair_ivf_index(spark, path)["action"] == "removed_orphan_tmp"
    assert not os.path.exists(os.path.join(path, "_compact_tmp"))


@pytest.mark.slow
def test_retrain_blue_green(spark, tmp_path):
    from sparvi_core_spark.operators.similarity import cosine_topk
    from sparvi_core_spark.sources.ann_index import retrain_ivf_index

    base = _corpus(spark, n=150, seed=41)
    cents = _centroids(spark, base, k=2)
    src = str(tmp_path / "idx_old")
    dst = str(tmp_path / "idx_new")
    write_ivf_index(base, cents, src)

    with pytest.raises(ValueError, match="blue/green"):
        retrain_ivf_index(spark, src, src + "/")

    man, info = retrain_ivf_index(spark, src, dst, k=5, seed=9)
    assert man["k"] == 5 and man["n_vectors"] == 150
    assert info["iterations"] >= 1

    # old index untouched and still serving
    _, _, old_man = read_ivf_index(spark, src)
    assert old_man["k"] == 2 and old_man["n_vectors"] == 150

    # new index at nprobe=k is exact: equals brute-force cosine_topk
    queries = base.limit(10).select("vec_id", "embedding")
    got = sorted(
        map(tuple, search_ivf_index(spark, dst, queries, k=3, nprobe=5).collect())
    )
    want = sorted(map(tuple, cosine_topk(base, queries, k=3).collect()))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_delete_by_id_lifecycle(spark, tmp_path):
    """Takedown on the float IVF index: delete is logical + immediate,
    re-append of a tombstoned id refuses, compaction purges and
    reconciles the manifest, retrain-to-new-path excludes pending
    deletes (purge for free)."""
    import json

    from sparvi_core_spark.sources.ann_index import (
        MANIFEST,
        _read_text,
        append_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        retrain_ivf_index,
    )

    df = _corpus(spark, n=120)
    cents = _centroids(spark, df)
    path = str(tmp_path / "idx")
    write_ivf_index(df, cents, path)
    queries = df.filter(F.col("vec_id") % 30 == 0).drop("payload")

    before = search_ivf_index(spark, path, queries, k=5, nprobe=6)
    victims = sorted(
        {r["neighbor_id"] for r in before.collect()} - {0, 30, 60, 90}
    )[:3]

    stats = delete_from_ivf_index(spark, path, victims)
    assert stats["requested"] == 3 and stats["pending_purge"] == 3

    after = {
        r["neighbor_id"]
        for r in search_ivf_index(spark, path, queries, k=5, nprobe=6).collect()
    }
    assert not (after & set(victims))

    with pytest.raises(ValueError, match="tombstoned"):
        append_ivf_index(df.filter(F.col("vec_id") == victims[0]), path)

    # retrain to a new path excludes the pending deletes
    dest = str(tmp_path / "idx2")
    new_man, _info = retrain_ivf_index(spark, path, dest, k=6)
    assert new_man["n_vectors"] == 117

    out = compact_ivf_index(spark, path)
    assert out["purge"]["rows_dropped"] == 3
    man = json.loads(_read_text(spark, path, MANIFEST))
    assert man["n_vectors"] == 117 and man["purged_total"] == 3
    assert "n_tombstones" not in man

    final = {
        r["neighbor_id"]
        for r in search_ivf_index(spark, path, queries, k=5, nprobe=6).collect()
    }
    assert not (final & set(victims))
    append_ivf_index(df.filter(F.col("vec_id") == victims[0]), path)
    assert "purge" not in compact_ivf_index(spark, path)


@pytest.mark.slow
def test_compact_if_trigger(spark, tmp_path):
    """Auto-compaction knob on the float IVF index: gauge-only below
    the threshold, fold above it, search identical, no-op once clean."""
    import json as _json
    import os

    from sparvi_core_spark.sources.ann_index import (
        MANIFEST,
        append_ivf_index,
        compact_ivf_index_if,
        live_fragmentation,
        store_fragmentation,
        vacuum_ivf_index,
    )

    def _live_gauge(p):
        with open(os.path.join(p, MANIFEST)) as fh:
            return live_fragmentation(_json.load(fh)["files"]["vectors"])

    base = _corpus(spark, n=120, seed=21)
    cents = _centroids(spark, base, k=4)
    path = str(tmp_path / "idx_if")
    write_ivf_index(base, cents, path)
    for g in range(3):
        batch = _corpus(spark, n=30, seed=40 + g).withColumn(
            "vec_id", F.col("vec_id") + 1000 * (g + 1)
        )
        append_ivf_index(batch, path)
    assert _live_gauge(path)["max_files_per_bucket"] >= 3

    queries = base.limit(10).select("vec_id", "embedding")
    before = sorted(
        map(tuple, search_ivf_index(spark, path, queries, k=4).collect())
    )

    out = compact_ivf_index_if(spark, path, max_files_per_bucket=64)
    assert out["compacted"] is False and "stats" not in out

    out2 = compact_ivf_index_if(spark, path, max_files_per_bucket=2)
    assert out2["compacted"] is True
    assert out2["stats"]["cells_compacted"] > 0
    # the LIVE gauge (what a search opens) is clean immediately; the
    # replaced files stay physically until vacuum retires them
    assert _live_gauge(path)["max_files_per_bucket"] == 1
    assert store_fragmentation(spark, path)["max_files_per_bucket"] >= 4
    after = sorted(
        map(tuple, search_ivf_index(spark, path, queries, k=4).collect())
    )
    assert after == before
    vacuum_ivf_index(spark, path)
    assert store_fragmentation(spark, path)["max_files_per_bucket"] == 1

    out3 = compact_ivf_index_if(spark, path, max_files_per_bucket=2)
    assert out3["compacted"] is False


@pytest.mark.slow
def test_staged_append_ivf_parity_and_fold(spark, tmp_path):
    """IVF staging tier: a staged append creates ONE file, searches
    see staged rows transparently (parity with a normal-append twin),
    the staging gauge trips compact_ivf_index_if, and the fold brings
    the index back to pure cell partitions with answers unchanged —
    including a takedown of a still-staged id."""
    import os

    from sparvi_core_spark.sources.ann_index import (
        _staging_files,
        append_ivf_index,
        compact_ivf_index_if,
        delete_from_ivf_index,
        read_ivf_index,
    )

    base = _corpus(spark, n=120, seed=21)
    cents = _centroids(spark, base, k=4)
    a, b = str(tmp_path / "normal"), str(tmp_path / "staged")
    for p in (a, b):
        write_ivf_index(base, cents, p)
    gens = [
        _corpus(spark, n=25, seed=60 + g).withColumn(
            "vec_id", F.col("vec_id") + 1000 * (g + 1)
        )
        for g in range(2)
    ]
    for gen in gens:
        append_ivf_index(gen, a)
        append_ivf_index(gen, b, staged=True)
    assert len(_staging_files(spark, b, "vectors")) == 2

    data_a, _, man_a = read_ivf_index(spark, a)
    data_b, _, man_b = read_ivf_index(spark, b)
    assert man_a["rows_per_bucket"] == man_b["rows_per_bucket"]
    assert data_b.count() == 170

    queries = base.limit(10).select("vec_id", "embedding")
    got_a = sorted(map(tuple, search_ivf_index(spark, a, queries, k=4).collect()))
    got_b = sorted(map(tuple, search_ivf_index(spark, b, queries, k=4).collect()))
    assert got_a == got_b and len(got_b) > 0

    # takedown of a STILL-STAGED id is immediate, purged by the fold
    victim = int(gens[0].limit(1).collect()[0]["vec_id"])
    delete_from_ivf_index(spark, b, [victim])
    assert not any(
        r["neighbor_id"] == victim
        for r in search_ivf_index(spark, b, queries, k=120).collect()
    )

    out = compact_ivf_index_if(spark, b, max_files_per_bucket=1)
    # 2 staged files > 1, bucket fan-in clean -> the CHEAP tier: the
    # append-shaped staging fold, not the full compact
    assert out["folded"] is True and out["compacted"] is False
    assert out["stats"]["rows_folded"] == 50
    # the fold's commit unreferences staging; the physical files wait
    # for vacuum (an in-flight search may still be planning on them)
    _, _, man_fold = read_ivf_index(spark, b)
    assert man_fold["staging_files"]["vectors"] == []
    assert len(_staging_files(spark, b, "vectors")) == 2
    # the fold leaves the tombstone pending — searches still exclude
    # the victim — and the answers already match the normal twin with
    # the same takedown applied
    delete_from_ivf_index(spark, a, [victim])
    got_b2 = sorted(
        map(tuple, search_ivf_index(spark, b, queries, k=4).collect())
    )
    got_a2 = sorted(
        map(tuple, search_ivf_index(spark, a, queries, k=4).collect())
    )
    assert got_b2 == got_a2 and len(got_b2) > 0
    # the FULL compact purges the tombstone and sweeps the fold's
    # fan-in (each touched bucket is at store+fold = 2 files)
    from sparvi_core_spark.sources.ann_index import compact_ivf_index

    full = compact_ivf_index(spark, b)
    assert full["purge"]["rows_dropped"] == 1
    assert "staging" not in full  # nothing staged anymore
    got_b3 = sorted(
        map(tuple, search_ivf_index(spark, b, queries, k=4).collect())
    )
    assert got_b3 == got_a2
    out2 = compact_ivf_index_if(spark, b, max_files_per_bucket=1)
    assert out2["compacted"] is False and out2["folded"] is False
    # vacuum reclaims the consumed staging files (and every other
    # unreferenced file the swaps retired)
    from sparvi_core_spark.sources.ann_index import vacuum_ivf_index

    assert vacuum_ivf_index(spark, b)["files_vacuumed"] > 0
    assert _staging_files(spark, b, "vectors") == []


@pytest.mark.slow
def test_rename_into_cells_mkdirs_and_checks_returns(spark, tmp_path):
    """Round-10 ADVICE (high): on HDFS/ABFS, rename into a missing
    parent dir returns False (local FS silently falls back to copy,
    which creates parents) — the swap must mkdirs every target cell
    dir first and treat a False rename as a hard failure, not a
    silent row drop."""
    from sparvi_core_spark.sources.ann_index import _rename_into_cells

    class FakeFS:
        def __init__(self, fail_on=None):
            self.dirs = set()
            self.renames = []
            self.mkdirs_calls = []
            self.fail_on = fail_on or set()

        def exists(self, p):
            return p in self.dirs

        def mkdirs(self, p):
            self.mkdirs_calls.append(p)
            self.dirs.add(p)
            return True

        def rename(self, src, dst):
            self.renames.append((src, dst))
            return dst not in self.fail_on

    root = str(tmp_path / "idx")  # no journal on disk: repair = clean
    tmp = f"{root}/_compact_tmp"
    produced = {3: ["part-a.parquet"], 7: ["part-b.parquet"]}

    fs = FakeFS()
    _rename_into_cells(spark, fs, str, root, tmp, produced)
    # every cell dir created BEFORE any rename into it
    assert f"{root}/bucket=3" in fs.mkdirs_calls
    assert f"{root}/bucket=7" in fs.mkdirs_calls
    assert len(fs.renames) == 2

    bad = f"{root}/bucket=7/part-b.parquet"
    fs2 = FakeFS(fail_on={bad})
    with pytest.raises(IOError, match="swap rename .* failed"):
        _rename_into_cells(spark, fs2, str, root, tmp, produced)


@pytest.mark.slow
def test_stale_break_lock_race_detected(spark, tmp_path):
    """Round-10 verdict #4: the stale-lock auto-break is
    check-then-act — two same-host acquirers can both observe a
    dead-pid lock, and the slower delete can remove the faster
    winner's FRESH lock. After a contended create the acquirer must
    re-read the lock and verify its own token; a mismatch is a clean
    'lost the race' error, never an unfenced writer."""
    import json as _json
    import os

    from sparvi_core_spark.sources import ann_index as ai

    df = _corpus(spark, n=40, seed=5)
    path = str(tmp_path / "ivf")
    write_ivf_index(df, _centroids(spark, df, k=3), path)
    lockfile = os.path.join(path, "_writer.lock")

    # a crashed same-host holder left a stale lock behind (a real
    # exited process's pid, so _lock_is_stale sees it as dead)
    import subprocess

    proc = subprocess.Popen(["true"])
    proc.wait()

    def plant_stale():
        with open(lockfile, "w") as f:
            _json.dump(
                {"pid": proc.pid, "host": __import__("socket").gethostname(),
                 "op": "append", "token": "stale"}, f,
            )

    # interleave: after THIS process breaks the stale lock and
    # re-creates, a rival's delayed delete+create lands first — the
    # post-create verify must read the RIVAL's token
    plant_stale()
    real_read = ai._read_text
    calls = {"n": 0}

    def rigged_read(sp, d, name):
        out = real_read(sp, d, name)
        if name == "_writer.lock":
            calls["n"] += 1
            if calls["n"] == 2:  # the post-create ownership verify
                return _json.dumps(
                    {"pid": 999, "host": "rival", "token": "rival-token"}
                )
        return out

    ai._read_text, orig = rigged_read, ai._read_text
    try:
        with pytest.raises(RuntimeError, match="lost the lock race"):
            with ai.writer_lock(spark, path, "op-x"):
                raise AssertionError("must not enter unfenced")
    finally:
        ai._read_text = orig
    # clean up through the FS API (drops the checksum sidecar too)
    ai.break_writer_lock(spark, path)

    # same stale lock, NO rival: the break-and-acquire path wins
    plant_stale()
    with ai.writer_lock(spark, path, "op-y"):
        with open(lockfile) as f:
            assert _json.load(f)["op"] == "op-y"
    assert not os.path.exists(lockfile)


@pytest.mark.slow
def test_staged_fold_into_previously_empty_cell(spark, tmp_path):
    """A staged batch can assign rows to a cell that was EMPTY at
    build time (its bucket dir does not exist). The fold must create
    the dir and land the rows — this is the exact layout where a
    non-local filesystem's rename-into-missing-parent returns False
    and, unchecked, would silently drop the staged rows."""
    import os

    from sparvi_core_spark.sources.ann_index import (
        append_ivf_index,
        compact_ivf_index,
    )

    # hand-built centroids: cell 3 is far from every base vector, so
    # the build writes no bucket=3 dir
    dim = 4
    cents = spark.createDataFrame(
        [(0, [0.0] * dim), (1, [1.0] * dim), (2, [-1.0] * dim),
         (3, [100.0] * dim)],
        "bucket int, centroid array<double>",
    )
    rnd = random.Random(7)
    base = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(dim)], f"d{i}")
         for i in range(60)],
        "vec_id long, embedding array<double>, payload string",
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(base, cents, path)
    assert not os.path.exists(os.path.join(path, "bucket=3"))

    far = spark.createDataFrame(
        [(1000 + j, [100.0 + 0.01 * j] * dim, f"far{j}") for j in range(5)],
        "vec_id long, embedding array<double>, payload string",
    )
    append_ivf_index(far, path, staged=True)
    compact_ivf_index(spark, path)

    assert os.path.exists(os.path.join(path, "bucket=3"))
    # staging is unreferenced (vacuum's job now), not deleted in place
    _, _, man_after = read_ivf_index(spark, path)
    assert man_after["staging_files"]["vectors"] == []
    q = far.limit(2).select("vec_id", "embedding")
    hits = search_ivf_index(spark, path, q, k=3).collect()
    assert hits and all(r["neighbor_id"] >= 1000 for r in hits)
    _, _, man = read_ivf_index(spark, path)
    assert man["rows_per_bucket"]["3"] == 5
@pytest.mark.slow
def test_pinned_reader_survives_compaction(spark, tmp_path):
    """THE snapshot-commit guarantee: a search/read planned BEFORE a
    compaction keeps working — and keeps answering from its own
    snapshot — while and after the swap commits, because replaced
    files are unreferenced, never deleted (the legacy protocol's
    delete pass would have killed this scan with a missing-input
    error mid-flight). Vacuum with a retention window is what finally
    retires them."""
    from sparvi_core_spark.sources.ann_index import (
        append_ivf_index,
        compact_ivf_index,
        vacuum_ivf_index,
    )

    base = _corpus(spark, n=100, seed=41)
    cents = _centroids(spark, base, k=4)
    path = str(tmp_path / "ivf_pin")
    write_ivf_index(base, cents, path)
    for g in range(2):
        append_ivf_index(
            _corpus(spark, n=20, seed=50 + g).withColumn(
                "vec_id", F.col("vec_id") + 1000 * (g + 1)
            ),
            path,
        )

    pinned, _, _ = read_ivf_index(spark, path)  # file list planned NOW
    queries = base.limit(5).select("vec_id", "embedding")
    pinned_hits = search_ivf_index(spark, path, queries, k=4)

    stats = compact_ivf_index(spark, path)
    assert stats["cells_compacted"] > 0

    # the pre-compaction frames still execute, against their snapshot
    assert pinned.count() == 140
    assert pinned.select("vec_id").distinct().count() == 140
    got = sorted(map(tuple, pinned_hits.collect()))
    fresh = sorted(
        map(tuple, search_ivf_index(spark, path, queries, k=4).collect())
    )
    assert got == fresh and len(got) > 0

    # retention window: a first vacuum pass only REGISTERS the newly
    # unreferenced files (first-seen ledger); they die a window later
    out1 = vacuum_ivf_index(spark, path, older_than_s=3600)
    assert out1["files_vacuumed"] == 0 and out1["files_pending"] > 0
    assert pinned.count() == 140  # still readable
    out2 = vacuum_ivf_index(spark, path, older_than_s=0.0)
    assert out2["files_vacuumed"] > 0 and out2["files_pending"] == 0
    assert read_ivf_index(spark, path)[0].count() == 140


@pytest.mark.slow
def test_crashed_append_is_invisible_and_vacuumed(spark, tmp_path):
    """A crash between an append's data write and its manifest commit
    leaves files referenced by NOTHING: readers, searches, identity
    checks, and maintenance all behave as if the append never started
    (no refusal fence needed — the r10-era intent marker existed only
    because listing-based readers could see uncommitted rows), and
    vacuum reclaims the orphans."""
    import pytest

    from sparvi_core_spark.sources import writers as W
    from sparvi_core_spark.sources.ann_index import (
        MANIFEST,
        append_ivf_index,
        compact_ivf_index,
        fold_staging_ivf_index,
        store_fragmentation,
        vacuum_ivf_index,
    )

    base = _corpus(spark, n=60, seed=3)
    path = str(tmp_path / "ivf_orphan")
    write_ivf_index(base, _centroids(spark, base, k=3), path)

    new = _corpus(spark, n=15, seed=11).withColumn(
        "vec_id", F.col("vec_id") + 5000
    )
    real = W._hadoop_write_text

    def boom(sp, dir_path, name, text):
        if name == MANIFEST:
            raise RuntimeError("simulated crash")
        return real(sp, dir_path, name, text)

    W._hadoop_write_text = boom
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            append_ivf_index(new, path)
    finally:
        W._hadoop_write_text = real

    # rows landed physically but are invisible everywhere
    assert store_fragmentation(spark, path)["total_files"] > 3
    data, _, man = read_ivf_index(spark, path)
    assert data.count() == 60 and man["n_vectors"] == 60

    # maintenance runs fine over the snapshot (identity checks see
    # only referenced files) and never adopts the orphans
    assert compact_ivf_index(spark, path)["rows_rewritten"] == 0
    assert fold_staging_ivf_index(spark, path)["cells_folded"] == 0
    assert read_ivf_index(spark, path)[0].count() == 60

    out = vacuum_ivf_index(spark, path)
    assert out["files_vacuumed"] > 0
    assert store_fragmentation(spark, path)["total_files"] == 3
    assert read_ivf_index(spark, path)[0].count() == 60

    # the SAME batch can simply be appended again — exactly-once by
    # construction, no screen
    man2 = append_ivf_index(new, path)
    assert man2["n_vectors"] == 75
    assert read_ivf_index(spark, path)[0].select(
        "vec_id"
    ).distinct().count() == 75
