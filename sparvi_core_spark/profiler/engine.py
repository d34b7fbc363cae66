"""Profiling engine — reference-contract profile dict, Spark-first plan.

Output contract matches ``sparvi/profiler/profile_engine.py:408-454``
key-for-key (``table, timestamp, row_count, duplicate_count,
completeness, numeric_stats, text_patterns, text_length_stats,
date_stats, frequent_values, outliers, [samples], anomalies,
schema_shifts, trends``).

Physical plan (vs the reference's ~dozens of warehouse round-trips):
one job per aggregate family, each over the input as it was read.

1. **J1** the aggregate families, one ``df.agg`` each:
   - streaming aggregates: row count + per-column nulls + numeric/text/
     date stat families (+ HLL distincts in approx mode) — one
     column-pruned scan, whole-stage codegen;
   - exact distincts: one job, a single Expand;
   - quartiles of every numeric column: one job (exact ``percentile``
     or ``percentile_approx``).
2. **J2** duplicate-group count: ``groupBy(*all).count().filter(>1)`` —
   hash aggregate with map-side partials (counts *groups*, matching
   profile_engine.py:100-116).
3. **J3** frequent values, all columns in ONE pass: ``stack`` the
   columns into (col, value) pairs → groupBy → per-column top-1
   (vs the reference's one query per column, profile_engine.py:290-335).
   Guarded by the reference's 1M-row threshold.
4. **J4** outliers, all numeric columns in one pass: stack + per-column
   3σ bounds broadcast as a map literal (the reference's 1-row CTE cross
   join, profile_engine.py:337-385, becomes two scalar literals).
5. **J5** ``limit(10)`` samples — the table's first rows.

The J1 jobs and J2 are submitted at once; J3-J5 follow the streaming
agg, whose row count and avg/stdev they need. No materialization
barrier and no repartition: the concurrent jobs are the parallelism.
Measurements behind these choices: SCALE.md "Profiling engine".
"""

from __future__ import annotations

import datetime
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from sparvi_core_spark.coltypes import bucket_columns
from sparvi_core_spark.config import get_config
from sparvi_core_spark.errors import error_message
from sparvi_core_spark.profiler import metrics as M
from sparvi_core_spark.profiler.compare import (
    detect_anomalies,
    detect_schema_shifts,
    empty_trends,
)
from sparvi_core_spark.session import read_table


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _stack_pairs(df: DataFrame, cols: list[str], cast_to: str) -> DataFrame:
    """(col_name, col_value) rows from N columns in one projection."""
    args = ", ".join(
        "'{}', cast({} as {})".format(c.replace("'", "''"), _q(c), cast_to)
        for c in cols
    )
    return df.select(
        F.expr(f"stack({len(cols)}, {args})").alias("col_name", "col_value")
    )


def _estimate_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's pre-execution size estimate for the plan (bytes).

    Plans with unknown stats report ``spark.sql.defaultSizeInBytes``
    (Long.MaxValue by default) — treat anything that large as unknown
    rather than "huge"."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return None if est >= 1 << 62 else est


def _restore_value(val: str, kind: str):
    if kind != "numeric" or val is None:
        return val
    try:
        f = float(val)
        return int(f) if f.is_integer() else f
    except ValueError:
        return val


def _to_date(v):
    if isinstance(v, datetime.datetime):
        return v.date()
    return v


def profile_tables(
    spark: SparkSession,
    tables: list[str],
    include_samples: bool = False,
    config: dict | None = None,
    parallelism: int = 4,
) -> dict[str, dict[str, Any]]:
    """Profile several tables concurrently on the shared session —
    per-table jobs interleave on the scheduler, overlapping scans the
    way the reference's sequential per-table round-trips never could."""
    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as ex:
        futures = {
            t: ex.submit(
                profile_table,
                spark,
                t,
                include_samples=include_samples,
                config=config,
            )
            for t in tables
        }
        return {t: f.result() for t, f in futures.items()}


def profile_table(
    spark: SparkSession,
    table: str,
    historical_data: dict | None = None,
    include_samples: bool = True,
    df: DataFrame | None = None,
    config: dict | None = None,
) -> dict[str, Any]:
    """Profile a table (temp view name or file path) → reference-shaped dict.

    Mirrors ``profile_table(connection_str, table, ...)``
    (profile_engine.py:17) with the connection string replaced by a
    SparkSession. ``historical_data`` enables anomaly / schema-shift
    detection — implemented for real here (the reference stubs it,
    profile_engine.py:437-443).
    """
    cfg = get_config(config)
    p = cfg["profiling"]
    # fail fast on a bad knob — inside the per-metric isolation it would
    # silently degrade to an errors[] entry instead of rejecting
    if p["sample_method"] not in ("limit", "random"):
        raise ValueError(
            f"sample_method must be 'limit' or 'random', got {p['sample_method']!r}"
        )
    if df is None:
        df = read_table(spark, table)
    b = bucket_columns(df.schema)

    # Scale-adaptive defaults: above the size threshold, flip to approx
    # distincts (HLL, fuses into the streaming agg), approx percentiles,
    # and the hash-key duplicate check (one md5 through the shuffle
    # instead of full-width rows) unless the caller pinned them
    # explicitly (overrides or SPARVI_PROFILING_* env).
    explicit = set((config or {}).get("profiling", {}))
    explicit |= {
        k
        for k in ("approx_distinct", "approx_percentiles", "duplicate_check_mode")
        if f"SPARVI_PROFILING_{k.upper()}" in os.environ
    }
    if p["auto_approx"]:
        est = _estimate_size_bytes(df)
        if est is not None and est > p["auto_approx_size_bytes"]:
            for k in ("approx_distinct", "approx_percentiles"):
                if k not in explicit:
                    p[k] = True
            if "duplicate_check_mode" not in explicit:
                p["duplicate_check_mode"] = "hash"

    # --- J1: aggregate families, one job each -------------------------
    # Exact count_distinct plans an Expand and percentile is an
    # object-hash aggregate; fused with the streaming aggregates either
    # knocks the whole agg out of whole-stage codegen, so each family is
    # its own concurrent job: all exact distincts in one (a single
    # Expand, its N× rows bounded by the exact-mode size gate), the
    # quartiles of every numeric column in another. Approx distinct
    # (HLL) is a streaming agg and joins the first job.
    nd_exprs = [F.count(F.lit(1)).alias("row_count")]
    nd_exprs += M.null_count_exprs(b.all)
    nd_exprs += M.numeric_stats_exprs(b.numeric)
    nd_exprs += M.text_stats_exprs(b.text)
    nd_exprs += M.text_pattern_exprs(b.text)
    nd_exprs += M.date_stats_exprs(b.date)
    d_exprs = M.distinct_count_exprs(
        b.groupable, approx=p["approx_distinct"], rsd=p["approx_distinct_rsd"]
    )
    pct_exprs = M.percentile_exprs(
        b.numeric,
        approx=p["approx_percentiles"],
        accuracy=p["approx_percentile_accuracy"],
    )
    if p["approx_distinct"]:
        nd_exprs += d_exprs
        d_exprs = []
    extra_jobs = [e for e in (d_exprs, pct_exprs) if e]
    # Scheduling: the streaming agg, the distinct and quartile jobs and
    # the duplicate-group job share no state, so all start at t0. The
    # streaming agg gates only the cheap tail (frequent values /
    # outliers / samples need row_count or avg/stdev), submitted the
    # moment it lands. A failed streaming, distinct or quartile job
    # raises out of profile_table; J2-J5 degrade into errors[].
    pool = ThreadPoolExecutor(max_workers=5 + len(extra_jobs))
    wide = {}
    f_nd = pool.submit(lambda: df.agg(*nd_exprs).first().asDict())
    j1_futures = [
        pool.submit(lambda e=e: df.agg(*e).first().asDict())
        for e in extra_jobs
    ]
    # extra_jobs lists the exact distinct job first — J3 waits on
    # exactly it, not on the quartile job behind it
    d_futures = j1_futures[:1] if d_exprs else []

    try:
        groupable = set(b.groupable)

        def _assemble():
            # --- assembly of J1 families (driver-side, no Spark work);
            # called after the j1_futures drain fills `wide` -----------
            completeness = {}
            for c in b.all:
                nulls = wide[M.a("nulls", c)] or 0
                entry = {
                    "nulls": nulls,
                    "null_percentage": round(nulls / row_count * 100, 2)
                    if row_count > 0
                    else 0,
                }
                if c in groupable:
                    distinct = wide.get(M.a("distinct", c)) or 0
                    entry["distinct_count"] = distinct
                    entry["distinct_percentage"] = (
                        round(distinct / row_count * 100, 2) if row_count > 0 else 0
                    )
                else:
                    # non-groupable column (e.g. MapType): distinct is not
                    # computable in Spark — explicit None beats a silent 0
                    entry["distinct_count"] = None
                    entry["distinct_percentage"] = None
                completeness[c] = entry

            numeric_stats = {}
            for c in b.numeric:
                q = wide[M.a("quartiles", c)] or [None, None, None]
                numeric_stats[c] = {
                    "min": wide[M.a("min", c)],
                    "max": wide[M.a("max", c)],
                    "avg": wide[M.a("avg", c)],
                    "sum": wide[M.a("sum", c)],
                    "stdev": wide[M.a("stdev", c)],
                    "q1": q[0],
                    "median": q[1],
                    "q3": q[2],
                }
            return completeness, numeric_stats

        def _assemble_dates():
            # distinct_count for date columns rides the distinct jobs —
            # assembled after the drain like completeness/numeric_stats
            date_stats = {}
            for c in b.date:
                mn, mx = wide[M.a("min_date", c)], wide[M.a("max_date", c)]
                days = None
                if mn is not None and mx is not None:
                    days = (_to_date(mx) - _to_date(mn)).days
                date_stats[c] = {
                    "min_date": mn,
                    "max_date": mx,
                    "distinct_count": wide[M.a("distinct", c)] or 0,
                    "date_range_days": days,
                }
            return date_stats

        # --- J2-J5: independent jobs, submitted concurrently -----------
        # (dup groups, frequent values, outliers, samples share no state;
        # the scheduler interleaves their stages across the cluster)

        def _row_hash_key():
            # One md5 per row through the shuffle instead of the full
            # row — the wide-table scale path. Each field is
            # length-prefixed ("<len>:<value>", NULL → "\x00") so field
            # boundaries and NULLs are unambiguous: ('a\x1fb',) vs
            # ('a','b') and a literal '\x00' string vs NULL all hash
            # differently.
            parts = []
            for c in b.all:
                s = F.col(c).cast("string")
                parts.append(
                    F.when(s.isNull(), F.lit("\x00")).otherwise(
                        F.concat(F.length(s).cast("string"), F.lit(":"), s)
                    )
                )
            return F.md5(F.concat_ws("\x1f", *parts))

        def j2_duplicates() -> int | None:
            # A4 — duplicated full-row groups. Returns None (not 0) when
            # the check is skipped: a silent 0 is indistinguishable from
            # "no duplicates".
            if not b.all or len(b.all) > p["duplicate_check_max_columns"]:
                return None
            mode = p["duplicate_check_mode"]
            if mode != "hash" and len(b.groupable) < len(b.all):
                # full-row groupBy cannot include non-orderable columns
                # (MapType) — degrade to the hash key, which can.
                mode = "hash"
            if mode == "hash":
                groups = df.groupBy(_row_hash_key().alias("__rowhash"))
            else:
                groups = df.groupBy(*b.all)
            return groups.count().filter(F.col("count") > 1).count()

        def j3_frequent_values() -> dict:
            # A11 — top-1 per column in one pass. Near-unique columns
            # (distinct fraction above the config cap) are skipped:
            # their top-1 is noise and grouping them shuffles nearly
            # every row. min_by over struct(-freq, value) is a pure
            # reduction (map-side partials, no window sort): min of
            # (-freq, value) ≡ max freq, ties by smallest value.
            out: dict = {}
            # gate on the distinct counts: in exact mode they arrive on
            # the d_futures this thunk waits for (drained into a LOCAL
            # dict — the main thread fills `wide` independently); in
            # approx mode they were in the streaming agg before this
            # job was submitted
            dist = {}
            for fut in d_futures:
                dist.update(fut.result())
            freq_cols = [
                c
                for c in b.groupable
                if (
                    dist.get(M.a("distinct", c), wide.get(M.a("distinct", c)))
                    or 0
                )
                <= row_count * p["frequent_values_max_distinct_fraction"]
            ]
            # Surface skipped columns explicitly (absence ≠ "no data"):
            # near-unique columns whose top-1 would be noise, and
            # non-groupable columns.
            for c in b.all:
                if c not in freq_cols:
                    out[c] = {"skipped": "near_unique" if c in groupable else "not_groupable"}
            if not (0 < row_count <= p["frequent_values_row_threshold"]):
                return {c: {"skipped": "row_threshold"} for c in b.all}
            if not freq_cols:
                return out
            pairs = _stack_pairs(df, freq_cols, "string").filter(
                F.col("col_value").isNotNull()
            )
            counts = pairs.groupBy("col_name", "col_value").agg(
                F.count(F.lit(1)).alias("frequency")
            )
            top = counts.groupBy("col_name").agg(
                F.min_by(
                    F.struct("col_value", "frequency"),
                    F.struct(-F.col("frequency"), F.col("col_value")),
                ).alias("top")
            ).collect()
            kind_of = {c: ("numeric" if c in b.numeric else "") for c in b.all}
            for r in top:
                out[r["col_name"]] = {
                    "value": _restore_value(
                        r["top"]["col_value"], kind_of[r["col_name"]]
                    ),
                    "frequency": r["top"]["frequency"],
                    "percentage": round(
                        r["top"]["frequency"] * 100.0 / row_count, 2
                    ),
                }
            return out

        def j4_outliers() -> dict:
            # A12 — 3σ listing, bounds as scalar literals
            out: dict[str, list] = {}
            k = p["anomaly_threshold"]
            eligible = [
                c
                for c in b.numeric
                if stats_for_outliers[c][0] is not None
                and stats_for_outliers[c][1] is not None
            ]
            if not eligible or row_count == 0:
                return out
            lo = {c: s[0] - k * s[1] for c, s in stats_for_outliers.items() if c in eligible}
            hi = {c: s[0] + k * s[1] for c, s in stats_for_outliers.items() if c in eligible}
            lo_map = F.create_map(*[x for c in eligible for x in (F.lit(c), F.lit(lo[c]))])
            hi_map = F.create_map(*[x for c in eligible for x in (F.lit(c), F.lit(hi[c]))])
            pairs = _stack_pairs(df, eligible, "double")
            flagged = pairs.filter(
                F.col("col_value").isNotNull()
                & (
                    (F.col("col_value") > hi_map[F.col("col_name")])
                    | (F.col("col_value") < lo_map[F.col("col_name")])
                )
            )
            w = Window.partitionBy("col_name").orderBy(F.desc("col_value"))
            rows = (
                flagged.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= p["outlier_limit"])
                .collect()
            )
            for r in rows:
                out.setdefault(r["col_name"], []).append(r["col_value"])
            return out

        def j5_samples() -> list:
            # S6 — display sample. "limit" is the reference's plain
            # LIMIT: the table's first rows; "random" is the TABLESAMPLE
            # path: df.sample with an oversampled fraction (sample()
            # cannot guarantee exact counts) then limit. Scans stop
            # early either way — no full pass at 100 TB. Known bias,
            # accepted for early-stop: the limit takes the FIRST n
            # sampled rows in partition order, skewing the display
            # sample toward early partitions; a uniform n-row draw
            # would need orderBy(rand(seed)) on the sampled frame,
            # forcing a full sample materialization — the wrong trade
            # for a 10-row display sample at 100 TB.
            if not include_samples:
                return []
            n = p["sample_row_limit"]
            if p["sample_method"] == "random" and row_count > n:
                frac = min(1.0, (n * 5.0) / row_count)
                picked = df.sample(
                    withReplacement=False, fraction=frac, seed=p["sample_seed"]
                ).limit(n)
            else:
                picked = df.limit(n)
            return [r.asDict() for r in picked.collect()]

        # Per-metric error isolation (the reference wraps each metric
        # block in try/except and degrades gracefully — same contract):
        # one failing job yields its default + an entry in
        # profile["errors"] instead of failing the whole profile.
        errors: dict[str, str] = {}

        def _safe(name, fut, default):
            try:
                return fut.result()
            except Exception as ex:  # noqa: BLE001 — degrade, don't die
                errors[name] = f"{type(ex).__name__}: {error_message(ex)}"
                return default

        # J2 needs nothing from the streaming agg — it runs from t0
        f2 = pool.submit(j2_duplicates)
        # drain the streaming agg: row_count gates the tail jobs and a
        # failure here raises out of profile_table (contract unchanged)
        wide.update(f_nd.result())
        row_count = wide["row_count"]
        stats_for_outliers = {
            c: (wide[M.a("avg", c)], wide[M.a("stdev", c)]) for c in b.numeric
        }
        text_length_stats = {
            c: {
                "min_length": wide[M.a("min_length", c)],
                "max_length": wide[M.a("max_length", c)],
                "avg_length": wide[M.a("avg_length", c)],
            }
            for c in b.text
        }
        text_patterns = {
            c: {
                "email_pattern_count": wide[M.a("email", c)] or 0,
                "numeric_pattern_count": wide[M.a("numeric_pat", c)] or 0,
                "date_pattern_count": wide[M.a("date_pat", c)] or 0,
            }
            for c in b.text
        }
        f3 = pool.submit(j3_frequent_values)
        f4 = pool.submit(j4_outliers)
        f5 = pool.submit(j5_samples)
        # drain the distinct/percentile jobs while J2-J5 run, then
        # assemble the families that needed their results
        for f in j1_futures:
            wide.update(f.result())
        completeness, numeric_stats = _assemble()
        date_stats = _assemble_dates()
        duplicate_count = _safe("duplicate_count", f2, None)
        frequent_values = _safe("frequent_values", f3, {})
        outliers = _safe("outliers", f4, {})
        samples = _safe("samples", f5, [])
    finally:
        pool.shutdown(wait=False, cancel_futures=True)

    profile: dict[str, Any] = {
        "table": table,
        "timestamp": datetime.datetime.now().isoformat(),
        "row_count": row_count,
        "duplicate_count": duplicate_count,
        "completeness": completeness,
        "numeric_stats": numeric_stats,
        "text_patterns": text_patterns,
        "text_length_stats": text_length_stats,
        "date_stats": date_stats,
        "frequent_values": frequent_values,
        "outliers": outliers,
    }
    # record which metric families are approximate (auto-flip or caller
    # choice) so consumers never mistake a sketch for an exact number
    profile["approx_mode"] = {
        "distinct": bool(p["approx_distinct"]),
        "percentiles": bool(p["approx_percentiles"]),
        # hash mode groups by md5 of the row instead of full-width rows;
        # collision error is negligible but it is not byte-exact, so
        # surface it the same way as the sketches
        "duplicates_hashed": p["duplicate_check_mode"] == "hash",
    }
    if duplicate_count is None and "duplicate_count" not in errors:
        profile["duplicate_check"] = "skipped_wide_table"
    if errors:
        profile["errors"] = errors
    if include_samples and samples:
        profile["samples"] = samples

    # D3/D4 — implemented for real (stubs in the reference,
    # profile_engine.py:437-443; spec from README.md:148-153 and
    # tests/test_profiler.py:35-61).
    profile["anomalies"] = (
        detect_anomalies(profile, historical_data, threshold=p["anomaly_threshold"])
        if historical_data
        else []
    )
    profile["schema_shifts"] = (
        detect_schema_shifts(profile, historical_data) if historical_data else []
    )
    profile["trends"] = empty_trends()
    return profile
