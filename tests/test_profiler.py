"""Profiler E2E — port of the reference's exact assertions
(reference tests/test_profiler.py:8-61) plus coverage the reference
stubs (anomalies for real)."""

from sparvi_core_spark import profile_table


def test_basic_profile(spark, employees):
    p = profile_table(spark, "employees")
    assert p["row_count"] == 10
    assert p["completeness"]["name"]["nulls"] == 0
    assert p["completeness"]["age"]["nulls"] == 2
    assert p["completeness"]["salary"]["nulls"] == 2
    assert p["completeness"]["department"]["nulls"] == 1
    assert p["numeric_stats"]["salary"]["min"] == 50000
    assert p["numeric_stats"]["salary"]["max"] == 140000
    assert p["samples"], "samples should be present"
    assert p["duplicate_count"] == 0


def test_completeness_percentages(spark, employees):
    p = profile_table(spark, "employees", include_samples=False)
    assert p["completeness"]["age"]["null_percentage"] == 20.0
    assert p["completeness"]["department"]["distinct_count"] == 3
    assert p["completeness"]["department"]["distinct_percentage"] == 30.0


def test_numeric_quartiles_exact(spark, employees):
    p = profile_table(spark, "employees", include_samples=False)
    s = p["numeric_stats"]["salary"]
    # 8 non-null salaries 50k..140k: exact percentile_cont interpolation
    assert s["median"] == 95000.0
    assert s["q1"] == 67500.0
    assert s["q3"] == 115000.0
    assert round(s["avg"], 2) == 93750.0


def test_text_and_frequent(spark, employees):
    p = profile_table(spark, "employees", include_samples=False)
    assert p["text_length_stats"]["department"]["min_length"] == 2  # "HR"
    assert p["text_patterns"]["name"]["email_pattern_count"] == 0
    fv = p["frequent_values"]["department"]
    # HR/IT/Finance each x3; tie broken by value asc → Finance
    assert fv["frequency"] == 3
    assert fv["value"] == "Finance"


def test_anomaly_detection_row_count(spark, employees):
    """The reference's anomaly spec (its stub can't pass its own test;
    ours must): row-count change → anomaly with type row_count."""
    base = profile_table(spark, "employees", include_samples=False)
    historical = dict(base)
    historical["row_count"] = 100
    p = profile_table(
        spark, "employees", historical_data=historical, include_samples=False
    )
    types = [a["type"] for a in p["anomalies"]]
    assert "row_count" in types
    a = p["anomalies"][types.index("row_count")]
    assert a["severity"] == "high"
    assert "description" in a


def test_schema_shift_detection(spark, employees):
    base = profile_table(spark, "employees", include_samples=False)
    historical = dict(base)
    historical["completeness"] = dict(historical["completeness"])
    historical["completeness"]["legacy_col"] = {
        "nulls": 0, "null_percentage": 0, "distinct_count": 1,
        "distinct_percentage": 10,
    }
    del historical["completeness"]["department"]
    p = profile_table(
        spark, "employees", historical_data=historical, include_samples=False
    )
    kinds = {(s["type"], s["column"]) for s in p["schema_shifts"]}
    assert ("column_added", "department") in kinds
    assert ("column_removed", "legacy_col") in kinds


def test_profile_from_path(spark, sf_dir):
    p = profile_table(spark, f"{sf_dir}/region.parquet", include_samples=False)
    assert p["row_count"] == 5
    assert p["completeness"]["r_name"]["distinct_count"] == 5


def test_approx_mode(spark, views):
    exact = profile_table(spark, "lineitem", include_samples=False)
    approx = profile_table(
        spark,
        "lineitem",
        include_samples=False,
        config={"profiling": {"approx_distinct": True, "approx_percentiles": True}},
    )
    for col in exact["completeness"]:
        e = exact["completeness"][col]["distinct_count"]
        a = approx["completeness"][col]["distinct_count"]
        assert abs(a - e) <= max(5, 0.1 * e), f"{col}: approx {a} vs exact {e}"
    assert approx["numeric_stats"]["l_quantity"]["median"] is not None


def test_profile_tables_concurrent(spark, views):
    from sparvi_core_spark import profile_tables

    out = profile_tables(spark, ["region", "nation", "supplier"])
    assert set(out) == {"region", "nation", "supplier"}
    assert out["region"]["row_count"] == 5
    assert out["nation"]["row_count"] == 25


def test_wide_table_duplicate_guard_returns_none(spark, employees):
    """A4 guard: above the column cap the duplicate check is SKIPPED —
    duplicate_count must be None with an explicit marker, never a 0
    that reads as 'no duplicates'."""
    p = profile_table(
        spark,
        "employees",
        include_samples=False,
        config={"profiling": {"duplicate_check_max_columns": 2}},
    )
    assert p["duplicate_count"] is None
    assert p["duplicate_check"] == "skipped_wide_table"


def test_frequent_values_skip_marker(spark, employees):
    """Near-unique columns get an explicit skipped marker (absence would
    read as 'no data')."""
    p = profile_table(spark, "employees", include_samples=False)
    # id/name are unique (distinct fraction 1.0 > 0.5 cap)
    assert p["frequent_values"]["id"] == {"skipped": "near_unique"}
    assert p["frequent_values"]["name"] == {"skipped": "near_unique"}
    # department is low-cardinality and still gets a real top-1
    assert p["frequent_values"]["department"]["value"] == "Finance"


def test_map_column_degrades_gracefully(spark):
    """Per-metric isolation: a MapType column (not orderable — would
    blow up count_distinct / full-row groupBy) must not fail the
    profile; distinct metrics for it are None and the duplicate check
    degrades to the hash key."""
    from pyspark.sql import functions as F

    df = spark.range(6).select(
        F.col("id"),
        F.create_map(F.lit("k"), (F.col("id") % 2).cast("string")).alias("props"),
    )
    p = profile_table(spark, "maps_t", df=df, include_samples=False)
    assert p["row_count"] == 6
    assert p["completeness"]["props"]["distinct_count"] is None
    assert p["completeness"]["props"]["nulls"] == 0
    assert p["completeness"]["id"]["distinct_count"] == 6
    # full mode degraded to hash: id is unique so no duplicate groups
    assert p["duplicate_count"] == 0
    assert "errors" not in p


def test_quoted_column_name_profile(spark):
    """A column name containing a single quote must survive the stacked
    frequent-values/outlier jobs (identifier + label escaping)."""
    from pyspark.sql import functions as F

    df = spark.range(9).select(
        (F.col("id") % 3).cast("string").alias("it's"),
        (F.col("id") % 2).cast("double").alias("n"),
    )
    p = profile_table(spark, "quoted_t", df=df, include_samples=False)
    assert "errors" not in p
    assert p["frequent_values"]["it's"]["frequency"] == 3


def test_auto_approx_flips_above_size_threshold(spark, views):
    """Scale-adaptive default: above the size estimate threshold the
    profiler flips to approx distincts/percentiles on its own (exact
    plans an Expand — wrong default at 100 TB). Explicit settings win,
    and unknown-stats plans (temp views over local data) never flip."""
    # parquet-backed table has a real Catalyst size estimate;
    # threshold of 1 byte trips it
    p = profile_table(
        spark,
        "lineitem",
        include_samples=False,
        config={"profiling": {"auto_approx_size_bytes": 1}},
    )
    assert p["approx_mode"] == {
        "distinct": True,
        "percentiles": True,
        "duplicates_hashed": True,
    }
    assert p["numeric_stats"]["l_quantity"]["median"] is not None
    # explicit exact pin wins over auto (dup mode not pinned → still flips)
    p2 = profile_table(
        spark,
        "lineitem",
        include_samples=False,
        config={
            "profiling": {
                "auto_approx_size_bytes": 1,
                "approx_distinct": False,
                "approx_percentiles": False,
            }
        },
    )
    assert p2["approx_mode"] == {
        "distinct": False,
        "percentiles": False,
        "duplicates_hashed": True,
    }
    # explicit full-width pin wins over the auto hash flip
    p3 = profile_table(
        spark,
        "lineitem",
        include_samples=False,
        config={
            "profiling": {
                "auto_approx_size_bytes": 1,
                "duplicate_check_mode": "full",
            }
        },
    )
    assert p3["approx_mode"]["duplicates_hashed"] is False
    assert p3["approx_mode"]["distinct"] is True


def test_auto_approx_defaults_stay_exact_small(spark, employees):
    """Default threshold (16 GiB): a tiny table stays exact."""
    p = profile_table(spark, "employees", include_samples=False)
    assert p["approx_mode"] == {
        "distinct": False,
        "percentiles": False,
        "duplicates_hashed": False,
    }


def test_hash_duplicate_mode_field_boundaries(spark):
    """Hash dup mode must not conflate ('a\\x1fb',) with ('a','b') or a
    literal '\\x00' with NULL (length-prefixed field encoding)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("a", T.StringType(), True),
            T.StructField("b", T.StringType(), True),
        ]
    )
    rows = [
        ("a\x1fb", None),   # would concat-collide with ('a', 'b\x00'-ish)
        ("a", "b"),
        ("\x00", None),     # literal \x00 string vs NULL
        (None, None),
        ("x", "y"),
        ("x", "y"),         # the only real duplicate pair
    ]
    df = spark.createDataFrame(rows, schema)
    p = profile_table(
        spark,
        "hashdup_t",
        df=df,
        include_samples=False,
        config={"profiling": {"duplicate_check_mode": "hash"}},
    )
    assert p["duplicate_count"] == 1


def test_random_sample_method(spark, views):
    """S6 TABLESAMPLE parity: sample_method="random" draws a seeded
    random display sample of the configured size; default stays the
    deterministic LIMIT."""
    p = profile_table(
        spark, "orders",
        config={"profiling": {"sample_method": "random", "sample_seed": 7}},
    )
    assert len(p["samples"]) == 10
    # seeded -> reproducible
    p2 = profile_table(
        spark, "orders",
        config={"profiling": {"sample_method": "random", "sample_seed": 7}},
    )
    assert [r["o_orderkey"] for r in p["samples"]] == [
        r["o_orderkey"] for r in p2["samples"]
    ]
    # random differs from the head-of-table default sample
    head = profile_table(spark, "orders")
    assert [r["o_orderkey"] for r in p["samples"]] != [
        r["o_orderkey"] for r in head["samples"]
    ]


def test_unknown_sample_method_rejected(spark, views):
    """A typo'd sample_method must fail fast, not silently fall back to
    the LIMIT path (or vanish into the per-metric errors dict)."""
    import pytest

    with pytest.raises(ValueError, match="sample_method"):
        profile_table(
            spark, "region",
            config={"profiling": {"sample_method": "reservoir"}},
        )


def test_default_sample_is_table_head(spark, views):
    """The default "limit" sample is the reference's plain LIMIT: the
    table's first rows, in file order."""
    p = profile_table(spark, "orders")
    head = [r.asDict() for r in spark.table("orders").limit(10).collect()]
    assert p["samples"] == head


def test_job_ceiling_one_table(spark, views):
    """One job per aggregate family: the streaming agg, the exact
    distincts and ONE quartile job for all numeric columns, then the
    duplicate, frequent-value, outlier and sample jobs. Counted with AQE
    off, the test session's setting (AQE runs each shuffle stage as its
    own job)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    p = profile_table(spark, "lineitem")
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(p["numeric_stats"]) > 4
    assert "errors" not in p
    assert len(jobs) <= 8, f"{len(jobs)} jobs"


def test_fused_quartiles_equal_per_column_percentile(spark):
    """The one quartile job gives each column what its own
    ``percentile`` gives — across integer, double and decimal columns,
    an all-NULL column, and an empty table."""
    import decimal

    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    schema = T.StructType([
        T.StructField("i", T.IntegerType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("m", T.DecimalType(10, 2), True),
        T.StructField("n", T.DoubleType(), True),
        T.StructField("s", T.StringType(), True),
    ])
    rows = [(k % 7 if k % 5 else None, k * 1.25 - 9, decimal.Decimal(k * 37 % 101) / 4,
             None, f"s{k}") for k in range(37)]
    full = spark.createDataFrame(rows, schema)
    for df in (full, full.limit(0)):
        p = profile_table(spark, "quartiles_t", df=df, include_samples=False)
        assert set(p["numeric_stats"]) == {"i", "d", "m", "n"}
        for c, s in p["numeric_stats"].items():
            q = df.agg(F.percentile(c, F.lit([0.25, 0.5, 0.75]))).first()[0]
            assert [s["q1"], s["median"], s["q3"]] == (q or [None] * 3), c
