"""Fused evaluation of default rules (validations/compiler.py): results
equal the per-rule path dict for dict — values, Python types, errors and
order — on real tables, a table that triggers all 15 families, an empty
table and an all-NULL column, and the fallback keeps errors per rule."""

import datetime as dt
from concurrent.futures import ThreadPoolExecutor

import pytest

from sparvi_core_spark import get_default_validations, run_validations
from sparvi_core_spark.validations.compiler import compile_rules
from sparvi_core_spark.validations.runner import _run_one

FAMILY_TABLE = "fam_ref"  # "ref" in the name → family 11
HINTS = dict(primary_keys=["id"], foreign_keys=["customer_id"],
             column_length_hints={"name": 8})


def _per_rule(spark, rules):
    with ThreadPoolExecutor(max_workers=4) as ex:
        return list(ex.map(lambda r: _run_one(spark, r), rules))


def _typed(results):
    """Results with each actual_value's Python type beside it; an error
    keeps its first line (the plan dump below it carries run-specific
    expression ids)."""
    return [(dict(r, error=r["error"].split("\n")[0]) if "error" in r else r,
             type(r.get("actual_value"))) for r in results]


@pytest.fixture(scope="module")
def family_df(spark):
    """30 rows with a planted defect for every family; ``amount`` is
    entirely NULL (AVG/STDDEV_SAMP NULL, null rate 100%). Checkpointed,
    so rule queries scan JVM rows instead of re-reading Python ones."""
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("item_code", T.StringType(), True),
        T.StructField("customer_id", T.LongType(), True),
        T.StructField("price", T.DoubleType(), False),
        T.StructField("amount", T.DecimalType(10, 2), True),
        T.StructField("balance", T.DoubleType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("name", T.StringType(), False),
        T.StructField("email", T.StringType(), True),
        T.StructField("phone", T.StringType(), True),
        T.StructField("zip", T.StringType(), True),
        T.StructField("start_date", T.DateType(), True),
        T.StructField("end_date", T.DateType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ])
    day = dt.date(2020, 1, 1)
    ts = dt.datetime(2020, 1, 1, 12, 0)
    rows = []
    for i in range(30):
        rows.append((
            i % 28,                                     # pk dup: 0, 1
            None if i == 5 else f"C{i % 25}",           # unique dups
            7,                                          # one FK value
            [0.0, -2.5, 1000.0][i] if i < 3 else 10.0 + i,
            None,
            float(i) - 15.0,
            None if i == 0 else "open",                 # 29/30 > 95%
            "" if i == 1 else f"nm{i:02d}" + "x" * (i % 9),
            None if i == 2 else ("bad" if i == 3 else f"u{i}@x.io"),
            None if i == 4 else ("+1 (555) 01" if i % 2 else "call me"),
            None if i == 6 else ("12" if i == 7 else "94110"),
            day - dt.timedelta(days=i) if i != 8 else dt.date(1960, 5, 1),
            day + dt.timedelta(days=3) if i != 9 else dt.date(2019, 12, 1),
            ts if i != 10 else dt.datetime(2999, 1, 1),
            ts + dt.timedelta(hours=1) if i != 11 else ts - dt.timedelta(days=1),
        ))
    return spark.createDataFrame(rows, schema).localCheckpoint()


@pytest.fixture(scope="module")
def family_table(spark, family_df):
    family_df.createOrReplaceTempView(FAMILY_TABLE)
    return FAMILY_TABLE


def test_family_table_triggers_every_family(spark, family_table):
    rules = get_default_validations(spark, family_table, **HINTS)
    suffixes = {
        "not_empty", "pk_unique", "row_growth", "unique", "not_null",
        "positive", "not_zero", "not_future", "reasonable_past",
        "end_date_order", "max_length", "not_empty_string", "valid_email",
        "valid_phone", "valid_postal", "outliers", "ref_table_size",
        "null_rate", "distribution", "ref_distribution", "after_created_at",
    }
    names = [r["name"] for r in rules]
    assert all(any(n.endswith(s) for n in names) for s in suffixes)
    fused, single = compile_rules(rules)
    assert single == []
    assert len(fused) == 2  # one aggregate, one grouping query


def test_parity_family_table(spark, family_table):
    rules = get_default_validations(spark, family_table, **HINTS)
    got = run_validations(spark, rules)
    want = _per_rule(spark, rules)
    assert _typed(got) == _typed(want)
    # every planted defect is seen through the fused queries
    planted = {
        "check_fam_ref_pk_unique", "check_item_code_unique",
        "check_price_positive", "check_price_not_zero",
        "check_status_distribution", "check_customer_id_ref_distribution",
        "check_name_max_length", "check_name_not_empty_string",
        "check_email_valid_email", "check_phone_valid_phone",
        "check_zip_valid_postal", "check_start_date_reasonable_past",
        "check_end_date_end_date_order", "check_created_at_not_future",
        "check_updated_at_after_created_at", "check_amount_null_rate",
    }
    assert planted <= {r["name"] for r in got if not r["is_valid"]}


def test_parity_sf_views(spark, views):
    """The benchmark's four tables in one call: rules group by table."""
    rules = [r for t in ("lineitem", "orders", "customer", "events")
             for r in get_default_validations(spark, t)]
    fused, single = compile_rules(rules)
    assert len(fused) == 8 and single == []
    got = run_validations(spark, rules)
    assert _typed(got) == _typed(_per_rule(spark, rules))


def test_parity_empty_table(spark, family_df):
    family_df.limit(0).createOrReplaceTempView("fam_empty_ref")
    rules = get_default_validations(spark, "fam_empty_ref", **HINTS)
    got = run_validations(spark, rules)
    assert _typed(got) == _typed(_per_rule(spark, rules))
    # NULL null-rates fail their comparison on both paths, as errors
    assert {r["name"] for r in got if "error" in r} == {
        f"check_{c}_null_rate"
        for c in ("amount", "status", "email", "phone", "zip")}


def test_dropped_column_errors_only_its_rule(spark, family_df):
    family_df.createOrReplaceTempView("fam_drop")
    rules = get_default_validations(spark, "fam_drop", **HINTS)
    spark.table("fam_drop").drop("balance", "item_code").createOrReplaceTempView("fam_drop")
    got = run_validations(spark, rules)
    assert {r["name"] for r in got if "error" in r} == {
        "check_balance_outliers", "check_item_code_unique"}
    assert _typed(got) == _typed(_per_rule(spark, rules))


def test_edited_rule_runs_per_rule(spark, family_table):
    rules = get_default_validations(spark, family_table, **HINTS)
    ix = next(i for i, r in enumerate(rules) if r["name"] == "check_price_positive")
    rules[ix] = dict(rules[ix], query=rules[ix]["query"].replace("< 0", "<= 0"))
    fused, single = compile_rules(rules)
    assert single == [ix]
    assert all(ix not in q.rule_ix for q in fused)
    got = run_validations(spark, rules)
    assert got[ix]["actual_value"] == 2  # the edited predicate, not the template's


def test_single_rule_shapes_are_not_fused(spark, views):
    rules = get_default_validations(spark, "orders")[:1]
    assert compile_rules(rules) == ([], [0])


def test_job_ceiling_one_table(spark, views):
    rules = get_default_validations(spark, "lineitem")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    results = run_validations(spark, rules)
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(rules) > 12
    assert not any("error" in r for r in results)
    assert len(jobs) <= 12, f"{len(jobs)} jobs for {len(rules)} rules"

