"""Validator E2E — port of reference tests/test_validations.py:9-66 +
rules-file round-trips (validator.py:11-64,142-167)."""

import json

import pytest

from sparvi_core_spark import (
    export_rules,
    get_default_validations,
    load_rules_from_file,
    run_validations,
)


def test_pass_and_fail_rules(spark, employees):
    rules = [
        {
            "name": "employee_count",
            "description": "at least 5 employees",
            "query": "SELECT COUNT(*) FROM employees",
            "operator": "greater_than",
            "expected_value": 5,
        },
        {
            "name": "no_null_departments",
            "description": "departments must not be null",
            "query": "SELECT COUNT(*) FROM employees WHERE department IS NULL",
            "operator": "equals",
            "expected_value": 0,
        },
    ]
    results = run_validations(spark, rules)
    assert len(results) == 2
    by_name = {r["rule_name"]: r for r in results}
    assert by_name["employee_count"]["is_valid"] is True
    assert by_name["employee_count"]["actual_value"] == 10
    assert by_name["no_null_departments"]["is_valid"] is False
    assert by_name["no_null_departments"]["actual_value"] == 1
    # both name keys present (reference emits name, its docs read rule_name)
    assert results[0]["name"] == results[0]["rule_name"]


def test_default_rules_catch_negative_price(spark, products):
    rules = get_default_validations(spark, "products", primary_keys=["product_id"])
    names = [r["name"] for r in rules]
    assert "check_products_not_empty" in names
    assert "check_products_pk_unique" in names
    assert "check_price_positive" in names
    assert "check_price_not_zero" in names
    results = run_validations(spark, rules)
    by_name = {r["rule_name"]: r for r in results}
    assert by_name["check_price_positive"]["is_valid"] is False
    assert by_name["check_price_positive"]["actual_value"] == 1
    assert by_name["check_products_not_empty"]["is_valid"] is True


def test_all_operators(spark, employees):
    cases = [
        ("equals", "SELECT COUNT(*) FROM employees", 10, True),
        ("==", "SELECT COUNT(*) FROM employees", 10, True),
        ("not_equals", "SELECT COUNT(*) FROM employees", 10, False),
        ("greater_than", "SELECT COUNT(*) FROM employees", 100, False),
        ("less_than", "SELECT COUNT(*) FROM employees", 100, True),
        (">=", "SELECT COUNT(*) FROM employees", 10, True),
        ("<=", "SELECT COUNT(*) FROM employees", 9, False),
        ("between", "SELECT COUNT(*) FROM employees", [5, 15], True),
        ("between", "SELECT COUNT(*) FROM employees", [11, 15], False),
    ]
    rules = [
        {"name": f"r{i}", "query": q, "operator": op, "expected_value": exp}
        for i, (op, q, exp, _) in enumerate(cases)
    ]
    results = run_validations(spark, rules)
    for (op, _, exp, want), r in zip(cases, results):
        assert r["is_valid"] is want, f"{op} {exp}: {r}"


def test_error_isolation(spark, employees):
    rules = [
        {"name": "bad", "query": "SELECT FROM nope", "operator": "equals",
         "expected_value": 0},
        {"name": "good", "query": "SELECT COUNT(*) FROM employees",
         "operator": "greater_than", "expected_value": 0},
    ]
    results = run_validations(spark, rules)
    assert results[0]["is_valid"] is False
    assert "error" in results[0]
    assert results[1]["is_valid"] is True


def test_rules_yaml_roundtrip(tmp_path, spark, employees):
    rules = [
        {"name": "a", "description": "d", "query": "SELECT COUNT(*) FROM employees",
         "operator": ">", "expected_value": 1},
        {"name": "b", "query": "SELECT 1"},
    ]
    y = tmp_path / "rules.yaml"
    export_rules(rules, y, "yaml")
    loaded = load_rules_from_file(y)
    assert loaded[0]["operator"] == ">"
    assert loaded[1]["operator"] == "equals"  # defaulting
    assert loaded[1]["expected_value"] == 0

    j = tmp_path / "rules.json"
    export_rules(rules, j, "json")
    loaded_j = load_rules_from_file(j)
    assert [r["name"] for r in loaded_j] == ["a", "b"]
    assert json.loads(j.read_text())["rules"][0]["name"] == "a"


def test_rules_file_validation_errors(tmp_path):
    bad = tmp_path / "bad.yaml"
    bad.write_text("rules:\n  - query: SELECT 1\n")
    with pytest.raises(ValueError, match="name"):
        load_rules_from_file(bad)
    with pytest.raises(FileNotFoundError):
        load_rules_from_file(tmp_path / "missing.yaml")


def test_max_rules_cap(spark, employees):
    rules = [
        {"name": f"r{i}", "query": "SELECT COUNT(*) FROM employees",
         "operator": ">=", "expected_value": 0}
        for i in range(10)
    ]
    results = run_validations(
        spark, rules, config={"validation": {"max_rules": 3}}
    )
    assert len(results) == 3


def test_length_hint_rules(spark, products):
    """Family 9a: VARCHAR(n) doesn't exist in Spark, so max-length rules
    come from user hints — absent hints, the family is skipped (same
    degrade pattern as PK/FK)."""
    no_hints = get_default_validations(spark, "products")
    assert not any("max_length" in r["name"] for r in no_hints)

    rules = get_default_validations(
        spark, "products", column_length_hints={"name": 9, "category": 11}
    )
    named = {r["name"]: r for r in rules}
    assert "check_name_max_length" in named
    assert "check_category_max_length" in named
    # numeric columns never get length rules even if hinted
    hinted_numeric = get_default_validations(
        spark, "products", column_length_hints={"price": 5}
    )
    assert not any("max_length" in r["name"] for r in hinted_numeric)

    results = run_validations(
        spark, [named["check_name_max_length"], named["check_category_max_length"]]
    )
    by_name = {r["rule_name"]: r for r in results}
    # all product names are exactly 9 chars -> passes at limit 9
    assert by_name["check_name_max_length"]["is_valid"]
    # 'Electronics' is 11 chars, none longer -> passes at limit 11
    assert by_name["check_category_max_length"]["is_valid"]
    tight = dict(named["check_category_max_length"], query=named[
        "check_category_max_length"]["query"].replace("> 11", "> 8"))
    r2 = run_validations(spark, [tight])
    assert not r2[0]["is_valid"] and r2[0]["actual_value"] > 0


def test_failing_rule_error_is_stable(spark, views):
    """A rule that fails analysis stores the same ``error`` on every
    run: the message (error class, text, SQLSTATE, position) without the
    analyzed plan, whose expression ids change from run to run."""
    rule = {"name": "missing_col", "operator": "equals", "expected_value": 0,
            "query": "SELECT COUNT(*) FROM (SELECT nope, COUNT(*) cnt "
                     "FROM orders GROUP BY nope HAVING cnt > 1)"}
    first, second = (run_validations(spark, [rule])[0]["error"] for _ in range(2))
    assert first == second
    assert first.startswith("[UNRESOLVED_COLUMN")
    assert "SQLSTATE: 42703" in first and "\n" not in first
