"""Validation runner: rule SQL through Catalyst + driver-side comparators.

Port of ``sparvi/validations/validator.py:67-139``. A rule's ``query``
runs via ``spark.sql`` against registered temp views (full Catalyst
support — joins, CTEs, scalar subqueries, FILTER clauses), and the first
column of the first row is compared driver-side.

Differences from the reference, on purpose:
- Result dicts carry **both** ``name`` and ``rule_name`` — the reference
  emits ``name`` (validator.py:116) but its own README (README.md:356),
  CLI (cli/validate.py:222) and tests (tests/test_validations.py:25)
  read ``rule_name``; emitting both serves every documented consumer.
- Rules generated by ``get_default_validations`` are not run one query
  each: ``validations.compiler`` answers a table's default rules in at
  most two shared-scan queries (an aggregate and a grouping-sets
  query). Values, types and result order equal the per-rule path; if a
  fused query raises, its rules re-run one by one so each error lands
  on its own rule. Every other rule runs as written.
- A failing rule's ``error`` is the exception's message without the
  analyzed plan Spark appends to analysis errors (``errors.error_message``),
  so the same failure gives the same string on every run.
- Independent queries run concurrently (``parallelism``): the Spark
  scheduler interleaves the jobs — the analog of the reference's
  connection-per-rule (validator.py:91).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession

from sparvi_core_spark.config import get_config
from sparvi_core_spark.errors import error_message
from sparvi_core_spark.validations.compiler import FusedQuery, compile_rules


def _compare(operator: str, actual: Any, expected: Any) -> bool:
    """The 7 comparator pairs (validator.py:99-113)."""
    if operator in ("equals", "=="):
        return actual == expected
    if operator in ("greater_than", ">"):
        return actual > expected
    if operator in ("less_than", "<"):
        return actual < expected
    if operator in ("greater_than_or_equal", ">="):
        return actual >= expected
    if operator in ("less_than_or_equal", "<="):
        return actual <= expected
    if operator in ("not_equals", "!="):
        return actual != expected
    if operator == "between":
        return expected[0] <= actual <= expected[1]
    raise ValueError(f"Unknown operator: {operator}")


def _normalize_scalar(v: Any) -> Any:
    """Decimal results (e.g. from FILTER-percentage SQL) → float: keeps
    results JSON-serializable and display-friendly, matching the native
    numeric types warehouse drivers hand the reference."""
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _result(rule: dict[str, Any], fetch: Callable[[], Any]) -> dict[str, Any]:
    name = rule.get("name", "<unnamed>")
    base = {"name": name, "rule_name": name, "description": rule.get("description", "")}
    try:
        actual_value = _normalize_scalar(fetch())
        is_valid = _compare(rule.get("operator", "equals"), actual_value,
                            rule.get("expected_value", 0))
        return {
            **base,
            "is_valid": bool(is_valid),
            "actual_value": actual_value,
            "expected_value": rule.get("expected_value", 0),
        }
    except Exception as e:  # per-rule isolation (validator.py:122-128)
        return {**base, "is_valid": False, "error": error_message(e)}


def _run_one(spark: SparkSession, rule: dict[str, Any]) -> dict[str, Any]:
    def fetch():
        row = spark.sql(rule["query"]).first()
        return row[0] if row is not None else None

    return _result(rule, fetch)


def run_validations(
    spark: SparkSession,
    validation_rules: list[dict[str, Any]],
    config: dict | None = None,
) -> list[dict[str, Any]]:
    cfg = get_config(config)["validation"]
    rules = validation_rules[: cfg["max_rules"]]
    parallelism = max(1, int(cfg["parallelism"]))

    def pmap(fn, items):
        if parallelism == 1 or len(items) <= 1:
            return [fn(x) for x in items]
        with ThreadPoolExecutor(max_workers=parallelism) as ex:
            return list(ex.map(fn, items))

    def run(task: FusedQuery | int):
        if isinstance(task, int):
            return _run_one(spark, rules[task])
        try:
            return spark.sql(task.sql).first()
        except Exception:  # its rules re-run one by one below
            return None

    fused, single = compile_rules(rules)
    results: list[Any] = [None] * len(rules)
    retry: list[int] = []
    tasks: list[FusedQuery | int] = [*fused, *single]
    for task, out in zip(tasks, pmap(run, tasks)):
        if isinstance(task, int):
            results[task] = out
        elif out is None:
            retry += task.rule_ix
        else:
            for i, v in zip(task.rule_ix, out):
                results[i] = _result(rules[i], lambda v=v: v)
    # a failed fused query: each error lands on its own rule
    for i, res in zip(retry, pmap(lambda i: _run_one(spark, rules[i]), retry)):
        results[i] = res
    return results
