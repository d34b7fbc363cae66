"""Rule compiler: a table's default rules as two shared-scan queries.

``run_validations`` would otherwise issue one Spark query per rule, and
at warehouse-check sizes the cost of a rule is its jobs, not its data.
The compiler recognizes the rules whose ``query`` is exactly what
``get_default_validations`` renders — it parses the table and columns
with a pattern derived from the family's own template in
``defaults.py``, re-renders the template from them and requires the
same string — and evaluates them per table in at most two queries:

- an **aggregate query**: one aggregate over the table, cross-joined
  with a one-row stats CTE when outlier rules are present. Count-style
  families become ``COUNT(*) FILTER (WHERE <the rule's predicate>)``;
  not-empty, reference-table size, row growth and null rate keep the
  arithmetic of their rule text; the 3σ outlier counts read
  ``AVG``/``STDDEV_SAMP`` from the stats row.
- a **grouping query**: one ``GROUP BY GROUPING SETS`` over the key
  columns, then one aggregate over the groups, each family keeping its
  own null handling (``unique`` drops NULL keys, ``pk_unique`` keeps
  them, ``distribution`` divides by every row, ``ref_distribution``
  counts non-NULL keys).

Every fused expression has the type of the rule's own result column, so
values compare and serialize exactly as on the per-rule path. Anything
else — hand-written rules, edited default rules, a shape holding a
single rule — is left to the per-rule path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Callable

from sparvi_core_spark.validations import defaults as d

_TABLE = r"[A-Za-z_][A-Za-z0-9_.]*"
_COL = r"[A-Za-z_][A-Za-z0-9_]*"
_KEYS = rf"{_COL}(?:, {_COL})*"
_INT = r"-?[0-9]+"

_STATS = "_rule_stats"
_GROUPS = "_rule_groups"


@dataclass(frozen=True)
class _Agg:
    """A rule evaluated by one expression of the aggregate query."""

    expr: str
    stats_col: str | None = None  # column whose AVG/STDDEV_SAMP the expr reads


@dataclass(frozen=True)
class _Group:
    """A rule evaluated over the grouping sets: ``expr`` maps the
    predicate selecting this key set's groups to an aggregate."""

    keys: tuple[str, ...]
    expr: Callable[[str], str]


@dataclass
class FusedQuery:
    """One query answering several rules: column ``j`` of its single
    row is the ``actual_value`` of ``rules[rule_ix[j]]``."""

    sql: str
    rule_ix: list[int]


_PREV_COUNT = "CASE WHEN COUNT(*) = 0 THEN NULL ELSE COUNT(*) END"
_ROW_GROWTH = (
    f"CASE WHEN {_PREV_COUNT} IS NULL THEN 0 "
    f"WHEN ABS(COUNT(*) - {_PREV_COUNT}) > {_PREV_COUNT} * 0.2 THEN 1 "
    "ELSE 0 END"
)


def _outliers(c: str) -> _Agg:
    avg, sd = f"{_STATS}._avg_{c}", f"{_STATS}._sd_{c}"
    return _Agg(
        f"COUNT(*) FILTER (WHERE {c} > {avg} + 3 * {sd} OR {c} < {avg} - 3 * {sd})",
        stats_col=c,
    )


def _unique(c: str) -> _Group:
    return _Group((c,), lambda g: (
        f"COUNT(*) FILTER (WHERE {g} AND {c} IS NOT NULL AND _cnt > 1)"
    ))


def _pk_unique(pk: str) -> _Group:
    return _Group(tuple(pk.split(", ")), lambda g: f"COUNT(*) FILTER (WHERE {g} AND _cnt > 1)")


def _distribution(c: str) -> _Group:
    # At most one value can hold more than 95% of the rows, and it is
    # the most frequent one: the rule's count of such values is 1 iff
    # the top non-NULL group passes, with the rule's own pct arithmetic.
    return _Group((c,), lambda g: (
        f"CASE WHEN MAX(_cnt) FILTER (WHERE {g} AND {c} IS NOT NULL) * 100.0 "
        f"/ NULLIF(SUM(_cnt) FILTER (WHERE {g}), 0) > 95.0 THEN 1 ELSE 0 END"
    ))


def _ref_distribution(c: str) -> _Group:
    return _Group((c,), lambda g: (
        f"CASE WHEN COUNT(*) FILTER (WHERE {g} AND {c} IS NOT NULL) = 1 "
        "THEN 1 ELSE 0 END"
    ))


def _count_where_family(pred: Callable[..., str]) -> Callable[..., str]:
    return lambda t, *args: d.count_where_sql(t, pred(*args))


# (template, argument patterns after the table, fused form of the args)
_FAMILIES: list[tuple[Callable[..., str], tuple[str, ...], Callable[..., Any]]] = [
    (d.count_rows_sql, (), lambda: _Agg("COUNT(*)")),
    (d.row_growth_sql, (), lambda: _Agg(_ROW_GROWTH)),
    (d.null_rate_sql, (_COL,), lambda c: _Agg(d.null_rate_expr(c))),
    (d.outliers_sql, (_COL,), _outliers),
    (d.unique_sql, (_COL,), _unique),
    (d.pk_unique_sql, (_KEYS,), _pk_unique),
    (d.distribution_sql, (_COL,), _distribution),
    (d.ref_distribution_sql, (_COL,), _ref_distribution),
] + [
    (_count_where_family(pred), kinds,
     lambda *a, pred=pred: _Agg(f"COUNT(*) FILTER (WHERE {pred(*a)})"))
    for pred, kinds in [
        (d.is_null, (_COL,)),
        (d.is_negative, (_COL,)),
        (d.is_zero, (_COL,)),
        (d.is_future, (_COL,)),
        (d.is_before_1970, (_COL,)),
        (d.is_before, (_COL, _COL)),
        (d.is_longer_than, (_COL, _INT)),
        (d.is_empty_string, (_COL,)),
        (d.is_bad_email, (_COL,)),
        (d.is_bad_phone, (_COL,)),
        (d.is_bad_postal, (_COL,)),
    ]
]


def _pattern(template: Callable[..., str], kinds: tuple[str, ...]) -> re.Pattern:
    """The template rendered with placeholder arguments, escaped, each
    placeholder turned into a capture group (its repeats into
    back-references): a full match is a string the template renders."""
    marks = [f"\x00{i}\x00" for i in range(len(kinds) + 1)]
    rx = re.escape(template(*marks))
    for i, kind in enumerate((_TABLE,) + kinds):
        mark = re.escape(marks[i])
        rx = rx.replace(mark, f"(?P<a{i}>{kind})", 1).replace(mark, f"(?P=a{i})")
    return re.compile(rx)


_MATCHERS = [(_pattern(tpl, kinds), tpl, fuse) for tpl, kinds, fuse in _FAMILIES]


def _recognize(query: Any) -> tuple[str, _Agg | _Group] | None:
    """(table, fused form) when re-rendering a family's template from
    the table and columns parsed out of ``query`` gives ``query`` back."""
    if not isinstance(query, str):
        return None
    for rx, template, fuse in _MATCHERS:
        m = rx.fullmatch(query)
        if m:
            table, *args = (m.group(f"a{i}") for i in range(rx.groups))
            if template(table, *args) == query:
                return table, fuse(*args)
    return None


def _aggregate_sql(t: str, parts: list[_Agg]) -> str:
    select = ",\n  ".join(p.expr for p in parts)
    stats_cols = list(dict.fromkeys(p.stats_col for p in parts if p.stats_col))
    if not stats_cols:
        return f"SELECT\n  {select}\nFROM {t}"
    stats = ", ".join(f"AVG({c}) AS _avg_{c}, STDDEV_SAMP({c}) AS _sd_{c}" for c in stats_cols)
    return (f"WITH {_STATS} AS (SELECT {stats} FROM {t})\n"
            f"SELECT\n  {select}\nFROM {t}, {_STATS}")


def _grouping_sql(t: str, parts: list[_Group]) -> str:
    key_sets = list(dict.fromkeys(p.keys for p in parts))
    # GROUPING_ID with explicit columns raises unless they are exactly
    # Spark's grouping columns in Spark's order (first appearance), so a
    # mismatch can only fail the query, never mislabel a group.
    cols = list(dict.fromkeys(c for ks in key_sets for c in ks))
    n = len(cols)

    def gid(ks: tuple[str, ...]) -> int:
        return sum(1 << (n - 1 - i) for i, c in enumerate(cols) if c not in ks)

    sets = ", ".join("(" + ", ".join(ks) + ")" for ks in key_sets)
    select = ",\n  ".join(p.expr(f"_gid = {gid(p.keys)}") for p in parts)
    col_list = ", ".join(cols)
    return (f"WITH {_GROUPS} AS (SELECT GROUPING_ID({col_list}) AS _gid, {col_list}, "
            f"COUNT(*) AS _cnt FROM {t} GROUP BY GROUPING SETS ({sets}))\n"
            f"SELECT\n  {select}\nFROM {_GROUPS}")


def compile_rules(rules: list[dict[str, Any]]) -> tuple[list[FusedQuery], list[int]]:
    """Split ``rules`` into fused queries and the indices of the rules
    that run one by one (ascending)."""
    shapes: dict[tuple[str, type], list[tuple[int, Any]]] = {}
    single: list[int] = []
    for i, rule in enumerate(rules):
        found = _recognize(rule.get("query"))
        if found is None:
            single.append(i)
        else:
            table, part = found
            shapes.setdefault((table, type(part)), []).append((i, part))
    fused: list[FusedQuery] = []
    for (table, kind), members in shapes.items():
        if len(members) == 1:  # one rule gains nothing from fusing
            single.append(members[0][0])
            continue
        build = _aggregate_sql if kind is _Agg else _grouping_sql
        fused.append(FusedQuery(build(table, [p for _, p in members]),
                                [i for i, _ in members]))
    return fused, sorted(single)
