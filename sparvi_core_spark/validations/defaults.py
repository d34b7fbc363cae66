"""Default validation-rule generator — the 15 rule families.

Port of ``sparvi/validations/default_validations.py:11-481`` onto Spark:
schema comes from ``spark.table(name).schema`` instead of SQLAlchemy
inspection, and the generated ``query`` strings are Spark SQL (one
dialect — the reference's adapter layer disappears).

Parquet carries no PK/FK metadata, so key-dependent families (2, 14)
take optional ``primary_keys`` / ``foreign_keys`` hints and are skipped
without them — mirroring the reference's graceful FK fallback
(default_validations.py:35-37). Column-level NOT NULL still exists in
Spark schemas (``StructField.nullable``) and drives families 5 and the
empty-string check. VARCHAR length limits don't exist in Spark either,
so family 9a (max-length, default_validations.py:236-243) follows the
same hints pattern: pass ``column_length_hints={"col": n}`` to generate
``check_<col>_max_length`` rules; without hints the family is skipped.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from sparvi_core_spark.coltypes import DATE, NUMERIC, TEXT, bucket_of

UNIQUE_NAME_PATTERNS = ["id", "code", "number", "uuid", "guid", "key", "hash", "identifier"]
NEGATIVE_ALLOWED_PATTERNS = [
    "balance", "difference", "delta", "change", "temperature",
    "coordinate", "adjustment", "net", "profit_loss", "margin",
]
NON_ZERO_PATTERNS = [
    "price", "amount", "total", "cost", "rate", "fee", "tax",
    "revenue", "salary", "income", "expense",
]
PAST_DATE_PATTERNS = [
    "birth", "created", "start", "registered", "joined", "purchase",
    "transaction", "order", "payment", "issued", "shipped", "received",
]
END_DATE_PATTERNS = ["end", "finish", "completed", "closed", "expiry", "expiration"]
IMPORTANT_COLUMN_PATTERNS = [
    "name", "description", "address", "city", "state", "country", "postal", "zip",
    "email", "phone", "status", "type", "category", "price", "cost", "amount",
]
CATEGORICAL_COLUMN_PATTERNS = [
    "status", "type", "category", "level", "tier", "class", "grade",
    "priority", "severity", "state", "region", "stage", "gender",
]
REF_TABLE_PATTERNS = ["ref", "type", "status", "category", "lookup"]
LARGE_TABLE_PATTERNS = ["fact", "transaction", "event", "log", "history", "audit", "detail"]
MEDIUM_TABLE_PATTERNS = ["order", "customer", "user", "account", "product", "item"]
UPDATED_PATTERNS = ["updated", "modified", "edited", "changed"]
CREATED_PATTERNS = ["created", "inserted", "added"]
PHONE_REGEX = r"(\\+)?[0-9][0-9 ()-]+"


def _rule(name, description, query, operator="equals", expected_value=0):
    return {
        "name": name,
        "description": description,
        "query": query,
        "operator": operator,
        "expected_value": expected_value,
    }


# Query templates, one per rule family. The rule compiler
# (``validations/compiler.py``) recognizes a default rule by matching its
# ``query`` against these same functions, so the SQL text lives only
# here. The first argument is always the table.


def count_rows_sql(t: str) -> str:
    """Families 1 (not empty) and 11 (reference-table size)."""
    return f"SELECT COUNT(*) FROM {t}"


def count_where_sql(t: str, predicate: str) -> str:
    """Every count-of-offending-rows family; the predicate functions
    below supply the ``WHERE`` clause."""
    return f"SELECT COUNT(*) FROM {t} WHERE {predicate}"


def is_null(c: str) -> str:
    return f"{c} IS NULL"


def is_negative(c: str) -> str:
    return f"{c} < 0"


def is_zero(c: str) -> str:
    return f"{c} = 0"


def is_future(c: str) -> str:
    return f"{c} > CURRENT_DATE"


def is_before_1970(c: str) -> str:
    return f"{c} < '1970-01-01'"


def is_before(c: str, other: str) -> str:
    """Families 8 (end date before start) and 15 (updated before created)."""
    return f"{c} IS NOT NULL AND {other} IS NOT NULL AND {c} < {other}"


def is_longer_than(c: str, max_len: int) -> str:
    return f"LENGTH({c}) > {max_len}"


def is_empty_string(c: str) -> str:
    return f"{c} = ''"


def is_bad_email(c: str) -> str:
    return f"{c} IS NOT NULL AND {c} NOT LIKE '%@%.%'"


def is_bad_phone(c: str) -> str:
    return f"{c} IS NOT NULL AND NOT ({c} RLIKE '{PHONE_REGEX}')"


def is_bad_postal(c: str) -> str:
    return f"{c} IS NOT NULL AND LENGTH(TRIM({c})) < 3"


def pk_unique_sql(t: str, pk: str) -> str:
    """``pk`` is the comma-joined key list (composite keys allowed)."""
    return (f"SELECT COUNT(*) FROM (SELECT {pk}, COUNT(*) AS cnt FROM {t} "
            f"GROUP BY {pk} HAVING COUNT(*) > 1) AS duplicates")


def row_growth_sql(t: str) -> str:
    return f"""WITH current_count AS (SELECT COUNT(*) AS cnt FROM {t}),
prev_count AS (SELECT CASE WHEN COUNT(*) = 0 THEN NULL ELSE COUNT(*) END AS cnt FROM {t})
SELECT CASE WHEN prev_count.cnt IS NULL THEN 0
            WHEN ABS(current_count.cnt - prev_count.cnt) > prev_count.cnt * 0.2 THEN 1
            ELSE 0 END
FROM current_count, prev_count"""


def unique_sql(t: str, c: str) -> str:
    return (f"SELECT COUNT(*) FROM (SELECT {c}, COUNT(*) AS cnt FROM {t} "
            f"WHERE {c} IS NOT NULL GROUP BY {c} "
            f"HAVING COUNT(*) > 1) AS duplicates")


def outliers_sql(t: str, c: str) -> str:
    return f"""WITH stats AS (
    SELECT AVG({c}) AS avg_val, STDDEV_SAMP({c}) AS stddev_val
    FROM {t} WHERE {c} IS NOT NULL
)
SELECT COUNT(*) FROM {t}, stats
WHERE {c} > stats.avg_val + 3 * stats.stddev_val
   OR {c} < stats.avg_val - 3 * stats.stddev_val"""


def null_rate_expr(c: str) -> str:
    return f"(COUNT(*) FILTER (WHERE {c} IS NULL) * 100.0 / NULLIF(COUNT(*), 0))"


def null_rate_sql(t: str, c: str) -> str:
    return f"SELECT {null_rate_expr(c)} FROM {t}"


def distribution_sql(t: str, c: str) -> str:
    return f"""WITH val_counts AS (
    SELECT {c}, COUNT(*) AS cnt,
           (COUNT(*) * 100.0 / NULLIF((SELECT COUNT(*) FROM {t}), 0)) AS pct
    FROM {t} WHERE {c} IS NOT NULL GROUP BY {c}
)
SELECT COUNT(*) FROM val_counts WHERE pct > 95.0"""


def ref_distribution_sql(t: str, c: str) -> str:
    return (f"SELECT CASE WHEN (SELECT COUNT(DISTINCT {c}) FROM {t} "
            f"WHERE {c} IS NOT NULL) = 1 THEN 1 ELSE 0 END")


def _matches(name: str, patterns: list[str]) -> bool:
    low = name.lower()
    return any(p in low for p in patterns)


def get_outlier_threshold(table_name: str) -> int:
    """Table-size heuristic (default_validations.py:465-481)."""
    if _matches(table_name, LARGE_TABLE_PATTERNS):
        return 50
    if _matches(table_name, MEDIUM_TABLE_PATTERNS):
        return 20
    return 5


def guess_start_date_column(end_date_column: str, columns: list[str]) -> str:
    """Name-pair heuristic (default_validations.py:428-462)."""
    start_term_map = {
        "end": "start", "finish": "start", "completed": "created",
        "closed": "opened", "expiry": "issue", "expiration": "issue",
    }
    low = end_date_column.lower()
    found = next((t for t in start_term_map if t in low), None)
    if found:
        candidate = low.replace(found, start_term_map[found])
        for c in columns:
            if c.lower() == candidate:
                return c
    for c in columns:
        cl = c.lower()
        if any(s in cl for s in ["start", "created", "opened", "issue", "begin"]) and any(
            d in cl for d in ["date", "time", "timestamp", "dt"]
        ):
            return c
    return end_date_column


def get_default_validations(
    spark: SparkSession,
    table_name: str,
    primary_keys: list[str] | None = None,
    foreign_keys: list[str] | None = None,
    column_length_hints: dict[str, int] | None = None,
) -> list[dict]:
    schema = spark.table(table_name).schema
    columns = [
        {"name": f.name, "bucket": bucket_of(f.dataType), "nullable": f.nullable}
        for f in schema.fields
    ]
    col_names = [c["name"] for c in columns]
    primary_keys = primary_keys or []
    foreign_keys = foreign_keys or []
    t = table_name
    rules: list[dict] = []

    # 1. table not empty
    rules.append(_rule(
        f"check_{t}_not_empty",
        f"Ensure {t} table has at least one row",
        count_rows_sql(t),
        "greater_than", 0,
    ))

    # 2. PK uniqueness (needs hints on parquet)
    if primary_keys:
        pk = ", ".join(primary_keys)
        rules.append(_rule(
            f"check_{t}_pk_unique",
            f"Ensure primary key ({pk}) has no duplicates",
            pk_unique_sql(t, pk),
        ))

    # 3. row growth placeholder (the reference's self-comparing CTE,
    # default_validations.py:73-100 — real growth checks live in the
    # profiler's historical anomaly detection)
    rules.append(_rule(
        f"check_{t}_row_growth",
        f"Detect unusual growth in {t} row count (>20% change)",
        row_growth_sql(t),
    ))

    # 4. uniqueness for columns whose names suggest it
    for c in columns:
        if c["name"] in primary_keys or c["name"] in foreign_keys:
            continue
        if _matches(c["name"], UNIQUE_NAME_PATTERNS):
            rules.append(_rule(
                f"check_{c['name']}_unique",
                f"Check that {c['name']} values are unique",
                unique_sql(t, c["name"]),
            ))

    # 5. NULL checks for non-nullable columns
    for c in columns:
        if not c["nullable"] and c["name"] not in primary_keys:
            rules.append(_rule(
                f"check_{c['name']}_not_null",
                f"Ensure {c['name']} has no NULL values",
                count_where_sql(t, is_null(c["name"])),
            ))

    # 6. no negatives in numeric columns (unless name allows)
    for c in columns:
        if c["bucket"] == NUMERIC and not _matches(c["name"], NEGATIVE_ALLOWED_PATTERNS):
            rules.append(_rule(
                f"check_{c['name']}_positive",
                f"Ensure {c['name']} has no negative values",
                count_where_sql(t, is_negative(c["name"])),
            ))

    # 7. no zeros in price-like columns
    for c in columns:
        if c["bucket"] == NUMERIC and _matches(c["name"], NON_ZERO_PATTERNS):
            rules.append(_rule(
                f"check_{c['name']}_not_zero",
                f"Ensure {c['name']} has no zero values",
                count_where_sql(t, is_zero(c["name"])),
            ))

    # 8. date sanity
    for c in columns:
        if c["bucket"] != DATE:
            continue
        if _matches(c["name"], PAST_DATE_PATTERNS):
            rules.append(_rule(
                f"check_{c['name']}_not_future",
                f"Ensure {c['name']} contains no future dates",
                count_where_sql(t, is_future(c["name"])),
            ))
        rules.append(_rule(
            f"check_{c['name']}_reasonable_past",
            f"Ensure {c['name']} contains no unreasonably old dates",
            count_where_sql(t, is_before_1970(c["name"])),
        ))
        if _matches(c["name"], END_DATE_PATTERNS):
            start_col = guess_start_date_column(c["name"], col_names)
            rules.append(_rule(
                f"check_{c['name']}_end_date_order",
                f"Ensure {c['name']} occurs after any start date (if applicable)",
                count_where_sql(t, is_before(c["name"], start_col)),
            ))

    # 9. text formats. 9a (max length, default_validations.py:236-243):
    # Spark has no VARCHAR(n), so the limit comes from user hints —
    # the same degrade-without-metadata pattern as PK/FK (family 2/14).
    length_hints = column_length_hints or {}
    for c in columns:
        if c["bucket"] != TEXT:
            continue
        if c["name"] in length_hints:
            max_len = int(length_hints[c["name"]])
            rules.append(_rule(
                f"check_{c['name']}_max_length",
                f"Ensure {c['name']} does not exceed max length ({max_len})",
                count_where_sql(t, is_longer_than(c["name"], max_len)),
            ))
        if not c["nullable"]:
            rules.append(_rule(
                f"check_{c['name']}_not_empty_string",
                f"Ensure {c['name']} has no empty strings",
                count_where_sql(t, is_empty_string(c["name"])),
            ))
        low = c["name"].lower()
        if "email" in low:
            rules.append(_rule(
                f"check_{c['name']}_valid_email",
                f"Ensure {c['name']} contains valid email format",
                count_where_sql(t, is_bad_email(c["name"])),
            ))
        if "phone" in low or "mobile" in low:
            rules.append(_rule(
                f"check_{c['name']}_valid_phone",
                f"Ensure {c['name']} contains valid phone number format",
                count_where_sql(t, is_bad_phone(c["name"])),
            ))
        if "zip" in low or "postal" in low:
            rules.append(_rule(
                f"check_{c['name']}_valid_postal",
                f"Ensure {c['name']} follows postal/zip code patterns",
                count_where_sql(t, is_bad_postal(c["name"])),
            ))

    # 10. 3σ outlier counts
    for c in columns:
        if c["bucket"] == NUMERIC:
            rules.append(_rule(
                f"check_{c['name']}_outliers",
                f"Check for extreme outliers in {c['name']} (> 3 std deviations)",
                outliers_sql(t, c["name"]),
                "less_than", get_outlier_threshold(t),
            ))

    # 11. reference-table size
    if _matches(t, REF_TABLE_PATTERNS):
        rules.append(_rule(
            f"check_{t}_ref_table_size",
            f"Ensure reference table {t} has a reasonable number of rows",
            count_rows_sql(t),
            "less_than", 1000,
        ))

    # 12. null-rate cap on important nullable columns
    for c in columns:
        if c["name"] in primary_keys or not c["nullable"]:
            continue
        if _matches(c["name"], IMPORTANT_COLUMN_PATTERNS):
            rules.append(_rule(
                f"check_{c['name']}_null_rate",
                f"Ensure {c['name']} null rate is below acceptable threshold",
                null_rate_sql(t, c["name"]),
                "less_than", 25.0,
            ))

    # 13. categorical-skew cap
    for c in columns:
        if c["bucket"] == TEXT and _matches(c["name"], CATEGORICAL_COLUMN_PATTERNS):
            rules.append(_rule(
                f"check_{c['name']}_distribution",
                f"Ensure {c['name']} has a reasonable value distribution",
                distribution_sql(t, c["name"]),
            ))

    # 14. FK distinct-cardinality (needs hints on parquet)
    for c in columns:
        if c["name"] in foreign_keys:
            rules.append(_rule(
                f"check_{c['name']}_ref_distribution",
                f"Ensure {c['name']} references a reasonable number of distinct values",
                ref_distribution_sql(t, c["name"]),
            ))

    # 15. updated-after-created timestamp ordering
    date_cols = [c["name"] for c in columns if c["bucket"] == DATE]
    updated = [c for c in date_cols if _matches(c, UPDATED_PATTERNS)]
    created = [c for c in date_cols if _matches(c, CREATED_PATTERNS)]
    for u in updated:
        for cr in created:
            rules.append(_rule(
                f"check_{u}_after_{cr}",
                f"Ensure {u} is not before {cr}",
                count_where_sql(t, is_before(u, cr)),
            ))

    return rules
