"""Configuration with SPARVI_* environment overrides.

Re-expresses the reference's config scheme (reference:
``sparvi/config.py:16-66,142-168``) for a Spark engine: the
warehouse/connection sections collapse into a single ``spark`` section,
while the profiling/validation knobs keep the same names and defaults.
"""

from __future__ import annotations

import copy
import os
from typing import Any

DEFAULTS: dict[str, dict[str, Any]] = {
    "profiling": {
        # reference: sparvi/config.py:19 (sample_row_limit)
        "sample_row_limit": 10,
        # "limit": first rows (deterministic, the reference's plain
        # LIMIT). "random": TABLESAMPLE-equivalent via df.sample —
        # restores the reference's dialect SAMPLE/TABLESAMPLE display
        # sampling (adapters.py:121-132); seeded for reproducibility.
        "sample_method": "limit",
        "sample_seed": 42,
        # reference: profile_engine.py:295-297 (skip frequent values > 1e6 rows)
        "frequent_values_row_threshold": 1_000_000,
        # skip top-1 frequency for near-unique columns (top-1 of a ~unique
        # column is noise, and grouping it shuffles ~every row)
        "frequent_values_max_distinct_fraction": 0.5,
        # reference: profile_engine.py:361,378 (LIMIT 10 outliers)
        "outlier_limit": 10,
        # reference: sparvi/config.py:66 + hardcoded 3σ at profile_engine.py:359
        "anomaly_threshold": 3.0,
        # Scale switches (100 TB design): HLL distinct + approx percentiles.
        # Exact mode is required for DuckDB-oracle hash parity (BASELINE.md).
        "approx_distinct": False,
        "approx_distinct_rsd": 0.05,
        "approx_percentiles": False,
        "approx_percentile_accuracy": 10_000,
        # Auto-flip to approx mode when the Catalyst size estimate of the
        # input exceeds this many bytes (exact distinct plans an Expand and
        # exact percentiles are object-hash aggregates — neither is the
        # right default on a 100 TB table). Explicit approx_* settings
        # (caller overrides or SPARVI_* env) always win.
        "auto_approx": True,
        "auto_approx_size_bytes": 16 * 1024**3,
        # Skip the full-width duplicate-row groupBy above this many columns
        # (wide fact tables at 100 TB: a groupBy over every column shuffles
        # the entire table; prefer an opt-in).
        "duplicate_check_max_columns": 64,
        # "full": groupBy every column (shuffles whole rows — exact, the
        # reference's shape). "hash": groupBy md5 of the concatenated row
        # (one narrow string column through the shuffle — the 100 TB path;
        # md5-collision error is negligible). auto_approx flips this to
        # "hash" above auto_approx_size_bytes unless set explicitly —
        # same pattern as the distinct/percentile sketches.
        "duplicate_check_mode": "full",
    },
    "validation": {
        # reference: sparvi/config.py:58
        "max_rules": 100,
        # run independent rules concurrently on the shared SparkSession
        # (the Spark scheduler interleaves jobs; rules are independent —
        # mirrors the reference's one-connection-per-rule at validator.py:91)
        "parallelism": 4,
    },
    "spark": {
        "shuffle_partitions": None,  # None → leave session default / AQE
        "adaptive": True,
    },
}


def _coerce(value: str, default: Any) -> Any:
    if isinstance(default, bool):
        return value.lower() in ("1", "true", "yes", "on")
    if isinstance(default, int) and not isinstance(default, bool):
        return int(value)
    if isinstance(default, float):
        return float(value)
    return value


def get_config(overrides: dict | None = None) -> dict[str, dict[str, Any]]:
    """Return config = DEFAULTS <- SPARVI_<SECTION>_<KEY> env <- overrides.

    Mirrors the reference's env-override scheme (``config.py:142-168``),
    e.g. ``SPARVI_PROFILING_SAMPLE_ROW_LIMIT=50``.
    """
    cfg = copy.deepcopy(DEFAULTS)
    for section, keys in cfg.items():
        for key, default in keys.items():
            env_name = f"SPARVI_{section.upper()}_{key.upper()}"
            if env_name in os.environ:
                cfg[section][key] = _coerce(os.environ[env_name], default)
    if overrides:
        for section, keys in overrides.items():
            cfg.setdefault(section, {}).update(keys)
    return cfg
