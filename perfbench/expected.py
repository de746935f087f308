"""Expected outputs from the engine's DuckDB oracle, and the comparisons.

Everything here runs untimed, once per invocation, before any Spark
session exists. Metric values compare exactly, except the two metrics
whose last digits differ between the JVM and C (``Entropy`` and
``StandardDeviation``): the oracle rounds those to 6 decimals, and the
engine's value must lie within half a unit of that rounding. Sketch
metrics have no exact oracle; they must fall inside the error envelope
``operators/approx_bounds.py`` documents, measured against exact values.
"""

from __future__ import annotations

import math
import os

import duckdb

from data_profiler_for_aws_glue_data_catalog_spark import oracle, oracle_ext
from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig
from data_profiler_for_aws_glue_data_catalog_spark.operators import dup_clusters
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    quantile_name,
    quantile_points,
)

ROUNDED = ("Entropy", "StandardDeviation")
# the quantile check's rank slack and small-sample cut, as approx_bounds.py
RANK_SLACK = 2.5
SMALL_N = 100


def connect(data_dir: str, names, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for n in names:
        path = os.path.join(data_dir, f"{n}.parquet")
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{path}')")
    return con


def profile(con, table: str) -> dict:
    """(entity, instance, name) -> (value, type) of the full profile,
    sketch metrics excluded."""
    rows = con.execute(oracle.profile_table_sql(table, expensive=True)).fetchall()
    return {(e, i, n): (v, t) for e, i, n, v, t in rows}


def sketch_bounds(con, table: str, config: ProfilerConfig) -> dict:
    """(instance, name) -> (lo, hi): the envelope each sketch metric of the
    table's profile must fall in."""
    out = {}
    eps = RANK_SLACK / config.quantile_accuracy
    for c, kind, _ in oracle.TABLE_COLUMNS[table]:
        d, n = con.execute(
            f"SELECT COUNT(DISTINCT {c}), COUNT({c}) FROM {table}"
        ).fetchone()
        slack = max(4 * config.approx_distinct_rsd * d, 10.0)
        out[(c, "ApproxCountDistinct")] = (d - slack, d + slack)
        if kind != oracle.NUM:
            continue
        for p in quantile_points(config.n_quantiles):
            if n < SMALL_N:
                out[(c, quantile_name(p))] = (-math.inf, math.inf)
                continue
            lo, hi = con.execute(
                f"SELECT quantile_cont({c}, {max(p - eps, 0.0)!r}), "
                f"quantile_cont({c}, {min(p + eps, 1.0)!r}) FROM {table}"
            ).fetchone()
            # quantile_cont and Spark's percentile may round the
            # interpolation one ulp apart
            pad = 1e-9 * max(abs(lo), abs(hi), 1.0)
            out[(c, quantile_name(p))] = (lo - pad, hi + pad)
    return out


def near_duplicates(con) -> dict:
    """Sorted result rows of the three near-duplicate steps."""
    def rows(sql):
        return sorted(tuple(r) for r in con.execute(sql).fetchall())

    return {
        "jaccard": rows(oracle_ext.jaccard_near_duplicates_sql()),
        "resolve": rows(
            dup_clusters.resolve_duplicates_sql(
                "documents", oracle_ext.minhash_lsh_near_duplicates_sql()
            )
        ),
        "simhash": rows(oracle_ext.simhash_near_duplicates_sql()),
    }


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def same_value(name: str, got, want) -> bool:
    if _missing(got) or _missing(want):
        return _missing(got) and _missing(want)
    if name in ROUNDED:
        return abs(float(got) - float(want)) <= 5.000001e-7
    return float(got) == float(want)


def metric_mismatches(
    label: str, got: dict, want: dict, bounds: dict | None = None
) -> list[str]:
    """Compare a metrics map (entity, instance, name) -> (value, type).

    A ``got`` type of None skips the type check (the catalog parameters
    carry no types). Without ``bounds`` the sketch metrics must be absent;
    with them, each must be present and inside its envelope."""
    bad = []
    bounds = bounds or {}
    sketch = {("Column", i, n) for i, n in bounds}
    for key in sorted(set(got) | set(want) | sketch):
        if key in sketch:
            lo, hi = bounds[key[1:]]
            v = got.get(key, (None,))[0]
            if _missing(v) or not lo <= float(v) <= hi:
                bad.append(f"{label} {key}: sketch {v} outside [{lo}, {hi}]")
        elif key not in got or key not in want:
            bad.append(f"{label} {key}: only in {'engine' if key in got else 'oracle'}")
        elif not same_value(key[2], got[key][0], want[key][0]) or got[key][1] not in (
            None,
            want[key][1],
        ):
            bad.append(f"{label} {key}: engine {got[key]} != oracle {want[key]}")
    return bad
