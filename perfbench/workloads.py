"""The three benchmark workloads.

Each workload names the input tables it needs and its settled pass time
(``pass_s``, which sets how many steady passes a run makes), registers
the tables in a fresh session (``setup``, timed as part of set-up), runs
one pass through the engine's public entry points (``run``, timed), and
checks that pass's output against the oracle (``check``, untimed). ``trace_targets`` lists
the public functions a traced run wraps, and ``layer_metrics`` turns one
traced pass into the workload's per-layer numbers.
"""

from __future__ import annotations

import glob
import json
import os
from contextlib import nullcontext

import numpy as np
from pyspark.sql import functions as F

import expected
from data_profiler_for_aws_glue_data_catalog_spark import cli, sinks
from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig
from data_profiler_for_aws_glue_data_catalog_spark.operators import (
    dedup,
    dup_clusters,
    incremental,
    profile,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import materialize
from data_profiler_for_aws_glue_data_catalog_spark.sinks import catalog_sink
from data_profiler_for_aws_glue_data_catalog_spark.sources import registry

DB = "default"
CONFIG = ProfilerConfig(compute_expensive=True)
N_INCREMENTS = 4


def _params_count(result) -> dict:
    table_params, columns_params = result
    return {"params": len(table_params) + sum(len(p) for p in columns_params.values())}


def _metrics_map(rows, key=lambda r: (r["entity"], r["instance"], r["name"])) -> dict:
    return {key(r): (r["value"], r["type"]) for r in rows}


class CatalogPublish:
    """The reference job: ``cli.run`` over a session-catalog database with
    both sinks, the catalog parameters and partitioned Parquet."""

    name = "catalog_publish"
    # the pass is scheduler-bound: each table costs about the same number
    # of jobs whatever its size, so two tables keep a settled pass near
    # 2.5 s and a run's steady window holds several passes
    tables = ("part", "orders")
    # settled pass wall time on 4 CPUs: sets the number of steady passes
    pass_s = 3.2

    def __init__(self, seed: int):
        # the seed orders table registration, hence the order cli.run
        # enumerates and publishes them
        order = np.random.default_rng(seed).permutation(len(self.tables))
        self.order = tuple(self.tables[i] for i in order)

    def expected(self, con) -> dict:
        return {
            t: (expected.profile(con, t), expected.sketch_bounds(con, t, CONFIG))
            for t in self.tables
        }

    def setup(self, spark, data_dir: str) -> dict:
        return registry.register_views(spark, data_dir, self.order)

    def run(self, spark, tables, pass_dir, tracer=None):
        rc = cli.run(
            [
                "--dbName", DB, "--compExp", "true",
                "--catalogJson", os.path.join(pass_dir, "catalog.json"),
                "--outputPrefix", os.path.join(pass_dir, "metrics"),
            ],
            spark=spark,
        )
        if rc != 0:
            raise RuntimeError(f"cli.run returned {rc}")
        return None

    def check(self, spark, output, pass_dir, want) -> list[str]:
        bad = []
        with open(os.path.join(pass_dir, "catalog.json"), encoding="utf-8") as f:
            catalog = json.load(f)[DB]
        prefix = CONFIG.prefixed
        back = sinks.read_metrics_parquet(spark, os.path.join(pass_dir, "metrics")).collect()
        for t in self.tables:
            oracle_rows, bounds = want[t]
            entry = catalog.get(t, {"parameters": {}, "column_parameters": {}})
            got = {
                ("Dataset", "*", k[len(prefix):]): (float(v), None)
                for k, v in entry["parameters"].items()
            }
            for col, params in entry["column_parameters"].items():
                got.update(
                    {("Column", col, k[len(prefix):]): (float(v), None) for k, v in params.items()}
                )
            bad += expected.metric_mismatches(f"catalog {t}", got, oracle_rows, bounds)
            rows = [r for r in back if r["table_name"] == t]
            if any(r["db_name_embed"] != DB or r["table_name_embed"] != t for r in rows):
                bad.append(f"parquet {t}: wrong provenance columns")
            if len(rows) != len(_metrics_map(rows)):
                bad.append(f"parquet {t}: duplicate metric rows")
            bad += expected.metric_mismatches(
                f"parquet {t}", _metrics_map(rows), oracle_rows, bounds
            )
        return bad

    def trace_targets(self):
        return [
            (profile, "profile_table", "profile.profile_table"),
            (sinks, "write_metrics_parquet", "sinks.write_metrics_parquet"),
            (catalog_sink, "metrics_to_params", "sinks.metrics_to_params", _params_count),
            (catalog_sink.LocalMetadataCatalog, "update_table_metadata",
             "sinks.update_table_metadata"),
        ]

    def layer_metrics(self, layer, pass_dir, output, tables) -> dict:
        pq = layer.subtree(["sinks.write_metrics_parquet"])
        cat = layer.subtree(["sinks.metrics_to_params", "sinks.update_table_metadata"])
        files = glob.glob(os.path.join(pass_dir, "metrics", "**", "*.parquet"), recursive=True)
        return {
            "profile.build_s": layer.span_s("profile.profile_table"),
            "sinks.parquet_s": layer.span_s("sinks.write_metrics_parquet"),
            "sinks.parquet_jobs": pq.jobs,
            "sinks.parquet_bytes": pq.values["output_bytes"],
            "sinks.parquet_files": len(files),
            "sinks.parquet_read_bytes": pq.values["input_bytes"],
            "sinks.catalog_s": layer.span_s("sinks.metrics_to_params")
            + layer.span_s("sinks.update_table_metadata"),
            "sinks.catalog_jobs": cat.jobs,
            "sinks.catalog_params": layer.attr_sum("sinks.metrics_to_params", "params"),
        }


class IncrementalStateStore:
    """Mergeable-state profiling: per-increment scan and frequency states
    appended to a Parquet store, read back, merged and finished."""

    name = "incremental_state_store"
    tables = ("lineitem", "events")
    pass_s = 3.7

    def __init__(self, seed: int):
        # the seed salts the hash that splits each table into increments
        self.salt = seed

    def expected(self, con) -> dict:
        return {t: expected.profile(con, t) for t in self.tables}

    def setup(self, spark, data_dir: str) -> dict:
        self.input_bytes = sum(
            os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in self.tables
        )
        return registry.load_tables(spark, data_dir, self.tables)

    def _increment(self, df, k: int):
        key = F.xxhash64(F.col(df.columns[0]), F.lit(self.salt))
        return df.where(F.pmod(key, F.lit(N_INCREMENTS)) == k)

    def run(self, spark, tables, pass_dir, tracer=None):
        step = tracer.span if tracer is not None else _no_span
        out = {}
        for t in self.tables:
            store = os.path.join(pass_dir, t)
            for k in range(N_INCREMENTS):
                inc = self._increment(tables[t], k)
                with step("incremental.state_build"):
                    incremental.scan_states(inc, CONFIG).write.mode("append").parquet(
                        f"{store}/scan"
                    )
                    incremental.frequency_states(inc, CONFIG).write.mode("append").parquet(
                        f"{store}/freq"
                    )
            with step("incremental.merge"):
                ms = materialize(
                    incremental.merge_scan_states(spark.read.parquet(f"{store}/scan"))
                )
                mf = materialize(
                    incremental.merge_frequency_states(spark.read.parquet(f"{store}/freq"))
                )
            with step("incremental.finish"):
                out[t] = (
                    incremental.scan_metrics_from_states(ms)
                    .unionByName(incremental.frequency_metrics_from_states(mf, ms, CONFIG))
                    .collect()
                )
        return out

    def check(self, spark, output, pass_dir, want) -> list[str]:
        bad = []
        for t in self.tables:
            got = _metrics_map(output[t])
            if len(got) != len(output[t]):
                bad.append(f"{t}: duplicate metric rows")
            bad += expected.metric_mismatches(t, got, want[t])
        return bad

    def trace_targets(self):
        names = (
            "scan_states", "frequency_states", "merge_scan_states",
            "merge_frequency_states", "scan_metrics_from_states",
            "frequency_metrics_from_states",
        )
        return [(incremental, n, f"incremental.{n}") for n in names]

    def layer_metrics(self, layer, pass_dir, output, tables) -> dict:
        build = layer.subtree(["incremental.state_build"])
        v = build.values
        total = layer.total.values
        return {
            "incremental.state_build_s": layer.span_s("incremental.state_build"),
            "incremental.state_rows": v["output_records"],
            "incremental.state_bytes": v["output_bytes"],
            "incremental.state_write_amp": _ratio(v["output_bytes"], self.input_bytes),
            "incremental.merge_s": layer.span_s("incremental.merge"),
            "incremental.finish_s": layer.span_s("incremental.finish"),
            "incremental.state_rereads": _ratio(
                total["shuffle_read_bytes"], total["shuffle_write_bytes"]
            ),
        }


class NearDupDocuments:
    """Near-duplicate detection over documents: exact n-gram Jaccard,
    MinHash-LSH pairs resolved into clusters, and SimHash."""

    name = "near_dup_documents"
    tables = ("documents",)
    pass_s = 2.1
    steps = ("dedup.jaccard", "dedup.minhash_lsh", "dup_clusters.resolve", "dedup.simhash")

    def __init__(self, seed: int):
        self.minhash_pairs = None

    def expected(self, con) -> dict:
        return expected.near_duplicates(con)

    def setup(self, spark, data_dir: str) -> dict:
        return registry.load_tables(spark, data_dir, self.tables)

    def run(self, spark, tables, pass_dir, tracer=None):
        step = tracer.span if tracer is not None else _no_span
        d = tables["documents"]
        with step("dedup.jaccard"):
            jaccard = dedup.jaccard_near_duplicates(d).collect()
        with step("dedup.minhash_lsh"):
            pairs = dedup.minhash_lsh_near_duplicates(d)
        with step("dup_clusters.resolve"):
            resolved = dup_clusters.resolve_duplicates(d, pairs).collect()
        with step("dedup.simhash"):
            simhash = dedup.simhash_near_duplicates(d).collect()
        return {"jaccard": jaccard, "resolve": resolved, "simhash": simhash}

    def check(self, spark, output, pass_dir, want) -> list[str]:
        bad = []
        for k, rows in output.items():
            got = sorted(tuple(r) for r in rows)
            if got != want[k]:
                bad.append(f"{k}: {len(got)} rows differ from the oracle's {len(want[k])}")
        return bad

    def trace_targets(self):
        return [
            (dedup, "jaccard_near_duplicates", "dedup.jaccard_near_duplicates"),
            (dedup, "minhash_lsh_near_duplicates", "dedup.minhash_lsh_near_duplicates"),
            (dedup, "simhash_near_duplicates", "dedup.simhash_near_duplicates"),
            (dup_clusters, "resolve_duplicates", "dup_clusters.resolve_duplicates"),
        ]

    def layer_metrics(self, layer, pass_dir, output, tables) -> dict:
        out = {}
        for s in self.steps:
            c = layer.subtree([s])
            out[f"{s}_s"] = layer.span_s(s)
            out[f"{s}_exec_cpu_s"] = c.values["cpu_s"]
            out[f"{s}_shuffle_bytes"] = c.values["shuffle_write_bytes"]
        if self.minhash_pairs is None:
            # the pass hands the LSH pairs to resolve_duplicates without
            # counting them; count once, after the pass's counters are read
            self.minhash_pairs = dedup.minhash_lsh_near_duplicates(tables["documents"]).count()
        sizes: dict = {}
        for r in output["resolve"]:
            sizes[r["cluster_id"]] = sizes.get(r["cluster_id"], 0) + 1
        out["dedup.jaccard_pairs_out"] = len(output["jaccard"])
        out["dedup.minhash_lsh_pairs_out"] = self.minhash_pairs
        out["dedup.simhash_pairs_out"] = len(output["simhash"])
        out["dup_clusters.clusters_out"] = sum(1 for n in sizes.values() if n > 1)
        return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _no_span(name):
    return nullcontext()


WORKLOADS = {w.name: w for w in (CatalogPublish, IncrementalStateStore, NearDupDocuments)}
