"""Benchmark driver: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload catalog_publish --seed 1 --seconds 8 --trace 0

Run from the repository root. A run writes its inputs, the committed
tables of ``perfbench/data/`` with their rows in a seeded order, under
``.perfbench/`` in that root, computes the expected outputs with the
engine's DuckDB oracle (untimed), then starts the session three times and
keeps the last: set-up is the median of the three starts. On the last
session it times one cold pass, runs two warm-up passes, and then steady
passes back to back (one client, closed loop). The number of steady
passes is ``--seconds`` divided by the workload's settled pass time, at
least three: every run of a workload makes the same passes, so the JIT
drift a pass sees and the memory a run grows to do not depend on how fast
the host happened to be. Every pass is checked against the oracle and
followed by hygiene checks; a pass that raises, mismatches or leaves a job
or stream behind counts as failed.

With ``--trace 0`` the result carries the end-to-end metrics of
``BENCHMARK.json``. With ``--trace 1`` the steady passes alternate
untraced and traced; the traced ones run with the engine's public entry
points wrapped (``spans.py``) and give the per-layer metrics, and the gap
between the two kinds of pass is the tracing overhead.

The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
Lines before it give provenance, every pass and, when traced, span self
times. Progress goes to standard error.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "data_profiler_for_aws_glue_data_catalog_spark"
SETUPS = 3
# the driver JVM's JIT is still cutting pass CPU by a tenth per pass after
# the cold pass; steady passes start once the steepest part is past
WARMUP_PASSES = 2
MIN_STEADY = 3
DEADLINE_S = 170
GROUP_KEY = "spark.jobGroup.id"
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def source_digest() -> str:
    """sha256 over the engine package's Python sources: identifies the code
    measured where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, ENGINE)
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head, encoding="ascii") as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path, encoding="ascii") as f:
            return f.read().strip()
    return None


class Session:
    """A Spark session on its own driver JVM. ``stop`` ends the JVM too,
    so the next start pays the full launch, as a batch job does."""

    def __init__(self, work: str, nproc: int, mem_mb: int):
        from pyspark.sql import SparkSession

        from data_profiler_for_aws_glue_data_catalog_spark.plans.session import (
            engine_session_confs,
        )

        confs = engine_session_confs()
        confs.update({
            "spark.master": f"local[{nproc}]",
            "spark.app.name": "perfbench",
            "spark.driver.memory": f"{mem_mb}m",
            "spark.sql.shuffle.partitions": str(nproc),
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # one catalog pass runs several hundred stages; keep them all
            # readable until the pass's counters are collected
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.hadoop.hadoop.tmp.dir": f"{work}/tmp",
        })
        self.confs = confs
        builder = SparkSession.builder
        for k, v in confs.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            if proc is not None:
                # the JVM's gateway server exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)


def hygiene(spark, pass_dir: str) -> list[str]:
    """No job or stream may outlive its pass; then cancel, clear and delete
    what the pass left."""
    sc = spark.sparkContext
    bad = []
    active = list(sc.statusTracker().getActiveJobsIds())
    if active:
        bad.append(f"jobs still running after the pass: {active}")
    if spark.streams.active:
        bad.append("a streaming query is still active after the pass")
    sc.cancelAllJobs()
    spark.catalog.clearCache()
    shutil.rmtree(pass_dir, ignore_errors=True)
    return bad


class Runner:
    def __init__(self, wl, session, tables, want, work, input_rows, tracer=None):
        self.wl = wl
        self.spark = session.spark
        self.tables = tables
        self.input_rows = input_rows
        self.want = want
        self.work = work
        self.tracer = tracer
        self.passes: list[dict] = []

    def one_pass(self, kind: str, traced: bool = False) -> dict:
        from bench import tree_cpu_seconds
        from spans import PassView, covered_ms, jvm_counters, reset_heap_peaks

        n = len(self.passes)
        sc = self.spark.sparkContext
        pass_dir = os.path.join(self.work, "pass", str(n))
        os.makedirs(pass_dir)
        group = f"perfbench.pass{n}"
        sc.setJobGroup(group, f"{self.wl.name} pass {n}")
        if traced:
            self.tracer.pass_id = n
            reset_heap_peaks(sc)
            jvm0 = jvm_counters(sc)
        py0, cpu0, epoch0 = time.process_time(), tree_cpu_seconds(), time.time()
        t0 = time.perf_counter()
        output, problems = None, []
        try:
            output = self.wl.run(
                self.spark, self.tables, pass_dir, self.tracer if traced else None
            )
        except Exception:
            problems.append(traceback.format_exc(limit=4))
        wall = time.perf_counter() - t0
        epoch1, cpu, py = time.time(), tree_cpu_seconds() - cpu0, time.process_time() - py0
        sc.setLocalProperty(GROUP_KEY, None)
        rec = {"pass": n, "kind": kind, "traced": traced, "wall_s": wall, "cpu_s": cpu}
        try:
            if traced and not problems:
                view = PassView(self.tracer, n, group)
                self.tracer.pass_id = -1
                jvm1 = jvm_counters(sc)
                t = view.total.values
                rec["layers"] = {
                    "spark.jobs": view.total.jobs,
                    "spark.stages_completed": view.total.stages,
                    "spark.tasks": t["tasks"],
                    "exec.cpu_s": t["cpu_s"],
                    "exec.run_s": t["run_s"],
                    "exec.gc_s": t["gc_s"],
                    "shuffle.write_bytes": t["shuffle_write_bytes"],
                    "shuffle.read_bytes": t["shuffle_read_bytes"],
                    "spill.bytes": t["spill_bytes"],
                    "sources.read_bytes": t["input_bytes"],
                    "sources.read_amplification": t["input_records"] / self.input_rows,
                    "driver.idle_s": wall
                    - covered_ms(view.job_intervals, epoch0 * 1e3, epoch1 * 1e3) / 1e3,
                    "driver.unattributed_cpu_s": cpu - t["cpu_s"],
                    "driver.py_cpu_s": py,
                    "jvm.jit_ms": jvm1["jit_ms"] - jvm0["jit_ms"],
                    "jvm.classes_loaded": jvm1["classes"] - jvm0["classes"],
                    "jvm.gc_ms": jvm1["gc_ms"] - jvm0["gc_ms"],
                    "jvm.code_cache_mb": jvm1["code_mb"],
                    "jvm.heap_peak_mb": jvm1["heap_peak_mb"],
                    **self.wl.layer_metrics(view, pass_dir, output, self.tables),
                }
                rec["spans"] = self.tracer.self_times(n)
            if not problems:
                problems += self.wl.check(self.spark, output, pass_dir, self.want)
        except Exception:
            problems.append(traceback.format_exc(limit=4))
        problems += hygiene(self.spark, pass_dir)
        rec["ok"] = not problems
        if problems:
            rec["problems"] = problems[:5]
            log(f"pass {n} failed: {problems[0][:2000]}")
        log(f"pass {n} {kind}{' traced' if traced else ''}: {wall:.3f} s, "
            f"cpu {cpu:.2f} s, {'ok' if rec['ok'] else 'FAILED'}")
        self.passes.append(rec)
        return rec


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(args, work: str) -> tuple[dict, list[str]]:
    import data
    import procfs
    from workloads import WORKLOADS

    import expected

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](args.seed)
    ticks0 = procfs.host_cpu_ticks()
    data_dir = os.path.join(work, "data")
    rows = data.write_inputs(data_dir, wl.tables, args.seed)
    con = expected.connect(data_dir, wl.tables, os.path.join(work, "tmp"))
    try:
        want = wl.expected(con)
    finally:
        con.close()
    log(f"inputs and oracle ready: {rows}")

    nproc = len(os.sched_getaffinity(0))
    mem_mb = 1024
    setup_s, load_s = [], []
    session = None
    lines = []
    try:
        for i in range(SETUPS):
            if session is not None:
                session.stop()
                session = None
            t0 = time.perf_counter()
            session = Session(work, nproc, mem_mb)
            t1 = time.perf_counter()
            tables = wl.setup(session.spark, data_dir)
            setup_s.append(time.perf_counter() - t0)
            load_s.append(time.perf_counter() - t1)
            log(f"setup {i}: {setup_s[-1]:.3f} s")

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(session.spark)
        runner = Runner(wl, session, tables, want, work, sum(rows.values()), tracer)
        patch = tracer.patched(wl.trace_targets()) if tracer else nullcontext()
        with patch:
            first = runner.one_pass("first", traced=bool(tracer))
            for _ in range(WARMUP_PASSES):
                runner.one_pass("warmup")
            n_steady = max(MIN_STEADY, round(args.seconds / wl.pass_s))
            if tracer:
                # untraced and traced passes alternate, two of each at least
                n_steady = max(n_steady, 4)
            steady = []
            for i in range(n_steady):
                traced = bool(tracer) and i % 2 == 1
                steady.append(runner.one_pass("steady", traced=traced))
        peak_rss = procfs.tree_peak_rss_mb()
        spark = session.spark
        provenance = {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "scale_factor": "0.1, row subsets (perfbench/data)",
            "input_rows": rows,
            "nproc": nproc,
            "mem_total_mb": round(procfs.mem_total_mb()),
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "pyspark": spark.version,
            "python": platform.python_version(),
            "git_commit": git_commit(),
            "engine_sha256": source_digest(),
            "session_confs": session.confs,
            "setup_s": setup_s,
            "closed_loop": "one client, passes back to back",
            "host_steal_pct": procfs.steal_pct(ticks0, procfs.host_cpu_ticks()),
        }
        untraced = [p for p in steady if not p["traced"]]
        metrics = {
            "setup_s": median(setup_s),
            "first_pass_s": first["wall_s"],
            "wall_s": median([p["wall_s"] for p in untraced]),
            # a run holds too few passes for a percentile with ten samples
            # beyond it, so the tail is the slowest steady pass
            "wall_tail_s": max(p["wall_s"] for p in untraced),
            "cpu_s": median([p["cpu_s"] for p in untraced]),
            "peak_rss_mb": peak_rss,
        }
        metrics["rows_per_s"] = sum(rows.values()) / metrics["wall_s"]
        provenance["steady_passes"] = len(untraced)
        if tracer:
            metrics = layer_summary(steady, first, load_s)
        lines.append(json.dumps({"provenance": provenance}))
        lines.append(json.dumps({"passes": [
            {k: v for k, v in p.items() if k not in ("layers", "spans")} for p in runner.passes
        ]}))
        if tracer:
            lines.append(json.dumps({"spans": {
                p["pass"]: p["spans"] for p in runner.passes if "spans" in p
            }}))
        failed = sum(not p["ok"] for p in runner.passes)
        result = {
            "correct": failed == 0,
            "attempted": len(runner.passes),
            "failed": failed,
            "metrics": metrics,
        }
        return result, lines
    finally:
        if session is not None:
            session.stop()


def layer_summary(steady, first, load_s) -> dict:
    """Per-layer metrics: medians over the traced steady passes, the JIT and
    class-loading counts of the cold first pass, and the tracing overhead."""
    traced = [p for p in steady if p["traced"] and "layers" in p]
    untraced = [p for p in steady if not p["traced"]]
    out = {}
    for k in traced[0]["layers"] if traced else []:
        out[k] = median([p["layers"][k] for p in traced])
    for k in ("jvm.jit_ms", "jvm.classes_loaded"):
        out[k] = first.get("layers", {}).get(k, 0.0)
    out["sources.load_s"] = median(load_s)
    out["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(
        [p["wall_s"] for p in untraced]
    )
    out["trace.overhead_cpu_s"] = median([p["cpu_s"] for p in traced]) - median(
        [p["cpu_s"] for p in untraced]
    )
    return out


def shape(result: dict, spec: dict, trace: int) -> dict:
    """Order and label the metrics as BENCHMARK.json declares them."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got and not trace]
    if missing:
        raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    result["metrics"] = {
        m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        log(f"the engine package {ENGINE}/ is not in {ROOT}; nothing to measure")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(1, ROOT)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every temporary file of Python, the JVM and Spark in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the session starts, the launcher included: no perf-data
    # file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = None

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    try:
        result, lines = measure(args, work)
        result = shape(result, spec, args.trace)
    except Exception:
        log(traceback.format_exc())
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
