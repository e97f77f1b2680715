#!/usr/bin/env python3
"""Benchmark of the warehouse engine, driven from outside through its
public functions.

    python3 perfbench/run.py --workload analytics-sf0.01 --seed 1 --seconds 20 --trace 0

One closed-loop client in one process, ``SPARK_GRAFT_CPUS`` pinned to the
host's CPU count. A run starts the session, sets up three times (the
median is ``setup_s``), makes one untimed warm-up pass, then times whole
passes until ``--seconds`` have gone. Every operation's output is
checked. The last stdout line is the result JSON; the line before it
records the host and the raw samples. ``--trace 1`` alternates untraced
and traced passes, reports per-layer metrics from the traced ones and
writes the spans to ``.bench_build/perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("analytics-sf0.01", "ingest-backfill")
SETUP_REPS = 3


def _isolate(run_dir: str) -> dict[str, str]:
    """Give the run its own TMPDIR and Spark local dirs, and keep the JVM's
    temp files there too, so residue can be counted and removed."""
    dirs = {"tmp": os.path.join(run_dir, "tmp"), "local": os.path.join(run_dir, "local")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData' pyspark-shell"
    )
    tempfile.tempdir = None
    os.chdir(run_dir)  # Spark's cwd-relative files (warehouse dir, logs)
    return dirs


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _new_session():
    from makerdao_dw_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


PER_LAYER = (
    ["queries.construct_s", "queries.construct_jobs", "catalyst.plan_s"]
    + ["exec." + k for k in ("wall_s", "jobs", "tasks", "failed_tasks", "task_busy_s", "core_util",
                             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "scan_input_mb")]
    + ["transfer.s", "transfer.rows", "streaming.state_rows"]
    + ["ingest." + k for k in ("resume_s", "fetch_s", "logs_fetched", "demux_write_s", "rows_written",
                               "files_written", "bytes_written_mb", "decode_yield", "logs_per_s",
                               "append_to_result_s")]
    + ["decode.s", "decode.rows", "assets.construct_s", "assets.exec_s"]
    + ["session.persisted_rdds_after", "session.temp_views_after", "session.tmp_entries_after"]
    + ["proc.jvm_rss_peak_mb", "proc.py_rss_peak_mb", "trace.overhead_s", "trace.spans"]
)


def per_layer_names() -> list[str]:
    """Every per-layer metric, on every workload; a layer the workload
    does not exercise reads 0."""
    from perfbench.analytics import MIX

    return PER_LAYER + [f"{p}.{q}" for q in MIX for p in ("queries.construct_s", "exec.wall_s")]


def _pass_layers(spark, pass_span, ops, cores: int) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    from perfbench.trace import catalyst_plan_s, job_stats

    m: dict[str, float] = {}
    construct_jobs: set[int] = set()
    queries = [op for op in ops if op.query is not None and op.query.rows is not None]
    for op in queries:
        q = op.query
        cs, act = q.construct_span, q.action_span
        construct_jobs.update(range(cs.first_job, cs.last_job))
        action = job_stats(spark, range(act.first_job, act.last_job))
        m["queries.construct_s"] = m.get("queries.construct_s", 0.0) + q.construct_s
        m["catalyst.plan_s"] = m.get("catalyst.plan_s", 0.0) + catalyst_plan_s(q.df)
        m["transfer.s"] = m.get("transfer.s", 0.0) + q.action_s - action["wall_s"]
        m["transfer.rows"] = m.get("transfer.rows", 0) + len(q.rows)
        if op.name == "assets_per_type":
            m["assets.construct_s"] = m.get("assets.construct_s", 0.0) + q.construct_s
            m["assets.exec_s"] = m.get("assets.exec_s", 0.0) + action["wall_s"]
        else:
            m[f"queries.construct_s.{op.name}"] = q.construct_s
            m[f"exec.wall_s.{op.name}"] = action["wall_s"]
    m["queries.construct_jobs"] = len(construct_jobs)
    exec_jobs = [j for j in range(pass_span.first_job, pass_span.last_job) if j not in construct_jobs]
    ex = job_stats(spark, exec_jobs)
    for k, v in ex.items():
        m[f"exec.{k}"] = v
    m["exec.core_util"] = ex["task_busy_s"] / (ex["wall_s"] * cores) if ex["wall_s"] else 0.0
    return m


def bench(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> tuple[dict, dict]:
    from pyspark import SparkContext

    from makerdao_dw_spark.streaming.jobs import LAST_STATE_ROWS
    from perfbench.trace import Tracer

    if workload == "analytics-sf0.01":
        from perfbench.analytics import Analytics

        wl = Analytics(seed)
    else:
        from perfbench.ingest import Ingest

        wl = Ingest(seed, run_dir)
    wl.prepare(WORK)

    t0 = time.perf_counter()
    spark = _new_session()
    session_start_s = time.perf_counter() - t0
    jvm_pid = SparkContext._gateway.proc.pid
    setups = []
    for _ in range(SETUP_REPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = _new_session()
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)

    cores = spark.sparkContext.defaultParallelism
    attempted = failed = 0
    untraced, traced = [], []  # (wall, ops) and (wall, layer figures) per timed pass
    tracer = Tracer(spark, enabled=False)
    live = Tracer(spark, enabled=True)
    layer_sink: dict[str, float] = {}

    def one_pass(tr) -> tuple[float, list]:
        nonlocal attempted, failed
        with tr.span("pass") as span:
            if tr.enabled and hasattr(wl, "traced_layers"):
                with wl.traced_layers(tr, layer_sink):
                    ops = wl.run_pass(spark, tr)
            else:
                ops = wl.run_pass(spark, tr)
        attempted += len(ops)
        failed += sum(not op.ok for op in ops)
        # the pass wall counts its operations, not the output checks between them
        return sum(op.seconds for op in ops), ops, span

    warmup_s = one_pass(tracer)[0]  # untimed

    t0 = time.perf_counter()
    while True:
        want_traced = trace and len(traced) < len(untraced)
        if want_traced:
            layer_sink.clear()
            wall, ops, span = one_pass(live)
            layers = _pass_layers(spark, span, ops, cores)
            layers.update(layer_sink)
            layers.update(getattr(wl, "layers", {}))
            traced.append((wall, layers))
        else:
            wall, ops, _ = one_pass(tracer)
            untraced.append((wall, ops))
        done = time.perf_counter() - t0 >= seconds
        if done and (not trace or traced):
            break

    walls = [w for w, _ in untraced]
    latencies = [op.seconds for _, ops in untraced for op in ops if op.query is not None]
    metrics: dict[str, float] = {
        "setup_s": statistics.median(setups),
        "mix_wall_s": statistics.median(walls),
        "query_p50_s": statistics.median(latencies),
    }
    layers: dict[str, float] = {}
    if trace:
        for name in per_layer_names():
            layers[name] = statistics.median(lay.get(name, 0.0) for _, lay in traced)
        if hasattr(wl, "decode_probe"):
            layers.update(wl.decode_probe(spark, live))
        if layers["ingest.logs_fetched"]:
            layers["ingest.decode_yield"] = layers["ingest.rows_written"] / layers["ingest.logs_fetched"]
        layers["streaming.state_rows"] = sum(LAST_STATE_ROWS.values())
        layers["trace.overhead_s"] = statistics.median(w for w, _ in traced) - metrics["mix_wall_s"]
        layers["trace.spans"] = len(live.spans)
        layers["session.persisted_rdds_after"] = spark.sparkContext._jsc.getPersistentRDDs().size()
        layers["session.temp_views_after"] = sum(t.isTemporary for t in spark.catalog.listTables())

    jvm_mb = _rss_mb(jvm_pid)
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    metrics["peak_rss_mb"] = jvm_mb + py_mb
    layers.update({"proc.jvm_rss_peak_mb": jvm_mb, "proc.py_rss_peak_mb": py_mb})

    record = {
        "workload": workload,
        "seed": seed,
        "order": list(getattr(wl, "order", [])),
        "host": {
            "nproc": cores,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "platform": platform.platform(),
        },
        "session_start_s": session_start_s,
        "setup_samples_s": setups,
        "warmup_pass_s": warmup_s,
        "pass_walls_s": walls,
        "pass_ops_s": [[(op.name, op.seconds) for op in ops] for _, ops in untraced],
        "traced_pass_walls_s": [w for w, _ in traced],
        "query_latencies_s": latencies,
        "attempted": attempted,
        "failed": failed,
    }
    if trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        record["spans_file"] = os.path.join(WORK, "traces", f"{workload}-seed{seed}.json")
        live.dump(record["spans_file"])
    return record, {"metrics": metrics, "layers": layers}


def _stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait until it has ended
    (its Python workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "makerdao_dw_spark", "__init__.py")):
        print(f"no engine sources under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    dirs = _isolate(run_dir)
    try:
        try:
            record, out = bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
        finally:
            _stop_jvm()
        # residue: what the workload left in its TMPDIR and Spark local dirs
        record["tmp_entries_after"] = sorted(os.listdir(dirs["tmp"]))
        record["local_entries_after"] = sorted(os.listdir(dirs["local"]))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        out["layers"]["session.tmp_entries_after"] = len(record["tmp_entries_after"])
    chosen = out["layers"] if args.trace else out["metrics"]
    print(json.dumps(record))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in chosen.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")) or "_s." in name:
        return "s"
    if name.endswith(("core_util", "decode_yield")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
