#!/usr/bin/env python3
"""page_evaluator_spark benchmark: one workload, one run.

    python3 perfbench/run.py --workload ocr_small_docs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  Each run generates its
seeded input (outside timing), starts one Spark session at local[nproc] with
the program's own defaults, warms up with untimed passes, measures passes for
``--seconds`` and at least the workload's minimum pass count, checks the
outputs against the transliterated Java reference, and prints one JSON object
as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: the set-up wall time, the
median CPU seconds of a pass and pages per CPU second, and the Python
workers' peak memory; the pass walls are in the detail line printed before
the result.  ``--trace 1`` runs the session with Spark's event log on and,
beside each untagged pass, a traced twin with harness spans around each layer
call plus cumulative plan prefixes; it reports the per-layer metrics and
writes the full per-layer report (spans, layer self-times and their sum
against the pass wall, the unattributed rest, costliest layer, tracing
overhead) under ``.perfbench_work/trace/``.
Every result also lands in ``.perfbench_work/results/`` with the host and
corpus fingerprints.  All files the run writes stay under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKDIR = os.path.join(REPO, ".perfbench_work")

E2E_UNITS = {"setup_s": "s", "cpu_s": "s", "pages_per_cpu_s": "1/s",
             "py_worker_peak_rss_mb": "MiB"}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _prepare_env(workdir: str, nproc: int) -> None:
    """Confine every file the run writes to the work directory and measure
    the program's defaults: no inherited worker-bootstrap, master or submit
    overrides."""
    for var in ("PAGEEVAL_FAST_WORKERS", "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    shutil.rmtree(tmp, ignore_errors=True)  # per-run temporary files (shipped zips, JVM temp)
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # JVM temp files and the hsperfdata file would otherwise go to the system
    # temp dir.  The JIT compiler threads are kept for the JVM's lifetime
    # instead of being started and stopped as the compile queue grows and
    # drains: a thread that ends takes its CPU counter with it, so its compile
    # time could not be told apart from the pass's own CPU (host.CpuClock).
    # The code compiled, and so the work of a warm pass, is the same.
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                       "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.chdir(workdir)  # Spark's warehouse/derby defaults are cwd-relative


def _event_log_args(evdir: str) -> str:
    """Submit arguments that turn the event log on for the traced session;
    get_spark sets no event-log keys itself."""
    return (f"--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.dir=file://{evdir} pyspark-shell")


def _shutdown(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait until every one of them has exited."""
    from pyspark import SparkContext

    from benchlib.host import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool,
        per_layer_units: dict[str, str]) -> dict | None:
    """One run; None when no pass completed (nothing to report)."""
    from benchlib import eventlog, host, stats, workloads
    from benchlib.tracing import Tracer

    nproc = host.nproc()
    wl = workloads.make(workload, nproc)
    corpus = wl.inputs(REPO, WORKDIR, seed)
    evdir = os.path.join(WORKDIR, "eventlog", f"{workload}-seed{seed}")
    if trace:
        shutil.rmtree(evdir, ignore_errors=True)
        os.makedirs(evdir)
        os.environ["PYSPARK_SUBMIT_ARGS"] = _event_log_args(evdir)

    from page_evaluator_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]")
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    fingerprint = host.fingerprint(REPO, spark, os.environ.get("PYSPARK_PYTHON"))
    phases = {"setup": setup_s}
    if trace:
        tracer = Tracer(spark.sparkContext)
        outcome = wl.traced(spark, corpus, seconds, WORKDIR, seed, phases, tracer)
        with tracer.span("rows_out"):
            rows = workloads.rows_out(spark, corpus, getattr(wl, "repartition", None))
    else:
        outcome = wl.untraced(spark, corpus, seconds, WORKDIR, seed, phases)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_mb, py_mb = host.peak_rss_mb(jvm_pid)
    t0 = time.perf_counter()
    _shutdown(spark)
    phases["shutdown"] = time.perf_counter() - t0

    if not outcome.passes:
        print("perfbench: no pass completed:\n  " + "\n  ".join(outcome.errors),
              file=sys.stderr)
        return None
    walls = [p.wall_s for p in outcome.passes]
    cpus = [p.cpu_s for p in outcome.passes]
    wall, cpu = statistics.median(walls), statistics.median(cpus)
    e2e = {"setup_s": setup_s, "cpu_s": cpu, "pages_per_cpu_s": corpus.pages / cpu,
           "py_worker_peak_rss_mb": py_mb}
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "host": fingerprint, "corpus": corpus.fingerprint,
        "samples": {"setup_s": stats.summarize([setup_s]), "cpu_s": stats.summarize(cpus),
                    "wall_s": stats.summarize(walls)},
        "wall_s": wall, "pages_per_s": corpus.pages / wall,
        "passes": [{"wall_s": p.wall_s, "cpu_s": p.cpu_s, "steal_s": p.steal_s,
                    "loadavg_before": p.load_before, "loadavg_after": p.load_after,
                    "overloaded": max(p.load_before, p.load_after) > nproc, **p.extra}
                   for p in outcome.passes],
        "attempted": outcome.attempted, "failed": outcome.failed,
        "failed_frac": outcome.failed / max(outcome.attempted, 1),
        "errors": outcome.errors[:50],
        "end_to_end": e2e, "jvm_peak_rss_mb": jvm_mb, "phase_s": phases,
    }

    if trace:
        traced = wl.trace_report(tracer, eventlog.load(evdir), corpus, len(outcome.passes))
        layers = traced["layers"]
        layer_sum = sum(layers.values())
        t_wall = traced["traced_wall_s"]
        per_layer = {
            "session.get_spark_s": setup_s,
            "session.jvm_peak_rss_mb": jvm_mb,
            "sources.input_bytes": float(corpus.fingerprint["bytes"]),
            **traced["metrics"], **rows,
            "pass.wall_s": wall,
            "trace.wall_s": t_wall,
            "trace.overhead_s": t_wall - wall,
        }
        if set(per_layer) != set(per_layer_units):
            raise RuntimeError(
                f"per-layer metrics differ from BENCHMARK.json: reported but not declared "
                f"{sorted(set(per_layer) - set(per_layer_units))}, declared but not "
                f"reported {sorted(set(per_layer_units) - set(per_layer))}")
        # the layer self-times are measured apart from the pass walls; what the
        # traced pass spends outside them is reported, not folded into a layer
        coverage = {
            "untraced_wall_s": wall, "traced_wall_s": t_wall,
            "tracing_overhead_s": t_wall - wall,
            "layer_self_s": layers, "layer_sum_s": layer_sum,
            "layer_sum_over_wall": layer_sum / wall,
            "layer_sum_within_10pct": abs(layer_sum / wall - 1.0) <= 0.10,
            "unattributed_s": t_wall - layer_sum,
            "costliest_layer": max(layers, key=layers.get),
        }
        report = {"workload": workload, "seed": seed, **coverage, "metrics": per_layer,
                  "detail": traced["detail"], "spans": [vars(s) for s in tracer.spans]}
        tdir = os.path.join(WORKDIR, "trace")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{workload}-seed{seed}.json")
        with open(path, "w") as fh:
            json.dump(report, fh, indent=1)
        detail.update(coverage, trace_report=os.path.relpath(path, REPO))
        metrics = {k: {"value": v, "unit": per_layer_units[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    rdir = os.path.join(WORKDIR, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print("perfbench-detail " + json.dumps(detail, default=str))
    return {"correct": outcome.failed == 0 and not outcome.errors,
            "attempted": outcome.attempted, "failed": outcome.failed, "metrics": metrics}


def _per_layer_spec() -> dict[str, str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    for need in ("page_evaluator_spark/session.py", "tests/oracle.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(REPO, need)):
            return _fail(f"{need} not found: run from a checkout of the repository")
    sys.path[:0] = [HERE, REPO]
    from benchlib import host, workloads

    if args.workload not in workloads.NAMES:
        return _fail(f"unknown workload {args.workload!r}; one of {workloads.NAMES}")
    os.makedirs(WORKDIR, exist_ok=True)
    _prepare_env(WORKDIR, host.nproc())
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 _per_layer_spec())
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
