"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the seeded inputs (cached under
``perfbench/_inputs``), starts the engine session with
``get_spark(extra_conf=...)`` on ``local[nproc]``, warms the workload up
untimed, runs timed rounds until ``--seconds`` have passed (at least
one), checks the outputs and prints, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Lines before it are
the human-readable report: every metric by name and unit, the run's
context and the check's findings.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same untimed and timed phases, then repeats the timed phase with
tracing on (spans around every layer call, Spark event log on) and
reports the per-layer metrics, the reconciliation of layer times with
wall time, and the tracing overhead (traced minus untraced end-to-end
numbers of the same session). Spans and the per-layer breakdown are
written to ``perfbench/_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
INPUTS = BENCH / "_inputs"
WORK = BENCH / "_work"
OUT = BENCH / "_out"

SETUPS = 3  # session set-ups per run; setup_s is their median
BATCHES = 4  # S: documents batch files (1 ingested untimed, S-1 streamed)
# |residual| of a traced round's wall time against the sum of its
# spans' own-job and driver time, as a share of the wall time
RECONCILE_TOL = 0.05
MB = 1024 * 1024


def rss_mb(pids: list[int], field: str = "VmHWM") -> float:
    """Sum of ``field`` (VmHWM: peak resident set) over ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    total += int(line.split()[1]) * 1024
    return total / MB


def reset_peak_rss(spark, pids: list[int]) -> None:
    """Start the peak-RSS window at the timed phase: a full GC lets the
    JVM shrink a heap the warm-up grew (by how much depends on GC
    timing, not on the workload), then VmHWM restarts from VmRSS."""
    spark._jvm.java.lang.System.gc()
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def session_conf(trace: bool) -> dict[str, str]:
    """Keep everything the engine writes inside the benchmark's work dir."""
    conf = {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": str(WORK / "eventlog"),
        }
    return conf


def start_session(trace: bool):
    """One set-up: a fresh engine session that has run its first job."""
    from dagster_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=session_conf(trace))
    spark.range(1).count()
    return spark


def measure(wl, tr, seconds: float) -> dict:
    """Closed loop: rounds back to back until ``seconds`` have passed."""
    rounds = []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < seconds:
        with tr.span(f"{wl.name}.round"):
            rounds.append(wl.round(tr))
    ops = [x for r in rounds for x in r.op_s]
    named = {k: statistics.median(r.named[k] for r in rounds) for k in rounds[0].named}
    return {
        "op_p50_s": statistics.median(ops),
        "round_s": statistics.median(r.wall_s for r in rounds),
        "ops": len(ops),
        "rounds": len(rounds),
        "named": named,
        "attempted": sum(r.attempted for r in rounds),
        "failed": sum(r.failed for r in rounds),
    }


def layer_metrics(tracer, jobs, rounds: int) -> tuple[dict[str, float], dict]:
    """Per-round layer metrics from the traced phase's spans and jobs."""
    from perfbench import trace as T

    costs = T.attribute(tracer.spans, jobs, tracer.aliases)
    by_layer: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        c = costs[s.id]
        row = by_layer[s.name]
        row["calls"] += 1
        row["self_s"] += c.self_s
        row["jobs_s"] += c.jobs_s
        row["driver_s"] += c.driver_s
        row["jobs"] += c.jobs
        row["stages"] += c.stages
        for k, v in c.totals.items():
            row[k] += v
    tot = defaultdict(float)
    for row in by_layer.values():
        for k, v in row.items():
            tot[k] += v

    def self_s(name: str) -> float:
        return by_layer[name]["self_s"] / rounds if name in by_layer else 0.0

    n = tracer.counts
    m = {
        "registry.build_s": self_s("registry.build"),
        "spark.plan_s": self_s("spark.plan"),
        "spark.exec_s": self_s("spark.exec"),
        "plans.pinned_released": n["plans.pinned_released"] / rounds,
        "orchestration.extract_s": self_s("orchestration.extract"),
        "orchestration.transfer_s": self_s("orchestration.transfer"),
        "orchestration.load_s": self_s("orchestration.load"),
        "sources.load_table_s": self_s("sources.load_table"),
        "sources.lake_write_s": self_s("sources.lake_write"),
        "sources.lake_files": n["sources.lake_files"] / rounds,
        "writers.upsert_s": self_s("writers.upsert"),
        "writers.write_amplification": (
            n["writers.target_bytes"] / n["writers.batch_bytes"] if n["writers.batch_bytes"] else 0.0
        ),
        "streaming.ingest_slice_s": self_s("streaming.ingest_slice"),
        "streaming.trigger_overhead_s": (n["streaming.trigger_s"] - n["streaming.batch_ingest_s"])
        / rounds,
        "streaming.committed_slice_files": n["streaming.committed_slice_files"] / rounds,
        "streaming.ingest_skipped": n["streaming.ingest_skipped"] / rounds,
        "streaming.compact_slices_s": self_s("streaming.compact_slices"),
        "operators.pairs_s": self_s("operators.pairs"),
        "spark.jobs": tot["jobs"] / rounds,
        "spark.stages": tot["stages"] / rounds,
        "spark.tasks": tot["tasks"] / rounds,
        "spark.driver_s": tot["driver_s"] / rounds,
        "spark.task_run_s": tot["task_run_ms"] / 1000 / rounds,
        "spark.task_cpu_s": tot["task_cpu_ns"] / 1e9 / rounds,
        "spark.gc_s": tot["gc_ms"] / 1000 / rounds,
        "spark.scan_time_s": tot["scan_time_ms"] / 1000 / rounds,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / rounds,
        "spark.shuffle_fetch_wait_s": tot["shuffle_fetch_wait_ms"] / 1000 / rounds,
        "spark.spill_bytes": tot["spill_bytes"] / rounds,
        "spark.python_bytes_sent": tot["python_bytes_sent"] / rounds,
        "spark.python_bytes_returned": tot["python_bytes_returned"] / rounds,
    }
    residuals = [
        T.reconcile(tracer.spans, costs, s.id)
        for s in tracer.spans
        if s.parent is None
    ]
    m["trace.reconcile_residual"] = max((abs(r) for r in residuals), default=0.0)
    # jobs launched inside the traced window that carry no span's group
    lo = min(s.start for s in tracer.spans)
    hi = max(s.end for s in tracer.spans)
    stray = [j for j in jobs if lo <= j.start <= hi and T.owner(j, tracer.aliases) is None]
    m["trace.unattributed_jobs"] = len(stray) / rounds
    detail = {
        "layers": {k: dict(v) for k, v in sorted(by_layer.items())},
        "reconcile_residuals": residuals,
    }
    return m, detail


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    try:
        from dagster_etl_spark.sources import fixtures
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import trace as T
    from perfbench.gen import generate
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(WORK / d, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")  # engine scratch dirs (tempfile)
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    ctx = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "load1_before": os.getloadavg()[0],
    }

    inputs = generate(fixtures.DEFAULT_SF_DIR, str(INPUTS), args.seed, BATCHES)
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(WORK / "warehouse", ignore_errors=True)
    work.mkdir(parents=True)

    trace = bool(args.trace)
    setups = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(trace)
        setups.append(time.perf_counter() - t0)

    wl = WORKLOADS[args.workload](spark, inputs, str(work))
    t0 = time.perf_counter()
    warm_error = None
    try:
        wl.warm_up()
    except Exception as exc:  # the check reports what the warm-up missed
        warm_error = f"warm-up failed: {exc!r:.300}"
    ctx["warmup_s"] = time.perf_counter() - t0

    pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
    reset_peak_rss(spark, pids)
    ctx["rss_at_start_mb"] = rss_mb(pids, "VmRSS")
    t0 = time.perf_counter()
    plain = measure(wl, T.NoTracer(), args.seconds)
    ctx["measure_s"] = time.perf_counter() - t0
    traced = None
    if trace:
        tracer = T.Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
        with T.patched(wl.trace_targets(), tracer):
            traced = measure(wl, tracer, args.seconds)
        # untraced again: the overhead is traced minus the mean of the
        # untraced phases before and after, which cancels the warming
        # of the JVM between consecutive phases to first order
        after = measure(wl, T.NoTracer(), args.seconds)
    t0 = time.perf_counter()
    # the timed phases' peak, read before the check's collects
    rss = rss_mb(pids)
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # G1 grows the heap in steps of about 1 GB at moments set by GC
    # timing; the committed heap is what peak_rss_mb mostly follows
    ctx["jvm_heap_committed_mb"] = mx.getHeapMemoryUsage().getCommitted() / MB
    ctx["peak_rss_python_mb"] = rss_mb(pids[:1])
    problems = wl.check()
    ctx["check_s"] = time.perf_counter() - t0
    if warm_error:
        problems.insert(0, warm_error)
    app_id = spark.sparkContext.applicationId
    t0 = time.perf_counter()
    stop_jvm(spark)
    ctx["stop_s"] = time.perf_counter() - t0
    ctx["load1_after"] = os.getloadavg()[0]

    phases = [plain] + ([traced, after] if trace else [])
    attempted = sum(p["attempted"] for p in phases)
    failed = sum(p["failed"] for p in phases) + len(problems)
    correct = not problems and failed == 0
    print(f"context: {json.dumps(ctx)}")
    print(
        f"{args.workload}: op_p50_s={plain['op_p50_s']:.4f} s (median of {plain['ops']} requests), "
        f"round_s={plain['round_s']:.3f} s (median of {plain['rounds']} rounds)"
    )
    for k, v in plain["named"].items():
        print(f"  {k} = {v:.4f} {'1/s' if k.endswith('_per_s') else 's'} (median over rounds)")
    print(
        f"setup_s={statistics.median(setups):.4f} s (median of {setups}), "
        f"peak_rss_mb={rss:.1f} MB, failed_ratio={failed / max(attempted, 1):.4f} "
        f"({failed}/{attempted})"
    )
    for p in problems:
        print(f"CHECK FAILED: {p}")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not trace:
        e2e = plain | {"setup_s": statistics.median(setups)}
        metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    else:
        jobs = T.fold_event_log(str(WORK / "eventlog" / app_id))
        layer, detail = layer_metrics(tracer, jobs, traced["rounds"])
        for k in ("op_p50_s", "round_s"):
            layer[f"trace.overhead_{k}"] = traced[k] - (plain[k] + after[k]) / 2
        OUT.mkdir(exist_ok=True)
        out = OUT / f"{args.workload}-seed{args.seed}-trace.json"
        out.write_text(
            json.dumps(
                {"context": ctx, "untraced": [plain, after], "traced": traced, "metrics": layer,
                 **detail, "spans": tracer.dump()},
                indent=1,
            )
        )
        worst = layer["trace.reconcile_residual"]
        print(
            f"reconcile: max |residual| {worst:.4f} of round wall time "
            f"(tolerance {RECONCILE_TOL}) -> {'ok' if worst <= RECONCILE_TOL else 'OUTSIDE'}"
        )
        for name, row in detail["layers"].items():
            print(
                f"  {name:28s} calls={row['calls']:.0f} self_s={row['self_s']:.3f} "
                f"jobs_s={row['jobs_s']:.3f} driver_s={row['driver_s']:.3f} jobs={row['jobs']:.0f}"
            )
        print(f"trace written to {out.relative_to(ROOT)}")
        if worst > RECONCILE_TOL:
            correct = False
            failed += 1
        metrics = {m["name"]: (layer[m["name"]], m["unit"]) for m in spec["per_layer"]}
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
