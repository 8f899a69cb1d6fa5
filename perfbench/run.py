"""CDC engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 12 --trace 0

Run from the repository root.  With --trace 0 the last stdout line holds
the end-to-end metrics; with --trace 1 it holds the per-layer metrics of
a separate traced run.  Spans, noise controls and host-phase gauges go to
.perfbench_out/.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "scylla_cdc_source_connector_spark"
#: free space the largest workload needs for its tables and outputs
MIN_FREE_BYTES = 4 << 30
#: ops a run makes at least, even past --seconds, so a median exists
MIN_OPS = 2
#: ... and a traced run at least two pairs of one untraced and one traced op
MIN_TRACED_OPS = 4
#: untimed warm-up ops.  Op time and CPU fell for the first five to
#: eight ops of a fresh JVM (wire_records: 3.0 s and 9 CPU-s down to
#: 2.1 s and 6 CPU-s) while it compiled the op's path; a run measured
#: inside that descent read slower the fewer ops it fitted.  live_tail
#: warms up on whole pairs of ticks.
WARM_UP_OPS = {"backlog_drain": 1, "live_tail": 6, "wire_records": 5}
ROLES = ("plan", "scan", "correlation", "encode", "write")
UNITS = {
    "plan.snapshots_resolved": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "output.bytes_per_row": "B",
    "trace.coverage": "ratio",
    "trace.overhead_pct": "%",
}


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def preflight(args) -> str:
    """Refuse to start without the engine sources or room for the run."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"engine package {PACKAGE}/ not found under {ROOT}", 2)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    st = os.statvfs(work)
    if st.f_bavail * st.f_frsize < MIN_FREE_BYTES:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"less than {MIN_FREE_BYTES >> 30} GiB free under {work}", 3)
    # Spark's Python workers import the engine too; every scratch file
    # (Python, JVM, Spark) stays inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher included: no hsperfdata files,
    # native-library extraction into the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    sys.path.insert(0, ROOT)
    return work


def set_up(WorkloadCls, spark, work: str, seed: int, warm_ups: int):
    """Build the workload's inputs, make its answer key and run the
    warm-up ops.  Returns (workload, build seconds, warm-up seconds)."""
    w = WorkloadCls(spark, f"{work}/setup", seed)
    t = time.perf_counter()
    w.build()
    build = time.perf_counter() - t
    w.reference()
    warm = 0.0
    for i in range(-warm_ups, 0):
        t = time.perf_counter()
        w.prepare(i)
        w.run(i)
        warm += time.perf_counter() - t
        if not w.check(i):
            raise RuntimeError(f"{w.name}: warm-up op failed its check")
        w.cleanup(i)
    # flush the set-up's files now, so the kernel does not write them
    # back in the middle of a measured op; each op's own output is
    # deleted after its check, long before writeback would start
    t = time.perf_counter()
    os.sync()
    print(f"perfbench: sync after set-up {time.perf_counter() - t:.2f} s")
    return w, build, warm


def guarded(fn) -> bool:
    """Run one op's steps; an exception fails the op, not the run."""
    try:
        return fn()
    except Exception:
        traceback.print_exc()
        return False


def keep_going(w, i: int, deadline: float, min_ops: int = MIN_OPS) -> bool:
    return (
        time.perf_counter() < deadline or i < min_ops or i % w.op_multiple
    ) and i < w.max_ops


def outcome(w, oks: list[bool], metrics: dict) -> dict:
    if oks and not guarded(w.check_final):
        oks[-1] = False
    failed = oks.count(False)
    return {
        "correct": failed == 0,
        "attempted": len(oks),
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": UNITS.get(k, "ms")} for k, v in metrics.items()
        },
    }


def med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(w, H, seconds: float) -> tuple[dict, dict]:
    """Closed loop, one client: op after op until `seconds` have passed.

    Rates are medians over groups of `op_multiple` consecutive ops (one
    op on wire_records, one pair of ticks on live_tail), so one slow op
    moves them no more than it moves the latency median."""
    lat, rows, cpu, oks = [], [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while keep_going(w, i, deadline):

        def op():
            w.prepare(i)
            cpu0 = H.tree_cpu_s()
            t = time.perf_counter()
            w.run(i)
            lat.append(time.perf_counter() - t)
            cpu.append(H.tree_cpu_s() - cpu0)
            rows.append(w.rows_per_op)
            return w.check(i)

        oks.append(guarded(op))
        w.cleanup(i)
        i += 1
    k = w.op_multiple
    groups = [slice(j, j + k) for j in range(0, len(lat) - k + 1, k)]
    result = outcome(
        w,
        oks,
        {
            "cpu_ms_per_krow": med(
                [sum(cpu[g]) * 1000 / (sum(rows[g]) / 1000) for g in groups]
            ),
        },
    )
    # wall-clock figures follow the host's phase more than the program
    # (README, "A/A spread"), so they are reported here and in the run's
    # record, not in the result line
    wall = {
        "rows_per_s": med([sum(rows[g]) / sum(lat[g]) for g in groups]),
        "op_latency_p50_ms": med(lat) * 1000,
    }
    print(
        f"perfbench: {w.name} ops={len(oks)} failed={result['failed']} "
        f"failed_op_ratio={result['failed'] / max(len(oks), 1):.3f} "
        f"rows_per_s={wall['rows_per_s']:.1f} "
        f"op_latency_p50_ms={wall['op_latency_p50_ms']:.1f} "
        f"latencies_ms={[round(x * 1000, 1) for x in lat]}"
    )
    return result, {"op_latency_s": lat, "op_rows": rows, "op_cpu_s": cpu, **wall}


def measure_traced(w, H, seconds: float, spark) -> tuple[dict, dict]:
    """Alternate an untraced op (counted by Spark job group, GC and output
    bytes) with a traced op whose layers are timed one call at a time."""
    from workloads import avro_kernel_ms_per_krow

    tr = H.Tracer()
    jobs = H.JobCounter(spark)
    untraced, traced, oks = [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while keep_going(w, i, deadline, MIN_TRACED_OPS) and i + 1 < w.max_ops:

        def plain():
            w.prepare(i)
            gc0 = H.gc_ms(spark)
            with jobs.group() as counts:
                t = time.perf_counter()
                w.run(i)
                dt = time.perf_counter() - t
            rec = {"op_ms": dt * 1000, "gc_ms": H.gc_ms(spark) - gc0,
                   "rows": w.rows_per_op, **counts}
            rec["bytes"] = sum(H.dir_bytes(p) for p in w.output_paths(i))
            untraced.append(rec)
            return w.check(i)

        def layered():
            w.prepare(i)
            rec = w.traced(i, tr)
            rec["kernel_ms_per_krow"] = avro_kernel_ms_per_krow(w.avro_sample(i))
            traced.append(rec)
            return w.check(i)

        # live_tail's ticks come in pairs of a and 400-a events: swap
        # which tick of the pair is traced, so neither kind of op always
        # gets the smaller one
        for step in (plain, layered) if i % 4 == 0 else (layered, plain):
            oks.append(guarded(step))
            w.cleanup(i)
            i += 1

    roles = {r: med([t["roles"][r] for t in traced]) for r in ROLES}
    op_u = med([u["op_ms"] for u in untraced])
    op_t = med([t["op_ms"] for t in traced])
    result = outcome(
        w,
        oks,
        {
            "plan.ms": roles["plan"],
            "scan.self_ms": roles["scan"],
            "correlation.self_ms": roles["correlation"],
            "encode.self_ms": roles["encode"],
            "write.self_ms": roles["write"],
            "plan.snapshots_resolved": med([t["snapshots_resolved"] for t in traced]),
            "avro.kernel_ms_per_krow": med([t["kernel_ms_per_krow"] for t in traced]),
            "spark.jobs_per_op": med([u["jobs"] for u in untraced]),
            "spark.stages_per_op": med([u["stages"] for u in untraced]),
            "spark.tasks_per_op": med([u["tasks"] for u in untraced]),
            "jvm.gc_ms_per_op": med([u["gc_ms"] for u in untraced]),
            "output.bytes_per_row": med(
                [u["bytes"] / max(u["rows"], 1) for u in untraced]
            ),
            "trace.coverage": med(
                [sum(t["roles"].values()) / t["op_ms"] for t in traced if t["op_ms"]]
            ),
            "trace.overhead_pct": (op_t - op_u) / op_u * 100 if op_u else 0.0,
        },
    )
    detail = {
        "sink_phase_ms": {
            k: med([t["sink_phases"][k] for t in traced])
            for k in ("envelope_write", "pending_write", "heartbeat")
        },
        "sink_pending_rows": med([t["pending_rows"] for t in traced]),
        "untraced_op_ms": op_u,
        "traced_op_ms": op_t,
    }
    print(f"perfbench: {w.name} traced ops={len(traced)} untraced={len(untraced)} "
          f"failed={result['failed']} "
          f"roles_ms={ {k: round(v, 1) for k, v in roles.items()} } detail={detail}")
    return result, {"spans": tr.spans, "untraced": untraced, "traced": traced,
                    "detail": detail}


def main() -> None:
    args = parse_args()
    work = preflight(args)
    import harness as H
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", 2)
    cores = H.n_cpus()
    gauge_before = H.host_gauge()
    t = time.perf_counter()
    spark = H.start_spark(work, cores)
    spark.range(1).count()
    spark_start_s = time.perf_counter() - t
    jvm = H.jvm_pid(spark)
    try:
        w, build, warm = set_up(
            WORKLOADS[args.workload], spark, work, args.seed,
            WARM_UP_OPS[args.workload],
        )
        stat0 = H.cpu_times()
        if args.trace:
            result, record = measure_traced(w, H, args.seconds, spark)
        else:
            result, record = measure(w, H, args.seconds)
            result["metrics"]["setup_s"] = {"value": build + warm, "unit": "s"}
        window = H.cpu_shares(stat0, H.cpu_times())
        peak_rss_mb = H.tree_peak_rss_mb(jvm)
    finally:
        H.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    gauge_after = H.host_gauge()
    record.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        noise_controls={
            "master": f"local[{cores}]",
            "shuffle_partitions": cores,
            "driver_memory": H.DRIVER_MEMORY,
            "work_dir": os.path.relpath(work, ROOT),
            "warm_up_ops_in_setup": WARM_UP_OPS[args.workload],
            "fixture_cache": "none",
            "sync_after_setup": True,
        },
        spark_start_s=spark_start_s,
        peak_rss_mb=peak_rss_mb,
        setup_build_s=build,
        setup_warm_up_s=warm,
        host_gauge={"before": gauge_before, "after": gauge_after,
                    "measured_window": window},
        result=result,
    )
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"perfbench: host gauge before {gauge_before} after {gauge_after}, "
          f"measured window {window}")
    print(f"perfbench: spark start {spark_start_s:.2f} s, build "
          f"{build:.2f} s, warm-up ops {warm:.2f} s, "
          f"peak RSS {peak_rss_mb:.0f} MB; record in {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
