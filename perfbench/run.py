#!/usr/bin/env python3
"""glcmstream benchmark: one workload per run, at local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke     # every workload at tiny scale

Run from the root of a checkout; the engine is imported from ./src. The
last line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
Spark UI is on and the metrics are the per-layer ones, and the run's
spans are written to perfbench/.work/spans/. A full report (effective
confs, probe readings, check details) goes to standard error and to
perfbench/.work/reports/. The exit code is 1 if any output mismatched or
any epoch failed, 2 on a usage or set-up error.
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
SRC = os.path.join(ROOT, "src")
WORK = os.path.join(HERE, ".work")

# the benchmark's own modules, importable by name in this process and in
# the spawned probe workers
sys.path.insert(0, HERE)

import host  # noqa: E402
from tracing import SparkRest, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s_norm": "docs/s",
    "result_latency_p50_s_norm": "s",
    "result_latency_p90_s_norm": "s",
}

LAYER_UNITS = {
    "host.peak_rss_mb": "MB",
    "host.probe_docs_s": "docs/s",
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.stream_warm_s": "s",
    "kernel.docs_per_core_s": "docs/s",
    "kernel.pool_docs_s": "docs/s",
    "kernel.pool_docs_s_post": "docs/s",
    "fused.plan_s": "s",
    "fused.stage_s": "s",
    "fused.tasks": "count",
    "fused.task_skew": "ratio",
    "fused.ceiling_frac": "ratio",
    "stream.epochs": "count",
    "stream.input_rows": "count",
    "stream.rows_dropped_by_watermark": "count",
    "stream.wal_commit_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.epoch_fixed_ms_p50": "ms",
    "stream.source_stage_s": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.stage_s": "s",
    "state.shuffle_write_bytes": "bytes",
    "state.python_tasks": "count",
    "state.partition_skew": "ratio",
    "state.finalize_s": "s",
    "sink.write_job_s": "s",
    "sink.lineage_job_s": "s",
    "sink.driver_s": "s",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "workload.wall_s": "s",
    "unattributed_s": "s",
}

# kernel probe work per process, in docs (about 0.4 s of one core)
PROBE_DOCS = 1500


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="run every workload at tiny scale in one session")
    a = p.parse_args(argv)
    if a.smoke:
        a.seconds = 2
    if not a.smoke and a.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    return a


def set_up(wl, n: int) -> tuple:
    """get_spark, which launches the JVM, then the first warm query.
    Returns the session and the two times."""
    from glcmstream.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{n}]")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    wl.warm_query(spark)
    return spark, (t1 - t0, time.perf_counter() - t1)


def end_to_end(raw: dict, setup_s: float, probe_docs_s: float) -> dict:
    """The end-to-end figures rescaled to a host whose probe reads
    host.HOST_REF_DOCS_S: rates divided by the host's relative speed,
    times multiplied by it, so that a shared host's drift does not read
    as a change of the engine."""
    speed = probe_docs_s / host.HOST_REF_DOCS_S
    return {"setup_s": setup_s * speed,
            "docs_per_s_norm": raw["docs_per_s"] / speed,
            "result_latency_p50_s_norm": raw["result_latency_p50_s"] * speed,
            "result_latency_p90_s_norm": raw["result_latency_p90_s"] * speed}


def run_workload(wl, spark, trace: bool, setup: tuple, pool,
                 spans_path: str):
    """Warm up, measure and check, with the host probe taken before the
    warm-up, right before and after the measured part and after the
    check: the host's speed swings within a run, and the median of four
    readings spread over it (the mean of the middle two, so one reading
    disturbed by a neighbour does not count) estimates it better than
    two. In a traced run also probe the kernel and derive the per-layer
    figures from the spans."""
    probes = [pool.host_docs_per_s()]
    kernel_pre = pool.kernel_docs_per_s() if trace else None
    t = time.perf_counter()
    wl.stream_warm_up(spark)
    stream_warm_s = time.perf_counter() - t
    probes.append(pool.host_docs_per_s())
    t_m0, cpu0 = time.time(), host.cpu_times()
    if trace:
        with host.MemSampler(host.jvm_pid()) as mem:
            out = wl.measure(spark)
    else:
        out = wl.measure(spark)
    t_m1, cpu1 = time.time(), host.cpu_times()
    probes.append(pool.host_docs_per_s())
    kernel_post = pool.kernel_docs_per_s() if trace else None
    out.report["reference_s"] = wl.check(spark, pool, out)
    probes.append(pool.host_docs_per_s())
    probe = statistics.median(probes)
    out.e2e = end_to_end(out.report["raw"], setup[0] + setup[1], probe)
    out.layers.update({
        "host.probe_docs_s": probe,
        "session.start_s": setup[0],
        "session.warm_s": setup[1],
        "session.stream_warm_s": stream_warm_s,
    })
    out.report.update({"host_probe_docs_s": probes,
                       "setup": setup,
                       "stream_warm_s": stream_warm_s,
                       "measure_s": t_m1 - t_m0,
                       "measure_cpu": host.cpu_shares(cpu0, cpu1)})
    if trace:
        out.layers.update({
            "kernel.pool_docs_s": kernel_pre,
            "kernel.pool_docs_s_post": kernel_post,
            "host.peak_rss_mb": mem.peak / 2**20,
        })
        out.report.update({"kernel_probe_docs_s": [kernel_pre, kernel_post],
                           "peak_jvm_mb": mem.peak_root / 2**20})
        out.layers.update(traced_layers(wl, out, SparkRest(spark),
                                        (t_m0, t_m1), spans_path))
        out.layers["kernel.docs_per_core_s"] = host.single_core_docs_per_s(
            host.splits(wl.probe_dir(), PROBE_DOCS))
    return out


def traced_layers(wl, out, rest, window, spans_path: str) -> dict:
    tracer = Tracer(rest)
    root = tracer.span("workload", *window, workload=wl.name)
    wall = wl.trace(tracer, root, rest.snapshot())
    tracer.write(spans_path)
    s = tracer.self_s
    attributed = sum(s.values())
    out.report["self_s"] = s
    out.report["attributed_frac"] = attributed / wall if wall else 0.0
    return {
        "fused.stage_s": s.get("fused", 0.0),
        "fused.tasks": tracer.counts["fused.tasks"],
        "fused.task_skew": tracer.task_skew(),
        "fused.ceiling_frac": (
            out.report["raw"]["docs_per_s"]
            / out.layers["kernel.pool_docs_s"]
            if tracer.counts["fused.tasks"] else 0.0),
        "stream.source_stage_s": s.get("stream.source_stage", 0.0),
        "state.stage_s": s.get("state", 0.0),
        "state.shuffle_write_bytes": tracer.counts["state.exchange_bytes"],
        "state.python_tasks": (tracer.counts["state.tasks"]
                               if out.python_state else 0),
        "state.partition_skew": tracer.partition_skew(),
        "sink.write_job_s": tracer.job_s["write"],
        "sink.lineage_job_s": tracer.job_s["lineage"],
        "sink.driver_s": s.get("sink.driver", 0.0),
        "unattributed_s": wall - attributed,
    }


def result_line(out, trace: bool) -> dict:
    units = LAYER_UNITS if trace else E2E_UNITS
    src = out.layers if trace else out.e2e
    metrics = {k: {"value": float(src[k]), "unit": u}
               for k, u in units.items() if k in src}
    missing = sorted(set(units) - set(metrics))
    correct = out.failed == 0 and not missing
    return {"correct": correct, "attempted": int(out.attempted),
            "failed": int(out.failed), "metrics": metrics,
            **({"missing_metrics": missing} if missing else {})}


def write_report(report: dict, name: str) -> None:
    print(json.dumps(report, default=str), file=sys.stderr)
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", name), "w") as f:
        json.dump(report, f, default=str)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(SRC, "glcmstream", "session.py")):
        print(f"perfbench: no engine sources at {SRC}", file=sys.stderr)
        return 2
    sys.path.insert(0, SRC)
    host.adopt_orphans()
    names = sorted(WORKLOADS) if args.smoke else [args.workload]
    trace = bool(args.trace) or args.smoke
    run_id = f"{'smoke' if args.smoke else args.workload}-s{args.seed}" \
             f"-t{int(trace)}-{os.getpid()}"
    work = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = host.configure_env(work, SRC, trace)
    n = host.nproc()
    # keep real stdout for the result line; everything else (Spark's
    # progress bars, worker warnings) goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    lines, spark, pool, wls, code = [], None, None, [], 2
    try:
        wls = [WORKLOADS[nm](work, os.path.join(WORK, "fixtures"),
                             args.seed, args.seconds,
                             "smoke" if args.smoke else "full")
               for nm in names]
        for wl in wls:
            wl.prepare()
        pool = host.ProbePool(host.splits(wls[0].probe_dir(),
                                          PROBE_DOCS * n), n)
        spark, setup = set_up(wls[0], n)
        confs = host.effective_confs(spark)
        for i, wl in enumerate(wls):
            if i:
                wl.warm_query(spark)
            out = run_workload(
                wl, spark, trace, setup, pool,
                os.path.join(WORK, "spans", f"{run_id}-{wl.name}.json"))
            out.report.update({"workload": wl.name, "seed": args.seed,
                               "nproc": n, "env": env, "confs": confs})
            write_report(out.report, f"{run_id}-{wl.name}.json")
            if args.smoke:
                lines.append({"workload": wl.name,
                              **result_line(out, False)})
                lines.append({"workload": wl.name,
                              **result_line(out, True)})
            else:
                lines.append(result_line(out, trace))
        code = 0 if all(x["correct"] for x in lines) else 1
    except Exception:
        traceback.print_exc()
        lines, code = [], 2
    finally:
        for wl in wls:
            try:
                wl.close()
            except Exception:
                traceback.print_exc()
        try:
            if pool is not None:
                pool.close()
            if spark is not None:
                host.stop_spark(spark)
        except Exception:
            traceback.print_exc()
        # what is left (the JVM if stop_spark failed, the resource
        # tracker, adopted Python workers) is stopped and waited for here
        pool = None
        shutil.rmtree(work, ignore_errors=True)
        host.end_children()
    for line in lines:
        os.write(result_fd, (json.dumps(line) + "\n").encode())
    return code


if __name__ == "__main__":
    sys.exit(main())
