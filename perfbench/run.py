#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation, result as the last
line of stdout.

    python3 perfbench/run.py --workload daily_upsert --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds a ``local[nproc]`` session with the
package's own ``session.get_spark``, sets the workload up (including a
fixed number of untimed warm-up ops), then runs ops back to back in
one closed loop until ``--seconds`` have passed and at least ``MIN_OPS``
ops have run. Every op's output is checked outside the timer. Times
are net of the CPU time the hypervisor took from the machine (steal),
and a timed phase that lost much of it is reported as contended.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced ops, and prints the per-layer metrics (medians over
the traced ops) plus the tracing overhead. A line of per-op detail is
printed before the result line. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

from tracer import Tracer
from workloads import (CURATION_QUERIES, PACKAGE, WORKLOADS, cpu_ticks, py_loop_s,
                       steal_share)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Every run times at least this many untraced ops, whatever --seconds says:
# with three, the median is a measured op and the two halves (first two,
# last two) differ. A traced run also times at least MIN_OPS - 1 traced ops.
MIN_OPS = 3
# A timed phase in which the hypervisor took more than this share of the CPU
# time the benchmark wanted is reported as contended.
CONTENDED_STEAL = 0.05
# A run must end within 180 s. On a very busy host the timed phase stops
# once the run is this old, even short of MIN_OPS (detail.op_s shows it).
DEADLINE_S = 140

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_min": "1/min",
    "write_bytes_per_op": "bytes",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints. A layer the workload
    never enters reads 0."""
    units = {
        "trace.overhead_ratio": "ratio",
        "host.py_loop_before_s": "s",
        "host.py_loop_after_s": "s",
        "host.cpu_steal_share": "ratio",
        "drift.first_half_p50_s": "s",
        "drift.second_half_p50_s": "s",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.shuffle_bytes_per_op": "bytes",
        # daily_upsert
        "pipeline.run_s": "s",
        "pipeline.run.self_s": "s",
        "io.table.read_s": "s",
        "incremental.watermark.read_s": "s",
        "incremental.ledger.start_run_s": "s",
        "pipeline.ingest_window_s": "s",
        "io.writers.write_s": "s",
        "pipeline.load_batch_s": "s",
        "transform.crime_s": "s",
        "operators.merge.build_s": "s",
        "io.metrics.observe_s": "s",
        "io.table.commit_s": "s",
        "io.table.vacuum_s": "s",
        "incremental.ledger.finish_run_s": "s",
        "spark.ledger.jobs": "count",
        "spark.watermark.jobs": "count",
        "spark.ingest_window.jobs": "count",
        "spark.load_batch.jobs": "count",
        "spark.commit.jobs": "count",
        "io.table.snapshot_bytes": "bytes",
        "io.table.log_bytes": "bytes",
        "io.writers.landing_bytes": "bytes",
        "incremental.ledger.bytes": "bytes",
        "operators.merge.new_row_ratio": "ratio",
        # corpus_curation
        "localrel.local_df_s": "s",
        "localrel.calls_per_op": "count",
    }
    for q in CURATION_QUERIES:
        units.update({
            f"queries.{q}.build_s": "s",
            f"queries.{q}.action_s": "s",
            f"spark.{q}.jobs_build": "count",
            f"spark.{q}.jobs_action": "count",
            f"spark.{q}.tasks": "count",
            f"spark.{q}.shuffle_bytes": "bytes",
        })
    return units


def halves(xs: list[float]) -> tuple[float, float]:
    """Medians of the first and the second half of ``xs`` (in order); with
    an odd count the middle value belongs to both halves."""
    k = (len(xs) + 1) // 2
    return statistics.median(xs[:k]), statistics.median(xs[-k:])


def start_session(work: str):
    """The package's session builder at local[nproc], with every path
    Spark writes to kept inside the work directory."""
    from open_crime_etl_pipeline_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    t0, ticks0 = time.perf_counter(), cpu_ticks()
    spark = start_session(work)
    try:
        t_session = time.perf_counter() - t0
        wl = WORKLOADS[workload](spark, work, seed, Tracer(spark))
        wl.setup()
        t_prepare = time.perf_counter() - t0 - t_session
        warm = [wl.run_op(traced=False) for _ in range(wl.warmup_ops)]
        setup_wall, setup_steal = time.perf_counter() - t0, steal_share(ticks0, cpu_ticks())
        loop_before = py_loop_s()
        ops = []
        n_plain = n_traced = 0
        ticks1 = cpu_ticks()
        t_start = time.perf_counter()
        while ((time.perf_counter() - t_start < seconds or n_plain < MIN_OPS
                or (trace and n_traced < MIN_OPS - 1))
               and not (len(ops) > trace and time.perf_counter() - t0 > DEADLINE_S)):
            traced = trace and len(ops) % 2 == 1
            ops.append(wl.run_op(traced=traced))
            n_traced += traced
            n_plain += not traced
        steal = steal_share(ticks1, cpu_ticks())
        loop_after = py_loop_s()
    finally:
        stop_session(spark)

    if steal > CONTENDED_STEAL:
        print(f"perfbench: contended host: the hypervisor took {steal:.1%} of the CPU "
              "time the benchmark wanted during the timed phase", file=sys.stderr)

    # Times are net of steal: when the hypervisor takes a share f of the CPU
    # time the busy CPUs want, an op's wall time stretches by 1 / (1 - f).
    setup_s = setup_wall * (1 - setup_steal)
    lat = [t * (1 - n["host.cpu_steal_share"]) for t, _, n in ops]
    is_traced = [trace and i % 2 == 1 for i in range(len(ops))]
    plain = [t for t, tr in zip(lat, is_traced) if not tr]
    first, second = halves(plain)
    correct = all(ok for _, ok, _ in warm + ops) and not wl.errors
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "setup_wall_s": round(setup_wall, 4), "setup_cpu_steal_share": round(setup_steal, 4),
        "session_s": round(t_session, 4), "prepare_s": round(t_prepare, 4),
        "warmup_s": [round(t, 4) for t, _, _ in warm],
        "op_wall_s": [round(t, 4) for t, _, _ in ops],
        "op_s": [round(t, 4) for t in lat],
        "op_cpu_steal_share": [round(n["host.cpu_steal_share"], 4) for _, _, n in warm + ops],
        "timed_cpu_steal_share": round(steal, 4), "contended": steal > CONTENDED_STEAL,
        "py_loop_before_s": round(loop_before, 4), "py_loop_after_s": round(loop_after, 4),
        "first_half_p50_s": first, "second_half_p50_s": second,
        "errors": wl.errors[:10],
    }
    if not trace:
        # a failed op counts as missing: infinitely late, and not completed
        p50 = statistics.median([t if ok else math.inf for t, (_, ok, _) in zip(lat, ops)])
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": p50 if math.isfinite(p50) else sum(lat),
            "ops_per_min": 60.0 * sum(ok for _, ok, _ in ops) / sum(lat),
            "write_bytes_per_op": statistics.median(n["write_bytes_per_op"] for _, _, n in ops),
        }
        units = END_TO_END
    else:
        traced = [n for (_, _, n), tr in zip(ops, is_traced) if tr]
        units = per_layer_units()
        metrics = {k: statistics.median(n.get(k, 0) for n in traced) for k in units}
        metrics.update({
            "trace.overhead_ratio": (statistics.median(t for t, tr in zip(lat, is_traced) if tr)
                                     / statistics.median(plain)),
            "host.py_loop_before_s": loop_before,
            "host.py_loop_after_s": loop_after,
            "drift.first_half_p50_s": first,
            "drift.second_half_p50_s": second,
        })
    print(json.dumps({"detail": detail}))
    return {
        "correct": correct,
        "attempted": len(ops),
        "failed": sum(not ok for _, ok, _ in ops),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the package when they unpickle UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM Spark starts: temp files in the work dir, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
