#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads daily_upsert,corpus_curation --seeds 1-10 --out set_a.jsonl
    python3 perfbench/spread.py --compare set_a.jsonl set_b.jsonl

For every workload and metric: the median over the runs, the quartiles,
and the spread (third minus first quartile, as a share of the median)
that the end-to-end bounds in ``BENCHMARK.json`` are checked against.
Runs are sequential and alternate between the workloads seed by seed,
so a change in host speed reaches every workload alike; each run's
result line is appended to ``--out``. ``--compare`` reads two such files
and prints, per workload and metric, how far the second set's median
moved from the first's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, from a file ``--out`` wrote."""
    out: dict[str, dict[str, list[float]]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            per = out.setdefault(rec["detail"]["workload"], {})
            for k, m in rec["result"]["metrics"].items():
                per.setdefault(k, []).append(m["value"])
    return out


def report(values: dict[str, list[float]]) -> None:
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) >= 2 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else 0.0
        print(f"  {k:24s} median={med:<12.6g} q1={q1:<12.6g} q3={q3:<12.6g} spread={spread:.4f}")


def compare(a_path: str, b_path: str) -> None:
    bounds = {m["name"]: m for m in bench()["end_to_end"]}
    a, b = load(a_path), load(b_path)
    for wl in a:
        print(wl)
        for k, vs in a[wl].items():
            ma, mb = statistics.median(vs), statistics.median(b[wl][k])
            worse = (mb - ma) / ma if bounds[k]["better"] == "lower" else (ma - mb) / ma
            print(f"  {k:24s} first={ma:<12.6g} second={mb:<12.6g} worse_by={worse:+.4f} "
                  f"bound={bounds[k]['bound']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench()["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=str(bench()["run_seconds"]))
    ap.add_argument("--out", default=None, help="append each run's result line here")
    ap.add_argument("--compare", nargs=2, metavar="JSONL", help="compare two --out files")
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
        return 0

    workloads = args.workloads.split(",")
    values: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    walls: dict[str, list[float]] = {w: [] for w in workloads}
    contended = {w: 0 for w in workloads}
    for seed in seeds(args.seeds):
        for wl in workloads:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
                capture_output=True, text=True, check=True,
            )
            walls[wl].append(time.perf_counter() - t0)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            detail = json.loads(lines[-2])["detail"]
            print(f"{wl} seed {seed}: correct={result['correct']} attempted={result['attempted']} "
                  f"failed={result['failed']} wall={walls[wl][-1]:.1f}s ops={detail['op_s']} "
                  f"wall_ops={detail['op_wall_s']} "
                  f"steal={detail['timed_cpu_steal_share']}", flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"seed": seed, "detail": detail, "result": result}) + "\n")
            contended[wl] += detail["contended"]
            for k, m in result["metrics"].items():
                values[wl].setdefault(k, []).append(m["value"])
    for wl in workloads:
        print(f"{wl}: wall per run median={statistics.median(walls[wl]):.1f}s "
              f"max={max(walls[wl]):.1f}s, contended runs {contended[wl]}/{len(walls[wl])}")
        report(values[wl])
    return 0


if __name__ == "__main__":
    sys.exit(main())
