"""The benchmark's workloads. Each op is a unit a user waits for.

``daily_upsert``     one scheduled ``CrimePipeline.run`` for the next
                     calendar day against a lake backfilled at setup.
``corpus_curation``  one pass over six ``[EXT]`` curation queries on a
                     generated corpus, each timed as ``fn().count()``.

A workload object is built on a live session, then ``setup()`` runs
once and ``run_op()`` once per warm-up or timed op. Every check runs
outside the timer and records a failure in ``self.errors`` instead of
raising, so a wrong answer costs the op, not the run.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import random
import sys
import time
import traceback

import pyarrow.parquet as pq

import datagen
from tracer import Tracer

PACKAGE = "open_crime_etl_pipeline_spark"


class Workload:
    warmup_ops = 0

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.errors: list[str] = []
        self.n_ops = 0

    def fail(self, msg: str) -> bool:
        self.errors.append(f"op {self.n_ops}: {msg}")
        return False

    def run_op(self, traced: bool) -> tuple[float, bool, dict]:
        """Run one op inside an op-level span and return (latency, ok,
        per-op numbers). Wrappers are installed only for traced ops."""
        self.n_ops += 1
        self.tracer.op = self.n_ops
        ticks0 = cpu_ticks()
        if traced:
            self.tracer.install()
        try:
            with self.tracer.span("op") as idx:
                self.timed_op(traced)
            ok = True
        except Exception as e:  # the op failed: record it, keep the run going
            traceback.print_exc()
            ok = self.fail(f"raised {type(e).__name__}: {e}")
        finally:
            if traced:
                self.tracer.uninstall()
        ticks1 = cpu_ticks()
        numbers = self.op_numbers(idx, traced)
        numbers["host.cpu_steal_share"] = steal_share(ticks0, ticks1)
        ok = ok and self.verify()
        return self.tracer.spans[idx].duration, ok, numbers

    def op_numbers(self, idx: int, traced: bool) -> dict:
        counters = self.tracer.counters(idx)
        total = {k: sum(c[k] for c in counters.values())
                 for k in ("jobs", "stages", "tasks", "shuffle_bytes")}
        out = {f"spark.{k}_per_op": v for k, v in total.items()}
        if traced:
            out.update(self.layer_numbers(idx, counters))
        return out


# ---------------------------------------------------------------------------
# daily_upsert
# ---------------------------------------------------------------------------

def endpoint_keys(rows_per_month: int, start: dt.datetime, end: dt.datetime) -> set[str]:
    """crime_ids the ``fake://<rows_per_month>`` endpoint serves in
    ``[start, end)``, taken from the endpoint's own generator."""
    from open_crime_etl_pipeline_spark.sources.socrata import _fake_page

    return {r["id"] for r in _fake_page(rows_per_month, start, end, 0, sys.maxsize)}


class DailyUpsert(Workload):
    """Scheduled incremental loads (landing → transform → MERGE → ledger)
    against ~30 k rows of backfilled history."""

    rows_per_month = 10_000
    warmup_ops = 2

    def setup(self) -> None:
        from open_crime_etl_pipeline_spark import pipeline as pm
        from open_crime_etl_pipeline_spark.incremental import ledger, watermark
        from open_crime_etl_pipeline_spark.io import metrics, table

        self.epoch = watermark.FULL_LOAD_EPOCH
        # The seed picks the minute of a nightly start, 1 April 2025 23:00-23:59:
        # every seed gets its own ingest windows, while the history (and so
        # the snapshot each op rewrites) stays at ~30.3 k rows and every op
        # re-reads the previous day. The row density stays fixed because it
        # changes how well the timestamps compress.
        self.now = dt.datetime(2025, 4, 1, 23) + dt.timedelta(minutes=self.seed % 60)
        self.want: set[str] = set()
        self.want_to = self.epoch
        self.lake = os.path.join(self.work, "lake")
        self.pipe = pm.CrimePipeline(
            self.spark, self.lake, endpoint=f"fake://{self.rows_per_month}")
        t, led, cp = table.VersionedParquetTable, ledger.RunLedger, pm.CrimePipeline
        for owner, attr, name in [
            (t, "read", "io.table.read"),
            (pm, "read_watermark", "incremental.watermark.read"),
            (led, "start_run", "incremental.ledger.start_run"),
            (cp, "ingest_window", "pipeline.ingest_window"),
            (pm, "write_partitioned_crime", "io.writers.write"),
            (cp, "load_batch", "pipeline.load_batch"),
            (pm, "transform_crime_page", "transform.crime"),
            (pm, "merge_upsert", "operators.merge.build"),
            (metrics, "observe_batch", "io.metrics.observe"),
            (t, "commit", "io.table.commit"),
            (t, "vacuum", "io.table.vacuum"),
            (led, "finish_run", "incremental.ledger.finish_run"),
        ]:
            self.tracer.wrap(owner, attr, name)
        self.prev_rows = 0
        self.result = self.pipe.run(self.now)  # FULL backfill
        self.files = self._files()
        self.verify()

    def _files(self) -> dict[str, int]:
        out = {}
        for d, _, fs in os.walk(self.lake):
            for f in fs:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
        return out

    def timed_op(self, traced: bool) -> None:
        self.now += dt.timedelta(days=1)
        self.result = self.pipe.run(self.now)

    def verify(self) -> bool:
        """Table = exactly the endpoint's rows in [epoch, now), no null
        key, and the newest ledger row is this run's SUCCESS."""
        res = self.result
        if self.want_to < self.now:
            self.want |= endpoint_keys(self.rows_per_month, self.want_to, self.now)
            self.want_to = self.now
        want = self.want
        if res["status"] != "SUCCESS":
            return self.fail(f"status {res['status']}")
        if res["table_rows"] != len(want) or res["null_keys"] != 0:
            return self.fail(f"table_rows={res['table_rows']} want {len(want)}, "
                             f"null_keys={res['null_keys']}")
        log_dir = os.path.join(self.lake, "crime", "_txn_log")
        latest = max(e for e in os.listdir(log_dir) if e.endswith(".json"))
        with open(os.path.join(log_dir, latest)) as f:
            snap = json.load(f)["snapshot"]
        keys = pq.read_table(os.path.join(self.lake, "crime", "data", snap),
                             columns=["crime_id"]).column(0).to_pylist()
        if len(keys) != len(want) or set(keys) != want:
            return self.fail(f"snapshot holds {len(keys)} rows, not the {len(want)} expected keys")
        ledger = pq.read_table(os.path.join(self.lake, "logs")).to_pylist()
        newest = max(ledger, key=lambda r: r["start_time"])
        if (newest["run_id"], newest["status"], newest["load_date"]) != (
                res["run_id"], "SUCCESS", self.now.date()):
            return self.fail(f"newest ledger row {newest['run_id']} {newest['status']}")
        return True

    def op_numbers(self, idx: int, traced: bool) -> dict:
        out = super().op_numbers(idx, traced)
        before, self.files = self.files, self._files()
        new = {p: s for p, s in self.files.items() if p not in before}
        out["write_bytes_per_op"] = sum(new.values())
        if traced:
            part = {"raw": "io.writers.landing_bytes", "logs": "incremental.ledger.bytes",
                    "crime/data": "io.table.snapshot_bytes",
                    "crime/_txn_log": "io.table.log_bytes"}
            for p, s in new.items():
                rel = os.path.relpath(p, self.lake).split(os.sep)
                key = part["/".join(rel[:2]) if rel[0] == "crime" else rel[0]]
                out[key] = out.get(key, 0) + s
            start, end = (dt.datetime.fromisoformat(w) for w in self.result["window"])
            ingested = len(endpoint_keys(self.rows_per_month, start, end))
            out["operators.merge.new_row_ratio"] = (
                (self.result["table_rows"] - self.prev_rows) / ingested)
        self.prev_rows = self.result["table_rows"]
        return out

    # spans whose Spark jobs are reported as ``spark.<key>.jobs``
    job_keys = {
        "incremental.ledger.start_run": "ledger",
        "incremental.ledger.finish_run": "ledger",
        "incremental.watermark.read": "watermark",
        "pipeline.ingest_window": "ingest_window",
        "pipeline.load_batch": "load_batch",
        "io.table.commit": "commit",
    }

    def layer_numbers(self, idx: int, counters: dict) -> dict:
        tr = self.tracer
        out = {"pipeline.run_s": tr.spans[idx].duration,
               "pipeline.run.self_s": tr.self_time(idx)}
        out.update({f"spark.{k}.jobs": 0 for k in self.job_keys.values()})
        for i in tr.subtree(idx)[1:]:
            sp = tr.spans[i]
            out[f"{sp.name}_s"] = out.get(f"{sp.name}_s", 0.0) + sp.duration
            if sp.name in self.job_keys:
                out[f"spark.{self.job_keys[sp.name]}.jobs"] += sum(
                    counters[j]["jobs"] for j in tr.subtree(i))
        return out


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

CURATION_QUERIES = (
    "exact_dedup_documents",
    "near_dedup_star_components",
    "semdedup_embedding_prune",
    "winnowing_similarity_pairs",
    "exact_percentiles_distributed",
    "pq_adc_topk",
)


class CorpusCuration(Workload):
    """One curation pass: six dedup / similarity / ranking queries over a
    generated corpus, in a seed-chosen order."""

    sizes = {"documents": 500, "embeddings": 500, "lineitem": 60_000}
    warmup_ops = 1

    def setup(self) -> None:
        from open_crime_etl_pipeline_spark import localrel
        from open_crime_etl_pipeline_spark.queries import all_specs
        from open_crime_etl_pipeline_spark.testing import compare_frames, duckdb_connection

        self.data = os.path.join(self.work, "corpus")
        datagen.write_corpus(self.data, self.seed, self.sizes)
        self.order = list(CURATION_QUERIES)
        random.Random(self.seed).shuffle(self.order)
        specs = all_specs()
        self.fns = {q: specs[q].fn for q in self.order}
        self.tracer.wrap_everywhere(localrel.local_df, "localrel.local_df", PACKAGE)
        # oracle pass (also the first, cold warm-up pass): full results vs DuckDB
        con = duckdb_connection(self.data)
        self.expected = {}
        try:
            for q in self.order:
                got = self.fns[q](self.spark, self.data).toPandas()
                want = con.execute(specs[q].oracle).fetchdf()
                diff = compare_frames(q, got, want)
                if not diff.ok:
                    self.fail(f"{q} differs from the DuckDB oracle: {diff.detail}")
                self.expected[q] = len(want)
        finally:
            con.close()
        self.counts = {}

    def timed_op(self, traced: bool) -> None:
        span = self.tracer.span if traced else (lambda name: contextlib.nullcontext())
        self.counts = {}
        for q in self.order:
            with span(f"queries.{q}.build"):
                df = self.fns[q](self.spark, self.data)
            with span(f"spark.{q}.action"):
                self.counts[q] = df.count()

    def verify(self) -> bool:
        bad = {q: (self.counts.get(q), n) for q, n in self.expected.items()
               if self.counts.get(q) != n}
        return self.fail(f"row counts (got, want): {bad}") if bad else True

    def op_numbers(self, idx: int, traced: bool) -> dict:
        out = super().op_numbers(idx, traced)
        # A curation pass writes no lake files; the bytes it writes to disk
        # are its shuffle files, so this is spark.shuffle_bytes_per_op again.
        out["write_bytes_per_op"] = out["spark.shuffle_bytes_per_op"]
        return out

    def layer_numbers(self, idx: int, counters: dict) -> dict:
        tr = self.tracer
        out = {"localrel.local_df_s": 0.0, "localrel.calls_per_op": 0}
        for i in tr.spans[idx].children:
            sp = tr.spans[i]
            q = sp.name.split(".")[1]
            sub = [counters[j] for j in tr.subtree(i)]
            if sp.name.startswith("queries."):
                out[f"queries.{q}.build_s"] = sp.duration
                out[f"spark.{q}.jobs_build"] = sum(c["jobs"] for c in sub)
                for j in tr.subtree(i)[1:]:
                    out["localrel.local_df_s"] += tr.spans[j].duration
                    out["localrel.calls_per_op"] += 1
            else:
                out[f"queries.{q}.action_s"] = sp.duration
                out[f"spark.{q}.jobs_action"] = sum(c["jobs"] for c in sub)
            for k in ("tasks", "shuffle_bytes"):
                out[f"spark.{q}.{k}"] = out.get(f"spark.{q}.{k}", 0) + sum(c[k] for c in sub)
        return out


WORKLOADS = {"daily_upsert": DailyUpsert, "corpus_curation": CorpusCuration}


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) CPU ticks since boot, summed over the machine's CPUs,
    from /proc/stat; busy is user + nice + system + irq + softirq.
    (0, 0) where the kernel does not report them."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (t[7] if len(t) > 7 else 0), t[0] + t[1] + t[2] + t[5] + t[6]


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time the busy CPUs wanted between two cpu_ticks()
    readings that the hypervisor gave to other guests instead."""
    steal, busy = t1[0] - t0[0], t1[1] - t0[1]
    return steal / (steal + busy) if steal + busy > 0 else 0.0


def py_loop_s() -> float:
    """``bench.py``'s fixed single-core canary loop, at 3 M iterations:
    a host-speed reading that gates nothing."""
    from bench import _canary_loop

    t = time.perf_counter()
    _canary_loop(3_000_000)
    return time.perf_counter() - t
