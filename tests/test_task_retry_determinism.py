"""Task-retry determinism: on a real cluster, tasks fail and are
retried (lost executors, speculative execution, preemption). The
engine's Python/Arrow kernels must be pure per-partition functions so
a retried task reproduces its partition's partials EXACTLY and the
job result is bit-identical to a failure-free run.

The probe injects a one-time failure into an Arrow identity pass
UPSTREAM of the real Gram kernel (operators/linalg.gram_pairs →
covariance_pairs, the engine's flagship mapInPandas path) and
compares the retried run's full 6dp covariance output against the
clean run. Runs in a subprocess because spark.task.maxFailures is a
SparkContext-creation-time setting (the shared test session pins the
default maxFailures=1, under which any injected failure would kill
the job instead of retrying)."""

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys
sf_dir, sentinel, repo = sys.argv[1:4]
sys.path.insert(0, repo)
from open_crime_etl_pipeline_spark.session import get_spark

# local[4,3]: the second slot is maxFailures — the local scheduler
# ignores spark.task.maxFailures, retries must be set in the master
spark = get_spark(master="local[4,3]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

from open_crime_etl_pipeline_spark.operators.linalg import covariance_pairs

emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(4)

def identity_pass(inject):
    def fn(batches):
        # inject=True: one-time failure on the first attempt of
        # partition 0 — the shape of a lost executor mid-stage. The
        # inject=False twin keeps the IDENTICAL Arrow pass (same
        # batching, same float summation order downstream) so the
        # comparison isolates the retry as the only variable. The
        # failing attempt leaves a filesystem sentinel: accumulator
        # updates from FAILED attempts are discarded by Spark, so a
        # file is the only reliable proof the injection fired.
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if inject and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            with open(sentinel, "a") as fh:
                fh.write(f"fired stage={ctx.stageId()}\n")
            raise RuntimeError("injected first-attempt task failure")
        yield from batches
    return fn

baseline = covariance_pairs(
    emb.mapInPandas(identity_pass(False), emb.schema), "embedding", d=64
).collect()
retried = covariance_pairs(
    emb.mapInPandas(identity_pass(True), emb.schema), "embedding", d=64
).collect()

key = lambda r: (r["i"], r["j"])
b = {key(r): r.asDict() for r in baseline}
r = {key(x): x.asDict() for x in retried}
assert set(b) == set(r) and len(b) == 64 * 65 // 2, (len(b), len(r))
diffs = [k for k in b if b[k] != r[k]]
assert not diffs, f"retried run diverged at {diffs[:5]}"
with open(sentinel) as fh:
    fired = fh.read().strip().splitlines()
# the injection must actually have fired (>=1: the identity pass may
# run in more than one job — covariance derives a shift sample first)
assert fired, "injection never fired"
print("RETRY-DETERMINISM-OK", len(fired))
spark.stop()
"""


def test_gram_kernel_bit_identical_under_task_retry(sf_dir, tmp_path):
    sentinel = str(tmp_path / "injection_fired")
    res = subprocess.run(
        [sys.executable, "-c", _SCRIPT, sf_dir, sentinel, _REPO],
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "RETRY-DETERMINISM-OK" in res.stdout
