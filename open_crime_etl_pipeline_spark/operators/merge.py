"""Join-based MERGE / upsert — the engine's one genuinely custom
relational operator (SURVEY.md §2.3 J1/J2).

Reference semantics (`db/postgres/db_postgres.py:158-203`): MERGE INTO
target USING batch ON pk — matched rows take the batch's values,
unmatched batch rows are inserted; the staging table's PK rejects
duplicate keys within a batch (`create_stg_crime.sql:3`). Here the
staging table disappears: the MERGE source is the batch DataFrame, and
intra-batch duplicates are resolved *deterministically* by
last-writer-wins on an ordering column (the reference's behavior was
whatever-insert-order-survives; we define it).

Spark-first design, not a row-at-a-time port:
    merged = source ∪ (target ⟕anti source)
One shuffle on the key for the anti join; the union is free. When the
batch is small relative to the target (the incremental case), the
anti join broadcasts the batch key set — the target is NEVER shuffled,
which is the property that makes this viable on a 100 TB target table:
the physical plan is a broadcast anti join + file append/overwrite of
affected partitions only.

Idempotence (ST7): merge(merge(t, s), s) ≡ merge(t, s) — replaying a
batch cannot duplicate keys. Verified by property tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_last_writer_wins(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
) -> DataFrame:
    """Keep exactly one row per key: the last writer under ``order_by``
    (descending, ties broken by all remaining columns for determinism).

    Reference J2: the staging PK rejected intra-batch duplicate
    crime_ids non-deterministically; this is the deterministic
    replacement (row_number window, SURVEY §2.5). Every remaining
    column is appended to the ordering as a final tie-breaker, so rows
    that tie on ``order_by`` still resolve identically on every run —
    without this, a tie is broken by partition arrival order and the
    result flickers between executions.
    """
    tie_break = [c for c in df.columns if c not in keys and c not in order_by]
    ordering = [F.col(c).desc() for c in [*order_by, *tie_break]]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_by: list[str] | None = None,
    broadcast_source: bool | None = None,
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """MERGE semantics: source rows win on key match; unmatched target
    rows survive; unmatched source rows are inserts.

    ``order_by``: resolve intra-batch duplicate keys last-writer-wins
    before merging (J2). None ⇒ source must be key-unique.

    Precondition: the TARGET is key-unique (the reference's target has
    a PK — `create_crime.sql:2`). The property is inductive: a merge
    into a key-unique target yields a key-unique result, and the engine
    only builds targets through this merge.
    ``broadcast_source``: force/disable broadcasting the source side of
    the anti join; default lets AQE/threshold decide, which picks
    broadcast for the typical small-batch incremental load.

    ``allow_schema_evolution``: with True, a batch may add columns (old
    target rows backfill NULL) or omit target columns (inserted rows
    get NULL) — the MERGE WITH SCHEMA EVOLUTION behavior of lakehouse
    SQL engines. Default False keeps the strict-schema contract: a
    mismatch raises at plan time instead of silently widening.
    """
    # The probe takes the RAW batch keys: dedup keeps one row per key
    # (NULL included), so the key set is the same, and a probe built
    # under the dedup window could not reuse its exchange (the inferred
    # IsNotNull filter differs) — the batch would be scanned and
    # shuffled twice.
    probe = source.select(*keys)
    if order_by:
        source = dedup_last_writer_wins(source, keys, order_by)
    if broadcast_source:
        probe = F.broadcast(probe)
    survivors = target.join(probe, on=keys, how="left_anti")
    return source.unionByName(survivors, allowMissingColumns=allow_schema_evolution)
