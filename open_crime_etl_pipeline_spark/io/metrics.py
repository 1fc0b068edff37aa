"""In-pass dataset metrics via ``df.observe`` / ``Observation``.

The reference's validate_sync stage re-queries the warehouse with
separate ``SELECT COUNT(*)`` statements after each load to record row
counts in the run ledger (airflow/dags/crime_etl.py:441-470,
db_postgres.py:70-84) — an extra full scan per metric per run. Spark's
Observation API collects named aggregates DURING the action that
writes the data: the metrics ride the same pass over the rows, so at
100 TB the accounting costs zero additional scans, and the numbers are
guaranteed to describe exactly the rows the action processed (no
read-back race with concurrent writers). ``unique`` cannot ride an
Observation (distinct aggregates would need a shuffle), so uniqueness
stays a dedicated groupBy query (`dup_key_check`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observe_batch(
    df: DataFrame, name: str = "batch", key: str | None = None
) -> tuple[DataFrame, Observation]:
    """Attach an Observation to ``df`` collecting row count and (when
    ``key`` is given) null-key and approximate-distinct-key counts.

    Returns (instrumented_df, observation). ``observation.get`` blocks
    until the FIRST action on the instrumented DataFrame completes and
    then yields the metrics dict — call it after the write/collect.
    The metric expressions must be Observation-legal aggregates
    (no distinct; approx_count_distinct is the scale-correct choice
    anyway — exact distinct would force a shuffle, observe() rides the
    existing plan).
    """
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if key is not None:
        # count_if, not a sum: over no rows it is 0, not NULL
        metrics.append(F.count_if(F.col(key).isNull()).alias("null_keys"))
        metrics.append(F.approx_count_distinct(key).alias("approx_distinct_keys"))
    return df.observe(obs, *metrics), obs


def assert_not_null(metrics: dict) -> dict:
    """Raise if ``observe_batch``'s ``null_keys`` metric is non-zero;
    return the metrics otherwise. Call after the action."""
    if metrics.get("null_keys"):
        raise ValueError(f"not-null violation in observed write: {metrics}")
    return metrics
