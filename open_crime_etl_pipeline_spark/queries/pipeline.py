"""Pipeline-semantics queries: MERGE/upsert, last-writer-wins dedup,
watermark branching, reconciliation (SURVEY.md §2.3 J1-J3, §2.8).

These put the engine's custom operators (operators/merge.py,
incremental/) under the oracle gate by expressing the same semantics
in ANSI SQL over the testdata tables. The deterministic scenario:
- target   = orders placed before 1998 (the warehoused history)
- source   = open orders since 1997 with re-priced totals (the
             incremental batch, overlapping the target — ST4 overlap)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import dedup_last_writer_wins, merge_upsert
from .core import _t, dec2, fmt_date
from .registry import register


def _merge_scenario(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = _t(spark, sf_dir, "orders")
    price = dec2("o_totalprice").cast("double")
    target = (
        orders.filter(F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_orderstatus", price.alias("total_price"))
    )
    source = (
        orders.filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(dec2("o_totalprice") * F.lit(1.05).cast("decimal(4,2)"), 2)
            .cast("double").alias("total_price"),
        )
    )
    return target, source


_MERGE_SCENARIO_SQL = """
        WITH target AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
            FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        ), source AS (
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.05 AS DECIMAL(4,2)), 2) AS DOUBLE)
                       AS total_price
            FROM orders
            WHERE o_orderstatus = 'O' AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        )
"""


@register(
    "merge_upsert_orders",
    oracle=_MERGE_SCENARIO_SQL + """
        SELECT * FROM source
        UNION ALL
        SELECT t.* FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
    """,
    doc="Join-based MERGE: matched→update, unmatched→insert (J1 ≡ MERGE INTO crime, db_postgres.py:183-194).",
    tags=("merge", "join"),
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, source = _merge_scenario(spark, sf_dir)
    return merge_upsert(target, source, keys=["o_orderkey"])


@register(
    "merge_result_summary",
    oracle=_MERGE_SCENARIO_SQL + """
        , merged AS (
            SELECT * FROM source
            UNION ALL
            SELECT t.* FROM target t
            WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
        )
        SELECT o_orderstatus, count(*) AS n_rows,
               CAST(round(sum(CAST(total_price AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM merged GROUP BY o_orderstatus
    """,
    doc="Post-merge audit rollup: updated/inserted/survivor counts (J1 + A8).",
    tags=("merge", "agg"),
)
def merge_result_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, source = _merge_scenario(spark, sf_dir)
    merged = merge_upsert(target, source, keys=["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum(dec2("total_price")), 2).cast("double").alias("total_value"),
    )


@register(
    "dedup_last_writer_wins",
    oracle="""
        SELECT l_orderkey,
               l_linenumber AS last_linenumber,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS last_qty
        FROM (
            SELECT l_orderkey, l_linenumber, l_quantity,
                   row_number() OVER (
                       PARTITION BY l_orderkey
                       ORDER BY l_shipdate DESC, l_linenumber DESC, l_quantity DESC
                   ) AS rn
            FROM lineitem
        ) WHERE rn = 1
    """,
    doc="Deterministic last-writer-wins key dedup (J2 ≡ staging-PK dedupe, create_stg_crime.sql:3; row_number window).",
    tags=("merge", "window", "dedup"),
)
def dedup_last_writer_wins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    deduped = dedup_last_writer_wins(
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
        keys=["l_orderkey"],
        order_by=["l_shipdate", "l_linenumber"],
    )
    return deduped.select(
        "l_orderkey",
        F.col("l_linenumber").alias("last_linenumber"),
        dec2("l_quantity").cast("double").alias("last_qty"),
    )


@register(
    "watermark_branch_decision",
    oracle="""
        WITH wm AS (
            SELECT max(o_orderdate) AS watermark
            FROM orders WHERE o_orderstatus = 'F'
        )
        SELECT CASE WHEN watermark IS NULL THEN 'FULL' ELSE 'INCREMENT' END AS mode,
               strftime(date_trunc('day', watermark), '%Y-%m-%d') AS overlap_window_start,
               watermark
        FROM wm
    """,
    doc="FULL/INCREMENT branch + midnight-overlap window start (ST1/ST2/ST4 ≡ crime_etl.py:104-108,195-197).",
    tags=("incremental",),
)
def watermark_branch_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    wm = orders.filter(F.col("o_orderstatus") == "F").agg(
        F.max("o_orderdate").alias("watermark")
    )
    return wm.select(
        F.when(F.col("watermark").isNull(), "FULL").otherwise("INCREMENT").alias("mode"),
        fmt_date(F.date_trunc("day", F.col("watermark"))).alias("overlap_window_start"),
        F.col("watermark"),
    )


@register(
    "reconcile_replica_dates",
    oracle="""
        WITH replica_a AS (
            SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS load_date
            FROM orders WHERE o_orderstatus IN ('F', 'P')
        ), replica_b AS (
            SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS load_date
            FROM orders WHERE o_orderstatus IN ('O', 'P')
        )
        SELECT load_date, 'a' AS missing_from
        FROM replica_b WHERE load_date NOT IN (SELECT load_date FROM replica_a)
        UNION ALL
        SELECT load_date, 'b' AS missing_from
        FROM replica_a WHERE load_date NOT IN (SELECT load_date FROM replica_b)
    """,
    doc="Two-sided replica reconciliation → RECOVERY work list (ST9/J3 ≡ validate_sync, crime_etl.py:377-408).",
    tags=("incremental", "anti"),
)
def reconcile_replica_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..incremental.reconcile import reconcile_replicas

    orders = _t(spark, sf_dir, "orders")
    dates = orders.select(fmt_date("o_orderdate").alias("load_date"), "o_orderstatus")
    rep_a = dates.filter(F.col("o_orderstatus").isin("F", "P")).select("load_date")
    rep_b = dates.filter(F.col("o_orderstatus").isin("O", "P")).select("load_date")
    return reconcile_replicas(rep_a, rep_b, "load_date")


@register(
    "socrata_ingest_silver",
    # fake://230 is a deterministic offline generator independent of
    # sf_dir: 230 records per month window, fixed arrest/type mix — the
    # ingest+transform profile is a constant table the oracle can state
    # as VALUES (golden check over the REST source's pagination, window
    # pushdown, and the silver transform's typed casts).
    oracle="""
        SELECT * FROM (VALUES
            ('2025-01', CAST(230 AS BIGINT), CAST(46 AS BIGINT), CAST(4 AS BIGINT)),
            ('2025-02', CAST(230 AS BIGINT), CAST(46 AS BIGINT), CAST(4 AS BIGINT)),
            ('2025-03', CAST(230 AS BIGINT), CAST(46 AS BIGINT), CAST(4 AS BIGINT))
        ) AS t(month, n_crimes, n_arrests, n_types)
    """,
    doc="End-to-end ingest slice: custom Python DataSource (S1 paginated REST scan, "
        "month-window partitions, pushFilters) → silver transform (P1-P3 + typed "
        "casts) → per-month arrest profile. Deterministic offline endpoint.",
    tags=("source", "ingest", "crime"),
)
def socrata_ingest_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import register_socrata_source
    from ..transform.crime import transform_crime_page

    register_socrata_source(spark)
    raw = (
        spark.read.format("socrata_crime")
        .option("endpoint", "fake://230")
        .option("pagesize", "100")
        .option("start_date", "2025-01-01T00:00:00.000")
        .option("end_date", "2025-04-01T00:00:00.000")
        .load()
    )
    silver = transform_crime_page(raw)
    return (
        silver.groupBy(F.date_format("date_of_occurrence", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_crimes"),
            F.count_if(F.col("arrest") == "true").alias("n_arrests"),
            F.countDistinct("primary_description").alias("n_types"),
        )
    )


@register(
    "salted_join_skew_check",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o_orderstatus
    """,
    doc="Salted skew-join ≡ plain equi-join (salt is a distribution detail, "
        "results identical — the property that makes skew mitigation safe; §4).",
    tags=("skew", "join", "agg"),
)
def salted_join_skew_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = salted_join(li, orders, on=["l_orderkey"], salt_buckets=8)
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum(dec2("l_quantity")), 2).cast("double").alias("total_qty"),
    )


@register(
    "crime_pipeline_lifecycle",
    # The fake:// endpoint is a deterministic offline generator that does
    # not depend on sf_dir, so the whole lifecycle projection — per-run
    # mode/status, ingest windows, post-merge table sizes, and the ledger
    # rows the pipeline wrote — is a fixed table the oracle states as
    # VALUES (a golden check; any drift in watermarking, windowing, merge
    # semantics, or ledger lifecycle changes one of these cells).
    oracle="""
        SELECT * FROM (VALUES
            (1, '2025-02-15', 'SCHEDULED', 'FULL', 'SUCCESS',
             '2025-01-01T00:00:00', '2025-02-15T12:00:00', CAST(183 AS BIGINT)),
            (2, '2025-03-10', 'SCHEDULED', 'INCREMENT', 'SUCCESS',
             '2025-02-15T00:00:00', '2025-03-10T12:00:00', CAST(277 AS BIGINT))
        ) AS t(run_seq, load_date, run_type, mode, status,
               window_start, window_end, table_rows)
    """,
    doc="The reference's whole DAG as one run: FULL load → INCREMENT load "
        "with overlap → ledger rows; returns per-run mode/status/window/"
        "table-size joined with the ledger rows the run actually persisted "
        "(§3.1 crime_etl topology, deterministic offline endpoint).",
    tags=("pipeline", "e2e", "incremental"),
)
def crime_pipeline_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt
    import shutil
    import tempfile

    from ..pipeline import CrimePipeline

    root = tempfile.mkdtemp(prefix="crime_lake_")
    try:
        p = CrimePipeline(spark, root, endpoint="fake://120", pagesize=60)
        r1 = p.run(now=dt.datetime(2025, 2, 15, 12), load_date=dt.date(2025, 2, 15))
        r2 = p.run(now=dt.datetime(2025, 3, 10, 12), load_date=dt.date(2025, 3, 10))
        runs = spark.createDataFrame(
            [
                (1, r1["run_id"], r1["mode"], r1["status"],
                 r1["window"][0], r1["window"][1], r1["table_rows"]),
                (2, r2["run_id"], r2["mode"], r2["status"],
                 r2["window"][0], r2["window"][1], r2["table_rows"]),
            ],
            "run_seq int, run_id string, mode string, status string, "
            "window_start string, window_end string, table_rows long",
        )
        # join back against the ledger the pipeline PERSISTED — the
        # projection reflects on-disk lifecycle state, not the return dicts
        ledger = p.ledger.read().select(
            "run_id",
            F.date_format("load_date", "yyyy-MM-dd").alias("load_date"),
            F.col("type").alias("run_type"),
            F.col("mode").alias("ledger_mode"),
            F.col("status").alias("ledger_status"),
        )
        out = runs.join(ledger, "run_id").select(
            "run_seq", "load_date", "run_type",
            # mode/status must agree between the return value and the
            # ledger row; surfacing the ledger copy puts D4/D5 under the
            # oracle while the join keeps both sides honest
            F.col("ledger_mode").alias("mode"),
            F.col("ledger_status").alias("status"),
            "window_start", "window_end", "table_rows",
        )
        rows = out.collect()  # detach from temp lake before cleanup
        # hard bound: this is a 2-run lifecycle projection; a future edit
        # that grows the collected set past a handful of ledger rows must
        # fail here, not silently become a driver-side materialization
        assert len(rows) <= 16, f"lifecycle projection grew to {len(rows)} rows"
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "scd2_order_status_history",
    oracle="""
        WITH snap AS (
            SELECT o_orderkey, o_orderstatus AS status,
                   TIMESTAMP '1990-01-01 00:00:00' AS ts
            FROM orders
        ), u1 AS (
            SELECT o_orderkey, 'P' AS status, CAST(o_orderdate AS TIMESTAMP) AS ts
            FROM orders WHERE o_orderkey % 3 = 0
        ), u2 AS (
            SELECT o_orderkey, 'F' AS status,
                   CAST(o_orderdate AS TIMESTAMP) + INTERVAL 30 DAY AS ts
            FROM orders WHERE o_orderkey % 2 = 0
        ), merged AS (
            SELECT * FROM snap UNION ALL SELECT * FROM u1 UNION ALL SELECT * FROM u2
        ), flagged AS (
            SELECT o_orderkey, status, ts,
                   (status IS DISTINCT FROM
                    lag(status) OVER (PARTITION BY o_orderkey ORDER BY ts)) AS chg
            FROM merged
        ), versions AS (
            SELECT o_orderkey, status, ts FROM flagged WHERE chg
        )
        SELECT o_orderkey, status,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
               (lead(ts) OVER w IS NULL) AS is_current
        FROM versions
        WINDOW w AS (PARTITION BY o_orderkey ORDER BY ts)
    """,
    doc="SCD type 2 derivation (operators/scd2.py): order-status history as "
        "validity intervals from a snapshot + deterministic update stream "
        "(some updates are no-ops and must collapse). One keyed window pass "
        "builds arbitrarily long version chains — no iterative merging; the "
        "reference's MERGE is the type-1 overwrite of this (J1 extension).",
    tags=("merge", "scd2", "window"),
)
def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import scd2_apply

    orders = _t(spark, sf_dir, "orders")
    snap = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
    )
    u1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.lit("P").alias("status"), F.col("o_orderdate").alias("ts")
    )
    u2 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("F").alias("status"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
    )
    hist = scd2_apply(
        snap, u1.unionByName(u2), keys=["o_orderkey"], attrs=["status"], ts_col="ts"
    )
    return hist.select(
        "o_orderkey",
        "status",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


@register(
    "merge_schema_evolution",
    oracle=_MERGE_SCENARIO_SQL + """
        , evolved_source AS (
            SELECT o_orderkey, o_orderstatus, total_price,
                   'online' AS channel
            FROM source
        ), merged AS (
            SELECT o_orderkey, o_orderstatus, total_price, channel
            FROM evolved_source
            UNION ALL
            SELECT t.o_orderkey, t.o_orderstatus, t.total_price,
                   CAST(NULL AS VARCHAR) AS channel
            FROM target t
            WHERE NOT EXISTS (SELECT 1 FROM evolved_source s
                              WHERE s.o_orderkey = t.o_orderkey)
        )
        SELECT coalesce(channel, '<null>') AS channel,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(round(sum(CAST(total_price AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS total_value
        FROM merged GROUP BY coalesce(channel, '<null>')
    """,
    doc="MERGE WITH SCHEMA EVOLUTION (lakehouse-SQL behavior): the "
        "batch adds a `channel` column absent from the target; "
        "`allow_schema_evolution=True` widens the result and backfills "
        "surviving target rows with NULL — exactly unionByName("
        "allowMissingColumns). The strict default raises at plan time "
        "instead (pinned in test_merge.py). Same one-anti-join shape as "
        "J1 — the target still never shuffles (§2.3 J1 extension).",
    tags=("merge", "join"),
)
def merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, source = _merge_scenario(spark, sf_dir)
    evolved = source.withColumn("channel", F.lit("online"))
    merged = merge_upsert(
        target, evolved, keys=["o_orderkey"], allow_schema_evolution=True
    )
    return merged.groupBy(
        F.coalesce(F.col("channel"), F.lit("<null>")).alias("channel")
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum(dec2("total_price")), 2).cast("double").alias("total_value"),
    )


@register(
    "replica_content_checksums",
    oracle="""
        WITH rows_hashed AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   CAST('0x' || substring(md5(
                        CAST(o_orderkey AS VARCHAR) || '|' ||
                        CAST(o_custkey AS VARCHAR) || '|' ||
                        o_orderstatus || '|' || o_orderpriority || '|' ||
                        strftime(o_orderdate, '%Y-%m-%d')
                   ), 1, 13) AS BIGINT) AS h
            FROM orders
        )
        SELECT month,
               count(*) AS n_rows,
               CAST(sum(h) AS BIGINT) AS content_checksum
        FROM rows_hashed GROUP BY month
    """,
    doc="Content-level replica reconciliation (ST9 hardened): per-month "
        "order-insensitive content checksum = SUM of a 52-bit md5 "
        "prefix over each row's key columns. The reference's "
        "validate_sync compares ROW COUNTS per load date "
        "(crime_etl.py:377-408) — counts can match while contents "
        "diverge (a lost update paired with a duplicate insert); a "
        "commutative content checksum catches that with the same "
        "one-scan-per-replica cost, and months whose checksums differ "
        "become the RECOVERY work list exactly like the date diff. "
        "md5 is engine-portable (unlike xxhash64) so either replica — "
        "or a non-Spark warehouse — can compute its side; the 52-bit "
        "prefix keeps the BIGINT sum far from overflow at any month "
        "size. Scale shape: scan-side hash, partial sum per month, "
        "one tiny exchange (§2.8 ST9, §2.4).",
    tags=("incremental", "checksum"),
)
def replica_content_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.col("o_orderpriority"),
                fmt_date("o_orderdate"),
            )),
            1, 13,
        ),
        16, 10,
    ).cast("bigint")
    return (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"), h.alias("h")
        )
        .groupBy("month")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("h").cast("bigint").alias("content_checksum"),
        )
    )


@register(
    "merkle_segment_diff_drilldown",
    oracle="""
        WITH a AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_orderkey // 4096 AS seg
            FROM orders
        ),
        b AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 9973 = 5 THEN o_custkey + 1
                        ELSE o_custkey END AS o_custkey,
                   o_orderstatus,
                   o_orderkey // 4096 AS seg
            FROM orders WHERE o_orderkey % 9973 != 1
        ),
        ha AS (
            SELECT seg, o_orderkey,
                   CAST('0x' || substring(md5(
                        CAST(o_orderkey AS VARCHAR) || '|' ||
                        CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
                   ), 1, 10) AS BIGINT) AS h
            FROM a
        ),
        hb AS (
            SELECT seg, o_orderkey,
                   CAST('0x' || substring(md5(
                        CAST(o_orderkey AS VARCHAR) || '|' ||
                        CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
                   ), 1, 10) AS BIGINT) AS h
            FROM b
        ),
        sa AS (SELECT seg, count(*) AS n_a, sum(h) AS ck_a FROM ha GROUP BY seg),
        sb AS (SELECT seg, count(*) AS n_b, sum(h) AS ck_b FROM hb GROUP BY seg),
        diff AS (
            SELECT sa.seg, sa.n_a, COALESCE(sb.n_b, 0) AS n_b
            FROM sa LEFT JOIN sb ON sa.seg = sb.seg
            WHERE sb.seg IS NULL OR sa.n_a != sb.n_b OR sa.ck_a != sb.ck_b
        ),
        drill AS (
            SELECT d.seg,
                   ha.o_orderkey AS key_a, ha.h AS h_a,
                   hb.o_orderkey AS key_b, hb.h AS h_b
            FROM diff d
            JOIN ha ON ha.seg = d.seg
            LEFT JOIN hb ON hb.seg = d.seg AND hb.o_orderkey = ha.o_orderkey
        )
        SELECT d.seg AS segment,
               CAST(d.n_a AS BIGINT) AS n_a,
               CAST(d.n_b AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN dr.key_b IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_missing_in_b,
               CAST(sum(CASE WHEN dr.key_b IS NOT NULL AND dr.h_a != dr.h_b
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_modified
        FROM diff d JOIN drill dr ON dr.seg = d.seg
        GROUP BY d.seg, d.n_a, d.n_b
    """,
    doc="Merkle-style anti-entropy reconciliation with segment "
        "drill-down (the Dynamo/Cassandra repair shape; ST9 at 100 TB): "
        "replica B is replica A with planted drift (keys % 9973 = 1 "
        "deleted, % 9973 = 5 modified). Level 1 scans each replica ONCE "
        "and emits one (count, 40-bit commutative md5 checksum (4096-key segments keep the BIGINT sum below 2^52)) row per "
        "4096-key segment; level 2 re-reads ONLY the differing "
        "segments' rows (a broadcast semi-filter on the segment list — "
        "partition-prunable when the lake is laid out by key range) and "
        "classifies each divergence as missing-vs-modified via a keyed "
        "left join of row hashes. Repair cost scales with the DRIFT, "
        "not the table: the full-table work is two scans emitting "
        "rows/4096 tiny rows. Extends replica_content_checksums (which "
        "detects) with the localization step (which repairs).",
    tags=("incremental", "checksum", "reconcile", "scale"),
)
def merkle_segment_diff_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")

    def payload_hash():
        return F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                )),
                1, 10,
            ),
            16, 10,
        ).cast("bigint")

    a = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.expr("o_orderkey div 4096").alias("seg"),
    )
    b = (
        orders.filter(F.col("o_orderkey") % 9973 != 1)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 9973 == 5, F.col("o_custkey") + 1)
            .otherwise(F.col("o_custkey"))
            .alias("o_custkey"),
            "o_orderstatus",
            F.expr("o_orderkey div 4096").alias("seg"),
        )
    )
    ha = a.select("seg", "o_orderkey", payload_hash().alias("h"))
    hb = b.select("seg", "o_orderkey", payload_hash().alias("h"))
    sa = ha.groupBy("seg").agg(F.count("*").alias("n_a"), F.sum("h").alias("ck_a"))
    sb = hb.groupBy("seg").agg(F.count("*").alias("n_b"), F.sum("h").alias("ck_b"))
    diff = (
        sa.join(sb, "seg", "left")
        .filter(
            F.col("n_b").isNull()
            | (F.col("n_a") != F.col("n_b"))
            | (F.col("ck_a") != F.col("ck_b"))
        )
        .select("seg", "n_a", F.coalesce("n_b", F.lit(0)).alias("n_b"))
    )
    hb2 = hb.select(
        F.col("seg").alias("seg_b"),
        F.col("o_orderkey").alias("key_b"),
        F.col("h").alias("h_b"),
    )
    # diff is drift-sized in the normal case but adversarially one row
    # per segment — no forced broadcast (the r6 carry-join lesson); AQE
    # broadcasts it at runtime when it is actually small
    drill = (
        ha.join(diff, "seg")
        .join(
            hb2,
            (F.col("o_orderkey") == F.col("key_b"))
            & (F.col("seg") == F.col("seg_b")),
            "left",
        )
        .drop("seg_b")
    )
    return (
        drill.groupBy("seg", "n_a", "n_b")
        .agg(
            F.sum(F.when(F.col("key_b").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing_in_b"),
            F.sum(
                F.when(
                    F.col("key_b").isNotNull() & (F.col("h") != F.col("h_b")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_modified"),
        )
        .select(
            F.col("seg").alias("segment"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "n_missing_in_b",
            "n_modified",
        )
    )


@register(
    "manifest_sink_roundtrip",
    oracle="""
        SELECT CAST(doc_id % 7 AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 10)
                    AS BIGINT)) AS BIGINT) AS content_checksum
        FROM documents WHERE doc_id % 10 = 0
        GROUP BY bucket
    """,
    doc="End-to-end proof of the content-addressed shard sink "
        "(sources/manifest_sink.py — the custom Python DataSource "
        "WRITER): a documents slice is written through "
        "df.write.format('shard_manifest') (content-addressed gzip-JSON "
        "shards + atomic manifest commit), read back via the "
        "manifest-resolved snapshot reader, and reduced to per-bucket "
        "(count, chars, 40-bit commutative md5-of-(id|text) checksum) — "
        "the oracle states the same aggregates from the SOURCE table, "
        "so a hash match proves byte-exact write/commit/read through "
        "the sink the way socrata_ingest_silver proves the source. "
        "Only O(buckets) summary rows ever reach the driver (they must "
        "materialize before the temp lake dir is cleaned up) — the "
        "per-doc payloads stay distributed. Idempotence/abort/vacuum/"
        "streaming-epoch semantics are pinned in test_manifest_sink.py "
        "(ST7/S3/S4/D7).",
    tags=("sink", "datasource", "pipeline"),
)
def manifest_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_sink_q_")
    try:
        docs = _t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 == 0
        ).select("doc_id", "text")
        (
            docs.repartition(4, "doc_id")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("overwrite")
            .save()
        )
        back = MS.read_manifest(spark, out, schema="doc_id long, text string")
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit("|"), F.col("text")
                    )
                ),
                1, 10,
            ),
            16, 10,
        ).cast("long")
        rows = (
            back.groupBy((F.col("doc_id") % 7).cast("long").alias("bucket"))
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).cast("long").alias("total_chars"),
                F.sum(h).cast("long").alias("content_checksum"),
            )
            .collect()  # O(buckets) summary rows; lake dir dies below
        )
        return spark.createDataFrame(
            rows,
            "bucket long, n_docs long, total_chars long, content_checksum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_stream_tail_exactly_once",
    oracle="""
        SELECT CAST(doc_id % 7 AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 10)
                    AS BIGINT)) AS BIGINT) AS content_checksum
        FROM documents WHERE doc_id % 10 = 1
        GROUP BY bucket
    """,
    doc="The lakehouse loop closed end-to-end (round-8 verdict item 5): "
        "two document slices are LANDED into a shard_manifest table in "
        "separate commits — the first slice TWICE (an idempotent replay) "
        "— and a spark.readStream.format('shard_manifest') TAIL drains "
        "the table incrementally between landings (availableNow runs "
        "resuming one checkpoint). The manifest stamps every shard with "
        "the commit_seq it FIRST appeared at, so the reader's offset is "
        "one integer and the replayed landing delivers ZERO rows (the "
        "query raises if not — and a double-delivery would also break "
        "the checksum). Each drain reduces its micro-batch to O(buckets) "
        "partial aggregates inside foreachBatch (count / chars / 40-bit "
        "commutative md5 checksum — per-doc payloads never reach the "
        "driver); partials from all drains are summed and must equal the "
        "oracle's aggregates over the SOURCE rows read exactly once. "
        "This is CDF-over-the-landing-zone, the streaming twin of "
        "cdf_version_diff (ST6/ST7/S2).",
    tags=("source", "datasource", "streaming", "pipeline"),
)
def manifest_stream_tail_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_tail_q_")
    ckpt = tempfile.mkdtemp(prefix="manifest_tail_ck_")
    checksum40 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))),
            1, 10,
        ),
        16, 10,
    ).cast("long")

    def land(residue: int) -> None:
        (
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 20 == residue)
            .select("doc_id", "text")
            .repartition(4, "doc_id")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )

    def drain() -> list:
        partials: list = []

        def fold(df, _batch_id):
            partials.extend(
                df.groupBy((F.col("doc_id") % 7).cast("long").alias("bucket"))
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum(F.length("text")).cast("long").alias("total_chars"),
                    F.sum(checksum40).cast("long").alias("content_checksum"),
                )
                .collect()  # O(buckets) partial rows per micro-batch
            )

        q = (
            spark.readStream.format(MS.FORMAT_NAME)
            .schema("doc_id long, text string")
            .option("path", out)
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return partials

    try:
        land(1)
        partials = drain()
        land(1)  # idempotent replay: content-addressed shards re-land
        replayed = drain()
        if replayed:
            raise AssertionError(
                "manifest_stream_tail_exactly_once: a replayed landing "
                f"delivered {len(replayed)} partial rows — the tail is "
                "not exactly-once"
            )
        land(11)
        partials += drain()
        acc = spark.createDataFrame(
            partials,
            "bucket long, n_docs long, total_chars long, content_checksum long",
        )
        rows = (
            acc.groupBy("bucket")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("total_chars").cast("long").alias("total_chars"),
                F.sum("content_checksum").cast("long").alias("content_checksum"),
            )
            .collect()  # materialize before the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows,
            "bucket long, n_docs long, total_chars long, content_checksum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "manifest_compact_time_travel",
    oracle="""
        WITH agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(sum(CAST('0x' || substring(
                        md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 10)
                        AS BIGINT)) AS BIGINT) AS content_checksum,
                   CAST(NULL AS VARCHAR) AS snapshot
            FROM documents WHERE doc_id % 20 = 3
        ), agg_full AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(sum(CAST('0x' || substring(
                        md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 10)
                        AS BIGINT)) AS BIGINT) AS content_checksum,
                   CAST(NULL AS VARCHAR) AS snapshot
            FROM documents WHERE doc_id % 10 = 3
        )
        SELECT 'v1_first_landing' AS snapshot, n_docs, total_chars,
               content_checksum FROM agg
        UNION ALL
        SELECT 'v2_second_landing', n_docs, total_chars, content_checksum
        FROM agg_full
        UNION ALL
        SELECT 'v3_compacted', n_docs, total_chars, content_checksum
        FROM agg_full
    """,
    doc="Time travel + compaction through the versioned manifest "
        "(sources/manifest_sink.py, round 9): slice A lands as commit "
        "v1 (4 shards), slice B appends as v2, then compact() rewrites "
        "the live rows into ONE data_change=false shard as v3 — and "
        "the query reads ALL THREE versions back via "
        "read_manifest(version=N), reducing each to (count, chars, "
        "40-bit commutative md5 checksum). The oracle restates v1 from "
        "slice A and v2/v3 from A∪B straight off the source table, so "
        "a hash match proves (a) as-of reads resolve each immutable "
        "snapshot exactly, (b) compaction conserved every row and "
        "byte, and (c) the compacted layout (asserted single-shard "
        "in-query) is indistinguishable to readers — the lakehouse "
        "OPTIMIZE contract. Only O(1) summary rows reach the driver.",
    tags=("sink", "datasource", "pipeline", "layout"),
)
def manifest_compact_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_tt_q_")
    checksum40 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                           F.col("text"))),
            1, 10,
        ),
        16, 10,
    ).cast("long")

    def land(residue: int, n_shards: int) -> None:
        (
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 20 == residue)
            .select("doc_id", "text")
            .repartition(n_shards, "doc_id")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )

    try:
        land(3, 4)    # v1
        land(13, 2)   # v2
        man = MS.compact(spark, out, schema="doc_id long, text string")  # v3
        if len(man["shards"]) != 1 or man["shards"][0].get("data_change"):
            raise AssertionError(
                "manifest_compact_time_travel: compaction must leave one "
                f"data_change=false shard, got {man['shards']}"
            )
        if [h["kind"] for h in MS.describe_history(out)] != [
            "append", "append", "compact"
        ]:
            raise AssertionError("unexpected commit history")
        rows = []
        for label, version in (
            ("v1_first_landing", 1),
            ("v2_second_landing", 2),
            ("v3_compacted", None),  # the live (compacted) table
        ):
            back = MS.read_manifest(
                spark, out, schema="doc_id long, text string", version=version
            )
            rows += (
                back.agg(
                    F.count("*").alias("n_docs"),
                    F.sum(F.length("text")).cast("long").alias("total_chars"),
                    F.sum(checksum40).cast("long").alias("content_checksum"),
                )
                .select(F.lit(label).alias("snapshot"), "n_docs",
                        "total_chars", "content_checksum")
                .collect()  # one summary row per snapshot
            )
        return spark.createDataFrame(
            rows,
            "snapshot string, n_docs long, total_chars long, "
            "content_checksum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_stats_pruned_scan",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(o_orderkey AS VARCHAR)), 1, 10)
                    AS BIGINT)) AS BIGINT) AS key_checksum
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 2499
        GROUP BY o_orderstatus
    """,
    doc="Shard-level min/max stats + data-skipping reads on the "
        "manifest format (round 9): the orders table is landed "
        "range-clustered on o_orderkey into 8 content-addressed shards "
        "— the writer records per-column [min, max] in the SAME "
        "serialization pass that content-addresses the shard — and the "
        "read resolves the manifest, prunes to only the shards whose "
        "key range overlaps BETWEEN 1000 AND 2499 (the query RAISES "
        "unless at least half the shards were skipped), applies the "
        "row filter, and aggregates per status. The oracle restates "
        "the aggregates from the source table, so a hash match proves "
        "skipping lost no rows and read no wrong ones — parquet "
        "row-group pruning re-expressed at the lakehouse-shard layer "
        "(Delta/Iceberg file stats). At 100 TB this is the difference "
        "between opening 8 files and opening one.",
    tags=("sink", "datasource", "pipeline", "layout", "pruning"),
)
def manifest_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_stats_q_")
    try:
        (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .repartitionByRange(8, "o_orderkey")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
        man = MS.read_manifest_dict(out)
        kept, total = MS.prune_shards(man, {"o_orderkey": (1000, 2499)})
        if not (len(kept) <= total // 2):
            raise AssertionError(
                f"manifest_stats_pruned_scan: expected stats to skip most "
                f"shards, kept {len(kept)}/{total}"
            )
        rows = (
            MS.read_manifest(
                spark,
                out,
                schema="o_orderkey long, o_orderstatus string",
                prune={"o_orderkey": (1000, 2499)},
            )
            .filter(F.col("o_orderkey").between(1000, 2499))
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
                F.sum(
                    F.conv(
                        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 10),
                        16, 10,
                    ).cast("long")
                ).cast("long").alias("key_checksum"),
            )
            .collect()  # O(statuses) rows; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows,
            "o_orderstatus string, n_orders long, sum_key long, "
            "key_checksum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_bloom_point_lookup",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(o_orderkey AS VARCHAR)), 1, 10)
                    AS BIGINT)) AS BIGINT) AS key_checksum
        FROM orders WHERE o_custkey = 371
    """,
    doc="Per-shard Bloom filters close the equality gap min/max stats "
        "leave open (round 9): orders land HASH-partitioned on "
        "o_custkey into 8 shards — every shard's key range overlaps "
        "every other, so range stats can prune nothing — with "
        "option('bloom_columns','o_custkey') recording a 16-KiB/7-hash "
        "membership filter per shard in the same serialization pass. "
        "The point lookup prune_eq={o_custkey: 371} must open at most "
        "half the shards (the query RAISES otherwise; the true holder "
        "is exactly one, false positives only OVER-read), and the "
        "aggregates over the pruned+filtered read hash-match the "
        "oracle over the source table. At 100 TB this is the "
        "content-addressed lake's point-lookup story: one file opened "
        "instead of every file in the key's hash range.",
    tags=("sink", "datasource", "pipeline", "pruning"),
)
def manifest_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_bloom_q_")
    try:
        (
            _t(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderkey")
            .repartition(8, "o_custkey")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .option("bloom_columns", "o_custkey")
            .mode("append")
            .save()
        )
        man = MS.read_manifest_dict(out)
        kept, total = MS.prune_shards(man, prune_eq={"o_custkey": 371})
        if not (len(kept) <= total // 2):
            raise AssertionError(
                f"manifest_bloom_point_lookup: expected the bloom to skip "
                f"most shards, kept {len(kept)}/{total}"
            )
        rows = (
            MS.read_manifest(
                spark,
                out,
                schema="o_custkey long, o_orderkey long",
                prune_eq={"o_custkey": 371},
            )
            .filter(F.col("o_custkey") == 371)
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
                F.sum(
                    F.conv(
                        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 10),
                        16, 10,
                    ).cast("long")
                ).cast("long").alias("key_checksum"),
            )
            .collect()  # ONE summary row; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows, "n_orders long, sum_key long, key_checksum long"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_pushdown_pruned_scan",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(o_orderkey AS VARCHAR)), 1, 10)
                    AS BIGINT)) AS BIGINT) AS key_checksum
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 2499
        GROUP BY o_orderstatus
    """,
    doc="Predicate pushdown on the manifest DataSource reader (round-9 "
        "verdict item 4): the orders table lands range-clustered on "
        "o_orderkey into 8 content-addressed shards, and the read is a "
        "PLAIN spark.read.format('shard_manifest').option('pushdown',"
        "'true').load().filter(o_orderkey BETWEEN ...) — NO hand-built "
        "prune/prune_eq dicts. Catalyst hands the conjuncts to the "
        "reader's Spark-4.1 pushFilters hook "
        "(sources/manifest_sink.py:ManifestShardPushdownReader), which "
        "admits only the shards whose recorded min/max stats overlap "
        "the range and returns every filter for Spark to re-apply "
        "row-level (skipping is file-granular and conservative). The "
        "receipt is the scan's own task count — one task per admitted "
        "shard — and the query RAISES unless at least half the shards "
        "were skipped; the oracle restates the aggregates from the "
        "source table, so a hash match proves the pushed pruning lost "
        "no rows and read no wrong ones. The analog of handing SoQL "
        "$where to the paginated REST source (S1), now on the lake "
        "format: at 100 TB a user's WHERE clause prunes files without "
        "the user knowing the stats exist.",
    tags=("sink", "datasource", "pipeline", "layout", "pruning"),
)
def manifest_pushdown_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_pushdown_q_")
    prev_conf = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .repartitionByRange(8, "o_orderkey")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
        total = len(MS.read_manifest_dict(out)["shards"])
        scan = (
            spark.read.format(MS.FORMAT_NAME)
            .schema("o_orderkey long, o_orderstatus string")
            .option("path", out)
            .option("pushdown", "true")
            .load()
            .filter(F.col("o_orderkey").between(1000, 2499))
        )
        # the scan's task count IS the admitted-shard count (one task
        # per content-addressed shard; a fully-pruned scan keeps one
        # placeholder partition)
        kept = scan.rdd.getNumPartitions()
        if not (kept <= total // 2):
            raise AssertionError(
                "manifest_pushdown_pruned_scan: expected the pushed "
                f"filter to skip most shards, scan has {kept} tasks "
                f"over {total} shards"
            )
        rows = (
            scan.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
                F.sum(
                    F.conv(
                        F.substring(
                            F.md5(F.col("o_orderkey").cast("string")), 1, 10
                        ),
                        16, 10,
                    ).cast("long")
                ).cast("long").alias("key_checksum"),
            )
            .collect()  # O(statuses) rows; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows,
            "o_orderstatus string, n_orders long, sum_key long, "
            "key_checksum long",
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", prev_conf)
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_delete_where",
    oracle="""
        SELECT CAST(doc_id % 7 AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 10)
                    AS BIGINT)) AS BIGINT) AS content_checksum
        FROM documents
        WHERE doc_id % 10 = 4 AND NOT (doc_id BETWEEN 100 AND 199)
        GROUP BY bucket
    """,
    doc="Row-level DELETE WHERE on the manifest table (round 10): a "
        "documents slice lands range-clustered on doc_id into 8 "
        "content-addressed shards, then delete_where(doc_id BETWEEN "
        "100 AND 199, prune={doc_id: (100, 199)}) rewrites ONLY the "
        "shards whose recorded min/max admit the predicate — the query "
        "RAISES unless at least half the original shards were never "
        "touched (at 100 TB a selective delete rewrites a handful of "
        "files, not the table) — and publishes the survivors as ONE "
        "atomic copy-on-write commit (kind='delete', survivors "
        "data_change=false, survivor-count guard = touched minus "
        "matched exactly; concurrent-rewrite conflicts refuse to "
        "publish). The oracle restates the post-delete aggregates from "
        "the SOURCE with the deletion predicate negated, so a hash "
        "match proves the delete removed exactly the matching rows and "
        "no others. Time travel to the pre-delete version and "
        "append-only CDF (deletions not retracted) are pinned in "
        "test_manifest_history.py.",
    tags=("sink", "datasource", "pipeline", "dml"),
)
def manifest_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_delete_q_")
    try:
        docs = _t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 == 4
        ).select("doc_id", "text")
        (
            docs.repartitionByRange(8, "doc_id")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
        before = {s["file"] for s in MS.read_manifest_dict(out)["shards"]}
        man2, n_deleted = MS.delete_where(
            spark,
            out,
            "doc_id long, text string",
            F.col("doc_id").between(100, 199),
            prune={"doc_id": (100, 199)},
        )
        if n_deleted <= 0:
            raise AssertionError(
                "manifest_delete_where: expected matching rows to delete"
            )
        untouched = before & {s["file"] for s in man2["shards"]}
        if not (len(untouched) >= len(before) // 2):
            raise AssertionError(
                "manifest_delete_where: expected a SCOPED rewrite, but "
                f"only {len(untouched)}/{len(before)} shards survived "
                "untouched"
            )
        back = MS.read_manifest(spark, out, schema="doc_id long, text string")
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit("|"),
                        F.col("text"),
                    )
                ),
                1, 10,
            ),
            16, 10,
        ).cast("long")
        rows = (
            back.groupBy((F.col("doc_id") % 7).cast("long").alias("bucket"))
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).cast("long").alias("total_chars"),
                F.sum(h).cast("long").alias("content_checksum"),
            )
            .collect()  # O(buckets) rows; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows,
            "bucket long, n_docs long, total_chars long, "
            "content_checksum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_optimize_zorder",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(o_orderkey AS VARCHAR)), 1, 10)
                    AS BIGINT)) AS BIGINT) AS key_checksum
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
        GROUP BY o_orderstatus
    """,
    doc="OPTIMIZE ZORDER BY on the manifest format (round 10): orders "
        "land round-robin-scattered into 8 shards — every shard's "
        "o_orderkey AND o_custkey ranges cover the whole domain, so "
        "min/max stats prune NOTHING on either column (asserted) — "
        "then compact(zorder_by=[o_orderkey, o_custkey]) rewrites the "
        "live rows range-partitioned + sorted on the Morton key "
        "(io/layout.py:zorder_key, a pure codegen'd bit-interleave "
        "after one 1-row min/max pre-scan), one atomic "
        "data_change=false commit with the row-conservation guard. "
        "After the rewrite each shard covers a z-tile, and the query "
        "RAISES unless selective ranges on BOTH columns now skip at "
        "least half the shards. The returned aggregates run over a "
        "pruned read of the z-ordered table and hash-match the oracle "
        "over the source — clustering changed the layout, not one row. "
        "The Delta OPTIMIZE ZORDER story, re-derived on the "
        "from-scratch format.",
    tags=("sink", "datasource", "pipeline", "layout", "pruning"),
)
def manifest_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_zorder_q_")
    try:
        (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus")
            .repartition(8)  # round-robin: both key ranges fully overlap
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
        man = MS.read_manifest_dict(out)
        kept_pre, total = MS.prune_shards(man, {"o_orderkey": (1000, 2999)})
        if len(kept_pre) != total:
            raise AssertionError(
                "manifest_optimize_zorder: scattered landing should "
                "prune nothing before clustering"
            )
        man2 = MS.compact(
            spark,
            out,
            schema="o_orderkey long, o_custkey long, o_orderstatus string",
            target_shards=16,  # 4 top z-bits: 2 tile bits per dimension
            zorder_by=["o_orderkey", "o_custkey"],
        )
        n2 = len(man2["shards"])
        kept_key, _ = MS.prune_shards(man2, {"o_orderkey": (1000, 2999)})
        kept_cust, _ = MS.prune_shards(man2, {"o_custkey": (100, 199)})
        if not (len(kept_key) <= n2 // 2 and len(kept_cust) <= n2 // 2):
            raise AssertionError(
                "manifest_optimize_zorder: z-ordered stats must prune "
                f"BOTH dimensions, kept {len(kept_key)}/{n2} on "
                f"o_orderkey and {len(kept_cust)}/{n2} on o_custkey"
            )
        rows = (
            MS.read_manifest(
                spark,
                out,
                schema=(
                    "o_orderkey long, o_custkey long, o_orderstatus string"
                ),
                prune={"o_orderkey": (1000, 2999)},
            )
            .filter(F.col("o_orderkey").between(1000, 2999))
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
                F.sum(
                    F.conv(
                        F.substring(
                            F.md5(F.col("o_orderkey").cast("string")), 1, 10
                        ),
                        16, 10,
                    ).cast("long")
                ).cast("long").alias("key_checksum"),
            )
            .collect()  # O(statuses) rows; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows,
            "o_orderstatus string, n_orders long, sum_key long, "
            "key_checksum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_merge_into",
    oracle="""
        SELECT st AS o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(k) AS BIGINT) AS sum_key,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(k AS VARCHAR)), 1, 10)
                    AS BIGINT)) AS BIGINT) AS key_checksum
        FROM (
            SELECT o_orderkey AS k,
                   CASE WHEN o_orderkey BETWEEN 1000 AND 2999
                        THEN 'X' ELSE o_orderstatus END AS st
            FROM orders WHERE o_orderkey % 10 = 3
            UNION ALL
            SELECT * FROM (VALUES (-1, 'Z'), (-2, 'Z'), (-3, 'Z'))
                 AS v(k, st)
        ) GROUP BY st
    """,
    doc="MERGE INTO the manifest table (round 10): an orders slice "
        "lands range-clustered on o_orderkey into 8 shards, then a "
        "source batch of UPDATES (the slice's keys in [1000, 2999] "
        "with status rewritten to 'X') plus three INSERTS (keys -1/-2/"
        "-3) merges by key through merge_into() — matched rows "
        "replaced, unseen keys inserted, ONE atomic copy-on-write "
        "commit scoped to the shards whose stats admit the source key "
        "range (the query RAISES unless at least half the shards stay "
        "untouched). CDF semantics are exact and pinned in pytest: "
        "survivors ride data_change=false, the upserted batch lands "
        "data_change=true at this commit's seq, so a tailing reader "
        "receives exactly the merge delta. Both row classes are "
        "count-guarded and concurrent-rewrite conflicts refuse to "
        "publish. The oracle restates the merged state in pure SQL "
        "(CASE for updates, UNION ALL VALUES for inserts) over the "
        "source table — a hash match proves the upsert touched exactly "
        "the matching keys. The lakehouse half of J1/ST7: the "
        "reference's insert-on-conflict, as one atomic commit on the "
        "landing format itself.",
    tags=("sink", "datasource", "pipeline", "dml"),
)
def manifest_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_merge_q_")
    try:
        target = _t(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") % 10 == 3
        ).select("o_orderkey", "o_orderstatus")
        (
            target.repartitionByRange(8, "o_orderkey")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
        before = {s["file"] for s in MS.read_manifest_dict(out)["shards"]}
        updates = target.filter(
            F.col("o_orderkey").between(1000, 2999)
        ).withColumn("o_orderstatus", F.lit("X"))
        inserts = spark.createDataFrame(
            [(-1, "Z"), (-2, "Z"), (-3, "Z")],
            "o_orderkey long, o_orderstatus string",
        )
        man2, n_up, n_ins = MS.merge_into(
            spark,
            out,
            "o_orderkey long, o_orderstatus string",
            updates.unionByName(inserts),
            ["o_orderkey"],
        )
        if n_up <= 0 or n_ins != 3:
            raise AssertionError(
                f"manifest_merge_into: expected updates and 3 inserts, "
                f"got ({n_up}, {n_ins})"
            )
        untouched = before & {s["file"] for s in man2["shards"]}
        if not (len(untouched) >= len(before) // 2):
            raise AssertionError(
                "manifest_merge_into: expected a SCOPED rewrite, but "
                f"only {len(untouched)}/{len(before)} shards survived "
                "untouched"
            )
        rows = (
            MS.read_manifest(
                spark, out, schema="o_orderkey long, o_orderstatus string"
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
                F.sum(
                    F.conv(
                        F.substring(
                            F.md5(F.col("o_orderkey").cast("string")), 1, 10
                        ),
                        16, 10,
                    ).cast("long")
                ).cast("long").alias("key_checksum"),
            )
            .collect()  # O(statuses) rows; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows,
            "o_orderstatus string, n_orders long, sum_key long, "
            "key_checksum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_update_where",
    oracle="""
        SELECT CAST(doc_id % 7 AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(t)) AS BIGINT) AS total_chars,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(doc_id AS VARCHAR) || '|' || t), 1, 10)
                    AS BIGINT)) AS BIGINT) AS content_checksum
        FROM (
            SELECT doc_id,
                   CASE WHEN doc_id BETWEEN 100 AND 199
                        THEN upper(substring(text, 1, 40)) ELSE text
                   END AS t
            FROM documents WHERE doc_id % 10 = 6
        ) GROUP BY bucket
    """,
    doc="Row-level UPDATE WHERE ... SET on the manifest table (round "
        "11 — the third Delta DML verb, completing the triad with "
        "DELETE WHERE and MERGE INTO): a documents slice lands "
        "range-clustered on doc_id into 8 content-addressed shards, "
        "then update_where(doc_id BETWEEN 100 AND 199, SET text = "
        "upper(substring(text, 1, 40)), prune={doc_id: (100, 199)}) "
        "rewrites ONLY the shards whose recorded min/max admit the "
        "predicate (the query RAISES unless at least half the shards "
        "stay untouched — a selective UPDATE at 100 TB rewrites a "
        "handful of files), applies the SET expressions against the "
        "PRE-update rows, and publishes ONE atomic copy-on-write "
        "commit: survivors ride data_change=false, the updated rows' "
        "POST-images land as this commit's CDF delta, both row classes "
        "count-guarded (survivors = touched - matched, updated = "
        "matched exactly) and concurrent-rewrite conflicts refuse to "
        "publish (sources/manifest_sink.py:update_where). The oracle "
        "restates the post-update state from the SOURCE with a CASE "
        "expression, so a hash match proves the update touched exactly "
        "the matching rows, applied exactly the SET, and no others. "
        "Pre-update-row SET semantics, NULL-predicate survival, and "
        "conflict refusal are pinned in test_manifest_cdf.py.",
    tags=("sink", "datasource", "pipeline", "dml"),
)
def manifest_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_update_q_")
    try:
        docs = _t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 == 6
        ).select("doc_id", "text")
        (
            docs.repartitionByRange(8, "doc_id")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
        from ..sources.manifest_table import ManifestTable

        before = {s["file"] for s in MS.read_manifest_dict(out)["shards"]}
        # the round-12 facade: recorded schema, no schema= plumbing
        t = ManifestTable(spark, out)
        n_updated = t.update(
            F.col("doc_id").between(100, 199),
            {"text": F.upper(F.substring(F.col("text"), 1, 40))},
            prune={"doc_id": (100, 199)},
        )
        if n_updated <= 0:
            raise AssertionError(
                "manifest_update_where: expected matching rows to update"
            )
        untouched = before & {s["file"] for s in t.manifest()["shards"]}
        if not (len(untouched) >= len(before) // 2):
            raise AssertionError(
                "manifest_update_where: expected a SCOPED rewrite, but "
                f"only {len(untouched)}/{len(before)} shards survived "
                "untouched"
            )
        back = MS.read_manifest(spark, out, schema="doc_id long, text string")
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit("|"),
                        F.col("text"),
                    )
                ),
                1, 10,
            ),
            16, 10,
        ).cast("long")
        rows = (
            back.groupBy((F.col("doc_id") % 7).cast("long").alias("bucket"))
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).cast("long").alias("total_chars"),
                F.sum(h).cast("long").alias("content_checksum"),
            )
            .collect()  # O(buckets) rows; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows,
            "bucket long, n_docs long, total_chars long, "
            "content_checksum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_count_pushdown",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               CAST(min(o_custkey) AS BIGINT) AS min_cust,
               CAST(max(o_custkey) AS BIGINT) AS max_cust,
               min(o_orderpriority) AS min_prio,
               max(o_orderpriority) AS max_prio,
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS prio_nulls
        FROM orders WHERE o_orderkey % 10 = 7
    """,
    doc="METADATA-ONLY aggregates from the manifest action log (round "
        "11): an orders slice lands into 8 shards, then count(*), "
        "min/max over two numeric keys AND a short string column, "
        "plus its null count, are answered by table_stats() straight "
        "from the log's per-shard n_rows / min-max / nullCount — ZERO "
        "shard reads (the receipt is structural: the answer dataframe "
        "is built with spark.createDataFrame from driver-side "
        "metadata; no Spark job ever touches shards/). This is the "
        "Delta/Iceberg 'answer aggregates from file statistics' fast "
        "path on the from-scratch format. Exactness discipline: "
        "numeric/temporal stats and sub-32-char strings are exact "
        "values, so their min/max are reportable; LONG string stats "
        "are truncated prefix BOUNDS (round-11 stats_trunc_len), "
        "which table_stats OMITS rather than report a bound as a "
        "value (pinned in test_manifest_sink.py on a documents "
        "table). The oracle computes the same aggregates relationally "
        "in DuckDB, so a hash match proves the metadata path equals "
        "the scan path.",
    tags=("sink", "datasource", "pipeline", "pruning"),
)
def manifest_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_stats_agg_q_")
    try:
        (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == 7)
            .select("o_orderkey", "o_custkey", "o_orderpriority")
            .repartition(8)
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
        st = MS.table_stats(out)
        cols = st["columns"]
        missing = sorted(
            c for c in ("o_orderkey", "o_custkey", "o_orderpriority")
            if c not in cols
            or "min" not in cols[c]
            or "null_count" not in cols[c]
        )
        if missing:
            raise AssertionError(
                f"manifest_count_pushdown: table_stats could not answer "
                f"exactly for {missing}"
            )
        row = (
            int(st["n_rows"]),
            int(cols["o_orderkey"]["min"]),
            int(cols["o_orderkey"]["max"]),
            int(cols["o_custkey"]["min"]),
            int(cols["o_custkey"]["max"]),
            str(cols["o_orderpriority"]["min"]),
            str(cols["o_orderpriority"]["max"]),
            int(cols["o_orderpriority"]["null_count"]),
        )
        return spark.createDataFrame(
            [row],
            "n_rows long, min_key long, max_key long, "
            "min_cust long, max_cust long, min_prio string, "
            "max_prio string, prio_nulls long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_recorded_schema_read",
    oracle="""
        SELECT pri,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(k) AS BIGINT) AS sum_key,
               strftime(min(od), '%Y-%m-%d') AS min_date,
               strftime(max(od), '%Y-%m-%d') AS max_date
        FROM (
            SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS od,
                   NULL AS pri
            FROM orders WHERE o_orderkey % 10 = 1
            UNION ALL
            SELECT o_orderkey, CAST(o_orderdate AS DATE),
                   o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 2
        ) GROUP BY pri
    """,
    doc="Recorded table schema + evolution on the manifest format "
        "(round 11 — the Delta metaData action shape): slice A lands "
        "typed (o_orderkey long, od DATE) and stamps the log with its "
        "schema; slice B appends under a WIDER schema (+pri string), "
        "which restamps (latest wins, O(delta): unchanged schemas "
        "cost later action files nothing). The table is then read "
        "back with spark.read.format('shard_manifest').load() and NO "
        ".schema() call — the DataSource resolves the RECORDED schema "
        "from the log, so the scan is exactly typed with no inference "
        "pass (the query RAISES unless the resolved schema is the "
        "3-column evolved one with od typed DATE, and unless "
        "table_schema(version=1) still shows the 2-column schema "
        "slice A was written under — per-version schema fidelity). "
        "Old rows surface the added column as NULL (asserted via the "
        "NULL group). The oracle restates the union relationally; "
        "dates are emitted as yyyy-MM-dd strings on both sides "
        "(pandas DATE-dtype divergence). The no-schema path for "
        "read_manifest/table_changes/DML defaults is pinned in "
        "test_manifest_sink.py.",
    tags=("sink", "datasource", "pipeline", "schema"),
)
def manifest_recorded_schema_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_schema_q_")
    try:
        orders = _t(spark, sf_dir, "orders")
        a = orders.filter(F.col("o_orderkey") % 10 == 1).select(
            F.col("o_orderkey"),
            F.col("o_orderdate").cast("date").alias("od"),
        )
        a.repartition(2).write.format(MS.FORMAT_NAME) \
            .option("path", out).mode("append").save()
        b = orders.filter(F.col("o_orderkey") % 10 == 2).select(
            F.col("o_orderkey"),
            F.col("o_orderdate").cast("date").alias("od"),
            F.col("o_orderpriority").alias("pri"),
        )
        b.repartition(2).write.format(MS.FORMAT_NAME) \
            .option("path", out).mode("append").save()
        got = spark.read.format(MS.FORMAT_NAME).option("path", out).load()
        names = [f.name for f in got.schema.fields]
        if names != ["o_orderkey", "od", "pri"] or (
            got.schema["od"].dataType.typeName() != "date"
        ):
            raise AssertionError(
                "manifest_recorded_schema_read: expected the evolved "
                f"3-column schema with od typed DATE, got {got.schema}"
            )
        v1 = MS.table_schema(out, version=1)
        if [f.name for f in v1.fields] != ["o_orderkey", "od"]:
            raise AssertionError(
                "manifest_recorded_schema_read: version 1 must keep "
                "the 2-column schema it was written under"
            )
        rows = (
            got.groupBy("pri")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
                F.date_format(F.min("od"), "yyyy-MM-dd").alias("min_date"),
                F.date_format(F.max("od"), "yyyy-MM-dd").alias("max_date"),
            )
            .collect()  # O(priorities) rows; the temp lake dies below
        )
        return spark.createDataFrame(
            rows,
            "pri string, n_orders long, sum_key long, "
            "min_date string, max_date string",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_optimize_small_files",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
               CAST(sum(CAST('0x' || substring(
                    md5(CAST(o_orderkey AS VARCHAR)), 1, 10)
                    AS BIGINT)) AS BIGINT) AS key_checksum
        FROM orders
        WHERE o_orderkey % 10 IN (5, 9)
        GROUP BY o_orderstatus
    """,
    doc="Small-file OPTIMIZE on the manifest format (round 11 — the "
        "Delta OPTIMIZE shape that matters at 100 TB): one well-sized "
        "shard lands first, then 8 small epoch-ish appends accrete a "
        "tiny-shard tail (the streaming-sink pathology). "
        "compact_small(min_rows=500, target_shards=2) bin-packs ONLY "
        "the 8 qualifying shards into 2 — the query RAISES unless the "
        "big shard survives byte-untouched (same content-addressed "
        "file) and the live set shrinks to exactly big+2 — published "
        "as ONE atomic data_change=false commit with exact row "
        "conservation over the touched subset (a tailing reader "
        "receives nothing; pinned via an empty table_changes delta in "
        "pytest). The rewrite cost scales with the small-file TAIL, "
        "never the table — a full-table compact() at 100 TB is "
        "prohibitive, and this is the operation a real lakehouse runs "
        "nightly. The oracle restates the union of all landed slices "
        "relationally; a hash match proves bin-packing moved bytes, "
        "not rows (sources/manifest_sink.py:compact_small).",
    tags=("sink", "datasource", "pipeline", "layout"),
)
def manifest_optimize_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_smallopt_q_")
    try:
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        )
        (
            orders.filter(F.col("o_orderkey") % 10 == 9)
            .repartition(1)
            .write.format(MS.FORMAT_NAME).option("path", out)
            .mode("append").save()
        )
        # the small-file tail: 8 tiny appends that PARTITION the
        # %10==5 rows by ((key-5)/10) % 8 — each ~1/80 of the table at
        # ANY scale factor (vs the big shard's 1/10), so the min_rows
        # threshold below separates them at every SF
        for k in range(8):
            (
                orders.filter(
                    (F.col("o_orderkey") % 10 == 5)
                    & (
                        F.pmod(
                            ((F.col("o_orderkey") - 5) / 10).cast("long"),
                            F.lit(8),
                        )
                        == k
                    )
                )
                .repartition(1)
                .write.format(MS.FORMAT_NAME).option("path", out)
                .mode("append").save()
            )
        man = MS.read_manifest_dict(out)
        n_big = max(s["n_rows"] for s in man["shards"])
        big_file = max(man["shards"], key=lambda s: s["n_rows"])["file"]
        man2, n_comp = MS.compact_small(
            spark, out, min_rows=n_big, target_shards=2
        )
        files2 = {s["file"] for s in man2["shards"]}
        if not (
            n_comp == 8 and big_file in files2 and len(files2) == 3
            and man2["n_rows"] == man["n_rows"]
        ):
            raise AssertionError(
                "manifest_optimize_small_files: expected 8 small shards "
                f"binned to 2 beside the untouched big one, got "
                f"{n_comp} compacted / {len(files2)} live / "
                f"{man2['n_rows']} vs {man['n_rows']} rows"
            )
        rows = (
            MS.read_manifest(spark, out)  # recorded schema drives types
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
                F.sum(
                    F.conv(
                        F.substring(
                            F.md5(F.col("o_orderkey").cast("string")), 1, 10
                        ),
                        16, 10,
                    ).cast("long")
                ).cast("long").alias("key_checksum"),
            )
            .collect()  # O(statuses) rows; the temp lake dies below
        )
        return spark.createDataFrame(
            rows,
            "o_orderstatus string, n_orders long, sum_key long, "
            "key_checksum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_txn_timestamp_travel",
    oracle="""
        SELECT 'asof_v1' AS snap,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        FROM orders WHERE o_orderkey % 10 = 8
        UNION ALL
        SELECT 'final',
               CAST(count(*) AS BIGINT),
               CAST(sum(o_orderkey) AS BIGINT)
        FROM orders WHERE o_orderkey % 10 IN (4, 8)
    """,
    doc="Idempotent writer transactions + TIMESTAMP AS OF on the "
        "manifest format (round 11 — Delta's setTransaction and "
        "inCommitTimestamp shapes): slice A lands under txn "
        "(loader, 1); a REPLAY with the same (app, version) but "
        "DIFFERENT content — the recomputed-batch case that "
        "content-addressing cannot catch — must publish NOTHING (the "
        "query RAISES if commit_seq moved); slice B then lands under "
        "txn (loader, 2). Time travel by wall time: the query resolves "
        "version_at_timestamp(midpoint between the two commits' "
        "in-log timestamps) and RAISES unless it names commit 1, then "
        "reads read_manifest(timestamp=midpoint) — the pre-B snapshot "
        "— and the final table, returning both aggregates tagged "
        "'asof_v1'/'final'. The oracle restates both snapshots "
        "relationally (A alone; A union B), so a hash match proves "
        "the replay deduped exactly and the timestamp resolved to the "
        "right version (sources/manifest_sink.py:version_at_timestamp, "
        "txn ledger in _apply_action).",
    tags=("sink", "datasource", "pipeline", "txn"),
)
def manifest_txn_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_txn_q_")
    try:
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        )
        a = orders.filter(F.col("o_orderkey") % 10 == 8)
        b = orders.filter(F.col("o_orderkey") % 10 == 4)

        def land(df, ver):
            (
                df.repartition(2).write.format(MS.FORMAT_NAME)
                .option("path", out)
                .option("txn_app", "loader")
                .option("txn_version", str(ver))
                .mode("append").save()
            )

        land(a, 1)                                   # v1
        seq1 = MS.read_manifest_dict(out)["commit_seq"]
        land(b, 1)                                   # REPLAY: must no-op
        if MS.read_manifest_dict(out)["commit_seq"] != seq1:
            raise AssertionError(
                "manifest_txn_timestamp_travel: a replayed txn version "
                "must publish nothing"
            )
        land(b, 2)                                   # v2: new version lands
        hist = MS.describe_history(out)
        ts1, ts2 = hist[0]["ts"], hist[-1]["ts"]
        # in-commit timestamps are clamped strictly increasing at the
        # writer (round-12: the Delta inCommitTimestamp monotonicity
        # contract), so the midpoint always falls strictly between the
        # two commits and resolves to the pre-B snapshot
        if not ts2 > ts1:
            raise AssertionError(
                "manifest_txn_timestamp_travel: commit timestamps must "
                f"be strictly increasing (got {ts1} then {ts2})"
            )
        mid = (ts1 + ts2) / 2
        if MS.version_at_timestamp(out, mid) != seq1:
            raise AssertionError(
                "manifest_txn_timestamp_travel: the midpoint timestamp "
                "must resolve to the pre-B commit"
            )

        def agg(df, tag):
            return df.agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
            ).select(F.lit(tag).alias("snap"), "n_orders", "sum_key")

        asof = MS.read_manifest(spark, out, timestamp=mid)
        final = MS.read_manifest(spark, out)
        rows = (
            agg(asof, "asof_v1").unionByName(agg(final, "final")).collect()
        )
        return spark.createDataFrame(
            rows, "snap string, n_orders long, sum_key long"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_cdf_change_types",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderstatus AS s
            FROM orders WHERE o_orderkey % 10 = 2
        )
        SELECT * FROM (
            SELECT CAST(1 AS BIGINT) AS commit_version,
                   'insert' AS change_type,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(k) AS BIGINT) AS sum_key,
                   CAST(sum(ascii(s)) AS BIGINT) AS status_sum
            FROM base
            UNION ALL
            SELECT 2, 'update_preimage', CAST(count(*) AS BIGINT),
                   CAST(sum(k) AS BIGINT), CAST(sum(ascii(s)) AS BIGINT)
            FROM base WHERE k % 100 < 20
            UNION ALL
            SELECT 2, 'update_postimage', CAST(count(*) AS BIGINT),
                   CAST(sum(k) AS BIGINT),
                   CAST(count(*) * ascii('U') AS BIGINT)
            FROM base WHERE k % 100 < 20
            UNION ALL
            SELECT 3, 'delete', CAST(count(*) AS BIGINT),
                   CAST(sum(k) AS BIGINT), CAST(sum(ascii(s)) AS BIGINT)
            FROM base WHERE k % 100 >= 80
            UNION ALL
            SELECT 4, 'update_preimage', CAST(count(*) AS BIGINT),
                   CAST(sum(k) AS BIGINT), CAST(sum(ascii(s)) AS BIGINT)
            FROM base WHERE k % 100 BETWEEN 40 AND 44
            UNION ALL
            SELECT 4, 'update_postimage', CAST(count(*) AS BIGINT),
                   CAST(sum(k) AS BIGINT),
                   CAST(count(*) * ascii('M') AS BIGINT)
            FROM base WHERE k % 100 BETWEEN 40 AND 44
            UNION ALL
            SELECT 4, 'insert', CAST(count(*) AS BIGINT),
                   CAST(sum(k + 1) AS BIGINT),
                   CAST(count(*) * ascii('M') AS BIGINT)
            FROM base WHERE k % 100 BETWEEN 40 AND 44
        )
        WHERE n_rows > 0
        ORDER BY commit_version, change_type
    """,
    doc="COMPLETE change data feed on the manifest format (round 12 — "
        "the Delta CDF _change_type quartet): an orders slice lands "
        "(v1), UPDATE WHERE rewrites a key band (v2), DELETE WHERE "
        "removes another (v3), and a MERGE both updates matched keys "
        "and inserts unseen ones (v4). table_changes(with_change_type"
        "=True) then delivers every class: plain adds as 'insert', "
        "UPDATE/MERGE-matched rows as 'update_postimage' (the new "
        "data shards, class-tagged in the log) PLUS their "
        "'update_preimage' pre-images and DELETE's removed rows as "
        "'delete' — both materialized by the DML verbs as CDF-ONLY "
        "shards (the action's cdf_add; Delta's _change_data "
        "directory) that snapshot reads never see and vacuum protects "
        "while the action is retained. The query aggregates the feed "
        "per (commit_version, change_type); the oracle restates every "
        "class relationally from the SOURCE table (disjoint key "
        "bands, so pre-images are original rows by construction) — a "
        "hash match proves the feed is exact, which is precisely the "
        "property that lets a downstream replica apply DML verbatim "
        "(pinned end-to-end by test_cdf_replica_reconverges). "
        "Delta parity: sources/manifest_sink.py:table_changes, "
        "_log_adds(include_cdf), _commit_replace(cdf_only).",
    tags=("sink", "datasource", "pipeline", "cdf"),
)
def manifest_cdf_change_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_cdf_q_")
    sch = "k long, s string"
    try:
        base = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == 2)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("s"),
            )
        )
        (
            base.repartitionByRange(8, "k")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )                                                          # v1
        MS.update_where(spark, out, sch, "k % 100 < 20", {"s": "'U'"})  # v2
        MS.delete_where(spark, out, sch, "k % 100 >= 80")          # v3
        matched = base.filter(
            (F.col("k") % 100).between(40, 44)
        ).select("k", F.lit("M").alias("s"))
        inserts = matched.select(
            (F.col("k") + 1).alias("k"), F.col("s")
        )
        MS.merge_into(
            spark, out, sch, matched.unionByName(inserts), ["k"]
        )                                                          # v4
        ch = MS.table_changes(
            spark, out, sch, 0, with_version=True, with_change_type=True
        )
        rows = (
            ch.groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("k").cast("long").alias("sum_key"),
                F.sum(F.ascii("s")).cast("long").alias("status_sum"),
            )
            .orderBy("commit_version", "change_type")
            .collect()  # O(versions x classes) rows; temp dir dies below
        )
        return spark.createDataFrame(
            rows,
            "commit_version long, change_type string, n_rows long, "
            "sum_key long, status_sum long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_parquet_codec_pipeline",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s
            FROM orders WHERE o_orderkey % 10 = 4
        ), final AS (
            SELECT k, c,
                   CASE WHEN k % 100 < 10 THEN 'Z' ELSE s END AS s
            FROM base WHERE k % 100 < 90
        )
        SELECT s AS status,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(k) AS BIGINT) AS sum_key,
               CAST(sum(c) AS BIGINT) AS sum_cust
        FROM final GROUP BY s ORDER BY s
    """,
    doc="The COLUMNAR shard codec end-to-end under the oracle gate "
        "(round 12): an orders slice lands with shard_format=parquet "
        "(content address = md5 of the deterministic parquet bytes; "
        "the log records codec=parquet and stamps min_reader 3), "
        "UPDATE WHERE rewrites a band and DELETE WHERE removes one - "
        "both DML rewrites INHERIT the recorded codec with no option "
        "- then OPTIMIZE bin-packs the table and the final state is "
        "aggregated through read_manifest, which routes parquet "
        "shards to Spark's NATIVE parquet source (columnar vectorized "
        "decode; column pruning reaches inside the shard - the "
        "structural 100-TB win over the row-oriented JSON codec, "
        "measured x8.0 write / x1.78 selective-scan in PERF.md). The "
        "query RAISES unless every live shard is .parquet after the "
        "full verb sequence. The oracle restates the final state "
        "relationally from the source table. Codec parity is pinned "
        "separately: per-shard stats/bloom/null metadata is "
        "byte-identical across codecs (test_manifest_parquet.py), so "
        "pruning and DML scoping are codec-blind "
        "(sources/manifest_sink.py:ManifestParquetShardWriter).",
    tags=("sink", "datasource", "pipeline", "parquet"),
)
def manifest_parquet_codec_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS
    from ..sources.manifest_table import ManifestTable

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_pqc_q_")
    try:
        base = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == 4)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_custkey").alias("c"),
                F.col("o_orderstatus").alias("s"),
            )
        )
        (
            base.repartitionByRange(8, "k")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .option("shard_format", "parquet")
            .mode("append")
            .save()
        )
        t = ManifestTable(spark, out)
        if t.codec() != "parquet":
            raise AssertionError(
                "manifest_parquet_codec_pipeline: log must record "
                "codec=parquet"
            )
        t.update("k % 100 < 10", {"s": "'Z'"})      # inherits parquet
        t.delete("k % 100 >= 90")                   # inherits parquet
        t.optimize_small(min_rows=10**9, target_shards=4)
        man = t.manifest()
        if not all(s["file"].endswith(".parquet") for s in man["shards"]):
            raise AssertionError(
                "manifest_parquet_codec_pipeline: every DML/OPTIMIZE "
                "rewrite must stay in the recorded parquet codec"
            )
        rows = (
            t.to_df()
            .groupBy(F.col("s").alias("status"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("k").cast("long").alias("sum_key"),
                F.sum("c").cast("long").alias("sum_cust"),
            )
            .orderBy("status")
            .collect()  # O(statuses) rows; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows, "status string, n_rows long, sum_key long, sum_cust long"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_check_constraints",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                       AS price
            FROM orders WHERE o_orderkey % 10 = 6
        ), final AS (
            SELECT k,
                   CASE WHEN k % 100 < 10 THEN price + 1000.0
                        ELSE price END AS price
            FROM base
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(k) AS BIGINT) AS sum_key,
               CAST(round(sum(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS sum_price
        FROM final
    """,
    doc="Recorded CHECK constraints on the manifest format (round 12 "
        "— the Delta ALTER TABLE ADD CONSTRAINT shape): an orders "
        "slice lands via the ManifestTable facade's ENFORCED append, "
        "then price_positive (price > 0) and key_band (k % 10 = 6) "
        "are recorded in the log as a metadata-only commit — adding "
        "one validates EXISTING rows first (a violating "
        "add_constraint raises; asserted in-query). Enforcement is "
        "SQL CHECK (violation iff the predicate is FALSE; NULL "
        "passes), judged in ONE agg pass at every enforced write "
        "path: a negative-price UPDATE and an out-of-band MERGE "
        "source are both REFUSED atomically (asserted: version and "
        "rows unchanged), then a compliant UPDATE (+1000 on a key "
        "band) publishes. The oracle restates the surviving state "
        "relationally — a hash match proves refused DML left no "
        "trace and enforced DML applied exactly "
        "(sources/manifest_sink.py:set_constraints, "
        "_enforce_constraints; manifest_table.py facade verbs).",
    tags=("sink", "datasource", "pipeline", "constraints"),
)
def manifest_check_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS
    from ..sources.manifest_table import ManifestTable

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_cons_q_")
    try:
        base = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == 6)
            .select(
                F.col("o_orderkey").alias("k"),
                dec2("o_totalprice").cast("double").alias("price"),
            )
        )
        t = ManifestTable(spark, out)
        t.append(base.repartitionByRange(4, "k"))
        t.add_constraint("price_positive", "price > 0")
        t.add_constraint("key_band", "k % 10 = 6")
        v0, n0 = t.version(), t.count()

        def must_refuse(tag, fn):
            try:
                fn()
            except ValueError:
                pass
            else:
                raise AssertionError(
                    f"manifest_check_constraints: {tag} must be refused"
                )
            if t.version() != v0 or t.count() != n0:
                raise AssertionError(
                    f"manifest_check_constraints: refused {tag} must "
                    "leave the table untouched"
                )

        must_refuse(
            "violating add_constraint",
            lambda: t.add_constraint("impossible", "price > 1e12"),
        )
        must_refuse(
            "negative-price UPDATE",
            lambda: t.update("k % 100 < 10", {"price": "-price"}),
        )
        must_refuse(
            "out-of-band MERGE",
            lambda: t.merge(
                spark.createDataFrame(
                    [(7, 10.0)], "k long, price double"
                ),
                ["k"],
            ),
        )
        n_upd = t.update("k % 100 < 10", {"price": "price + 1000.0"})
        if n_upd <= 0:
            raise AssertionError(
                "manifest_check_constraints: the compliant UPDATE "
                "must match rows"
            )
        rows = (
            t.to_df()
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("k").cast("long").alias("sum_key"),
                F.round(F.sum(dec2("price")), 2)
                .cast("double")
                .alias("sum_price"),
            )
            .collect()  # 1 row; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows, "n_rows long, sum_key long, sum_price double"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_deletion_vectors",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_custkey AS c
            FROM orders WHERE o_orderkey % 10 = 8
        ), final AS (
            SELECT k, c FROM base
            WHERE k % 100 NOT IN (8, 18) AND k % 1000 <> 28
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(k) AS BIGINT) AS sum_key,
               CAST(sum(c) AS BIGINT) AS sum_cust
        FROM final
    """,
    doc="Deletion vectors on the manifest format (round 12 — the "
        "Delta DV shape): an orders slice lands as parquet shards, "
        "then TWO narrow deletes run with mode='dv' — no shard is "
        "rewritten (asserted: the live shard set is unchanged and "
        "every entry gains/extends a dv reference); matched (shard, "
        "row_index) pairs land as content-addressed position files "
        "under dv/ and ONE metadata commit marks the shards, so a "
        "narrow delete costs O(matched rows) never O(shard) — the "
        "100-TB argument. The second delete UNIONS into the first's "
        "vectors (replacement-is-union lineage, concurrent advances "
        "refused); a third delete re-matching already-deleted rows "
        "matches ZERO (reads apply vectors, asserted). A final "
        "mode='rewrite' delete on a narrower band then MATERIALIZES "
        "through the vectors (copy-on-write survivors computed from "
        "live rows, vector cleared with the replaced shard). The "
        "oracle restates the surviving rows relationally; a hash "
        "match proves all three read/DML paths applied the vectors "
        "exactly (sources/manifest_sink.py:_delete_where_dv, "
        "_spark_read_shard_entries, _apply_dv; protocol 4).",
    tags=("sink", "datasource", "pipeline", "dv"),
)
def manifest_deletion_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS
    from ..sources.manifest_table import ManifestTable

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_dv_q_")
    try:
        base = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == 8)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_custkey").alias("c"),
            )
        )
        (
            base.repartitionByRange(8, "k")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .option("shard_format", "parquet")
            .mode("append")
            .save()
        )
        t = ManifestTable(spark, out)
        shards_v1 = {s["file"] for s in t.manifest()["shards"]}
        n1 = t.delete("k % 100 = 8", mode="dv")
        n2 = t.delete("k % 100 = 18", mode="dv")
        man = t.manifest()
        if {s["file"] for s in man["shards"]} != shards_v1:
            raise AssertionError(
                "manifest_deletion_vectors: a dv delete must not "
                "rewrite any shard"
            )
        if n1 <= 0 or n2 <= 0 or not any(
            s.get("dv") for s in man["shards"]
        ):
            raise AssertionError(
                "manifest_deletion_vectors: vectors must be recorded"
            )
        # already-deleted rows can never match again
        if t.delete("k % 100 = 8", mode="dv") != 0:
            raise AssertionError(
                "manifest_deletion_vectors: re-delete must match zero"
            )
        # a copy-on-write delete MATERIALIZES through the vectors
        t.delete("k % 1000 = 28", mode="rewrite")
        rows = (
            t.to_df()
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("k").cast("long").alias("sum_key"),
                F.sum("c").cast("long").alias("sum_cust"),
            )
            .collect()  # 1 row; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows, "n_rows long, sum_key long, sum_cust long"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_alter_add_columns",
    oracle="""
        WITH old AS (
            SELECT o_orderkey AS k, o_custkey AS c
            FROM orders WHERE o_orderkey % 20 = 2
        ), new AS (
            SELECT o_orderkey AS k, o_custkey AS c
            FROM orders WHERE o_orderkey % 20 = 12
        )
        SELECT 'pre_evolution' AS cohort,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(k) AS BIGINT) AS sum_key,
               CAST(sum(c) AS BIGINT) AS sum_cust
        FROM old
        UNION ALL
        SELECT 'post_evolution',
               CAST(count(*) AS BIGINT),
               CAST(sum(k) AS BIGINT),
               CAST(sum(c) AS BIGINT)
        FROM new
        ORDER BY cohort
    """,
    doc="ALTER TABLE ADD COLUMNS on the manifest format (round 12): "
        "an orders slice lands, then add_columns('batch_tag string') "
        "widens the RECORDED schema as ONE metadata commit — the "
        "query RAISES if any shard file changed. Pre-evolution rows "
        "read the new column as NULL (both codecs' missing-field "
        "decode); a second slice then lands WITH the column "
        "populated. The result groups by tag-nullness — exactly the "
        "pre/post cohorts — and the oracle restates both slices "
        "relationally; a hash match proves the widening touched no "
        "data and the evolved schema governs both the native and "
        "DataSource reads. Narrowing/retyping evolutions are refused "
        "(pinned in tests). Per-version schemas survive: time travel "
        "to v1 still resolves the pre-evolution schema "
        "(sources/manifest_sink.py:evolve_schema, "
        "manifest_table.py:add_columns).",
    tags=("sink", "datasource", "pipeline", "schema"),
)
def manifest_alter_add_columns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS
    from ..sources.manifest_table import ManifestTable

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_alter_q_")
    try:
        orders = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_custkey").alias("c"),
        )
        old = orders.filter(F.col("k") % 20 == 2)
        (
            old.repartitionByRange(4, "k")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
        t = ManifestTable(spark, out)
        before = {s["file"] for s in t.manifest()["shards"]}
        t.add_columns("batch_tag string")
        if {s["file"] for s in t.manifest()["shards"]} != before:
            raise AssertionError(
                "manifest_alter_add_columns: the widening must not "
                "touch any shard"
            )
        new = orders.filter(F.col("k") % 20 == 12).withColumn(
            "batch_tag", F.lit("b2")
        )
        t.append(new.repartitionByRange(4, "k"))
        rows = (
            t.to_df()
            .groupBy(
                F.when(F.col("batch_tag").isNull(), "pre_evolution")
                .otherwise("post_evolution")
                .alias("cohort")
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("k").cast("long").alias("sum_key"),
                F.sum("c").cast("long").alias("sum_cust"),
            )
            .orderBy("cohort")
            .collect()  # 2 rows; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows,
            "cohort string, n_rows long, sum_key long, sum_cust long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "manifest_dv_update_merge",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_custkey AS c
            FROM orders WHERE o_orderkey % 10 = 0
        ), upd AS (
            SELECT k, CASE WHEN k % 100 = 20 THEN c + 1000000 ELSE c
                   END AS c
            FROM base
        ), merged AS (
            SELECT k, CASE WHEN k % 100 = 40 THEN -1 ELSE c END AS c
            FROM upd
            UNION ALL
            SELECT k + 5, CAST(-2 AS BIGINT)
            FROM base WHERE k % 100 = 60
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(k) AS BIGINT) AS sum_key,
               CAST(sum(c) AS BIGINT) AS sum_cust
        FROM merged
    """,
    doc="Deletion-vector UPDATE and MERGE (round 12 wave 2 — the "
        "Delta DV-DML shape): an orders slice lands as parquet, then "
        "UPDATE WHERE mode='dv' rewrites a key band and MERGE "
        "mode='dv' both updates matched keys and inserts unseen ones "
        "— in BOTH verbs the matched target rows are vectored OUT of "
        "their shards and only the post-images/source append as new "
        "shards: the query RAISES unless every original shard is "
        "still live afterwards (no survivor rewrite — cost O(matched "
        "+ new rows), never O(touched shard bytes)). SET semantics "
        "(pre-update row), the duplicate-target guard, constraint "
        "enforcement, and the CDF quartet are identical to the "
        "rewrite mode (pinned in tests); the oracle restates the "
        "final state relationally, so a hash match proves the "
        "vectored reads, the post-image appends, and the insert path "
        "all compose exactly "
        "(sources/manifest_sink.py:_update_where_dv, _merge_into_dv).",
    tags=("sink", "datasource", "pipeline", "dv"),
)
def manifest_dv_update_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..sources import manifest_sink as MS
    from ..sources.manifest_table import ManifestTable

    MS.register(spark)
    out = tempfile.mkdtemp(prefix="manifest_dvum_q_")
    try:
        base = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == 0)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_custkey").alias("c"),
            )
        )
        (
            base.repartitionByRange(8, "k")
            .write.format(MS.FORMAT_NAME)
            .option("path", out)
            .option("shard_format", "parquet")
            .mode("append")
            .save()
        )
        t = ManifestTable(spark, out)
        originals = {s["file"] for s in t.manifest()["shards"]}
        n_upd = t.update(
            "k % 100 = 20", {"c": "c + 1000000"}, mode="dv"
        )
        matched = base.filter(F.col("k") % 100 == 40).select(
            "k", F.lit(-1).cast("long").alias("c")
        )
        inserts = base.filter(F.col("k") % 100 == 60).select(
            (F.col("k") + 5).alias("k"),
            F.lit(-2).cast("long").alias("c"),
        )
        n_m_upd, n_m_ins = t.merge(
            matched.unionByName(inserts), ["k"], mode="dv"
        )
        if n_upd <= 0 or n_m_upd <= 0 or n_m_ins <= 0:
            raise AssertionError(
                "manifest_dv_update_merge: every dv verb must match"
            )
        if not originals <= {s["file"] for s in t.manifest()["shards"]}:
            raise AssertionError(
                "manifest_dv_update_merge: dv DML must never rewrite "
                "an original shard"
            )
        rows = (
            t.to_df()
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("k").cast("long").alias("sum_key"),
                F.sum("c").cast("long").alias("sum_cust"),
            )
            .collect()  # 1 row; the temp lake dir dies below
        )
        return spark.createDataFrame(
            rows, "n_rows long, sum_key long, sum_cust long"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
