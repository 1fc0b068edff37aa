"""Structured Streaming queries for the driver inventory (SURVEY.md
§2.8). Each runs a real ``readStream`` pipeline to completion with
``trigger(availableNow=True)`` into a memory sink and returns the
result as a batch DataFrame.

``streaming_tumbling_finalized`` is oracle-checked: in append mode the
engine emits exactly the windows the final watermark has finalized
(window_end <= max event time − delay), which ANSI SQL can state. The
stateful sessionizer is engine-custom state-machine logic (the
genuinely non-SQL-expressible op) → rows-only check.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..localrel import local_df
from ..operators import textstats as TS
from ..schemas import TESTDATA_SCHEMAS
from ..streaming import sessionize_stateful, windowed_event_counts
from .core import _t
from .registry import register


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the nanos→micros
    conversion the batch reader applies (TESTDATA stores ts as
    TIMESTAMP(NANOS), unreadable as TimestampType directly)."""
    from ..io.readers import _ns_long_fields

    schema = TESTDATA_SCHEMAS["events"]
    path = os.path.join(sf_dir, "events.parquet")
    ns_fields = _ns_long_fields(schema, path)
    read_schema = T.StructType([
        T.StructField(
            f.name,
            T.LongType() if f.name in ns_fields else f.dataType,
            f.nullable,
        )
        for f in schema.fields
    ])
    df = (
        spark.readStream.schema(read_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    for col in ns_fields:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df.select(*[f.name for f in schema.fields])


def _run_to_table(
    stream: DataFrame, prefix: str, expect_single_batch: bool = False
) -> DataFrame:
    """Run ``stream`` to completion (availableNow) into a memory sink.

    ``expect_single_batch=True`` makes a query's single-micro-batch
    assumption STRUCTURAL: some oracles (notably SELECT DISTINCT for
    ``dropDuplicatesWithinWatermark``) are only valid when all input
    arrives in one micro-batch — the operator re-emits a key whose
    duplicates arrive > watermark-delay apart across batches. Asserting
    it here means a future multi-file fixture or maxFilesPerTrigger
    change fails loudly instead of hash-mismatching."""
    import shutil

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if expect_single_batch:
        nonempty = [p for p in q.recentProgress if p.numInputRows > 0]
        if len(nonempty) != 1:
            raise AssertionError(
                f"{prefix}: oracle assumes ONE input micro-batch, the run "
                f"produced {len(nonempty)} non-empty batches — the fixture "
                "or trigger configuration changed; re-derive the oracle"
            )
    # the memory-sink table holds the results; the checkpoint is
    # one-shot scratch — don't leak a dir per invocation
    shutil.rmtree(ckpt, ignore_errors=True)
    return stream.sparkSession.table(name)


@register(
    "streaming_tumbling_finalized",
    oracle="""
        WITH wm AS (
            SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '2 hours' AS w
            FROM events
        )
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
               event_type,
               count(*) AS n_events
        FROM events, wm
        GROUP BY 1, 2, 3, wm.w
        HAVING window_end <= wm.w
    """,
    doc="Structured Streaming tumbling windows, append mode + 2h watermark: "
        "emitted set == windows finalized by the final watermark (ST10; real "
        "readStream run, availableNow).",
    tags=("streaming", "window-time"),
)
def streaming_tumbling_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = windowed_event_counts(
        _stream_events(spark, sf_dir), window="1 hour", watermark="2 hours"
    )
    return _run_to_table(stream, "stream_tumbling")


@register(
    "streaming_stateful_sessions",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL '30 minutes'
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), sessions AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM marked
        ), agg AS (
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM sessions GROUP BY user_id, session_id
        ), last_seen AS (
            SELECT user_id, max(ts) AS user_max FROM events GROUP BY user_id
        )
        SELECT a.user_id, a.session_start, a.session_end, a.n_events
        FROM agg a JOIN last_seen l ON a.user_id = l.user_id
        WHERE a.session_end < l.user_max - INTERVAL '1 second'
    """,
    doc="Custom stateful sessionizer (applyInPandasWithState, event-time "
        "timeout) from a real availableNow stream run, projected to its "
        "DETERMINISTIC core: every session closed by a later event of the "
        "same user is emitted in any batching, while each user's trailing "
        "session depends on whether the final watermark advance fires its "
        "timeout — so the certificate drops sessions ending at the user's "
        "global last event (both sides, 1s guard) and the oracle is the "
        "batch gaps-and-islands sessionization minus those trailing rows. "
        "A wrong gap rule, state handoff, count, or session boundary "
        "changes (start, end, n_events) and fails the hash; the trailing-"
        "session timeout path stays pinned by tests/test_streaming.py "
        "(§2.8/§2.10).",
    tags=("streaming", "session", "stateful"),
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sessionize_stateful(
        _stream_events(spark, sf_dir), gap_seconds=1800, watermark="2 hours"
    )
    emitted = _run_to_table(stream, "stream_sessions")
    user_max = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("user_max"))
    )
    return (
        emitted.join(user_max, "user_id")
        .filter(F.col("session_end") < F.col("user_max") - F.expr("INTERVAL 1 SECOND"))
        .select("user_id", "session_start", "session_end", "n_events")
    )


def _stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (a single file, so the
    stream scans the parent dir with a glob — same trick as events)."""
    return (
        spark.readStream.schema(TESTDATA_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


@register(
    "streaming_curation_dedup",
    oracle="""
        WITH normed AS (
            SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
            FROM documents
        ), gated AS (
            SELECT norm FROM normed
            WHERE length(norm) >= 100
              AND CAST(len(list_filter(string_split(norm, ' '),
                    t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','with'], t))) AS DOUBLE)
                  / greatest(len(list_filter(string_split(norm, ' '), t -> t != '')), 1)
                  >= 0.05
        )
        SELECT DISTINCT md5(norm) AS content_key,
               length(norm) AS norm_len
        FROM gated
    """,
    doc="Streaming curation pipeline (quality gate → normalize → streaming "
        "exact dedup → sink) as one continuous readStream run. Oracle-checkable "
        "despite streaming dropDuplicates being arrival-order dependent: the "
        "emitted columns are pure functions of the dedup key, and the KEY SET "
        "is deterministic. At corpus scale the state is one 16-byte digest per "
        "distinct document; an unbounded feed would swap in "
        "dropDuplicatesWithinWatermark keyed on the same digest (§2.8 + §2.11).",
    tags=("streaming", "llm", "dedup"),
)
def streaming_curation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _stream_documents(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    curated = (
        docs.withColumn("norm", norm)
        .filter(
            (F.length("norm") >= 100)
            & (TS.stopword_ratio(F.col("norm")) >= 0.05)
        )
        .select(
            F.md5(F.col("norm")).alias("content_key"),
            F.length("norm").alias("norm_len"),
        )
        .dropDuplicates(["content_key"])
    )
    return _run_to_table(curated, "stream_curation")


@register(
    "streaming_interval_join",
    oracle="""
        WITH clicks AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
        ), purchases AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        )
        SELECT c.user_id AS user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               CAST(round(date_diff('second', c.ts, p.ts), 0) AS BIGINT) AS secs_to_purchase
        FROM clicks c JOIN purchases p
          ON p.user_id = c.user_id
         AND p.ts > c.ts
         AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    doc="Stream-stream interval join (click→purchase attribution within 30 min): "
        "real dual readStream run; append-mode inner join emits exactly the "
        "batch join result, so the oracle is plain interval-join SQL (ST10).",
    tags=("streaming", "join", "interval"),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import stream_interval_join

    ev = _stream_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    joined = stream_interval_join(
        clicks, purchases, on="user_id", upper="30 minutes",
        left_prefix="c_", right_prefix="p_",
    )
    out = joined.select(
        F.col("c_user_id").alias("user_id"),
        F.col("c_event_id").alias("click_id"),
        F.col("p_event_id").alias("purchase_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("secs_to_purchase"),
    )
    return _run_to_table(out, "stream_ij")


@register(
    "streaming_dedup_within_watermark",
    oracle="""
        SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark "
        "keyed on (user_id, event_type) over a watermarked real stream — "
        "unlike plain dropDuplicates (state grows with distinct keys "
        "forever), state here is evicted once the watermark passes a "
        "key's last-seen event time, which is what makes streaming dedup "
        "viable on an unbounded 100 TB/day feed. Emitted columns are "
        "exactly the dedup key, so despite arrival-order-dependent row "
        "selection the RESULT SET is deterministic and the oracle is "
        "SELECT DISTINCT (§2.8 ST10 + §2.11 dedup). The DISTINCT oracle "
        "additionally assumes ALL input lands in one micro-batch (the "
        "operator re-emits keys whose duplicates arrive > 2h event-time "
        "apart across batches); that assumption is asserted structurally "
        "from the query progress, so a multi-batch run fails loudly.",
    tags=("streaming", "dedup"),
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_table(ev, "stream_ddww", expect_single_batch=True)


@register(
    "streaming_static_enrich",
    oracle="""
        SELECT c.c_mktsegment AS segment,
               e.event_type AS event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
    doc="Stream-static join (ST10): the events readStream enriched "
        "against the static customer dim inside the streaming plan — "
        "the standard fact-stream x dimension pattern. The static side "
        "needs no watermark or state (it is re-read per micro-batch, "
        "broadcast by AQE when dim-sized); an append-mode inner "
        "stream-static join emits exactly the batch join, so the "
        "oracle is the plain join+agg SQL. Aggregation runs on the "
        "post-enrichment stream in the same availableNow run "
        "(complete-mode global agg over the single batch).",
    tags=("streaming", "join"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import load_table

    ev = _stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    enriched = ev.join(cust, ev.user_id == cust.c_custkey).select(
        "segment", "event_type", "value"
    )
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
        .cast("double").alias("total_value"),
    )
    # complete-mode memory sink: the single availableNow batch emits the
    # final aggregate once
    import shutil
    import tempfile
    import uuid

    name = f"stream_static_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


@register(
    "streaming_interval_join_left_outer",
    oracle="""
        WITH clicks AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
        ), purchases AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        ), wm AS (
            -- global watermark = min over BOTH input streams' max event
            -- time, minus the 2h delay (Spark's multiple-watermark
            -- min policy), ms-truncated
            SELECT date_trunc('milliseconds',
                   least((SELECT max(ts) FROM clicks),
                         (SELECT max(ts) FROM purchases)))
                   - INTERVAL '2 hours' AS w
            FROM (VALUES (1))
        ), matched AS (
            SELECT c.user_id AS user_id, c.event_id AS click_id,
                   p.event_id AS purchase_id
            FROM clicks c JOIN purchases p
              ON p.user_id = c.user_id
             AND p.ts > c.ts
             AND p.ts <= c.ts + INTERVAL 30 MINUTE
        )
        SELECT user_id, click_id, purchase_id, TRUE AS matched FROM matched
        UNION ALL
        SELECT c.user_id, c.event_id AS click_id,
               CAST(NULL AS BIGINT) AS purchase_id, FALSE AS matched
        FROM clicks c, wm
        WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.event_id)
          AND c.ts < wm.w - INTERVAL 30 MINUTE
    """,
    doc="Watermarked stream-stream LEFT OUTER interval join (ST10): "
        "clicks with no purchase within 30 min emit a null row — but "
        "only once the join state can prove no future match exists. "
        "The oracle states the engine's actual emission rule, derived "
        "empirically and then from the state-eviction math: the GLOBAL "
        "watermark is min over BOTH streams' max event time minus the "
        "delay (multiple-watermark min policy — the purchase stream's "
        "slower clock holds back null emission for clicks), and a left "
        "row is evictable (hence null-emitted) when its ts < watermark "
        "- upper bound, i.e. no purchase with p_ts > watermark can "
        "still satisfy p_ts <= c_ts + 30min. Matched pairs emit "
        "unconditionally in append mode. This is the operator whose "
        "semantics differ MOST from the batch left join — the batch "
        "result is the limit as the watermark passes everything — so "
        "pinning the finalized subset is the honest check (cf. "
        "streaming_tumbling_finalized).",
    tags=("streaming", "join", "interval", "outer"),
)
def streaming_interval_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    from ..streaming.pipeline import stream_interval_join

    joined = stream_interval_join(
        clicks, purchases, on="user_id", upper="30 minutes",
        left_prefix="c_", right_prefix="p_", how="leftOuter",
    )
    out = joined.select(
        F.col("c_user_id").alias("user_id"),
        F.col("c_event_id").alias("click_id"),
        F.col("p_event_id").alias("purchase_id"),
        F.col("p_event_id").isNotNull().alias("matched"),
    )
    return _run_to_table(out, "stream_ij_louter")


@register(
    "streaming_interval_join_full_outer",
    oracle="""
        WITH clicks AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
        ), purchases AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        ), wm AS (
            SELECT date_trunc('milliseconds',
                   least((SELECT max(ts) FROM clicks),
                         (SELECT max(ts) FROM purchases)))
                   - INTERVAL '2 hours' AS w
            FROM (VALUES (1))
        ), matched AS (
            SELECT c.user_id AS user_id, c.event_id AS click_id,
                   p.event_id AS purchase_id
            FROM clicks c JOIN purchases p
              ON p.user_id = c.user_id
             AND p.ts > c.ts
             AND p.ts <= c.ts + INTERVAL 30 MINUTE
        )
        SELECT user_id, click_id, purchase_id, 'matched' AS match_type
        FROM matched
        UNION ALL
        SELECT c.user_id, c.event_id AS click_id,
               CAST(NULL AS BIGINT) AS purchase_id, 'left_only' AS match_type
        FROM clicks c, wm
        WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.event_id)
          AND c.ts < wm.w - INTERVAL 30 MINUTE
        UNION ALL
        SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id,
               p.event_id AS purchase_id, 'right_only' AS match_type
        FROM purchases p, wm
        WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.purchase_id = p.event_id)
          AND p.ts < wm.w
    """,
    doc="Watermarked stream-stream FULL OUTER interval join (ST10): "
        "both sides emit null-padded rows once eviction proves no "
        "future match. The two sides have DIFFERENT emission "
        "boundaries, both stated by the oracle and pinned empirically "
        "(1952/1952 unmatched purchases at the exact boundary, zero "
        "stragglers either side): a LEFT row (click) is evictable "
        "when c_ts < wm − upper (a purchase with p_ts > wm could "
        "still land in (c_ts, c_ts+30m] otherwise), while a RIGHT "
        "row (purchase) is evictable as soon as p_ts < wm — its "
        "candidate clicks lie in [p_ts−30m, p_ts), all below the "
        "watermark already. wm = min over both streams' max event "
        "time − 2h (multiple-watermark min policy), ms-truncated. "
        "Matched pairs emit unconditionally in append mode. Cf. "
        "streaming_interval_join_left_outer for the one-sided rule.",
    tags=("streaming", "join", "interval", "outer"),
)
def streaming_interval_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    from ..streaming.pipeline import stream_interval_join

    joined = stream_interval_join(
        clicks, purchases, on="user_id", upper="30 minutes",
        left_prefix="c_", right_prefix="p_", how="fullOuter",
    )
    out = joined.select(
        F.coalesce(F.col("c_user_id"), F.col("p_user_id")).alias("user_id"),
        F.col("c_event_id").alias("click_id"),
        F.col("p_event_id").alias("purchase_id"),
        F.when(
            F.col("c_event_id").isNotNull() & F.col("p_event_id").isNotNull(),
            F.lit("matched"),
        ).when(F.col("p_event_id").isNull(), F.lit("left_only"))
         .otherwise(F.lit("right_only")).alias("match_type"),
    )
    return _run_to_table(out, "stream_ij_fouter")


@register(
    "streaming_socrata_ingest",
    # Deterministic offline endpoint (fake://120 over 2025-01..2025-03)
    # => the entire drained-ingest projection is a fixed golden table:
    # per month window, the row/id/arrest counts of the landed data AND
    # the landing checkpoint's _COMPLETE page cursor (pagesize 60 =>
    # each 120-row window ends at page 1). Any drift in offset
    # accounting, page termination, replay, or exactly-once sink
    # semantics changes one of these cells.
    oracle="""
        SELECT * FROM (VALUES
            ('2025-01', CAST(120 AS BIGINT), CAST(120 AS BIGINT),
             CAST(24 AS BIGINT), 1),
            ('2025-02', CAST(120 AS BIGINT), CAST(120 AS BIGINT),
             CAST(24 AS BIGINT), 1),
            ('2025-03', CAST(120 AS BIGINT), CAST(120 AS BIGINT),
             CAST(24 AS BIGINT), 1)
        ) AS t(month, n_rows, n_ids, n_arrests, last_page)
    """,
    doc="The Socrata source as a REAL Structured Streaming source "
        "(sources/socrata.py::SocrataStreamReader): the reference's "
        "{last_window, last_page} XCom cursor restated as streaming "
        "offsets ({'window': i, 'page': p}), ST5's page-landing "
        "checkpoint wired into read/readBetweenOffsets so replay "
        "serves from the lake and never refetches. This query drains "
        "the 3-month fake endpoint through repeated availableNow runs "
        "(pages_per_batch=3 — every run restarts from Spark's "
        "committed offset log, exercising resume 4x) into an "
        "exactly-once parquet sink, then projects the ingest ledger: "
        "per-month counts plus each window's landed _COMPLETE page "
        "cursor. The kill/resume pytest (test_socrata_source.py) "
        "additionally murders a run mid-stream and proves the "
        "fetchlog stays one-marker-per-page (§2.8 ST5/ST6 at scale).",
    tags=("streaming", "source", "incremental"),
)
def streaming_socrata_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json
    import shutil

    from ..sources.socrata import register_socrata_source

    register_socrata_source(spark)
    land = tempfile.mkdtemp(prefix="soc_land_")
    ckpt = tempfile.mkdtemp(prefix="soc_ckpt_")
    sink = tempfile.mkdtemp(prefix="soc_sink_") + "/out"
    try:
        def run_once():
            stream = (
                spark.readStream.format("socrata_crime")
                .option("endpoint", "fake://120")
                .option("pagesize", 60)
                .option("pages_per_batch", 3)
                .option("start_date", "2025-01-01T00:00:00.000")
                .option("end_date", "2025-04-01T00:00:00.000")
                .option("checkpoint_dir", land)
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            # awaitTermination(timeout) returns False WITHOUT stopping
            # the query; proceeding would read a half-written sink,
            # break the drain loop early, and rmtree live checkpoint
            # dirs — so a timeout is a hard error here
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError(
                    "streaming_socrata_ingest: availableNow run exceeded "
                    "120s (3 pages of a fake endpoint — host stall?)"
                )

        prev = -1
        for _ in range(10):  # drain: availableNow == one read() per run
            run_once()
            n = spark.read.parquet(sink).count()
            if n == prev:
                break
            prev = n
        rows = (
            spark.read.parquet(sink)
            .groupBy(F.substring("updated_on", 1, 7).alias("month"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("id").alias("n_ids"),
                F.sum(
                    F.when(F.col("arrest") == "true", 1).otherwise(0)
                ).alias("n_arrests"),
            )
            .collect()
        )
        cursors = {}
        for cfile in glob.glob(os.path.join(land, "window=*", "_COMPLETE")):
            month = os.path.basename(os.path.dirname(cfile))[len("window="):][:7]
            with open(cfile, encoding="utf-8") as fh:
                cursors[month] = json.load(fh)["last_page"]
        out = [
            (r["month"], r["n_rows"], r["n_ids"], r["n_arrests"],
             cursors[r["month"]])
            for r in sorted(rows, key=lambda r: r["month"])
        ]
        return local_df(
            spark, out,
            "month string, n_rows long, n_ids long, n_arrests long, "
            "last_page int",
        )
    finally:
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(sink), ignore_errors=True)


@register(
    "streaming_heavy_hitter_tokens",
    oracle="""
        WITH toks AS (
            SELECT unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
            FROM documents
        ),
        c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok)
        SELECT tok, cnt FROM c
        WHERE cnt * 30 > (SELECT count(*) FROM toks)
    """,
    doc="Heavy hitters over a token STREAM: bucket-keyed Misra-Gries "
        "sketch state in applyInPandasWithState (streaming/pipeline.py::"
        "streaming_mg_candidates — O(buckets*k) state forever, arrays in "
        "GroupState), then an exact offline recount of the emitted "
        "candidate union. The stream only PRUNES (MG superset guarantee "
        "survives batching), the recount DECIDES with exact integer "
        "cnt*k > N — so the answer equals the batch heavy_hitter_tokens "
        "query and the oracle is the same plain SQL. The lambda shape "
        "for unbounded-vocabulary frequency monitoring (ST10 + sketch "
        "family).",
    tags=("streaming", "llm", "sketch", "stateful"),
)
def streaming_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import streaming_mg_candidates

    k = 30
    toks_stream = _stream_documents(spark, sf_dir).select(
        F.explode(TS.tokens("text")).alias("tok")
    )
    cands_tbl = _run_to_table(
        streaming_mg_candidates(toks_stream, k_per_bucket=k, n_buckets=8),
        "stream_mg",
        expect_single_batch=True,
    )
    cands = cands_tbl.select("tok").distinct()
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(TS.tokens("text")).alias("tok")
    )
    n_total = toks.count()
    return (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * F.lit(k) > F.lit(n_total))
    )
