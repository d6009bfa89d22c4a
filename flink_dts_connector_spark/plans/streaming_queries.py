"""Streaming operator queries (SURVEY.md §2.5).

Each runs a REAL Structured Streaming query (watermark + state store +
append semantics) to completion with availableNow over the driver's events
table, then returns the sink as a DataFrame. The DuckDB oracle reproduces
the append-mode watermark contract in SQL: with final watermark W =
max(event time) − delay, append mode has emitted exactly the windows whose
end ≤ W (single-file source → watermark only advances at batch end, so no
rows are late-dropped and the emitted set is closed-form).

The reference's streaming surface this covers: event-time extraction +
watermark declaration (`DtsCustomWatermarkExtractor.java:17-21`,
`README.md:98`), windowed aggregation and lookup joins it delegates to its
host engine (`DtsTableIJoinTCase.java:64-88`), exactly-once state via the
checkpoint WAL. Known divergence (SURVEY.md §4.4): Spark watermarks are
per-query global, not per-partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_dts_connector_spark.plans.registry import register
from flink_dts_connector_spark.plans.relational import dec, dsum
from flink_dts_connector_spark.session import load_table, table_rows
from flink_dts_connector_spark.streaming.runner import (
    JOIN_STATE_ROWS_PER_PARTITION,
    pinned_shuffle_partitions,
    read_stream_table,
    read_waves,
    run_available_now,
    run_to_memory,
    write_waves,
    scratch_dir,
)

# append-mode emission cutoff: windows with end <= max(ts) - 10 min
SQL_WM_CUTOFF = "(SELECT max(ts) - INTERVAL 10 MINUTE FROM events)"


def _require_batches(progress: list) -> None:
    """The incremental folds below prove that batch-by-batch merging
    converges to the batch closed form; a stream that ran as ONE
    micro-batch would pass the oracle without exercising the merge."""
    if len(progress) < 2:
        raise AssertionError(
            f"expected multiple micro-batches, got {len(progress)} — the "
            f"incremental merge was not actually exercised"
        )


@register(
    "stream_hourly_windows",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= {SQL_WM_CUTOFF}
""",
    tags=("streaming", "window-agg"),
)
def stream_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, append mode: only closed
    windows (end ≤ watermark) are in the sink — checked against the SQL
    reconstruction of exactly that contract."""
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(dec("value"), "total_value"))
    )
    out = run_to_memory(
        agg, output_mode="append", rows=table_rows(sf_dir, "events")
    )
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
    )


@register(
    "stream_static_lookup_join",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       coalesce(c_mktsegment, 'UNKNOWN') AS segment,
       COUNT(*) AS n_events,
       COUNT(c_custkey) AS n_matched
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= {SQL_WM_CUTOFF}
""",
    tags=("streaming", "join"),
)
def stream_static_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static (lookup) left join + windowed agg — parity with the
    reference's dimension-enrichment join test
    (`src/test/java/.../sql/DtsTableIJoinTCase.java:48-73`): the static side
    is re-readable per micro-batch exactly like its JDBC lookup cache."""
    ev = read_stream_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey, "left")
    agg = (
        joined.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "1 hour"),
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("c_custkey").alias("n_matched"),
        )
    )
    out = run_to_memory(agg, output_mode="append")
    return out.select(
        F.col("window.start").alias("window_start"), "segment", "n_events", "n_matched"
    )


@register(
    "stream_dedup_exactly_once",
    oracle="SELECT event_id, user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the source is unioned with itself (every event
    twice) and dropDuplicatesWithinWatermark must emit each exactly once —
    the stateful-dedup path a CDC at-least-once source needs downstream."""
    ev1 = read_stream_table(spark, sf_dir, "events")
    ev2 = read_stream_table(spark, sf_dir, "events")
    dup = ev1.unionByName(ev2)
    dedup = (
        dup.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(dedup, output_mode="append")


@register(
    "stream_sliding_windows",
    oracle=f"""
WITH slides AS (
  SELECT e.*, time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL (30 * s.i) MINUTE AS window_start
  FROM events e, (SELECT unnest([0, 1]) AS i) s
)
SELECT window_start, COUNT(*) AS n
FROM slides
WHERE window_start + INTERVAL 1 HOUR <= {SQL_WM_CUTOFF}
GROUP BY 1
""",
    tags=("streaming", "window-agg"),
)
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): each event lands in 2
    windows; append emission cutoff as above. Oracle enumerates the slide
    set arithmetically."""
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, output_mode="append")
    return out.select(F.col("window.start").alias("window_start"), "n")


@register(
    "stream_session_windows",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
               OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, ts, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n
FROM sess GROUP BY user_id, sid
HAVING MAX(ts) + INTERVAL 30 MINUTE <= {SQL_WM_CUTOFF}
""",
    tags=("streaming", "window-agg", "session"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) per user: a session closes
    when the watermark passes last-event + gap; append mode emits exactly
    the closed sessions. Oracle rebuilds sessions via lag-gap cumsum + the
    same emission cutoff — pinning Spark's session_window merge semantics
    against a from-first-principles SQL reconstruction."""
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, output_mode="append")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n",
    )


@register(
    "stream_update_mode_totals",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "window-agg", "update-mode"),
)
def stream_update_mode_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-mode windowed aggregation: every batch re-emits changed
    windows; the LAST emission per window is the complete count — so
    max-per-window over the sink equals the batch aggregate with NO
    watermark cutoff (the eventual-completeness contract, vs append mode's
    closed-windows-only)."""
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, output_mode="update")
    return (
        out.select(F.col("window.start").alias("window_start"), "event_type", "n")
        .groupBy("window_start", "event_type")
        .agg(F.max("n").alias("n"))
    )


@register(
    "stream_partition_watermarks",
    oracle="""
WITH recs AS (
  SELECT (o_orderkey * 4) % 4 AS p, o_orderdate AS ts FROM orders
  UNION ALL SELECT (o_orderkey * 4 + 1) % 4, o_orderdate + INTERVAL 1 HOUR FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL SELECT (o_orderkey * 4 + 2) % 4, o_orderdate + INTERVAL 2 HOUR FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL SELECT (o_orderkey * 4 + 3) % 4, o_orderdate + INTERVAL 3 HOUR FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL SELECT (10000000000 + o_orderkey) % 4, o_orderdate FROM orders WHERE o_orderkey % 50 = 0
  UNION ALL SELECT (20000000000 + o_orderkey) % 4, o_orderdate FROM orders WHERE o_orderkey % 200 = 0
), per AS (
  SELECT CAST(p AS INT) AS kafka_partition, COUNT(*) AS n_records, MAX(ts) AS max_ts,
         MAX(ts) - INTERVAL 10 MINUTE AS partition_watermark
  FROM recs GROUP BY 1
)
SELECT kafka_partition, n_records, max_ts, partition_watermark,
       (SELECT MIN(partition_watermark) FROM per) AS safe_watermark
FROM per
""",
    tags=("streaming", "watermark", "stateful"),
)
def stream_partition_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition watermark emulation (the reference's model,
    `DtsCustomWatermarkExtractor.java:17-21`, vs Spark's per-query global —
    SURVEY.md §4.4): a stateful operator tracks max event time PER KAFKA
    PARTITION through the executor-parallel `format("dts")` stream source;
    the operator-level safe watermark is the MIN across partitions (Flink's
    multi-input rule), so a stalled partition holds progress back instead
    of losing data. Oracle reconstructs every partition's watermark in SQL."""
    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes
    from flink_dts_connector_spark.streaming.runner import run_to_memory
    from flink_dts_connector_spark.streaming.watermarks import (
        safe_watermark,
        track_partition_watermarks,
    )

    raw_dir = scratch_dir("fdcs_wm_raw_")
    generate_cdc_bytes(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(raw_dir)
    register_dts_source(spark)
    env = spark.readStream.format("dts").option("path", raw_dir).load()
    per_part = track_partition_watermarks(env.select("kafka_partition", "ts"), delay_sec=600)
    sink = run_to_memory(
        per_part, output_mode="update", rows=table_rows(sf_dir, "orders")
    )
    return safe_watermark(sink)


@register(
    "stream_cdc_envelope_totals",
    oracle="""
WITH expected AS (
  SELECT 'INSERT' AS operation, COUNT(*) AS n, CAST(SUM(o_orderkey * 4) AS BIGINT) AS id_sum FROM orders
  UNION ALL
  SELECT 'UPDATE', COUNT(*) FILTER (WHERE o_orderkey % 10 = 0) + COUNT(*) FILTER (WHERE o_orderkey % 7 = 0),
         CAST(COALESCE(SUM(CASE WHEN o_orderkey % 10 = 0 THEN o_orderkey * 4 + 1 END), 0)
            + COALESCE(SUM(CASE WHEN o_orderkey % 7 = 0 THEN o_orderkey * 4 + 2 END), 0) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'DELETE', COUNT(*) FILTER (WHERE o_orderkey % 97 = 0),
         CAST(SUM(CASE WHEN o_orderkey % 97 = 0 THEN o_orderkey * 4 + 3 END) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'HEARTBEAT', COUNT(*) FILTER (WHERE o_orderkey % 50 = 0),
         CAST(SUM(CASE WHEN o_orderkey % 50 = 0 THEN 10000000000 + o_orderkey END) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'DDL', COUNT(*) FILTER (WHERE o_orderkey % 200 = 0),
         CAST(SUM(CASE WHEN o_orderkey % 200 = 0 THEN 20000000000 + o_orderkey END) AS BIGINT) FROM orders
)
SELECT * FROM expected WHERE n > 0
""",
    tags=("streaming", "cdc"),
)
def stream_cdc_envelope_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC decode end-to-end: the executor-parallel
    `readStream.format("dts")` source feeds an update-mode running
    aggregation per operation; the final totals (update sink is monotone —
    take the last emission per key) must equal the batch round-trip
    checksum. One query covers streaming source + stateful agg + codec."""
    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes
    from flink_dts_connector_spark.streaming.runner import run_to_memory

    raw_dir = scratch_dir("fdcs_cdc_raw_")
    generate_cdc_bytes(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(raw_dir)
    register_dts_source(spark)
    env = spark.readStream.format("dts").option("path", raw_dir).load()
    agg = env.groupBy("operation").agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("id_sum")
    )
    sink = run_to_memory(agg, output_mode="update")
    return sink.groupBy("operation").agg(
        F.max("n").alias("n"), F.max("id_sum").alias("id_sum")
    )


@register(
    "stream_corpus_ingest",
    oracle="""
WITH gated AS (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         len(string_split_regex(trim(text), '\\s+')) AS n_toks,
         length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS n_norm
  FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 20
), uniq AS (
  SELECT fp, ANY_VALUE(n_toks) AS n_toks, ANY_VALUE(n_norm) AS n_norm
  FROM gated GROUP BY fp
)
SELECT CAST(md5_number_lower(fp) % 16 AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(n_norm) AS BIGINT) AS n_norm_chars
FROM uniq GROUP BY 1
""",
    tags=("streaming", "cdc", "corpus", "dedup"),
)
def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CORPUS INGESTION — the two halves of the engine in one
    query: a CDC document stream (the `format("dts")` executor-parallel
    source over wire bytes, with every 5th doc delivered twice to model
    at-least-once) flows through a quality gate (≥20 tokens, pipelined
    before the stateful op so dedup state holds only gate survivors) into
    streaming content dedup (`dropDuplicatesWithinWatermark` on the
    normalized-text fingerprint — subsumes the duplicate-delivery repair),
    and the ingested log rolls up into the deterministic shard manifest.

    WHICH physical row survives per fingerprint is arrival-order racy, so
    the manifest aggregates only fingerprint-determined quantities
    (token count and normalized length are whitespace-collapse/lowercase
    invariant) — the oracle reconstructs the closed form over distinct
    gated fingerprints."""
    from flink_dts_connector_spark.operators.dedup import md5_number_lower_mod
    from flink_dts_connector_spark.operators.text import (
        fingerprint,
        normalized,
        token_count,
    )
    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.generator import generate_doc_cdc_bytes

    raw_dir = scratch_dir("fdcs_doccdc_raw_")
    generate_doc_cdc_bytes(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(
        raw_dir
    )
    register_dts_source(spark)
    with pinned_shuffle_partitions(spark):
        env = (
            spark.readStream.format("dts")
            .option("path", raw_dir)
            .option("tables", "corpus.documents")
            .option("ops", "INSERT")
            .load()
        )
        doc = env.select(F.element_at("after", "text").alias("text"), "ts")
        gated = doc.where(token_count("text") >= 20)
        # the dedup horizon must exceed the fixture's event-time span
        # (commit ts = 1.7e9 + doc_id): with a short horizon the oracle's
        # corpus-wide dedup closed form only holds while everything lands
        # in one micro-batch — a batching change would silently resurrect
        # far-apart duplicates. 30 days covers every driver SF; at real
        # scale the horizon IS the streaming-dedup contract (duplicates
        # beyond it are a batch-dedup concern, SCALING.md).
        dedup = (
            gated.withColumn("fp", fingerprint("text"))
            .withWatermark("ts", "30 days")
            .dropDuplicatesWithinWatermark(["fp"])
        )
        sink = run_to_memory(dedup, output_mode="append")
    return sink.groupBy(
        md5_number_lower_mod(F.col("fp"), 16).alias("shard_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
        F.sum(F.length(normalized("text")).cast("bigint")).alias("n_norm_chars"),
    )


@register(
    "stream_late_data_gate",
    oracle="""
WITH e AS (SELECT event_id % 4 AS p, ts FROM events),
m AS (SELECT MAX(ts) AS m FROM e),
late AS (
  SELECT p, ts FROM e, m WHERE p = 3 AND ts > m - INTERVAL 15 DAY
),
phase1 AS (
  SELECT p, ts FROM e, m WHERE NOT (p = 3 AND ts > m - INTERVAL 15 DAY)
),
wmp AS (SELECT MAX(ts) - INTERVAL 86400 SECOND AS wm_partition FROM phase1 WHERE p = 3),
wmg AS (SELECT MAX(ts) - INTERVAL 86400 SECOND AS wm_global FROM phase1)
SELECT CAST(3 AS INT) AS kafka_partition,
       COUNT(*) AS n_late_arrivals,
       COUNT(*) FILTER (WHERE ts >= wm_partition) AS n_survive_per_partition,
       COUNT(*) FILTER (WHERE ts >= wm_global) AS n_survive_global,
       COUNT(*) FILTER (WHERE ts >= wm_partition AND ts < wm_global) AS n_rescued,
       wm_partition, wm_global
FROM late, wmp, wmg
GROUP BY wm_partition, wm_global
""",
    tags=("streaming", "watermark", "stateful", "late-data"),
)
def stream_late_data_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition watermarks actually GATING late data — the reference's
    semantic (`DtsKafkaFetcher.java:398-441`: each partition owns its
    watermark; the operator watermark is the min, so a slow partition's
    data is never late *relative to its own feed*) vs Spark's per-query
    global watermark (SURVEY.md §4.4 divergence).

    Scenario: partition 3 is a straggler — in phase 1 it has delivered only
    events with ts ≤ max(ts) − 15 days while partitions 0-2 are fully
    caught up. The stateful per-partition tracker
    (`streaming/watermarks.py:track_partition_watermarks`) runs a REAL
    streaming query over phase 1 and yields each partition's watermark
    (delay 1 day). Partition 3's remaining rows then arrive late; each is
    admitted or dropped under (a) its own partition's watermark and (b) the
    Spark-style global watermark (max over partitions − delay).

    Result: every late row survives the per-partition rule (their ts all
    exceed partition 3's own watermark) while the global rule drops all but
    the last day's worth — `n_rescued` = rows the reference keeps and the
    global model loses. The oracle reconstructs both watermark rules and
    the admission counts in SQL."""
    from flink_dts_connector_spark.streaming.watermarks import track_partition_watermarks

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 4).cast("int").alias("kafka_partition"), "ts"
    )
    m = ev.agg(F.max("ts").alias("m"))
    tagged = ev.crossJoin(F.broadcast(m)).withColumn(
        "is_late",
        (F.col("kafka_partition") == 3) & (F.col("ts") > F.expr("m - INTERVAL 15 DAYS")),
    )
    stage = scratch_dir("fdcs_lategate_")
    tagged.select("kafka_partition", "ts", "is_late").write.mode("overwrite").parquet(stage)

    staged = spark.read.parquet(stage)
    phase1_stream = (
        spark.readStream.schema(staged.schema).parquet(stage).filter(~F.col("is_late"))
    )
    per_part = track_partition_watermarks(
        phase1_stream.select("kafka_partition", "ts"), delay_sec=86400
    )
    sink = run_to_memory(
        per_part, output_mode="update", rows=table_rows(sf_dir, "events")
    )
    latest = sink.groupBy("kafka_partition").agg(
        F.max("max_ts").alias("max_ts"),
        F.max("partition_watermark").alias("partition_watermark"),
    )
    wmp = latest.filter(F.col("kafka_partition") == 3).select(
        F.col("partition_watermark").alias("wm_partition")
    )
    wmg = latest.agg(
        F.expr("max(max_ts) - INTERVAL 86400 SECONDS").alias("wm_global")
    )
    late = staged.filter(F.col("is_late"))
    return (
        late.crossJoin(F.broadcast(wmp))
        .crossJoin(F.broadcast(wmg))
        .groupBy("wm_partition", "wm_global")
        .agg(
            F.count(F.lit(1)).alias("n_late_arrivals"),
            F.count(F.when(F.col("ts") >= F.col("wm_partition"), 1)).alias(
                "n_survive_per_partition"
            ),
            F.count(F.when(F.col("ts") >= F.col("wm_global"), 1)).alias("n_survive_global"),
            F.count(
                F.when(
                    (F.col("ts") >= F.col("wm_partition")) & (F.col("ts") < F.col("wm_global")),
                    1,
                )
            ).alias("n_rescued"),
        )
        .select(
            F.lit(3).cast("int").alias("kafka_partition"),
            "n_late_arrivals",
            "n_survive_per_partition",
            "n_survive_global",
            "n_rescued",
            "wm_partition",
            "wm_global",
        )
    )


@register(
    "stream_stream_interval_join",
    oracle="""
SELECT b.event_id AS purchase_id, v.event_id AS view_id, b.user_id,
       b.ts AS purchase_ts, v.ts AS view_ts
FROM events b JOIN events v
  ON v.user_id = b.user_id
 AND b.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts >= b.ts - INTERVAL 1 HOUR AND v.ts <= b.ts
""",
    tags=("streaming", "join", "stream-stream"),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: purchases matched to the same user's
    views in the preceding hour, both sides watermarked so Spark bounds the
    join state (each side's buffer evicts rows older than watermark −
    interval). Inner-join matches emit as soon as both rows arrive —
    availableNow over the bounded fixture emits every match, so the oracle
    is the plain relational join with the interval predicate. The stateful
    two-stream buffer is the Spark-native replacement for the dual-cache
    interval joins CDC-enrichment pipelines hand-roll.

    State-partition count is pinned for the run: each shuffle partition
    owns TWO join state stores, so a vanilla 200-partition session pays
    400 store setups per micro-batch — the count is frozen at the first
    checkpoint anyway. r13 kept this family on core-count partitioning
    after measuring the agg-density volume rule (2 partitions) at 7.9 s vs
    6.7 s — but r14's full partition sweep (checksum off, min-of-3
    interleaved) shows BOTH extremes lose: 2 → 7.9, 8 → 2.27, 32 → 4.63 s.
    The per-store commit overhead at cores-many stores costs more than the
    probe parallelism buys at this volume, so the family now derives its
    count from input volume at the join density
    (JOIN_STATE_ROWS_PER_PARTITION — see the constant's measured basin),
    which still grows to 8×cores with data."""
    return _run_interval_join(spark, sf_dir)


def _interval_join_frame(
    spark: SparkSession, sf_dir: str, how: str = "inner"
) -> DataFrame:
    """The un-run two-stream interval join (purchases ⋈ views within the
    preceding hour), both sides watermarked — shared by the inner/outer/
    semi/chained streaming queries."""
    views = (
        read_stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_uid"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    buys = (
        read_stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    return buys.join(
        views,
        (F.col("v_uid") == F.col("user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
        how,
    )


def _run_interval_join(
    spark: SparkSession, sf_dir: str, how: str = "inner"
) -> DataFrame:
    j = _interval_join_frame(spark, sf_dir, how)
    out = run_to_memory(
        j,
        output_mode="append",
        rows=table_rows(sf_dir, "events"),
        rows_per_partition=JOIN_STATE_ROWS_PER_PARTITION,
    )
    return out.select("purchase_id", "view_id", "user_id", "purchase_ts", "view_ts")


@register(
    "stream_stream_outer_join",
    oracle="""
WITH b AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
), m AS (
  SELECT b.purchase_id, v.view_id, b.user_id, b.purchase_ts, v.view_ts
  FROM b JOIN v ON v.user_id = b.user_id
   AND v.view_ts >= b.purchase_ts - INTERVAL 1 HOUR
   AND v.view_ts <= b.purchase_ts
)
SELECT * FROM m
UNION ALL
SELECT b.purchase_id, CAST(NULL AS BIGINT) AS view_id, b.user_id,
       b.purchase_ts, CAST(NULL AS TIMESTAMP) AS view_ts
FROM b, (
  -- the query-global watermark is the MIN over both sides' watermark
  -- nodes, each = floor-to-millisecond(side max event time) − delay;
  -- the state-cleanup predicate evicts purchase_ts <= watermark − 1 ms
  SELECT LEAST(
    (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'purchase'),
    (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'view')
  ) - INTERVAL 10 MINUTE AS w
) wm
WHERE b.purchase_id NOT IN (SELECT purchase_id FROM m)
  AND b.purchase_ts <= wm.w - INTERVAL 1 MILLISECOND
""",
    tags=("streaming", "join", "stream-stream", "outer"),
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: matches emit on arrival; an
    unmatched purchase emits its null-padded row only on state EVICTION.
    The oracle pins the real semantics, read off the executed plan's
    `state cleanup [left value predicate]` and verified row-for-row, not
    assumed: the query-global watermark is the MINIMUM over both
    `withWatermark` nodes (each side's max event time floored to the
    millisecond, minus the delay) — so the lagging side gates eviction —
    and the cleanup predicate is `purchase_ts <= watermark − 1 ms`.
    Purchases above that are still buffered when the bounded run ends and
    legitimately never emit."""
    return _run_interval_join(spark, sf_dir, how="left_outer")


@register(
    "stream_stream_semi_join",
    oracle="""
SELECT DISTINCT b.event_id AS purchase_id, b.user_id, b.ts AS purchase_ts
FROM events b JOIN events v
  ON v.user_id = b.user_id
 AND b.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts >= b.ts - INTERVAL 1 HOUR AND v.ts <= b.ts
""",
    tags=("streaming", "join", "stream-stream", "semi"),
)
def stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-SEMI stream-stream interval join: each purchase with at least
    one qualifying view emits exactly once, on first match — the streaming
    "has a preceding view" existence filter. No null/eviction path, so the
    oracle is simply the distinct matched left side."""
    j = _interval_join_frame(spark, sf_dir, how="left_semi")
    out = run_to_memory(
        j,
        output_mode="append",
        rows=table_rows(sf_dir, "events"),
        rows_per_partition=JOIN_STATE_ROWS_PER_PARTITION,
    )
    return out.select("purchase_id", "user_id", "purchase_ts")


@register(
    "stream_chained_join_agg",
    oracle="""
WITH m AS (
  SELECT b.ts AS purchase_ts
  FROM events b JOIN events v
    ON v.user_id = b.user_id
   AND b.event_type = 'purchase' AND v.event_type = 'view'
   AND v.ts >= b.ts - INTERVAL 1 HOUR AND v.ts <= b.ts
), wm AS (
  SELECT LEAST(
    (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'purchase'),
    (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'view')
  ) - INTERVAL 10 MINUTE - INTERVAL 1 HOUR AS w
)
SELECT date_trunc('hour', purchase_ts) AS window_start, COUNT(*) AS n
FROM m, wm
GROUP BY 1, wm.w
HAVING date_trunc('hour', purchase_ts) + INTERVAL 1 HOUR <= wm.w
""",
    tags=("streaming", "join", "stream-stream", "chained-stateful"),
)
def stream_chained_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 4's
    multiple-stateful-operator support): stream-stream interval join
    feeding a tumbling-window aggregation, both in append mode. The
    downstream window closes against the watermark DELAYED by the join's
    buffering interval (1 h): a window may only emit once no buffered
    match could still land in it, so the emission cutoff is
    window_end <= global_watermark − 1 h — with the same min-of-sides
    ms-floored global watermark the outer join pinned."""
    j = _interval_join_frame(spark, sf_dir, how="inner")
    agg = j.groupBy(F.window("purchase_ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = run_to_memory(
        agg,
        output_mode="append",
        rows=table_rows(sf_dir, "events"),
        rows_per_partition=JOIN_STATE_ROWS_PER_PARTITION,
    )
    return out.select(F.col("window.start").alias("window_start"), "n")


@register(
    "stream_stream_full_outer_join",
    oracle="""
WITH b AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT event_id AS view_id, user_id AS v_user, ts AS view_ts
  FROM events WHERE event_type = 'view'
), m AS (
  SELECT b.purchase_id, v.view_id, b.user_id, b.purchase_ts, v.view_ts
  FROM b JOIN v ON v.v_user = b.user_id
   AND v.view_ts >= b.purchase_ts - INTERVAL 1 HOUR
   AND v.view_ts <= b.purchase_ts
), wm AS (
  SELECT LEAST(
    (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'purchase'),
    (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'view')
  ) - INTERVAL 10 MINUTE AS w
)
SELECT * FROM m
UNION ALL
SELECT b.purchase_id, CAST(NULL AS BIGINT), b.user_id,
       b.purchase_ts, CAST(NULL AS TIMESTAMP)
FROM b, wm
WHERE b.purchase_id NOT IN (SELECT purchase_id FROM m)
  AND b.purchase_ts <= wm.w - INTERVAL 1 MILLISECOND
UNION ALL
-- right side buffers 1 h deeper (a view can match purchases up to 1 h
-- later), so its eviction — and null emission — lags by the interval
SELECT CAST(NULL AS BIGINT), v.view_id, v.v_user,
       CAST(NULL AS TIMESTAMP), v.view_ts
FROM v, wm
WHERE v.view_id NOT IN (SELECT view_id FROM m)
  AND v.view_ts <= wm.w - INTERVAL 1 HOUR - INTERVAL 1 MILLISECOND
""",
    tags=("streaming", "join", "stream-stream", "outer"),
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER stream-stream interval join — the complete join matrix.
    Null emission is per-side and asymmetric, exactly as the state-cleanup
    predicates dictate: an unmatched purchase nulls out once the global
    watermark passes it (≤ wm − 1 ms), but an unmatched view must outlive
    wm − 1 h − 1 ms, because a view can still match purchases up to one
    interval in its future. The oracle encodes both eviction depths."""
    j = _interval_join_frame(spark, sf_dir, how="full_outer")
    out = run_to_memory(
        j,
        output_mode="append",
        rows=table_rows(sf_dir, "events"),
        rows_per_partition=JOIN_STATE_ROWS_PER_PARTITION,
    )
    return out.select(
        "purchase_id",
        "view_id",
        F.coalesce(F.col("user_id"), F.col("v_uid")).alias("user_id"),
        "purchase_ts",
        "view_ts",
    )


@register(
    "stream_stream_right_outer_join",
    oracle="""
WITH b AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT event_id AS view_id, user_id AS v_user, ts AS view_ts
  FROM events WHERE event_type = 'view'
), m AS (
  SELECT b.purchase_id, v.view_id, b.user_id, b.purchase_ts, v.view_ts
  FROM b JOIN v ON v.v_user = b.user_id
   AND v.view_ts >= b.purchase_ts - INTERVAL 1 HOUR
   AND v.view_ts <= b.purchase_ts
), wm AS (
  SELECT LEAST(
    (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'purchase'),
    (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'view')
  ) - INTERVAL 10 MINUTE AS w
)
SELECT * FROM m
UNION ALL
-- the preserved (right) side buffers one interval DEEPER than the left:
-- a view can still match purchases up to 1 h in its future, so its
-- eviction — and null emission — waits for wm − 1 h − 1 ms
SELECT CAST(NULL AS BIGINT), v.view_id, v.v_user,
       CAST(NULL AS TIMESTAMP), v.view_ts
FROM v, wm
WHERE v.view_id NOT IN (SELECT view_id FROM m)
  AND v.view_ts <= wm.w - INTERVAL 1 HOUR - INTERVAL 1 MILLISECOND
""",
    tags=("streaming", "join", "stream-stream", "outer"),
)
def stream_stream_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-OUTER stream-stream interval join — the left-outer's mirror
    with the eviction depths swapped: matches emit on arrival, and an
    unmatched VIEW (the preserved right side) null-pads only when the
    global watermark passes its eviction point, which sits one full join
    interval deeper than the left side's (view_ts ≤ wm − 1 h − 1 ms,
    because a buffered view could still match a purchase up to 1 h after
    it). Same min-of-sides ms-floored global watermark as the other outer
    modes; the oracle encodes the closed form."""
    j = _interval_join_frame(spark, sf_dir, how="right_outer")
    out = run_to_memory(
        j,
        output_mode="append",
        rows=table_rows(sf_dir, "events"),
        rows_per_partition=JOIN_STATE_ROWS_PER_PARTITION,
    )
    return out.select(
        "purchase_id",
        "view_id",
        F.coalesce(F.col("user_id"), F.col("v_uid")).alias("user_id"),
        "purchase_ts",
        "view_ts",
    )


def _rebuild_manifest_sql() -> str:
    from flink_dts_connector_spark.plans.ext_queries import SQL_REBUILD_MANIFEST

    return SQL_REBUILD_MANIFEST


@register(
    "stream_incremental_curate",
    oracle=_rebuild_manifest_sql(),
    tags=("streaming", "cdc", "curation", "pipeline", "incremental"),
)
def stream_incremental_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING INCREMENTAL CURATION — the nightly-delta loop as a live
    query: corpus deltas (I/U/D document CDC over the wire format, landed
    in three waves) drive foreachBatch maintenance of the curated-corpus
    output. Each micro-batch (a) upserts the delta into the materialized
    corpus snapshot and (b) recomputes ONLY the touched fingerprint groups
    via `incremental_pipeline_update`, carrying everything else from the
    prior materialized kept set. The oracle is the FULL REBUILD on the
    final snapshot (`SQL_REBUILD_MANIFEST`, shared with the batch
    incremental query) — hash-matching it proves the streamed chain of
    incremental updates converges to exactly the batch pipeline's output,
    which is the CDC-feeds-training-pipeline contract end-to-end.

    Scale shape per batch: the delta and its fingerprint set broadcast;
    corpus-sized frames are touched only by broadcast semi/anti joins
    (no corpus shuffle outside the recompute region); materialized state
    is localCheckpoint-ed so lineage doesn't grow across waves. At 100 TB
    the two materializations are tables (the CDC-upserted replica and the
    curated output); everything else is identical. State disclosure: the
    driver-held frames are the in-process stand-in for those tables —
    the checkpoint WAL covers exactly-once input consumption across
    restarts; state recovery in production reads the tables back."""
    from flink_dts_connector_spark.operators import curation as C
    from flink_dts_connector_spark.operators import dedup as D
    from flink_dts_connector_spark.operators import text as X
    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.generator import generate_doc_delta_cdc_bytes

    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "source", "n_chars"]
    old = docs.where(F.col("doc_id") % 11 != 0).select(*cols)
    final_new = (
        docs.where(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .select(*cols)
    )
    probe = final_new.where(F.col("doc_id") % 37 == 0).select("text")
    toks = X.token_count("text")
    chars = F.length("text").cast("bigint")
    non_alnum = chars - F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9]", ""))

    def gate(d: DataFrame) -> DataFrame:
        return d.where((toks >= 20) & (non_alnum * 10 < chars * 3)).select(
            "doc_id", "text", "n_chars"
        )

    state = {
        "corpus": old.localCheckpoint(),
        "kept": C.decontaminate(D.dedup_exact(gate(old)), probe, n=7).localCheckpoint(),
    }

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        ops = bdf.select(
            "operation",
            F.coalesce(
                F.element_at("after", "doc_id"), F.element_at("before", "doc_id")
            ).cast("bigint").alias("doc_id"),
            F.element_at("after", "text").alias("text"),
            F.element_at("after", "source").alias("source"),
            F.element_at("after", "n_chars").cast("bigint").alias("n_chars"),
        )
        upserts = ops.where(F.col("operation") != "DELETE").select(*cols)
        touched_ids = ops.select("doc_id")  # U/D drop the old row; I drops nothing
        corpus = state["corpus"]
        new_corpus = (
            corpus.join(F.broadcast(touched_ids), "doc_id", "left_anti")
            .unionByName(upserts)
            .localCheckpoint()
        )
        new_kept = C.incremental_pipeline_update(
            state["kept"], corpus, new_corpus, probe, gate, ngram_n=7
        ).localCheckpoint()
        state["corpus"], state["kept"] = new_corpus, new_kept

    raw_dir = scratch_dir("fdcs_docdelta_raw_")
    ckpt = scratch_dir("fdcs_docdelta_ckpt_")
    register_dts_source(spark)
    delta = generate_doc_delta_cdc_bytes(spark, sf_dir)
    with pinned_shuffle_partitions(spark):
        for wave in (0, 1, 2):  # three nightly deltas landing over time
            delta.where(F.col("wave") == wave).drop("wave").repartition(2).write.mode(
                "append"
            ).parquet(raw_dir)
            run_available_now(
                spark.readStream.format("dts")
                .option("path", raw_dir)
                .option("tables", "corpus.documents")
                .load()
                .writeStream.foreachBatch(apply_batch),
                checkpoint=ckpt,
            )

    return C.shard_assign(state["kept"], n_shards=16).groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count("text")).alias("n_tokens"),
        F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
    )


def _txn_apply_oracle() -> str:
    from flink_dts_connector_spark.sources.zoo import expected_txn_apply_sql

    return expected_txn_apply_sql()


@register(
    "stream_txn_atomic_apply",
    oracle=_txn_apply_oracle(),
    tags=("streaming", "cdc", "transaction", "sink"),
)
def stream_txn_atomic_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING all-or-none transaction apply — transactions do NOT
    respect micro-batch boundaries: the txn fixture (WITH per-transaction
    COMMIT markers, reference op code 5 = the binlog XID analogue) lands
    in waves split by statement index, so every multi-statement
    transaction straddles batches and no transaction is complete inside
    the batch that starts it. foreachBatch buffers fragments across
    batches (pending state, localCheckpoint-ed) and applies a transaction
    exactly once, when BOTH hold:

      * its COMMIT marker arrived (carrying trans_seq = statement count);
      * statements 0..commit_seq−1 are all present (distinct-seq check).

    Contiguity alone CANNOT decide mid-stream — after the first wave
    every transaction's observed {0} looks contiguous; the marker is what
    distinguishes "complete" from "so far so good". The torn transaction
    DOES commit upstream (its middle statement was lost in transit), so
    its marker arrives but the seq gap holds it back forever — nothing
    from it is ever applied.

    The oracle is the BATCH atomic-apply closed form (same per-table
    row/txn/checksum stats as `cdc_txn_atomic_apply`) — matching it
    proves the streamed buffer-until-COMMIT chain converges to exactly
    the batch semantics. This is the canonical CDC-sink problem: a
    consistent MERGE target must see whole transactions while the source
    fragments them arbitrarily.

    State disclosure: pending/applied live as driver-held
    localCheckpoint-ed frames — the in-process stand-in for what
    production persists as tables (pending-fragments + applied-target);
    the checkpoint WAL guarantees exactly-once INPUT consumption across
    restarts, and state recovery in production reads those tables back,
    exactly as `SCALING.md` §incremental describes for the curation
    pipeline."""
    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.zoo import N_TXNS, generate_txn_bytes

    raw = generate_txn_bytes(spark, include_torn=True, commits=True)
    # wave = statement index, recovered from the generator's offset layout
    # (offset = j*(N_TXNS+1) + t); each txn's COMMIT lands one wave after
    # its last statement
    waved = raw.withColumn("wave", F.expr(f"offset div {N_TXNS + 1}"))
    n_waves = waved.agg(F.max("wave")).collect()[0][0] + 1

    state = {"pending": None, "applied": None}
    is_commit = F.col("operation") == "COMMIT"

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        pend = bdf if state["pending"] is None else state["pending"].unionByName(bdf)
        man = pend.groupBy("transaction_id").agg(
            F.max(F.when(is_commit, F.col("trans_seq"))).alias("commit_seq"),
            F.min(F.when(~is_commit, F.col("trans_seq"))).alias("min_seq"),
            F.max(F.when(~is_commit, F.col("trans_seq"))).alias("max_seq"),
            F.count_distinct(F.when(~is_commit, F.col("trans_seq"))).alias("n_seq"),
        )
        complete_ids = man.where(
            F.col("commit_seq").isNotNull()
            & (F.col("min_seq") == 0)
            & (F.col("max_seq") == F.col("n_seq") - 1)
            & (F.col("n_seq") == F.col("commit_seq"))
        ).select("transaction_id")
        done = (
            pend.where(~is_commit)
            .join(F.broadcast(complete_ids), "transaction_id", "left_semi")
            .dropDuplicates(["transaction_id", "trans_seq"])
            .localCheckpoint()
        )
        still = pend.join(
            F.broadcast(complete_ids), "transaction_id", "left_anti"
        ).localCheckpoint()
        state["applied"] = (
            done
            if state["applied"] is None
            else state["applied"].unionByName(done).localCheckpoint()
        )
        state["pending"] = still

    raw_dir = scratch_dir("fdcs_txnstream_raw_")
    ckpt = scratch_dir("fdcs_txnstream_ckpt_")
    register_dts_source(spark)
    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
        for wave in range(int(n_waves)):
            waved.where(F.col("wave") == wave).drop("wave").repartition(2).write.mode(
                "append"
            ).parquet(raw_dir)
            run_available_now(
                spark.readStream.format("dts")
                .option("path", raw_dir)
                .load()
                .writeStream.foreachBatch(apply_batch),
                checkpoint=ckpt,
            )

    applied = state["applied"]
    return applied.groupBy("tbl").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("transaction_id").cast("bigint").alias("n_txns"),
        F.sum("id").alias("id_sum"),
    )


@register(
    "stream_funnel_stages",
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t2) AS t2
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
)
SELECT 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(NULL AS DOUBLE) AS mean_delay_us FROM s1
UNION ALL
SELECT 'click_after_view', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(epoch_us(t2) - epoch_us(t1)) AS DOUBLE) / COUNT(*) FROM s2
UNION ALL
SELECT 'purchase_after_click', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(epoch_us(t3) - epoch_us(t2)) AS DOUBLE) / COUNT(*) FROM s3
""",
    tags=("streaming", "stateful", "cep", "i64dbl"),
)
def stream_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CEP-style funnel detection: a per-user state machine
    (`applyInPandasWithState`, 3 longs of state per user) advances
    view -> click -> purchase on strictly-increasing event times as events
    STREAM through — Flink-CEP's sequence-pattern role on Spark's stateful
    machinery. In-order delivery per key is assumed (the Kafka
    partition-ordering guarantee a keyed CDC stream provides; the replay
    here is globally ts-sorted, and each micro-batch is additionally
    sorted before the transition loop). The update-mode sink's last row
    per user carries the final stage times; their 3-row summary must equal
    the batch funnel closed form (`events_funnel_conversion`'s oracle) —
    the stream IS the batch, caught live. State: 24 bytes/user, evictable
    by timeout in a continuous deployment."""
    import pandas as pd
    from pyspark.sql import types as T

    from flink_dts_connector_spark.session import load_table
    from flink_dts_connector_spark.streaming.runner import run_to_memory

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .orderBy("ts", "event_id")
        .coalesce(1)
    )
    src_dir = scratch_dir("fdcs_funnel_src_")
    ev.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("t1_us", T.LongType()),
            T.StructField("t2_us", T.LongType()),
            T.StructField("t3_us", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("t1", T.LongType()),
            T.StructField("t2", T.LongType()),
            T.StructField("t3", T.LongType()),
        ]
    )

    def fn(key, pdfs, state):
        (user,) = key
        t1, t2, t3 = state.get if state.exists else (-1, -1, -1)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"])
        us_arr = pd.to_datetime(pdf["ts"]).astype("int64") // 1000  # ns -> us
        for us, et in zip(us_arr, pdf["event_type"]):
            us = int(us)
            if et == "view" and t1 < 0:
                t1 = us
            elif et == "click" and t1 >= 0 and t2 < 0 and us > t1:
                t2 = us
            elif et == "purchase" and t2 >= 0 and t3 < 0 and us > t2:
                t3 = us
        state.update((t1, t2, t3))
        yield pd.DataFrame(
            {"user_id": [int(user)], "t1_us": [t1], "t2_us": [t2], "t3_us": [t3]}
        )

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "events")):
        staged = stream.groupBy("user_id").applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
        sink = run_to_memory(staged, output_mode="update")
    # last (monotone: each tX is set once, -1 before) emission per user
    latest = sink.groupBy("user_id").agg(
        F.max("t1_us").alias("t1"), F.max("t2_us").alias("t2"), F.max("t3_us").alias("t3")
    )

    def stage(name: str, a: str, b: str) -> DataFrame:
        hit = latest.where(F.col(b) >= 0)
        delay = (
            (F.sum(F.col(b) - F.col(a)).cast("double") / F.count(F.lit(1)))
            if a
            else F.lit(None).cast("double")
        )
        return hit.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            delay.alias("mean_delay_us"),
        )

    return (
        stage("view", None, "t1")
        .unionAll(stage("click_after_view", "t1", "t2"))
        .unionAll(stage("purchase_after_click", "t2", "t3"))
    )


@register(
    "stream_trending_types",
    oracle=f"""
WITH agg AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
  HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= {SQL_WM_CUTOFF}
)
SELECT window_start, event_type, n, rnk FROM (
  SELECT window_start, event_type, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                 ORDER BY n DESC, event_type) AS BIGINT) AS rnk
  FROM agg
) WHERE rnk <= 2
""",
    tags=("streaming", "window-agg", "rank"),
)
def stream_trending_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending report: top-2 event types per CLOSED hourly
    window — the watermarked windowed count runs inside the stream
    (append mode emits only finalized windows), the per-window rank runs
    on the bounded sink, the standard split because ranking is not an
    incremental-state operator. Deterministic tie-break on the type."""
    from pyspark.sql import Window as W

    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, output_mode="append").select(
        F.col("window.start").alias("window_start"), "event_type", "n"
    )
    rnk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return out.withColumn("rnk", rnk.cast("bigint")).where(F.col("rnk") <= 2)


def _scd2_oracle() -> str:
    from flink_dts_connector_spark.plans.cdc_queries import SQL_PRICE0, SQL_PRICE1

    return f"""
WITH versions AS (
  SELECT o_orderkey, {SQL_PRICE0} AS o_totalprice, o_orderpriority, o_orderdate AS valid_from,
         CASE WHEN o_orderkey % 10 = 0 THEN o_orderdate + INTERVAL 1 HOUR
              WHEN o_orderkey % 7 = 0 THEN o_orderdate + INTERVAL 2 HOUR
              WHEN o_orderkey % 97 = 0 THEN o_orderdate + INTERVAL 3 HOUR END AS valid_to
  FROM orders
  UNION ALL
  SELECT o_orderkey, {SQL_PRICE1}, o_orderpriority, o_orderdate + INTERVAL 1 HOUR,
         CASE WHEN o_orderkey % 7 = 0 THEN o_orderdate + INTERVAL 2 HOUR
              WHEN o_orderkey % 97 = 0 THEN o_orderdate + INTERVAL 3 HOUR END
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, {SQL_PRICE1}, '9-RUSH', o_orderdate + INTERVAL 2 HOUR,
         CASE WHEN o_orderkey % 97 = 0 THEN o_orderdate + INTERVAL 3 HOUR END
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT o_orderkey, o_totalprice, o_orderpriority, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM versions
"""


@register(
    "stream_scd2_maintenance",
    oracle=_scd2_oracle(),
    tags=("streaming", "cdc", "scd2", "sink"),
)
def stream_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 maintenance — the warehouse history table kept live
    by the CDC feed: order events land in three waves (inserts, then
    updates, then deletes — per-key ts order, the Kafka partition-order
    guarantee); each micro-batch (a) CLOSES the affected keys' open
    versions at the batch's first event time and (b) appends the batch's
    own version chain (within-batch LEAD on (ts, record_id)). Deletes
    close without appending — only live keys keep an open row. The oracle
    is the BATCH closed form (`cdc_scd2_history`): hash-matching proves
    the chain of O(|delta|) merges converges to exactly the full
    changelog materialization. Per batch nothing corpus-sized shuffles:
    the close step is a broadcast join on the batch's keys; state is the
    materialized history (a table at 100 TB — same disclosure as
    `stream_incremental_curate`)."""
    from flink_dts_connector_spark.formats.typed import project_table
    from flink_dts_connector_spark.plans.cdc_queries import ORDERS_CDC_SCHEMA
    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.generator import DB, TBL, generate_cdc_bytes
    from pyspark.sql import Window as W

    out_cols = [
        "o_orderkey", "o_totalprice", "o_orderpriority", "valid_from", "valid_to", "is_current",
    ]
    empty = spark.createDataFrame(
        [],
        "o_orderkey bigint, o_totalprice double, o_orderpriority string, "
        "valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    state = {"hist": empty.localCheckpoint()}

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        rows = project_table(bdf, ORDERS_CDC_SCHEMA, table=f"{DB}.{TBL}")
        events = rows.where(F.col("op").isin("I", "UA", "D")).select(
            "o_orderkey", "o_totalprice", "o_orderpriority", "ts", "record_id", "op"
        )
        w = W.partitionBy("o_orderkey").orderBy("ts", "record_id")
        chained = events.withColumn("_next_ts", F.lead("ts").over(w))
        new_versions = chained.where(F.col("op") != "D").select(
            "o_orderkey",
            "o_totalprice",
            "o_orderpriority",
            F.col("ts").alias("valid_from"),
            F.col("_next_ts").alias("valid_to"),
            F.col("_next_ts").isNull().alias("is_current"),
        )
        first_ts = events.groupBy("o_orderkey").agg(
            F.min(F.struct("ts", "record_id"))["ts"].alias("_first_ts")
        )
        hist = state["hist"]
        closed = (
            hist.join(F.broadcast(first_ts), "o_orderkey", "left")
            .select(
                "o_orderkey",
                "o_totalprice",
                "o_orderpriority",
                "valid_from",
                F.when(
                    F.col("is_current") & F.col("_first_ts").isNotNull(), F.col("_first_ts")
                ).otherwise(F.col("valid_to")).alias("valid_to"),
                (F.col("is_current") & F.col("_first_ts").isNull()).alias("is_current"),
            )
        )
        state["hist"] = closed.unionByName(new_versions.select(*out_cols)).localCheckpoint()

    raw_dir = scratch_dir("fdcs_scd2_raw_")
    ckpt = scratch_dir("fdcs_scd2_ckpt_")
    register_dts_source(spark)
    raw = generate_cdc_bytes(spark, sf_dir)
    waves = [
        (F.col("offset") < 10000000000) & (F.col("offset") % 4 == 0),   # inserts
        (F.col("offset") < 10000000000) & (F.col("offset") % 4).isin(1, 2),  # updates
        (F.col("offset") >= 10000000000) | (F.col("offset") % 4 == 3),  # deletes + hb/ddl
    ]
    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
        for cond in waves:
            raw.where(cond).repartition(2).write.mode("append").parquet(raw_dir)
            run_available_now(
                spark.readStream.format("dts")
                .option("path", raw_dir)
                .option("tables", f"{DB}.{TBL}")
                .load()
                .writeStream.foreachBatch(apply_batch),
                checkpoint=ckpt,
            )
    return state["hist"].select(*out_cols)


@register(
    "stream_profile_merge",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), l AS (SELECT * FROM r WHERE rn = 1)
SELECT user_id,
       MAX(CASE WHEN event_type = 'click' THEN value END) AS click_value,
       MAX(CASE WHEN event_type = 'error' THEN value END) AS error_value,
       MAX(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_value,
       MAX(CASE WHEN event_type = 'signup' THEN value END) AS signup_value,
       MAX(CASE WHEN event_type = 'view' THEN value END) AS view_value,
       MAX(ts) AS last_update,
       CAST(COUNT(*) AS BIGINT) AS n_attrs
FROM l GROUP BY user_id
""",
    tags=("streaming", "cdc", "merge", "incremental"),
)
def stream_profile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sparse column-level merge — the live twin of
    `events_sparse_profile_merge`: attribute writes arrive in micro-batches
    INTERLEAVED in event time (waves split by event_id % 3, so a key's
    newest write can land before an older one), and each batch folds into
    a per-(key, attribute) latest-writer state table via a commutative
    max_by merge — so convergence does not depend on delivery order. The
    oracle is the batch closed form: hash-matching proves the chain of
    O(|delta|) merges equals the one-shot materialization. Per batch the
    state table is touched only by a union + keyed re-reduce (state rows =
    one per (key, attr), never the write history; a partitioned table at
    100 TB — same disclosure as `stream_scd2_maintenance`)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    waves_dir = scratch_dir("fdcs_prof_waves_")
    write_waves(ev, F.col("event_id") % 3, waves_dir)

    empty = spark.createDataFrame(
        [], "user_id bigint, event_type string, value double, ts timestamp, event_id bigint"
    )
    state = {"prof": empty.localCheckpoint()}
    pick = F.max_by(
        F.struct("value", "ts", "event_id"), F.struct("ts", "event_id")
    ).alias("w")

    def merge(bdf: DataFrame, batch_id: int) -> None:
        latest_b = (
            bdf.groupBy("user_id", "event_type")
            .agg(pick)
            .select("user_id", "event_type", "w.value", "w.ts", "w.event_id")
        )
        merged = (
            state["prof"].unionByName(latest_b)
            .groupBy("user_id", "event_type")
            .agg(pick)
            .select("user_id", "event_type", "w.value", "w.ts", "w.event_id")
        )
        state["prof"] = merged.localCheckpoint()

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "events")):
        stream = read_waves(spark, empty.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    _require_batches(progress)

    types = ["click", "error", "purchase", "signup", "view"]
    return state["prof"].groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("event_type") == ty, F.col("value"))).alias(f"{ty}_value")
            for ty in types
        ],
        F.max("ts").alias("last_update"),
        F.count(F.lit(1)).cast("bigint").alias("n_attrs"),
    )


@register(
    "stream_count_min_convergence",
    oracle="""
WITH ids AS (
  SELECT CAST(user_id AS VARCHAR) AS w FROM events
), exact AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_n FROM ids GROUP BY 1
), cells AS (
  SELECT j, CAST(md5_number_lower('cms' || CAST(j AS VARCHAR) || ':' || w) % 256 AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM ids CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)
  GROUP BY 1, 2
), cand AS (
  SELECT w, exact_n FROM exact ORDER BY exact_n DESC, w LIMIT 20
), probes AS (
  SELECT cand.w, cand.exact_n, j,
         CAST(md5_number_lower('cms' || CAST(j AS VARCHAR) || ':' || w) % 256 AS BIGINT) AS b
  FROM cand CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)
), est AS (
  SELECT p.w, ANY_VALUE(p.exact_n) AS exact_n,
         CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS cms_estimate
  FROM probes p LEFT JOIN cells c ON c.j = p.j AND c.b = p.b
  GROUP BY p.w
)
SELECT w AS user_key, exact_n, cms_estimate,
       CAST(cms_estimate - exact_n AS BIGINT) AS overestimate
FROM est
""",
    tags=("streaming", "sketch", "update-mode"),
)
def stream_count_min_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING count-min sketch — the live twin of
    `sketch_count_min_heavy_hitters`: the event stream's user-activity
    sketch is maintained as an update-mode streaming aggregation on the
    (row, bucket) cells (state = depth x width rows, CONSTANT in stream
    length — this is why a sketch, not an exact top-k, is the 100 TB
    heavy-hitter answer). Update mode re-emits a cell each time it grows;
    counts only grow, so max-per-cell over the sink is the final sketch,
    and the oracle's batch closed form must hash-match it exactly (a linear
    sketch is order- and batching-insensitive). Probes (top-20 users by
    exact count) come from the batch side for the comparison report."""
    from flink_dts_connector_spark.operators import sketch as SK

    ev = read_stream_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("w")
    )
    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "events")):
        cells = SK.cms_build(ev, item_col="w", depth=4, width=256).withColumnRenamed(
            "c", "n"
        )
        out = run_to_memory(cells, output_mode="update")
    sketch = out.groupBy("j", "b").agg(F.max("n").cast("bigint").alias("c"))

    items = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("w")
    )
    exact = items.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    cand = exact.orderBy(F.desc("exact_n"), F.asc("w")).limit(20)
    est = SK.cms_estimate(sketch, cand.select("w", "exact_n"), "w", depth=4, width=256)
    return cand.join(est, "w").select(
        F.col("w").alias("user_key"),
        "exact_n",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_n")).cast("bigint").alias("overestimate"),
    )


@register(
    "stream_kmv_convergence",
    oracle="""
WITH sk AS (
  SELECT g, h, r FROM (
    SELECT event_type AS g, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM (
      SELECT DISTINCT event_type,
             CAST(md5_number_lower(CAST(user_id AS VARCHAR)) % 2147483647 AS BIGINT) AS h
      FROM events
    )
  ) WHERE r <= 64
), agg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_h,
         MAX(CASE WHEN r = 64 THEN h END) AS hk
  FROM sk GROUP BY 1
), exact AS (
  SELECT event_type AS g, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT a.g AS event_type,
       CAST(CASE WHEN a.n_h < 64 THEN a.n_h
                 ELSE 63 * CAST(2147483647 AS BIGINT) // a.hk END AS BIGINT) AS distinct_est,
       e.exact_distinct
FROM agg a JOIN exact e USING (g)
""",
    tags=("streaming", "sketch", "incremental"),
)
def stream_kmv_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KMV maintenance — the live twin of
    `sketch_kmv_distinct_users`: micro-batches (3 interleaved waves by
    event_id % 3) fold into a ≤k-rows-per-group minimum-hash state table
    via union-then-retake-k — a commutative, idempotent merge, so arrival
    order and batching cannot change the converged sketch, and the batch
    closed form must hash-match it exactly. State is k rows per group
    FOREVER (the reason a streaming distinct-count is a sketch); compare
    `stream_profile_merge` for the same foreachBatch fold pattern."""
    from flink_dts_connector_spark.operators import sketch as SK

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
    waves_dir = scratch_dir("fdcs_kmv_waves_")
    write_waves(ev, F.col("event_id") % 3, waves_dir)

    empty = spark.createDataFrame([], "g string, h bigint")
    state = {"sk": empty.localCheckpoint()}

    def merge(bdf: DataFrame, batch_id: int) -> None:
        batch_sk = SK.kmv_sketch(bdf, key_col="user_id", group_col="event_type", k=64)
        from pyspark.sql import Window as W

        merged = (
            state["sk"]
            .unionByName(batch_sk.select("g", "h"))
            .distinct()
            .withColumn("r", F.row_number().over(W.partitionBy("g").orderBy("h")))
            .where(F.col("r") <= 64)
            .select("g", "h")
        )
        state["sk"] = merged.localCheckpoint()

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "events")):
        stream = read_waves(spark, ev.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)  # state is localCheckpoint-ed
    _require_batches(progress)

    from pyspark.sql import Window as W

    sk = state["sk"].withColumn(
        "r", F.row_number().over(W.partitionBy("g").orderBy("h")).cast("bigint")
    )
    est = SK.kmv_distinct_estimate(sk, k=64)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("g"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    return est.join(exact, "g").select(
        F.col("g").alias("event_type"), "distinct_est", "exact_distinct"
    )


@register(
    "stream_fixed_wire_decode",
    oracle="""
SELECT prio AS o_orderpriority,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM (
  SELECT (CASE WHEN o_orderkey % 10 = 0
               THEN CAST(round(o_totalprice * 100) AS BIGINT) + CAST(round(o_totalprice * 100) AS BIGINT) // 10
               ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) AS cents,
         (CASE WHEN o_orderkey % 7 = 0 THEN '9-RUSH' ELSE o_orderpriority END) AS prio
  FROM orders WHERE o_orderkey % 97 <> 0
)
GROUP BY 1
""",
    tags=("streaming", "cdc", "wire", "jvm-decode"),
)
def stream_fixed_wire_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-layout JVM codec under Structured Streaming: the encoded
    changelog arrives in 3 interleaved micro-batches, `decode_fixed` runs
    as a streaming projection (still pure codegen — the streaming planner
    treats it like any column expression), and an update-mode signed
    aggregation maintains per-priority totals THROUGH deletes (totals can
    shrink, so unlike count-only streams the fold keeps each batch's
    changed keys as the new truth — a relational last-writer-wins merge,
    no driver-side collect). Final state must hash-match the
    current-state aggregate the oracle computes from `orders` directly."""
    from flink_dts_connector_spark.formats.fixedwire import (
        decode_fixed,
        encode_orders_changelog,
        fixed_sign,
    )

    wire = encode_orders_changelog(spark, sf_dir)
    waves_dir = scratch_dir("fdcs_fixw_waves_")
    # wave by record id parity-ish: op byte + low hex digit keeps I/UB/UA/D
    # interleaved across batches
    wave = F.conv(F.substring("value", 17, 1), 16, 10).cast("bigint") % 3
    write_waves(wire, wave, waves_dir)

    empty = spark.createDataFrame(
        [], "o_orderpriority string, sum_cents bigint, n_orders bigint"
    )
    state = {"totals": empty.localCheckpoint()}

    def fold(bdf: DataFrame, epoch: int) -> None:
        changed = bdf.select("o_orderpriority", "sum_cents", "n_orders")
        kept = state["totals"].join(changed.select("o_orderpriority"), "o_orderpriority", "left_anti")
        state["totals"] = kept.unionByName(changed).localCheckpoint()

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
        stream = read_waves(spark, "value string", waves_dir)
        dec = decode_fixed(stream)
        s = fixed_sign("op")
        agg = dec.groupBy("o_orderpriority").agg(
            F.sum(F.col("cents") * s).cast("bigint").alias("sum_cents"),
            F.sum(s).cast("bigint").alias("n_orders"),
        )
        run_available_now(agg.writeStream.foreachBatch(fold).outputMode("update"))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)  # state is localCheckpoint-ed

    return state["totals"].where(F.col("n_orders") > 0)


@register(
    "stream_profiled_watermark",
    oracle="""
WITH raw AS (SELECT event_id, ts FROM events),
sp AS (SELECT 3 * (MAX(event_id) - MIN(event_id)) // 8 AS shift FROM raw),
ev AS (
  SELECT event_id,
         event_id + CASE WHEN event_id % 50 = 0 THEN (SELECT shift FROM sp) ELSE 0 END AS arr,
         ts
  FROM raw
),
b AS (SELECT MIN(arr) mn, MAX(arr) mx FROM ev),
w AS (
  SELECT event_id, ts,
         LEAST(3, CAST((arr - mn) // ((mx - mn) // 4 + 1) AS BIGINT)) AS wave
  FROM ev, b
),
wm AS (SELECT wave, MAX(epoch_us(ts)) AS mx_us FROM w GROUP BY 1),
lw AS (
  SELECT w2.wave, (SELECT MAX(mx_us) FROM wm v WHERE v.wave <= w2.wave - 2) AS lw_us
  FROM (SELECT DISTINCT wave FROM w) w2
),
dis AS (
  SELECT MAX(epoch_us(rmax) - epoch_us(ts)) AS mx_dis
  FROM (SELECT ts, MAX(ts) OVER (ORDER BY arr, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax FROM ev)
),
rec AS (SELECT CAST(CEIL((SELECT mx_dis FROM dis) / 1000.0) AS BIGINT) + 1000 AS delay_ms),
arms AS (
  SELECT 'default_10min' AS arm, CAST(600000 AS BIGINT) AS delay_ms
  UNION ALL
  SELECT 'profiled', (SELECT delay_ms FROM rec)
),
j AS (SELECT w.*, lw.lw_us FROM w JOIN lw USING (wave))
SELECT a.arm, a.delay_ms,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN j.lw_us IS NOT NULL
                      AND (epoch_ms(j.ts) // 3600000 + 1) * 3600000 <= j.lw_us // 1000 - a.delay_ms
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN j.lw_us IS NOT NULL
                      AND (epoch_ms(j.ts) // 3600000 + 1) * 3600000 <= j.lw_us // 1000 - a.delay_ms
                THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted
FROM arms a CROSS JOIN j
GROUP BY a.arm, a.delay_ms
""",
    tags=("streaming", "watermark", "streaming-ops"),
)
def stream_profiled_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the watermark-profiler loop: the disorder profiler RECOMMENDS
    a delay (ceil of the max arrival-order lateness + 1s margin), then two
    REAL Structured Streaming runs — Spark's 10-minute default vs the
    recommendation — measure what actually drops, and the closed-form
    oracle must predict both counts exactly. Arrival disorder is synthetic
    and deterministic (every 50th event arrives 3/8-of-the-stream late, a
    1.5-wave displacement — the fixture's natural event order has zero
    disorder), delivered as 4 arrival-ordered micro-batches.

    The drop model the oracle mirrors (pinned empirically on this Spark):
    the late-event filter of batch k uses the watermark in effect DURING
    batch k-1 — i.e. floor-to-ms of the max event time over batches
    <= k-2, minus the delay — and a window is dropped iff its END <= that
    lagged watermark. Measured drops come from sink accounting (total −
    final per-window counts; exact, since evicted windows cannot be
    re-created), sanity-gated by the engine's numRowsDroppedByWatermark
    counter — which counts map-side PARTIAL rows, not input rows (pinned
    at sf0.1: 44 partials for 121 dropped inputs). At 100 TB the profiler runs
    per-partition on arrival slices (events_disorder_profile) and this
    pair is the acceptance test a pipeline runs before fixing its
    watermark config."""
    import os
    import shutil
    import uuid

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    bounds = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).collect()[0]
    mn, mx = int(bounds["mn"]), int(bounds["mx"])
    shift = 3 * (mx - mn) // 8
    arr = F.col("event_id") + F.when(F.col("event_id") % 50 == 0, F.lit(shift)).otherwise(
        F.lit(0)
    )
    waved = ev.withColumn("arr", arr)
    amn, amx = (
        int(r)
        for r in waved.agg(F.min("arr"), F.max("arr")).collect()[0]
    )
    wave_w = (amx - amn) // 4 + 1
    waved = waved.withColumn(
        "wave", F.least(F.lit(3), ((F.col("arr") - amn) / wave_w).cast("bigint"))
    )

    # profiler recommendation: ceil(max arrival-order lateness) + 1s margin.
    # The global arrival-order prefix max is a single-partition window —
    # fine here; at scale events_disorder_profile's per-partition form is
    # the production profiler and the recommendation is its per-part max.
    from pyspark.sql import Window as W

    rmax = F.max("ts").over(
        W.orderBy("arr", "event_id").rowsBetween(W.unboundedPreceding, 0)
    )
    max_dis_us = waved.select(
        (F.unix_micros(rmax) - F.unix_micros("ts")).alias("d")
    ).agg(F.max("d")).collect()[0][0]
    rec_delay_ms = -(-int(max_dis_us) // 1000) + 1000

    # stage 4 arrival-ordered wave files with pinned names + mtimes (the
    # file source orders by modification time; ties would scramble waves)
    waves_dir = scratch_dir("fdcs_profwm_waves_")
    stage_tmp = scratch_dir("fdcs_profwm_stage_")
    for k in range(4):
        part_dir = os.path.join(stage_tmp, f"w{k}")
        waved.where(F.col("wave") == k).select("event_id", "ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = os.path.join(waves_dir, f"wave{k}.parquet")
        shutil.copy(os.path.join(part_dir, part), dst)
        os.utime(dst, (1700000000 + k, 1700000000 + k))

    total = ev.count()
    rows = []
    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "events")):
        for arm, delay_ms in (("default_10min", 600000), ("profiled", rec_delay_ms)):
            agg = (
                spark.readStream.schema("event_id long, ts timestamp")
                .option("maxFilesPerTrigger", "1")
                .parquet(waves_dir)
                .withWatermark("ts", f"{delay_ms} milliseconds")
                .groupBy(F.window("ts", "1 hour"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            name = f"profwm_{uuid.uuid4().hex[:8]}"
            progress = run_available_now(
                agg.writeStream.format("memory").queryName(name).outputMode("update")
            )
            # numRowsDroppedByWatermark counts rows AFTER the map-side
            # partial aggregation (one partial per (window, task)) — at
            # sf0.1 the engine reports 44 partials for 121 dropped INPUT
            # rows, so the metric is a presence signal, not a row count.
            # Input-row drops come from the sink: update mode re-emits a
            # window each time it grows, max-per-window is its final
            # count, and windows cannot be re-created after eviction
            # (anything targeting an evicted window is late-filtered, its
            # end being <= the lagged watermark) — so admitted =
            # sum-of-max and dropped = total - admitted, exactly.
            dropped_partials = sum(
                int(op.get("numRowsDroppedByWatermark") or 0)
                for p in progress
                for op in (p.get("stateOperators") or [])
            )
            admitted = (
                spark.table(name)
                .groupBy("window")
                .agg(F.max("n").alias("n"))
                .agg(F.sum("n"))
                .collect()[0][0]
            )
            admitted = int(admitted or 0)
            dropped = total - admitted
            if (dropped_partials > 0) != (dropped > 0):
                raise AssertionError(
                    f"{arm}: engine metric ({dropped_partials} dropped partials) "
                    f"disagrees with sink accounting ({dropped} dropped rows)"
                )
            rows.append((arm, delay_ms, total, dropped, admitted))
    return spark.createDataFrame(
        rows, "arm string, delay_ms bigint, n_events bigint, n_dropped bigint, n_admitted bigint"
    )


@register(
    "stream_hll_convergence",
    oracle="""
WITH regs AS (
  SELECT g, j, CAST(MAX(CASE WHEN v = 0 THEN 32 ELSE 32 - length(bin(v)) END) AS BIGINT) AS r
  FROM (
    SELECT g, CAST(md5_number_lower(k || ':hllb') % 256 AS BIGINT) AS j,
           CAST(md5_number_lower(k || ':hllr') % 2147483648 AS BIGINT) AS v
    FROM (SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS k FROM events)
  ) GROUP BY 1, 2
),
est AS (
  SELECT g,
         CAST(4043669515425284096 AS BIGINT) // (10000 * (sp + (256 - np) * (CAST(1 AS BIGINT) << 33))) AS hll_est,
         CAST(256 - np AS BIGINT) AS n_zero_registers
  FROM (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS np,
           CAST(SUM(CAST(1 AS BIGINT) << (33 - r)) AS BIGINT) AS sp
    FROM regs GROUP BY 1
  )
),
exact AS (
  SELECT event_type AS g, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT e.g AS event_type, est.hll_est, est.n_zero_registers, e.exact_distinct
FROM est JOIN exact e USING (g)
""",
    tags=("streaming", "sketch", "hll", "incremental"),
)
def stream_hll_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HLL maintenance — the live twin of
    `sketch_hll_distinct_users`: micro-batches (3 interleaved waves by
    event_id % 3) fold per-batch register tables into the state by
    per-cell MAX — idempotent and commutative, so arrival order and
    batching cannot change the converged registers, and the batch closed
    form must hash-match exactly. State is 256 BIGINTs per group FOREVER —
    the streaming distinct-count answer, completing the convergence
    battery (CMS update-mode, KMV retake-k, HLL max-merge)."""
    from flink_dts_connector_spark.operators import sketch as SK

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
    waves_dir = scratch_dir("fdcs_hll_waves_")
    write_waves(ev, F.col("event_id") % 3, waves_dir)

    empty = spark.createDataFrame([], "g string, j bigint, r bigint")
    state = {"regs": empty.localCheckpoint()}

    def merge(bdf: DataFrame, batch_id: int) -> None:
        batch_regs = SK.hll_registers(bdf, key_col="user_id", group_col="event_type")
        state["regs"] = SK.hll_merge(state["regs"], batch_regs).localCheckpoint()

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "events")):
        stream = read_waves(spark, ev.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)  # state is localCheckpoint-ed
    _require_batches(progress)

    est = SK.hll_estimate(state["regs"])
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("g"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    return est.join(exact, "g").select(
        F.col("g").alias("event_type"), "hll_est", "n_zero_registers", "exact_distinct"
    )


@register(
    "stream_store_tail",
    oracle="""
SELECT prio AS o_orderpriority,
       CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_open_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM (
  SELECT (CASE WHEN o_orderkey % 7 = 0 THEN '9-RUSH' ELSE o_orderpriority END) AS prio,
         ((CASE WHEN o_orderkey % 10 = 0
                THEN CAST(round(o_totalprice * 100) AS BIGINT) + CAST(round(o_totalprice * 100) AS BIGINT) // 10
                ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0) AS price
  FROM orders WHERE o_orderkey % 97 <> 0
)
GROUP BY 1
""",
    tags=("streaming", "cdc", "decode-once", "storage", "dec2"),
)
def stream_store_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode-once store as a STREAMING SOURCE: a downstream consumer
    tails the store directory (the file stream source reads the streaming
    sink's own `_spark_metadata` log, so it sees exactly the committed
    files), projects the typed changelog, and maintains a signed
    retraction-correct aggregate in update mode — proving store consumers
    need zero wire decode even when they are themselves streams. The fold
    is last-writer-wins per key (totals can SHRINK through deletes), same
    pattern as `stream_fixed_wire_decode`; final state must hash-match the
    current-state aggregate the oracle computes from `orders` directly."""
    from flink_dts_connector_spark.formats.ingest import ingest_once
    from flink_dts_connector_spark.formats.typed import project_table
    from flink_dts_connector_spark.operators.changelog import sign_col
    from flink_dts_connector_spark.plans.cdc_queries import ORDERS_CDC_SCHEMA
    from flink_dts_connector_spark.sources.generator import DB, TBL

    store = ingest_once(spark, sf_dir)
    schema = spark.read.parquet(store).schema

    empty = spark.createDataFrame(
        [], "o_orderpriority string, total_open_price decimal(38,2), n_orders bigint"
    )
    state = {"totals": empty.localCheckpoint()}

    def fold(bdf: DataFrame, epoch: int) -> None:
        changed = bdf.select("o_orderpriority", "total_open_price", "n_orders")
        kept = state["totals"].join(
            changed.select("o_orderpriority"), "o_orderpriority", "left_anti"
        )
        state["totals"] = kept.unionByName(changed).localCheckpoint()

    # derive the trigger size from the store's actual committed file count so
    # at least two micro-batches are guaranteed at ANY fixture scale (the old
    # hard-coded 60 errored whenever tables×months yielded <= 60 files)
    import glob as _glob
    import os as _os

    n_files = sum(
        1
        for p in _glob.glob(_os.path.join(store, "**", "*.parquet"), recursive=True)
        if "_spark_metadata" not in p
    )
    per_trigger = max(1, -(-n_files // 2))  # ceil(n/2): batch2 gets the rest

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
        env = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(per_trigger))
            .parquet(store)
        )
        chg = project_table(
            env.where(F.col("tbl_part") == TBL), ORDERS_CDC_SCHEMA, table=f"{DB}.{TBL}"
        )
        s = sign_col("op")
        agg = chg.groupBy("o_orderpriority").agg(
            # dec2: 6.5e10 at sf1 breaches the scale-6 bound (cents are
            # exact at scale 2, so no rounding is introduced here)
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * s)
            .cast("decimal(38,2)")
            .alias("total_open_price"),
            F.sum(s).cast("bigint").alias("n_orders"),
        )
        progress = run_available_now(
            agg.writeStream.foreachBatch(fold).outputMode("update")
        )
    _require_batches(progress)
    return (
        state["totals"]
        .where(F.col("n_orders") > 0)
        .select(
            "o_orderpriority",
            F.col("total_open_price").cast("double").alias("total_open_price"),
            "n_orders",
        )
    )


@register(
    "stream_jvm_prefiltered_ingest",
    oracle="""
WITH recs AS (
  SELECT 'UPDATE' AS operation, o_orderkey * 4 + 1 AS id
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT 'UPDATE', o_orderkey * 4 + 2 FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT 'DELETE', o_orderkey * 4 + 3 FROM orders WHERE o_orderkey % 97 = 0
)
SELECT operation, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(id) AS BIGINT) AS id_sum
FROM recs GROUP BY operation
""",
    tags=("streaming", "cdc", "jvm-header"),
)
def stream_jvm_prefiltered_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM header pre-filter under Structured Streaming: a raw-bytes
    file stream flows through `jvmheader.prefilter` (pure column
    expressions — the micro-batch plan drops INSERT/HEARTBEAT/DDL records
    before any Python stage) and only the UPDATE/DELETE survivors cross
    into the Arrow-batched decoder; an update-mode running aggregation
    must converge to the closed-form totals. This is the shape of a
    production multi-tenant-topic consumer: per-micro-batch Python cost
    tracks the selection, not the topic."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.formats.jvmheader import prefilter
    from flink_dts_connector_spark.sources.generator import (
        DB,
        TBL,
        generate_cdc_bytes,
    )
    from flink_dts_connector_spark.streaming.runner import run_to_memory

    raw_dir = scratch_dir("fdcs_jvmpre_raw_")
    generate_cdc_bytes(spark, sf_dir).select("value").repartition(4).write.mode(
        "overwrite"
    ).parquet(raw_dir)
    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
        raw = spark.readStream.schema("value binary").parquet(raw_dir)
        pre = prefilter(raw, tables=[f"{DB}.{TBL}"], ops=["UPDATE", "DELETE"])
        env = decode_cdc(pre, tables=[f"{DB}.{TBL}"], ops=["UPDATE", "DELETE"])
        agg = env.groupBy("operation").agg(
            F.count(F.lit(1)).alias("n"), F.sum("id").alias("id_sum")
        )
        sink = run_to_memory(agg, output_mode="update")
    return sink.groupBy("operation").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("id_sum").cast("bigint").alias("id_sum"),
    )


@register(
    "stream_jvm_typed_ingest",
    oracle="""
WITH chg AS (
  SELECT 'I' AS op, o_orderkey FROM orders
  UNION ALL SELECT 'UB', o_orderkey FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL SELECT 'UA', o_orderkey FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL SELECT 'UB', o_orderkey FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL SELECT 'UA', o_orderkey FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL SELECT 'D', o_orderkey FROM orders WHERE o_orderkey % 97 = 0
)
SELECT op, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM chg GROUP BY op
""",
    tags=("streaming", "cdc", "jvm-decode", "typed"),
)
def stream_jvm_typed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM VALUE decode under Structured Streaming — the deploy shape
    of the r8 typed path: a raw-bytes file stream decodes to the typed
    changelog entirely inside micro-batch column expressions
    (`formats/jvmvalue.py:decode_typed_jvm` — anchor locate, per-field
    folds, shared render; zero Python workers start for the decode), and
    an update-mode running aggregation over the typed rows must converge
    to the whole-table closed form. Complements
    `stream_jvm_prefiltered_ingest` (header tier streamed, r7) — with
    this, BOTH JVM decode tiers are proven under streaming plans, so a
    100 TB declared-schema topic can run ingest → typed changelog →
    aggregation without a Python stage anywhere in the hot path."""
    from flink_dts_connector_spark.formats.jvmvalue import decode_typed_jvm
    from flink_dts_connector_spark.plans.cdc_queries import ORDERS_CDC_SCHEMA
    from flink_dts_connector_spark.sources.generator import (
        DB,
        ORDERS_FIELDS,
        TBL,
        generate_cdc_bytes,
    )
    from flink_dts_connector_spark.streaming.runner import run_to_memory

    raw_dir = scratch_dir("fdcs_jvmtyped_raw_")
    generate_cdc_bytes(spark, sf_dir).select("value").repartition(4).write.mode(
        "overwrite"
    ).parquet(raw_dir)
    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
        raw = spark.readStream.schema("value binary").parquet(raw_dir)
        typed = decode_typed_jvm(raw, ORDERS_CDC_SCHEMA, ORDERS_FIELDS, f"{DB}.{TBL}")
        agg = typed.groupBy("op").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("key_sum")
        )
        sink = run_to_memory(agg, output_mode="update")
    return sink.groupBy("op").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("key_sum").cast("bigint").alias("key_sum"),
    )


@register(
    "stream_histogram_convergence",
    oracle="""
WITH vals AS (
  SELECT o_orderpriority AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
), hist AS (
  SELECT g, v // 65536 AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY 1, 2
), cum AS (
  SELECT g, bucket, SUM(c) OVER (PARTITION BY g ORDER BY bucket) AS cum,
         SUM(c) OVER (PARTITION BY g) AS n
  FROM hist
), qs AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100)) AS t(q_num, q_den)),
ranked AS (
  SELECT g, bucket, cum, q_num, q_den,
         GREATEST((q_num * n + q_den - 1) // q_den, 1) AS rank
  FROM cum CROSS JOIN qs
), hit AS (
  SELECT g, q_num, q_den, MIN(bucket) AS bucket
  FROM ranked WHERE cum >= rank GROUP BY 1, 2, 3
)
SELECT g, CAST(q_num AS INT) AS q_num, CAST(q_den AS INT) AS q_den,
       CAST(bucket * 65536 AS BIGINT) AS est_lo,
       CAST(bucket * 65536 + 65535 AS BIGINT) AS est_hi
FROM hit
""",
    tags=("streaming", "sketch", "quantile", "incremental"),
)
def stream_histogram_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quantile-sketch maintenance — the live twin of
    `sketch_histogram_quantiles`, completing the streaming convergence
    battery (CMS update-mode, KMV retake-k, HLL max-merge, histogram
    cell-ADDITION): micro-batches (3 interleaved waves by orderkey % 3)
    fold per-batch histogram cells into the state by addition — linear,
    so arrival order and batching cannot change the converged cells, and
    every quantile answered from the streamed sketch must hash-match the
    whole-table closed form. State is O(cells) per group forever — the
    streaming percentile answer at 100 TB."""
    from flink_dts_connector_spark.operators import sketch as SK

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    waves_dir = scratch_dir("fdcs_hq_waves_")
    write_waves(orders, F.col("o_orderkey") % 3, waves_dir)

    empty = spark.createDataFrame([], "g string, bucket bigint, c bigint")
    state = {"cells": empty.localCheckpoint()}

    def merge(bdf: DataFrame, batch_id: int) -> None:
        batch_cells = SK.value_histogram(
            bdf.select(
                F.col("o_orderpriority").alias("g"),
                F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            ),
            "g",
            "v",
            16,
        )
        state["cells"] = SK.histogram_merge(state["cells"], batch_cells).localCheckpoint()

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
        stream = read_waves(spark, orders.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)  # state is localCheckpoint-ed
    _require_batches(progress)
    return SK.histogram_quantiles(
        state["cells"], [(1, 2), (9, 10), (99, 100)], 16
    ).select("g", "q_num", "q_den", "est_lo", "est_hi")


@register(
    "stream_drift_monitor",
    oracle="""
WITH e AS (
  SELECT event_type,
         CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS half,
         LEAST(CAST(FLOOR(value / 25) AS BIGINT), 19) AS bucket
  FROM events
), cells AS (
  SELECT event_type, bucket,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM e GROUP BY 1, 2
), halves AS (
  SELECT event_type, CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
  FROM cells GROUP BY 1
), diffs AS (
  SELECT c.event_type, c.bucket, h.n0, h.n1,
         ABS(CAST(c.c0 AS HUGEINT) * h.n1 - CAST(c.c1 AS HUGEINT) * h.n0) AS diff
  FROM cells c JOIN halves h USING (event_type)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY diff DESC, bucket) AS rk
  FROM diffs
)
SELECT event_type, n0 AS n_first_half, n1 AS n_second_half,
       CAST(1000000 * SUM(diff) // (2 * CAST(n0 AS HUGEINT) * n1) AS BIGINT)
         AS tv_drift_ppm,
       CAST(MAX(CASE WHEN rk = 1 THEN bucket END) AS BIGINT) AS top_drift_bucket
FROM ranked GROUP BY event_type, n0, n1
""",
    tags=("streaming", "drift", "incremental"),
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distribution-drift monitor — the live twin of
    `events_drift_tv`: micro-batches (3 interleaved waves by event_id % 3)
    fold per-batch (event_type, bucket) half-month histogram cells into
    running state by ADDITION — linear, so arrival order and batching
    cannot change the converged cells — and the drift report computed
    from the streamed state must hash-match the whole-table closed form.
    This is the deploy shape of the drift gate: the reference histogram
    and the live histogram accrue cell-by-cell as data lands, the TV
    distance is recomputed per trigger from O(|types|×|buckets|) state,
    and no micro-batch ever re-scans history. State is O(cells) forever —
    the drift answer at 100 TB costs the same as at 100 MB."""
    from flink_dts_connector_spark.plans.ext_queries import (
        drift_tv_cells,
        drift_tv_report,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    waves_dir = scratch_dir("fdcs_drift_waves_")
    write_waves(events, F.col("event_id") % 3, waves_dir)

    empty = spark.createDataFrame(
        [], "event_type string, bucket bigint, c0 bigint, c1 bigint"
    )
    state = {"cells": empty.localCheckpoint()}

    def merge(bdf: DataFrame, batch_id: int) -> None:
        batch_cells = drift_tv_cells(bdf)
        state["cells"] = (
            state["cells"]
            .unionByName(batch_cells)
            .groupBy("event_type", "bucket")
            .agg(
                F.sum("c0").cast("bigint").alias("c0"),
                F.sum("c1").cast("bigint").alias("c1"),
            )
            .localCheckpoint()
        )

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "events")):
        stream = read_waves(spark, events.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)  # state is localCheckpoint-ed
    _require_batches(progress)
    return drift_tv_report(state["cells"])


def _seasonal_oracle() -> str:
    from flink_dts_connector_spark.plans.ext_queries import SEASONAL_DECOMP_ORACLE

    return SEASONAL_DECOMP_ORACLE


@register(
    "stream_seasonal_monitor",
    oracle=_seasonal_oracle(),
    tags=("streaming", "timeseries", "decomposition", "incremental"),
)
def stream_seasonal_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING seasonal decomposition — the live twin of
    `events_seasonal_decompose`: micro-batches (3 interleaved waves by
    event_id % 3) fold per-batch DAILY COUNT cells into running state by
    addition (linear — arrival order and batching cannot change the
    converged cells), and the decomposition recomputed from the streamed
    state must hash-match the whole-table closed form. The deploy shape
    of a seasonality dashboard: state is O(days) forever (365 rows/year
    at ANY event volume), each trigger re-derives trend/seasonal/residual
    from that tiny frame, and no micro-batch ever re-scans history."""
    from flink_dts_connector_spark.plans.ext_queries import (
        seasonal_daily_cells,
        seasonal_decompose_report,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    waves_dir = scratch_dir("fdcs_seas_waves_")
    write_waves(events, F.col("event_id") % 3, waves_dir)

    empty = spark.createDataFrame([], "day date, n bigint")
    state = {"cells": empty.localCheckpoint()}

    def merge(bdf: DataFrame, batch_id: int) -> None:
        state["cells"] = (
            state["cells"]
            .unionByName(seasonal_daily_cells(bdf))
            .groupBy("day")
            .agg(F.sum("n").cast("bigint").alias("n"))
            .localCheckpoint()
        )

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "events")):
        stream = read_waves(spark, events.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)  # state is localCheckpoint-ed
    _require_batches(progress)
    return seasonal_decompose_report(state["cells"])


# ---------------------------------------------------------------------------
# r10: DStore failover re-seek, end-to-end over the wire-level fake broker
# ---------------------------------------------------------------------------

#: (applicationId, sf_dir) -> (phase1 parquet dir, phase2 parquet dir)
_FAILOVER_CACHE: dict[tuple[str, str], tuple[str, str]] = {}

_FAILOVER_TS_BASE = 1_500_000_000_000  # ms; +1 ms per record id


def _failover_phase_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run the reference's signature failover flow once per session:

    1. Broker A (cluster id dstore-A, offsets from 5000) holds the stream's
       PREFIX — every record with ts <= cut (cut = 2*max(o_orderkey) ids in);
       a consumer drains it, tracking offset@timestamp per partition
       (`streaming/failover.py`, `util/DtsUtil.java:15-25`).
    2. The DStore fails over: broker B (cluster id dstore-B, offsets from 0
       — a fresh reload) holds the FULL log. Stored offsets are
       meaningless; stored timestamps are not.
    3. `DtsProgressTracker.cluster_switched` detects the id change
       (`fetcher/ClusterSwitchListener.java:32-50`) and the consumer
       restarts with `startingOffsetsByTimestamp` built from the tracked
       timestamps (`FlinkDtsKafkaConsumer.java:303-333`) — re-reading the
       boundary second per partition, skipping nothing.

    Both phases' decoded envelopes land in parquet; the query aggregates
    their union. At 100 TB the phases are real Kafka streams — everything
    downstream of `read_stream` is unchanged."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _FAILOVER_CACHE.get(key)
    if cached is not None:
        return cached

    from flink_dts_connector_spark.sources.fakebroker import (
        broker_cluster_id,
        create_broker,
        register_fake_broker,
    )
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes
    from flink_dts_connector_spark.sources.kafka import read_stream
    from flink_dts_connector_spark.streaming.failover import DtsProgressTracker

    register_fake_broker(spark)
    topic = "dts-failover-topic"
    users = [("alice-SID42", "s3cret")]
    recs = generate_cdc_bytes(spark, sf_dir).select(
        "value",
        "partition",
        (F.lit(_FAILOVER_TS_BASE) + F.col("offset")).alias("ts_ms"),
    )
    cut_id = 2 * load_table(spark, sf_dir, "orders").agg(
        F.max("o_orderkey")
    ).collect()[0][0]
    cut_ts = _FAILOVER_TS_BASE + int(cut_id)

    broker_a = scratch_dir("fdcs_brokerA_")
    broker_b = scratch_dir("fdcs_brokerB_")
    create_broker(
        spark, recs.where(F.col("ts_ms") <= cut_ts), broker_a,
        "dstore-A", topic, users=users, offset_base=5000,
    )
    create_broker(
        spark, recs, broker_b, "dstore-B", topic, users=users, offset_base=0,
    )

    def run_phase(broker: str, out: str, offsets_by_timestamp: str | None) -> None:
        env = read_stream(
            spark, broker, topic, sid="SID42", user="alice", password="s3cret",
            offsets_by_timestamp=offsets_by_timestamp, source_format="kafka_fake",
        ).select("id", "operation", "kafka_partition", "kafka_offset", "kafka_timestamp")
        with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
            run_available_now(env.writeStream.format("parquet").option("path", out))

    out1 = scratch_dir("fdcs_failover_p1_")
    run_phase(broker_a, out1, None)

    # offset@timestamp progress from the drained phase (4 scalar rows)
    tracker = DtsProgressTracker(state_path=scratch_dir("fdcs_failover_st_") + "/progress.json")
    tracker.cluster_id = broker_cluster_id(broker_a)
    prog = (
        spark.read.parquet(out1)
        .groupBy("kafka_partition")
        .agg(
            F.max("kafka_offset").alias("off"),
            F.max(F.unix_timestamp("kafka_timestamp")).alias("ts"),
        )
        .collect()
    )
    tracker.update_from_batch((r["kafka_partition"], r["off"], r["ts"]) for r in prog)
    if not tracker.cluster_switched(broker_cluster_id(broker_b)):
        raise AssertionError("cluster switch must be detected before re-seeking")
    by_ts = tracker.starting_offsets_by_timestamp(topic)

    out2 = scratch_dir("fdcs_failover_p2_")
    run_phase(broker_b, out2, by_ts)
    _FAILOVER_CACHE[key] = (out1, out2)
    return out1, out2


@register(
    "stream_failover_reseek",
    oracle="""
WITH ids AS (
  SELECT o_orderkey*4 AS id, 'INSERT' AS operation FROM orders
  UNION ALL
  SELECT o_orderkey*4+1, 'UPDATE' FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey*4+2, 'UPDATE' FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey*4+3, 'DELETE' FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT 10000000000+o_orderkey, 'HEARTBEAT' FROM orders WHERE o_orderkey % 50 = 0
  UNION ALL
  SELECT 20000000000+o_orderkey, 'DDL' FROM orders WHERE o_orderkey % 200 = 0
),
recs AS (SELECT id, operation, id % 4 AS part, 1500000000000 + id AS ts FROM ids),
cut AS (SELECT 1500000000000 + 2*MAX(o_orderkey) AS cut_ts FROM orders),
prefix AS (SELECT r.* FROM recs r, cut c WHERE r.ts <= c.cut_ts),
seek AS (SELECT part, (MAX(ts) // 1000) * 1000 AS tp FROM prefix GROUP BY part),
phase2 AS (SELECT r.* FROM recs r JOIN seek s ON r.part = s.part WHERE r.ts >= s.tp),
uni AS (
  SELECT id, operation, MAX(p1) + MAX(p2) AS nsrc FROM (
    SELECT id, operation, 1 AS p1, 0 AS p2 FROM prefix
    UNION ALL
    SELECT id, operation, 0 AS p1, 1 AS p2 FROM phase2
  ) GROUP BY id, operation
)
SELECT operation, CAST(COUNT(*) AS BIGINT) AS n_covered,
       CAST(SUM(id) AS BIGINT) AS id_sum,
       CAST(SUM(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_redelivered
FROM uni GROUP BY operation
""",
    tags=("streaming", "failover", "kafka"),
)
def stream_failover_reseek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: kill → cluster switch → timestamp re-seek, END TO END through
    `sources/kafka.py` + `sources/fakebroker.py` + `streaming/failover.py`
    (the reference's signature feature, previously only unit-tested). The
    oracle reconstructs BOTH phases in SQL: the prefix read from cluster A,
    the per-partition re-seek second on cluster B (tracker stores whole
    seconds — `offset@timestamp`, `util/DtsUtil.java:15-18`), and the union
    with duplicate accounting. n_covered/id_sum per operation hash-matching
    the full id universe IS the no-gaps proof; n_redelivered > 0 rows show
    the at-least-once boundary re-read the reference documents
    (README.md:26-28)."""
    out1, out2 = _failover_phase_dirs(spark, sf_dir)
    p1 = spark.read.parquet(out1).select(
        "id", "operation", F.lit(1).alias("p1"), F.lit(0).alias("p2")
    )
    p2 = spark.read.parquet(out2).select(
        "id", "operation", F.lit(0).alias("p1"), F.lit(1).alias("p2")
    )
    uni = (
        p1.unionAll(p2)
        .groupBy("id", "operation")
        .agg((F.max("p1") + F.max("p2")).alias("nsrc"))
    )
    return uni.groupBy("operation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_covered"),
        F.sum("id").cast("bigint").alias("id_sum"),
        F.sum(F.when(F.col("nsrc") == 2, 1).otherwise(0)).cast("bigint").alias("n_redelivered"),
    )


@register(
    "stream_media_catalog",
    oracle="""
WITH p AS (
  SELECT doc_id,
         3 + doc_id % 5 AS nf,
         5 + doc_id % 9 AS bidx,
         doc_id % 3 AS sridx,
         doc_id % 17 AS id3m
  FROM documents
), t AS (
  SELECT doc_id, nf, id3m,
         CASE bidx WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
                   WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
                   WHEN 12 THEN 224 WHEN 13 THEN 256 END AS kbps,
         CASE sridx WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
  FROM p
), fr AS (
  SELECT doc_id, kbps, sr,
         144 * kbps * 1000 // sr + (doc_id + k.k) % 2 AS fsize,
         (doc_id * 7 + k.k * 13) % 251 AS v
  FROM t, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS k) k
), per_doc AS (
  SELECT doc_id, ANY_VALUE(kbps) AS kbps, ANY_VALUE(sr) AS sr,
         COUNT(*) AS nf, SUM(fsize) AS stream_bytes,
         SUM(v * (fsize - 4)) AS psum
  FROM fr GROUP BY doc_id
), with_tag AS (
  SELECT pd.*, 10 + t.id3m AS id3_bytes
  FROM per_doc pd JOIN t USING (doc_id)
)
SELECT CAST(sr AS BIGINT) AS sample_rate,
       CAST(kbps AS BIGINT) AS bitrate_kbps,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nf) AS BIGINT) AS total_frames,
       CAST(SUM(nf) * 1152 AS BIGINT) AS total_samples,
       CAST(SUM(nf) * 1152 * 1000 // sr AS BIGINT) AS total_duration_ms,
       CAST(SUM(stream_bytes + id3_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(psum) AS BIGINT) AS payload_sum
FROM with_tag GROUP BY sr, kbps
""",
    tags=("streaming", "ext", "multimodal", "codec"),
)
def stream_media_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING media-catalog maintenance — the live twin of
    `multimodal_mp3_features`, proving the container codec under
    micro-batch plans (the Arrow-batched frame walk runs inside
    foreachBatch like a real media-ingest firehose): documents arrive in
    3 interleaved waves (doc_id % 3), each batch attaches genuine MPEG-1
    Layer III payloads, frame-walks them, and folds per-(sample_rate,
    bitrate) catalog cells into O(formats) state BY ADDITION — linear, so
    arrival order and batching cannot change the converged catalog, and
    the result must hash-match the whole-corpus closed form. The catalog
    (docs / frames / samples / exact-integer duration / bytes / payload
    checksum per format cell) is what a 100 TB media lake maintains
    incrementally instead of re-walking every file."""
    from flink_dts_connector_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    waves_dir = scratch_dir("fdcs_media_waves_")
    write_waves(docs, F.col("doc_id") % 3, waves_dir)

    empty = spark.createDataFrame(
        [],
        "sample_rate bigint, bitrate_kbps bigint, n_docs bigint, total_frames bigint,"
        " stream_bytes bigint, id3_bytes bigint, payload_sum bigint",
    )
    state = {"cells": empty.localCheckpoint()}

    def merge(bdf: DataFrame, batch_id: int) -> None:
        feats = M.decode_mp3_features(M.attach_mp3_media(bdf))
        batch_cells = feats.groupBy("sample_rate", "bitrate_kbps").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_frames").cast("bigint").alias("total_frames"),
            F.sum(F.col("n_bytes") - F.col("id3_bytes")).cast("bigint").alias("stream_bytes"),
            F.sum("id3_bytes").cast("bigint").alias("id3_bytes"),
            F.sum("payload_sum").cast("bigint").alias("payload_sum"),
        )
        merged = (
            state["cells"]
            .unionByName(batch_cells)
            .groupBy("sample_rate", "bitrate_kbps")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("total_frames").cast("bigint").alias("total_frames"),
                F.sum("stream_bytes").cast("bigint").alias("stream_bytes"),
                F.sum("id3_bytes").cast("bigint").alias("id3_bytes"),
                F.sum("payload_sum").cast("bigint").alias("payload_sum"),
            )
        )
        state["cells"] = merged.localCheckpoint()

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "documents")):
        stream = read_waves(spark, docs.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)
    _require_batches(progress)
    return state["cells"].select(
        "sample_rate",
        "bitrate_kbps",
        "n_docs",
        "total_frames",
        (F.col("total_frames") * 1152).cast("bigint").alias("total_samples"),
        F.expr("total_frames * 1152 * 1000 div sample_rate")
        .cast("bigint")
        .alias("total_duration_ms"),
        (F.col("stream_bytes") + F.col("id3_bytes")).cast("bigint").alias("total_bytes"),
        "payload_sum",
    )


#: append-only streaming state (stream_semdedup_maintenance): compact the
#: per-batch frame lists into one checkpoint after this many batches, so the
#: lazy-union lineage depth is bounded for long-lived streams while the
#: common path pays only O(batch) materialization per micro-batch
_STATE_COMPACT_EVERY = 16


def _semdedup_oracle() -> str:
    from flink_dts_connector_spark.plans.ext_queries import (
        _SEMDEDUP_TAIL,
        SEMDEDUP_K_SQL,
        _kmeans_oracle,
    )

    return _kmeans_oracle(k=4, n_iter=2, tail=_SEMDEDUP_TAIL, k_sql=SEMDEDUP_K_SQL)


@register(
    "stream_semdedup_maintenance",
    oracle=_semdedup_oracle(),
    tags=("streaming", "ext", "curation", "dedup", "embedding", "incremental"),
)
def stream_semdedup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SemDeDup maintenance — the live twin of `curate_semdedup`
    (the r10 verdict's named gap: new docs arrive, the dedup state updates
    WITHOUT recomputing the corpus). Production shape per Abbas et al.:
    the k-means model is trained ONCE (`kmeans_int_centroids`, the static
    model input — like `ml_nb`'s vocabulary), then embeddings arrive in 3
    interleaved waves; each micro-batch

    1. assigns its vectors to the broadcast centroids (exact argmin,
       `assign_to_centroids` — no corpus shuffle),
    2. computes ONLY the delta pairs (`cosine_pairs_delta`: new × roster
       within the same cluster + new × new), so every corpus pair is
       evaluated exactly once across all batches and per-batch work is
       |new| × |affected cluster members|, never |corpus|²,
    3. folds the per-pair losers (the member farther from its centroid,
       ties to the higher id — a STATIC function of the pair, so arrival
       order cannot change it) into a monotone loser set.

    Because the pair set converges to the batch pair set and each pair's
    loser is order-independent, the converged survivors/dropped per
    cluster hash-match `curate_semdedup`'s unrolled-CTE oracle — delta ≡
    rebuild, bit-exactly. State = the cluster-keyed roster + loser ids
    (the same O(index) state the incremental IVF upsert carries)."""
    from flink_dts_connector_spark.operators import similarity as S
    from flink_dts_connector_spark.plans.ext_queries import semdedup_k

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # r13: SF-aware k (same rule as curate_semdedup — the twins must block
    # on the same clustering or delta != rebuild)
    sd_k = semdedup_k(emb, sf_dir)
    cent = S.kmeans_int_centroids(emb, k=sd_k, n_iter=2)

    waves_dir = scratch_dir("fdcs_semdd_waves_")
    write_waves(emb, F.col("vec_id") % 3, waves_dir)

    # r13 optimization (guide §1.2 step 1 — fix the algorithm's per-batch
    # materialization): state is APPEND-ONLY. The old merge re-materialized
    # the WHOLE roster with localCheckpoint every batch — O(corpus) disk+
    # serialize per micro-batch, the one step that contradicted the
    # "O(new + affected mass) per batch" contract. Now each batch
    # checkpoints only its own arrivals (`new`, O(batch)) and its own loser
    # ids (tiny), and the roster any batch sees is the LAZY union of the
    # prior batches' already-checkpointed frames — no bytes move to build
    # it. Results are identical: the union enumerates exactly the same
    # roster rows, and the converged loser set is the same distinct union.
    # Plan-size guard for real deployments: after _STATE_COMPACT_EVERY
    # batches the frame lists are compacted into one checkpoint each, so
    # the union lineage stays O(1) deep per compaction window instead of
    # growing with stream lifetime.
    state = {"rosters": [], "losers": []}
    roster_schema = "vec_id bigint, cluster bigint, dist2 bigint, embedding array<float>"

    def roster_df() -> DataFrame:
        if not state["rosters"]:
            return spark.createDataFrame([], roster_schema)
        out = state["rosters"][0]
        for fr in state["rosters"][1:]:
            out = out.unionByName(fr)
        return out

    def merge(bdf: DataFrame, batch_id: int) -> None:
        roster = roster_df()
        assigned = S.assign_to_centroids(bdf, cent, k=sd_k).join(
            bdf.select("vec_id", "embedding"), "vec_id"
        )
        new = assigned.select("vec_id", "cluster", "dist2", "embedding").localCheckpoint()
        pairs = S.cosine_pairs_delta(
            new.select("vec_id", "cluster", "embedding"),
            roster.select("vec_id", "cluster", "embedding"),
            block_col="cluster",
            threshold=0.35,
        )
        d_all = roster.select("vec_id", "dist2").unionByName(
            new.select("vec_id", "dist2")
        )
        scored = pairs.join(
            d_all.withColumnRenamed("vec_id", "a_id").withColumnRenamed("dist2", "da"),
            "a_id",
        ).join(
            d_all.withColumnRenamed("vec_id", "b_id").withColumnRenamed("dist2", "db"),
            "b_id",
        )
        # r14 (guide §1.2 step 1, fewer jobs): the loser set is NOT
        # checkpointed per batch — every frame it derives from (`new`, the
        # prior rosters, the centroids) is already a checkpointed/stable
        # frame, so the plan stays valid after the micro-batch ends and
        # after waves_dir is removed. Each batch's pair scoring then runs
        # ONCE, inside the final rollup job (AQE schedules the three
        # batches' independent pair subtrees concurrently) instead of as a
        # per-batch eager localCheckpoint job — r14 job drill: 66 → ~55
        # sequential jobs, the two biggest per-batch jobs (0.7 s + 1.6 s)
        # folded into the rollup. The compaction path below still
        # materializes pending loser frames, so lineage depth stays
        # bounded for long-lived streams.
        batch_losers = scored.select(
            F.when(
                (F.col("da") > F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a_id") > F.col("b_id"))),
                F.col("a_id"),
            )
            .otherwise(F.col("b_id"))
            .alias("vec_id")
        ).distinct()
        state["rosters"].append(new)
        state["losers"].append(batch_losers)
        if len(state["rosters"]) >= _STATE_COMPACT_EVERY:
            state["rosters"] = [roster_df().localCheckpoint()]
            lo = state["losers"][0]
            for fr in state["losers"][1:]:
                lo = lo.unionByName(fr)
            state["losers"] = [lo.distinct().localCheckpoint()]

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "embeddings")):
        stream = read_waves(spark, emb.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)
    _require_batches(progress)

    roster = roster_df()
    losers = state["losers"][0]
    for fr in state["losers"][1:]:
        losers = losers.unionByName(fr)
    flagged = roster.join(
        losers.distinct().withColumn("dropped", F.lit(1)), "vec_id", "left"
    ).withColumn("dropped", F.coalesce(F.col("dropped"), F.lit(0)))
    return flagged.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("dropped").cast("bigint").alias("n_dropped"),
        (F.count(F.lit(1)) - F.sum("dropped")).cast("bigint").alias("n_survivors"),
        F.min(F.when(F.col("dropped") == 0, F.col("vec_id"))).cast("bigint").alias("min_survivor"),
    )


def _labelprop_oracle_3() -> str:
    from flink_dts_connector_spark.plans.ext_queries import _labelprop_oracle

    return _labelprop_oracle(3)


@register(
    "stream_labelprop_maintenance",
    oracle=_labelprop_oracle_3(),
    tags=("streaming", "ext", "graph", "dedup", "communities", "incremental"),
)
def stream_labelprop_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING label-propagation maintenance — the live twin of
    `graph_labelprop_communities` (the r11 verdict's named gap, the same
    delta ≡ rebuild discipline as `stream_semdedup_maintenance`): near-dup
    edges arrive in 3 interleaved waves, and each micro-batch re-converges
    ONLY the components the new edges touch.

    Why per-component recompute is the right delta unit: 3-round
    synchronous LP on a node depends only on its component's edge set (no
    label crosses a component boundary), so a component whose edge set did
    not change keeps its converged labels verbatim, while a touched
    component must be re-run (one new intra-component edge shifts neighbor
    MODES arbitrarily — labels are not monotone like SemDeDup losers, so
    the correct incremental unit is the component, not the pair). Per
    batch:

    1. map the new edges' endpoints to their current component ids (an
       unseen node is its own singleton component),
    2. union-find over the QUOTIENT graph (one node per touched component
       — |touched| nodes, never |V|) to merge components the new edges
       bridge,
    3. rebuild the affected components' membership, then run the same
       deterministic 3-round LP (`label_propagation_int`) over ONLY the
       affected subgraph (its accumulated edges semi-joined through the
       membership), and splice those labels over the previous ones.

    Work per batch is O(|new edges| + affected component mass); state is
    the edge set + (node → component) + (node → label), all O(graph) and
    never globally recomputed. Because every component's final labels come
    from a full 3-round LP over its complete final edge set, the converged
    multi-member community census hash-matches the batch unrolled-CTE
    oracle — delta ≡ rebuild, bit-exactly."""
    from flink_dts_connector_spark.operators import dedup as D
    from flink_dts_connector_spark.operators.graph import (
        connected_components,
        label_propagation_int,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold_pct=30).select("a_id", "b_id")

    waves_dir = scratch_dir("fdcs_lpm_waves_")
    # r13: ONE job — the wave loop re-ran the whole jaccard_pairs subtree
    # once per wave (3 full pair computations to stage 3 files)
    write_waves(pairs, (F.col("a_id") * 31 + F.col("b_id")) % 3, waves_dir)

    state = {
        "edges": spark.createDataFrame([], "a_id bigint, b_id bigint").localCheckpoint(),
        "comp": spark.createDataFrame([], "u bigint, cid bigint").localCheckpoint(),
        "labels": spark.createDataFrame([], "u bigint, lbl bigint").localCheckpoint(),
    }

    def merge(bdf: DataFrame, batch_id: int) -> None:
        new = bdf.select(
            F.col("a_id").cast("long").alias("a_id"),
            F.col("b_id").cast("long").alias("b_id"),
        ).localCheckpoint()
        if new.isEmpty():
            return
        # 1. endpoints -> current component id (unseen node = own singleton)
        eps = (
            new.select(F.col("a_id").alias("u"))
            .union(new.select(F.col("b_id").alias("u")))
            .distinct()
        )
        ep_cid = (
            eps.join(state["comp"], "u", "left")
            .select("u", F.coalesce("cid", "u").alias("cid"))
            .localCheckpoint()
        )
        # 2. quotient union-find: one node per TOUCHED component. Self-loop
        # quotient edges (both endpoints already in the same component)
        # still mark that component affected — its LP must re-run.
        quot = (
            new.join(ep_cid.withColumnRenamed("u", "a_id").withColumnRenamed("cid", "ca"), "a_id")
            .join(ep_cid.withColumnRenamed("u", "b_id").withColumnRenamed("cid", "cb"), "b_id")
            .select("ca", "cb")
        )
        merged = connected_components(quot, src="ca", dst="cb").select(
            F.col("id").alias("cid"), F.col("comp").alias("root")
        ).localCheckpoint()  # old cid -> merged root, touched comps only
        roots = merged.select("root").distinct()
        # 3a. splice the component map: touched old comps re-root; new
        # endpoint nodes enter with their merged root.
        comp_kept = state["comp"].join(merged.select("cid"), "cid", "left_anti")
        comp_new = (
            state["comp"].join(merged, "cid").select("u", F.col("root").alias("cid"))
            .unionByName(
                ep_cid.join(state["comp"].select("u"), "u", "left_anti")
                .join(merged, "cid")
                .select("u", F.col("root").alias("cid"))
            )
        )
        state["comp"] = comp_kept.unionByName(comp_new).localCheckpoint()
        state["edges"] = state["edges"].unionByName(new).localCheckpoint()
        # 3b. affected subgraph = members of the merged roots + their edges
        # (an edge never crosses components, so one endpoint membership
        # semi-join selects exactly the intra-component edge set).
        sub_nodes = state["comp"].join(roots, state["comp"]["cid"] == roots["root"]).select("u")
        sub_edges = state["edges"].join(
            sub_nodes.withColumnRenamed("u", "a_id"), "a_id", "left_semi"
        )
        sub_labels = label_propagation_int(
            sub_edges,
            sub_nodes.select(F.col("u").alias("doc_id")),
            iterations=3,
        )
        state["labels"] = (
            state["labels"]
            .join(sub_nodes, "u", "left_anti")
            .unionByName(sub_labels)
            .localCheckpoint()
        )

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "documents")):
        stream = read_waves(spark, pairs.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)
    _require_batches(progress)

    return (
        state["labels"]
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("u").cast("bigint").alias("min_member"),
            F.max("u").cast("bigint").alias("max_member"),
        )
        .where(F.col("n_members") >= 2)
    )


def _pagerank_hubs_oracle() -> str:
    from flink_dts_connector_spark.plans.ext_queries import _PAGERANK_HUBS_ORACLE

    return _PAGERANK_HUBS_ORACLE


@register(
    "stream_pagerank_maintenance",
    oracle=_pagerank_hubs_oracle(),
    tags=("streaming", "ext", "graph", "centrality", "incremental"),
)
def stream_pagerank_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PageRank maintenance — the live twin of
    `graph_pagerank_dedup_hubs` (r12 verdict item 7: the last batch-only
    graph operator), completing the incremental trio beside components/
    labelprop and MinHash. Near-dup edges arrive in 3 interleaved waves;
    each micro-batch re-converges ONLY the rank mass the new edges can
    reach.

    Which delta unit is sound for power iteration: unlike label
    propagation (where one edge can shift neighbor MODES anywhere in its
    component, so the component is the unit), a FIXED-iteration-count
    power iteration has a bounded dependency radius — after t rounds,
    r_t(v) is a function of v's t-hop in-neighborhood only. So when a
    batch adds edges ΔE with endpoint set T (their degrees and in-edge
    sets change), the nodes whose round-t value can differ between the old
    and new graph are exactly

        A_1 = T ∪ N(T),   A_t = T ∪ N(A_{t-1})   (monotone in t)

    — the t-hop forward wavefront of the delta, NOT the whole component.
    Each batch recomputes r_t only over A_t, reading each contributor u's
    r_{t-1} from this batch's A_{t-1} recomputation if affected and from
    the stored per-round history otherwise (state keeps r_1..r_5 per
    node — 5 longs — precisely so unaffected history can be spliced).
    Unseen endpoints enter with the isolated-node ladder (r_t = 150000,
    the pure teleport mass — bit-equal to what the batch run assigns a
    node whose edges haven't arrived yet). Invariant after every batch:
    state == the 5-round integer PageRank of the accumulated graph, so
    after the last wave the ranks hash-match the batch unrolled-CTE
    oracle on the full graph — delta ≡ rebuild, bit-exactly.

    Work per batch is O(|ΔE| + Σ_t |edges incident to A_t|) — the affected
    mass — and state is O(V) ranks + O(E) edges, never recomputed
    globally. Isolated documents never enter state at all: their rank is
    the closed-form teleport constant appended at read time."""
    from flink_dts_connector_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold_pct=30).select("a_id", "b_id")

    waves_dir = scratch_dir("fdcs_prm_waves_")
    # r13: ONE job (was 3 full jaccard_pairs computations — see labelprop)
    write_waves(pairs, (F.col("a_id") * 31 + F.col("b_id")) % 3, waves_dir)

    n_rounds = 5
    rcols = [f"r{t}" for t in range(1, n_rounds + 1)]
    ranks_schema = "u bigint, deg bigint, " + ", ".join(f"{c} bigint" for c in rcols)
    state = {
        "edges": spark.createDataFrame([], "a_id bigint, b_id bigint").localCheckpoint(),
        "ranks": spark.createDataFrame([], ranks_schema).localCheckpoint(),
    }
    TELEPORT = 150_000  # rank of an isolated node after any round >= 1

    def merge(bdf: DataFrame, batch_id: int) -> None:
        new = bdf.select(
            F.col("a_id").cast("long").alias("a_id"),
            F.col("b_id").cast("long").alias("b_id"),
        ).localCheckpoint()
        if new.isEmpty():
            return
        new_sym = new.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")).unionByName(
            new.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
        )
        touched = new_sym.select("u").distinct().localCheckpoint()
        # degree update (touched only) + isolated-ladder rows for unseen nodes
        ddeg = new_sym.groupBy("u").agg(F.count(F.lit(1)).alias("_dd"))
        unseen = touched.join(state["ranks"], "u", "left_anti").select(
            "u",
            F.lit(0).cast("bigint").alias("deg"),
            *[F.lit(TELEPORT).cast("bigint").alias(c) for c in rcols],
        )
        base = (
            state["ranks"]
            .unionByName(unseen)
            .join(ddeg, "u", "left")
            .select(
                "u",
                (F.col("deg") + F.coalesce("_dd", F.lit(0))).cast("bigint").alias("deg"),
                *rcols,
            )
            .localCheckpoint()
        )
        state["edges"] = state["edges"].unionByName(new).localCheckpoint()
        sym = state["edges"].select(
            F.col("a_id").alias("u"), F.col("b_id").alias("v")
        ).unionByName(state["edges"].select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))

        def nb(s: DataFrame) -> DataFrame:
            return sym.join(s, "u").select(F.col("v").alias("u")).distinct()

        aff_prev: DataFrame | None = None  # A_{t-1}
        new_vals: list[DataFrame] = []  # per round: (u, _nv) over A_t
        for t in range(1, n_rounds + 1):
            a_t = (
                touched.unionByName(nb(touched if aff_prev is None else aff_prev))
                .distinct()
                .localCheckpoint()
            )
            # contributor view: r_{t-1} spliced (this batch's A_{t-1}
            # values where affected, stored history otherwise; r_0 = 1e6)
            if t == 1:
                rv = F.lit(1_000_000).cast("bigint").alias("_rv")
                contrib_src = base.select("u", "deg", rv)
            else:
                contrib_src = (
                    base.select("u", "deg", F.col(f"r{t-1}").alias("_rv"))
                    .join(new_vals[-1].withColumnRenamed("_nv", "_nv2"), "u", "left")
                    .select("u", "deg", F.coalesce("_nv2", "_rv").alias("_rv"))
                )
            in_mass = (
                sym.join(a_t.withColumnRenamed("u", "v"), "v")
                .join(contrib_src, "u")
                .select(F.col("v").alias("u"), F.expr("_rv div deg").alias("_c"))
                .groupBy("u")
                .agg(F.sum("_c").alias("_m"))
            )
            nv = (
                a_t.join(in_mass, "u", "left")
                .select(
                    "u",
                    (
                        F.lit(TELEPORT)
                        + F.expr("(85 * coalesce(_m, 0L)) div 100")
                    ).cast("bigint").alias("_nv"),
                )
                .localCheckpoint()
            )
            new_vals.append(nv)
            aff_prev = a_t
        spliced = base
        for t, nv in enumerate(new_vals, start=1):
            spliced = (
                spliced.join(nv.withColumnRenamed("_nv", f"_n{t}"), "u", "left")
                .withColumn(f"r{t}", F.coalesce(f"_n{t}", f"r{t}"))
                .drop(f"_n{t}")
            )
        state["ranks"] = spliced.localCheckpoint()

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "documents")):
        stream = read_waves(spark, pairs.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)
    _require_batches(progress)

    connected = state["ranks"].select(
        F.col("u").alias("doc_id"), F.col(f"r{n_rounds}").alias("rank_int")
    )
    isolated = (
        docs.select("doc_id")
        .join(connected.select(F.col("doc_id")), "doc_id", "left_anti")
        .select("doc_id", F.lit(TELEPORT).cast("bigint").alias("rank_int"))
    )
    return connected.unionByName(isolated)


_GROUP_RESUME_CACHE: dict[tuple[str, str], tuple[str, str]] = {}


def _group_resume_phase_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run the reference's SECOND startup mode (StartupMode.GROUP_OFFSETS,
    `FlinkDtsKafkaConsumer.java:412-470`) once per session — the
    exact-offset sibling of `_failover_phase_dirs`' timestamp re-seek:

    1. Phase 1 drains the topic's PREFIX (broker snapshot A: every record
       with ts <= cut, offsets dense from 5000 in append order) with
       commit-on-checkpoint enabled — each completed micro-batch commits
       NEXT-offsets to the broker-side group store (Flink's
       setCommitOffsetsOnCheckpoints, which the reference consumer
       inherits).
    2. The engine checkpoint is LOST (fresh checkpoint dir — the failure
       GROUP_OFFSETS exists to survive; progress also lives broker-side).
    3. Phase 2 resolves `starting_offsets_from_group` into an explicit
       per-partition ``startingOffsets`` JSON (the driver-side coordinator
       lookup, `DtsKafkaUtil.java:44` precedence) and reads the FULL log
       (broker snapshot G — same topic after it grew; identical offset
       law, so committed positions mean the same records).

    Unlike the timestamp re-seek (whole-second granularity → boundary
    re-reads), committed offsets are EXACT: the phases tile the log with
    zero redelivery — which the query's n_redelivered column proves."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _GROUP_RESUME_CACHE.get(key)
    if cached is not None:
        return cached

    from flink_dts_connector_spark.sources.fakebroker import (
        create_broker,
        register_fake_broker,
        starting_offsets_from_group,
    )
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes
    from flink_dts_connector_spark.sources.kafka import read_stream

    register_fake_broker(spark)
    topic = "dts-group-topic"
    group = "dts-resume-group"
    users = [("alice-SID42", "s3cret")]
    recs = generate_cdc_bytes(spark, sf_dir).select(
        "value",
        "partition",
        (F.lit(_FAILOVER_TS_BASE) + F.col("offset")).alias("ts_ms"),
    )
    cut_id = 2 * load_table(spark, sf_dir, "orders").agg(
        F.max("o_orderkey")
    ).collect()[0][0]
    cut_ts = _FAILOVER_TS_BASE + int(cut_id)

    broker_a = scratch_dir("fdcs_groupA_")
    broker_g = scratch_dir("fdcs_groupG_")
    # prefix snapshot and full log share the offset law (dense per
    # partition in ts order from 5000), so a committed offset names the
    # same record in both — the invariant a real topic trivially has.
    create_broker(
        spark, recs.where(F.col("ts_ms") <= cut_ts), broker_a,
        "dstore-G", topic, users=users, offset_base=5000,
    )
    create_broker(
        spark, recs, broker_g, "dstore-G", topic, users=users, offset_base=5000,
    )

    def run_phase(broker: str, out: str, group_start: str | None, extra: dict) -> None:
        env = read_stream(
            spark, broker, topic, sid="SID42", group=group, user="alice",
            password="s3cret", group_starting_offsets=group_start,
            source_format="kafka_fake", extra=extra,
        ).select("id", "operation", "kafka_partition", "kafka_offset")
        with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
            run_available_now(env.writeStream.format("parquet").option("path", out))

    # Phase 1: multiple rate-limited micro-batches (maxRecordsPerTrigger), so
    # commit-on-checkpoint genuinely exercises the broker group store
    # mid-stream (monotone NEXT-offset commits, like the pytest e2e). Spark
    # only calls source.commit(N) when batch N+1 starts, so the FINAL batch's
    # commit never reaches the source on a clean stop; the reference consumer
    # gets it via notifyCheckpointComplete on the stop checkpoint
    # (FlinkDtsKafkaConsumer inherits setCommitOffsetsOnCheckpoints). The
    # driver-side top-up below IS that final-checkpoint commit — monotone, so
    # it is a no-op for every partition an engine commit already covered.
    import time

    from flink_dts_connector_spark.sources.fakebroker import commit_group_offsets

    n_prefix = int(recs.where(F.col("ts_ms") <= cut_ts).count())
    out1 = scratch_dir("fdcs_group_p1_")
    drained = {"n": 0}

    def sink_1(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        batch_df.write.mode("append").parquet(out1)
        drained["n"] += batch_df.count()  # scalar progress probe, not data
        batch_df.unpersist()

    env1 = read_stream(
        spark, broker_a, topic, sid="SID42", group=group, user="alice",
        password="s3cret", source_format="kafka_fake",
        extra={
            "kafka.commit.offsets.on.checkpoint": "true",
            "maxRecordsPerTrigger": str(max(n_prefix // 4, 1)),
        },
    ).select("id", "operation", "kafka_partition", "kafka_offset")
    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "orders")):
        q1 = (
            env1.writeStream.foreachBatch(sink_1)
            .option("checkpointLocation", scratch_dir("fdcs_group_ckpt_"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 300
        while drained["n"] < n_prefix and time.time() < deadline and q1.isActive:
            time.sleep(0.2)
        q1.stop()
        q1.awaitTermination()
    if drained["n"] != n_prefix:
        raise AssertionError(f"phase 1 drained {drained['n']} of {n_prefix} prefix records")
    final = {
        int(r["kafka_partition"]): int(r["nxt"])
        for r in spark.read.parquet(out1)
        .groupBy("kafka_partition")
        .agg((F.max("kafka_offset") + 1).alias("nxt"))
        .collect()  # 4 scalar rows: the final-checkpoint commit positions
    }
    commit_group_offsets(broker_a, group, topic, final)

    start_json = starting_offsets_from_group(broker_a, group, topic)
    if start_json is None:
        raise AssertionError("phase 1 committed nothing — group store empty")
    out2 = scratch_dir("fdcs_group_p2_")
    run_phase(broker_g, out2, start_json, {})
    _GROUP_RESUME_CACHE[key] = (out1, out2)
    return out1, out2


@register(
    "stream_group_offsets_resume",
    oracle="""
WITH ids AS (
  SELECT o_orderkey*4 AS id, 'INSERT' AS operation FROM orders
  UNION ALL
  SELECT o_orderkey*4+1, 'UPDATE' FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey*4+2, 'UPDATE' FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey*4+3, 'DELETE' FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT 10000000000+o_orderkey, 'HEARTBEAT' FROM orders WHERE o_orderkey % 50 = 0
  UNION ALL
  SELECT 20000000000+o_orderkey, 'DDL' FROM orders WHERE o_orderkey % 200 = 0
),
recs AS (SELECT id, operation, 1500000000000 + id AS ts FROM ids),
cut AS (SELECT 1500000000000 + 2*MAX(o_orderkey) AS cut_ts FROM orders)
SELECT operation,
       CAST(COUNT(*) AS BIGINT) AS n_covered,
       CAST(SUM(id) AS BIGINT) AS id_sum,
       CAST(SUM(CASE WHEN ts <= (SELECT cut_ts FROM cut) THEN 1 ELSE 0 END) AS BIGINT) AS n_phase1,
       CAST(SUM(CASE WHEN ts >  (SELECT cut_ts FROM cut) THEN 1 ELSE 0 END) AS BIGINT) AS n_phase2,
       CAST(0 AS BIGINT) AS n_redelivered
FROM recs GROUP BY operation
""",
    tags=("streaming", "failover", "kafka", "group-offsets"),
)
def stream_group_offsets_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: StartupMode.GROUP_OFFSETS end to end through `sources/kafka.py`
    + `sources/fakebroker.py` (`FlinkDtsKafkaConsumer.java:412-470`,
    previously fakebroker-pytest-only): drain the prefix with
    commit-on-checkpoint, LOSE the engine checkpoint, resume the grown log
    from the broker-side group store. The oracle reconstructs both phases
    in SQL — and because committed offsets are exact (unlike
    `stream_failover_reseek`'s whole-second re-seek, which re-reads the
    boundary), the phases must TILE the id universe: n_phase1/n_phase2
    split exactly at the cut and n_redelivered is ZERO for every
    operation. Any group-store breakage is loud: an earliest fallback
    re-reads the prefix (n_redelivered > 0), a skipped record drops
    n_covered/id_sum."""
    out1, out2 = _group_resume_phase_dirs(spark, sf_dir)
    p1 = spark.read.parquet(out1).select(
        "id", "operation", F.lit(1).alias("p1"), F.lit(0).alias("p2")
    )
    p2 = spark.read.parquet(out2).select(
        "id", "operation", F.lit(0).alias("p1"), F.lit(1).alias("p2")
    )
    uni = (
        p1.unionAll(p2)
        .groupBy("id", "operation")
        .agg(F.max("p1").alias("in1"), F.max("p2").alias("in2"))
    )
    return uni.groupBy("operation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_covered"),
        F.sum("id").cast("bigint").alias("id_sum"),
        F.sum("in1").cast("bigint").alias("n_phase1"),
        F.sum("in2").cast("bigint").alias("n_phase2"),
        F.sum(F.col("in1") * F.col("in2")).cast("bigint").alias("n_redelivered"),
    )


def _minhash_md5_oracle() -> str:
    from flink_dts_connector_spark.plans.ext_queries import MINHASH_MD5_ORACLE

    return MINHASH_MD5_ORACLE


@register(
    "stream_minhash_maintenance",
    oracle=_minhash_md5_oracle(),
    tags=("streaming", "ext", "dedup", "approx", "incremental"),
)
def stream_minhash_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MinHash-LSH maintenance — the live twin of
    `dedup_minhash_md5`, completing the dedup-trio of delta ≡ rebuild
    twins (SemDeDup r11, label propagation r12, MinHash here): documents
    arrive in 3 interleaved waves; each micro-batch probes ONLY the new
    docs' band tuples against the materialized corpus band index
    (`minhash_lsh_probe_md5`: delta × index equi-join + delta × delta
    self-join, exact-Jaccard verify against the shingle store), then
    appends the new docs' bands/shingles to the state.

    Why the union is exact: every near-dup pair is emitted exactly once —
    by the batch in which its LATER member arrives (delta × corpus) or in
    which both arrive (delta × delta) — and each pair's (n_inter, n_union,
    jaccard) is computed from full shingle sets, so it is a STATIC
    function of the pair independent of arrival order. The converged pair
    set therefore hash-matches the batch pipeline's step-for-step SQL
    oracle verbatim. State = band index + shingle store (O(corpus),
    bucketable by (band, r0) for a shuffle-free probe join at scale);
    per-batch work is delta-sized — no corpus signature is ever
    recomputed."""
    from flink_dts_connector_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    waves_dir = scratch_dir("fdcs_mhm_waves_")
    write_waves(docs, F.col("doc_id") % 3, waves_dir)

    index_empty = spark.createDataFrame(
        [], "id bigint, band int, r0 bigint, r1 bigint, r2 bigint, r3 bigint"
    )
    sh_empty = spark.createDataFrame([], "id bigint, sh array<string>")
    pairs_empty = spark.createDataFrame(
        [], "a_id bigint, b_id bigint, n_inter bigint, n_union bigint, jaccard double"
    )
    state = {
        "index": index_empty.localCheckpoint(),
        "sh": sh_empty.localCheckpoint(),
        "pairs": pairs_empty.localCheckpoint(),
    }

    def merge(bdf: DataFrame, batch_id: int) -> None:
        new = bdf.localCheckpoint()
        if new.isEmpty():
            return
        batch_pairs = D.minhash_lsh_probe_md5(
            new, state["index"], state["sh"], threshold_pct=50
        )
        state["pairs"] = (
            state["pairs"]
            .unionByName(
                batch_pairs.select(
                    "a_id", "b_id",
                    F.col("n_inter").cast("bigint").alias("n_inter"),
                    F.col("n_union").cast("bigint").alias("n_union"),
                    "jaccard",
                )
            )
            .localCheckpoint()
        )
        state["index"] = (
            state["index"].unionByName(D.minhash_band_index_md5(new)).localCheckpoint()
        )
        state["sh"] = (
            state["sh"]
            .unionByName(D._shingled(new, "doc_id", "text", 3).where(F.size("sh") > 0))
            .localCheckpoint()
        )

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "documents")):
        stream = read_waves(spark, docs.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)
    _require_batches(progress)
    return state["pairs"]


# the twin's converged index serves the batch ranking exactly, so the
# batch oracle IS its oracle (safe import: ext_queries does not import
# this module)
from flink_dts_connector_spark.plans.ext_queries import BM25_TOPK_ORACLE


@register(
    "stream_bm25_maintenance",
    oracle=BM25_TOPK_ORACLE,
    tags=("ext", "streaming", "search", "maintenance"),
)
def stream_bm25_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING BM25 index maintenance — the search family's delta ≡
    rebuild twin (the dedup trio got theirs in r11–r12; retrieval
    gets its own here): documents arrive in 3 interleaved waves; each
    micro-batch tokenizes ONLY the delta docs into inverted-index
    postings rows (token, doc_id, tf, dl) plus one partial
    (n_docs, sum_dl) stats row, and APPENDS both to state — no corpus
    document is ever re-tokenized, because postings are per-document
    facts and the corpus statistics BM25 needs (df per token, n_docs,
    Σdl) are additive over disjoint waves. After the last wave the
    ranking is served FROM the maintained index through the exact
    scoring path the batch query uses (`bm25_topk_from_index` — the
    same code `search_bm25_topk`'s `bm25_topk` delegates to), so the
    converged result hash-matches the batch oracle verbatim.

    Why delta ≡ rebuild is exact: postings(union of waves) ≡
    union(postings(wave)) — tokenization is per-row; df/stats fold as
    sums. The served ranking is a pure function of (postings, stats).
    State = the inverted index itself, O(corpus tokens); per-batch work
    = O(delta tokens). At 100 TB the state is a bucketed-by-token table
    (the module docstring's persisted-index design) and each wave is one
    append + a partition-local stats update; serving cost equals the
    batch ranker on the materialized index — which is the point of
    maintaining one."""
    from flink_dts_connector_spark.operators import search as SR

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    waves_dir = scratch_dir("fdcs_bm25m_waves_")
    write_waves(docs, F.col("doc_id") % 3, waves_dir)

    post_empty = spark.createDataFrame(
        [], "token string, doc_id bigint, tf bigint, dl bigint"
    )
    stats_empty = spark.createDataFrame([], "n_docs bigint, sum_dl bigint")
    state = {
        "post": post_empty.localCheckpoint(),
        "stats": stats_empty.localCheckpoint(),
    }

    def merge(bdf: DataFrame, batch_id: int) -> None:
        new = bdf.localCheckpoint()
        if new.isEmpty():
            return
        delta_post = SR.postings(new).select(
            "token", "doc_id", F.col("tf").cast("bigint").alias("tf"), "dl"
        )
        delta_stats = new.select(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(SR.tokens("text")).cast("bigint")).alias("sum_dl"),
        )
        state["post"] = state["post"].unionByName(delta_post).localCheckpoint()
        state["stats"] = (
            state["stats"].unionByName(delta_stats).localCheckpoint()
        )

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "documents")):
        stream = read_waves(spark, docs.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)
    _require_batches(progress)
    merged_stats = state["stats"].agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
    )
    return SR.bm25_topk_from_index(state["post"], merged_stats, k=10)



# same sharing rationale as the BM25 twin above
from flink_dts_connector_spark.plans.ext_queries import TRIGRAM_SUBSTRING_ORACLE


@register(
    "stream_trigram_maintenance",
    oracle=TRIGRAM_SUBSTRING_ORACLE,
    tags=("ext", "streaming", "search", "maintenance"),
)
def stream_trigram_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING trigram-index maintenance — the substring-search twin of
    the BM25 maintenance query above: documents arrive in 3 interleaved
    waves; each micro-batch extracts ONLY the delta docs' distinct
    trigrams into (tri, doc_id) postings and appends them — plus the
    delta text rows (the verification store) — to state. No corpus
    document is ever re-shingled: trigram postings are per-document
    facts, and the probe's df ranking (rarest-3 per pattern) is computed
    at serve time from the CONVERGED index, exactly as the batch query
    computes it from its one-shot index. The fixed-workload pattern
    population (doc_id % 397 = 3, < 5000 — the r11 scaling contract) is
    drawn from the maintained text store after the last wave, then the
    identical serving path the batch query delegates to
    (`trigram_search_from_index`) probes and verifies — so the converged
    result hash-matches the batch oracle verbatim.

    State = the trigram index + text store, O(corpus); per-batch work =
    O(delta trigrams). At 100 TB both state tables bucket by their join
    keys (tri / doc_id) and each wave is one append; serving equals the
    batch prober on the materialized index."""
    from flink_dts_connector_spark.operators import search as SR

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    waves_dir = scratch_dir("fdcs_trgm_waves_")
    write_waves(docs, F.col("doc_id") % 3, waves_dir)

    tri_empty = spark.createDataFrame([], "tri string, doc_id bigint")
    txt_empty = spark.createDataFrame([], "doc_id bigint, _text string")
    state = {
        "tri": tri_empty.localCheckpoint(),
        "texts": txt_empty.localCheckpoint(),
    }

    def merge(bdf: DataFrame, batch_id: int) -> None:
        new = bdf.localCheckpoint()
        if new.isEmpty():
            return
        state["tri"] = (
            state["tri"].unionByName(SR.trigram_postings(new)).localCheckpoint()
        )
        state["texts"] = (
            state["texts"]
            .unionByName(
                new.select("doc_id", F.col("text").alias("_text"))
            )
            .localCheckpoint()
        )

    with pinned_shuffle_partitions(spark, rows=table_rows(sf_dir, "documents")):
        stream = read_waves(spark, docs.schema, waves_dir)
        progress = run_available_now(stream.writeStream.foreachBatch(merge))
    import shutil

    shutil.rmtree(waves_dir, ignore_errors=True)
    _require_batches(progress)
    pats = (
        state["texts"]
        .where(
            (F.col("doc_id") % 397 == 3)
            & (F.col("doc_id") < 5000)
            & (F.length("_text") >= 60)
        )
        .select(F.expr("substring(_text, 11, 12)").alias("pattern"))
        .distinct()
    )
    return SR.trigram_search_from_index(
        state["tri"], state["texts"], pats, k_rarest=3
    )
