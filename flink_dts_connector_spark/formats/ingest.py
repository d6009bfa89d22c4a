"""Decode-once columnar CDC store — the structural answer to the wire-decode
ceiling (`SCALING.md` §decode-once).

Every `cdc_*` query that consumes the self-describing varint wire re-pays
the Python decode (per-core ceiling measured in `SCALING.md` §wire-decode).
The reference's own design intent is to avoid re-decode — its lazy parse
exists precisely so a record is deserialized at most once per consumer
(`impl/LazyParseRecordImpl.java:53-84`). At 100 TB the honest architecture
is: stream-decode the wire ONCE at ingest, persist the generic envelope as
columnar parquet partitioned by ``(tbl_part, ingest_month)``, and point every
downstream consumer at the store. Decode cost then amortizes to ingest
bandwidth; downstream queries are pure JVM parquet scans with partition
pruning on table and time — the exact two predicates every CDC consumer
filters on (`DTSSubscribeRowDataDeserializationSchema.java:68-74` table
filter; timestamp-bounded replay `FlinkDtsKafkaConsumer.java:372-380`).

In-process the store is built at most once per (session, sf_dir): the first
store-backed query pays ingest + a stored==re-decoded checksum audit; every
later query (and every later bench sample) reads parquet only — which is
the amortization this module exists to demonstrate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from flink_dts_connector_spark.datamodel.envelope import ENVELOPE_SCHEMA

#: (applicationId, sf_dir) -> store directory of the ingested envelope
_STORE_CACHE: dict[tuple[str, str], str] = {}

#: map-typed envelope columns: canonicalized via sorted entries (map key
#: order is storage-dependent; everything else hashes directly)
_MAP_COLS = {"before", "after", "uk_info", "tags", "kafka_headers"}

#: tbl_part partition value for records without a table (heartbeats)
NO_TABLE = "__no_table__"


def envelope_checksum(env: DataFrame) -> tuple[int, int]:
    """Order-insensitive full-envelope multiset checksum: (row count, sum of
    per-row xxhash64 over every envelope column, maps canonicalized by
    sorted entries). Two frames with equal checksums hold the same multiset
    of envelope rows (modulo 64-bit hash collisions). The sum runs in
    DECIMAL(38,0) so ANSI overflow can't trip on the bigint domain."""
    parts = [
        F.array_sort(F.map_entries(F.col(f.name))) if f.name in _MAP_COLS else F.col(f.name)
        for f in ENVELOPE_SCHEMA.fields
    ]
    row = env.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*parts).cast("decimal(38,0)")).alias("chk"),
    ).collect()[0]
    return int(row["n"]), int(row["chk"] or 0)


def _store_writer(env: DataFrame, store: str) -> DataStreamWriter:
    """The store's streaming sink: the envelope as parquet under ``store``,
    partitioned by ``(tbl_part, ingest_month)``.

    Partition on a DERIVED null-safe key, not tbl itself: the Hive layout
    collapses null and '' to the default partition (heartbeats carry
    tbl='' — round-tripping them through a tbl partition column would
    corrupt the envelope). tbl stays a data column, fidelity intact;
    pruning happens on tbl_part.

    Time granularity is sized to the data's span ÷ volume: the fixture
    replays 7 YEARS of commit timestamps at toy volume, so day partitions
    would mean ~2500 directories × one file per input partition — a
    small-files explosion that makes every downstream listing slower than
    the decode it saves. Month granularity + repartition on the partition
    keys (one file per directory per micro-batch) keeps the file count =
    tables × months. A production deployment ingesting a day per day flips
    this to daily partitions + per-table compaction, same code shape."""
    return (
        env.withColumn("tbl_part", F.coalesce(F.nullif("tbl", F.lit("")), F.lit(NO_TABLE)))
        .withColumn("ingest_month", F.date_format("ts", "yyyy-MM"))
        .repartition("tbl_part", "ingest_month")
        .writeStream.format("parquet")
        .option("path", store)
        .partitionBy("tbl_part", "ingest_month")
    )


def ingest_once(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the decode-once envelope store for ``sf_dir``.

    First call: stage the wire bytes, stream-decode them ONCE with the
    `dts` source under availableNow, write the envelope as parquet
    partitioned by ``(tbl_part, ingest_month)``, then AUDIT the store — the
    stored envelope must checksum-equal a fresh batch re-decode of the
    same bytes (decode-once is only admissible if storing loses nothing).
    Later calls return the cached store path without touching the wire.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _STORE_CACHE.get(key)
    if cached is not None:
        return cached

    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes
    from flink_dts_connector_spark.streaming.runner import (
        pinned_shuffle_partitions,
        run_available_now,
        scratch_dir,
    )

    # one raw file per core: the dts source parallelizes by file, and decode
    # is the ingest bottleneck — stage at full width
    raw_dir = scratch_dir("fdcs_ingest_raw_")
    generate_cdc_bytes(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    ).write.mode("overwrite").parquet(raw_dir)
    store = scratch_dir("fdcs_envstore_")
    register_dts_source(spark)
    with pinned_shuffle_partitions(spark):
        env = spark.readStream.format("dts").option("path", raw_dir).load()
        run_available_now(_store_writer(env, store))

    # audit: stored ≡ re-decoded (full-envelope multiset checksum). Paid once
    # per session — downstream consumers then trust the store.
    stored = spark.read.parquet(store).select(*[f.name for f in ENVELOPE_SCHEMA.fields])
    fresh = decode_cdc(spark.read.parquet(raw_dir))
    a, b = envelope_checksum(stored), envelope_checksum(fresh)
    if a != b:
        raise AssertionError(
            f"decode-once store diverged from re-decode: stored(n,chk)={a}, fresh={b}"
        )
    _STORE_CACHE[key] = store
    return store


def read_store(
    spark: SparkSession,
    sf_dir: str,
    table: str | None = None,
    assert_pruned: bool = True,
) -> DataFrame:
    """Envelope rows from the decode-once store, partition-pruned to one
    table when given (``table`` is the bare rendered table name). The
    pruning is asserted on the executed plan: the predicate must land in
    the scan's PartitionFilters — at 100 TB this is the difference between
    touching one table's directories and scanning the full changelog."""
    store = ingest_once(spark, sf_dir)
    df = spark.read.parquet(store)
    if table is not None:
        df = df.where(F.col("tbl_part") == table)
        if assert_pruned:
            plan = df._jdf.queryExecution().executedPlan().toString()
            pf = plan.split("PartitionFilters:", 1)
            if len(pf) < 2 or "tbl_part" not in pf[1].split("]", 1)[0]:
                raise AssertionError(
                    "table predicate did not reach PartitionFilters — decode-once "
                    f"store scan is not pruned:\n{plan[:2000]}"
                )
    return df


#: (applicationId, sf_dir) -> staged multi-tenant raw topic directory
_MIXED_RAW_CACHE: dict[tuple[str, str], str] = {}
#: (applicationId, sf_dir, tables, ops) -> filtered store directory
_FILTERED_CACHE: dict[tuple, str] = {}


def stage_mixed_topic(spark: SparkSession, sf_dir: str) -> str:
    """Stage the realistic multi-tenant topic (orders change stream ∪
    documents ingest stream) as raw wire bytes — the input a single-table
    store build must cut down. Cached per (session, sf_dir)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _MIXED_RAW_CACHE.get(key)
    if cached is not None:
        return cached
    from flink_dts_connector_spark.sources.generator import (
        generate_cdc_bytes,
        generate_doc_cdc_bytes,
    )
    from flink_dts_connector_spark.streaming.runner import scratch_dir

    raw_dir = scratch_dir("fdcs_mixed_raw_")
    mixed = (
        generate_cdc_bytes(spark, sf_dir)
        .select("value", "partition", "offset")
        .unionByName(generate_doc_cdc_bytes(spark, sf_dir))
    )
    mixed.repartition(spark.sparkContext.defaultParallelism).write.mode(
        "overwrite"
    ).parquet(raw_dir)
    _MIXED_RAW_CACHE[key] = raw_dir
    return raw_dir


def ingest_filtered(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str],
    ops: list[str] | None = None,
    raw_dir: str | None = None,
    force: bool = False,
) -> str:
    """Single-table decode-once store over a MULTI-TENANT topic, with the
    JVM tiers in the streaming ingest plan (round-8 closure of the r7 gap:
    `ingest_once` paid Python header decode on every foreign-table record).

    The micro-batch plan is `raw file stream → jvmheader.prefilter`
    (contains() byte-search + lean header fold, pure column expressions)
    `→ decode_cdc(tables=, ops=)` — so foreign-table mass is dropped
    JVM-side and Python prices only the selected table's records, exactly
    like the non-store filtered path (`decode_cdc_prefiltered`). On a
    100 TB topic where one tenant is a few TB, ingest cost tracks the
    TENANT's mass at JVM scan speed, not the topic's at Python speed.

    Same audit contract as `ingest_once`: the stored envelope must
    checksum-equal a fresh batch re-decode (with the same exact filters)
    of the staged bytes. Cached per (session, sf_dir, tables, ops);
    ``force=True`` skips the cache READ (a fresh ingest + audit always
    runs, then refreshes the cache entry) — for timing a real ingest when
    an earlier query in the same session already populated the key."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.formats.jvmheader import prefilter
    from flink_dts_connector_spark.streaming.runner import (
        pinned_shuffle_partitions,
        run_available_now,
        scratch_dir,
    )

    # resolve the staged dir BEFORE building the cache key: a caller passing
    # the stage_mixed_topic dir explicitly and one passing raw_dir=None must
    # hit the same entry (the docstring's (session, sf_dir, tables, ops)
    # contract), or the ingest + audit run twice per session for nothing
    staged = raw_dir if raw_dir is not None else stage_mixed_topic(spark, sf_dir)
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        tuple(sorted(tables)),
        tuple(sorted(ops)) if ops is not None else None,
        staged,
    )
    cached = _FILTERED_CACHE.get(key)
    if cached is not None and not force:
        return cached
    store = scratch_dir("fdcs_filtstore_")
    with pinned_shuffle_partitions(spark):
        raw = spark.readStream.schema(
            "value binary, partition int, offset long"
        ).parquet(staged)
        pre = prefilter(raw, tables=tables, ops=ops)
        env = decode_cdc(pre, tables=tables, ops=ops)
        run_available_now(_store_writer(env, store))

    stored = spark.read.parquet(store).select(
        *[f.name for f in ENVELOPE_SCHEMA.fields]
    )
    fresh = decode_cdc(spark.read.parquet(staged), tables=tables, ops=ops)
    a, b = envelope_checksum(stored), envelope_checksum(fresh)
    if a != b:
        raise AssertionError(
            f"filtered store diverged from filtered re-decode: stored(n,chk)={a}, fresh={b}"
        )
    _FILTERED_CACHE[key] = store
    return store


def ingest_incremental(spark: SparkSession, sf_dir: str) -> tuple[str, int, int, int]:
    """Decode-once store MAINTENANCE: the wire lands in two waves, and the
    SAME checkpointed streaming ingest runs twice — the second run resumes
    from the checkpoint WAL and decodes ONLY the delta files (exactly-once
    over the `dts` source's compact offsets), appending to the store.
    Returns ``(store, rows_after_wave0, rows_total, n_wave1_records)`` so
    the caller can assert incrementality: the delta run must add exactly
    the wave-1 records, never re-decode wave 0.

    This is the continuous form of `ingest_once`: in production the query
    simply stays running; here availableNow + a shared checkpoint proves
    the restart/delta contract the WAL provides."""
    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes
    from flink_dts_connector_spark.streaming.runner import (
        pinned_shuffle_partitions,
        run_available_now,
        scratch_dir,
    )

    raw = generate_cdc_bytes(spark, sf_dir)
    raw_dir = scratch_dir("fdcs_incing_raw_")
    store = scratch_dir("fdcs_incing_store_")
    ckpt = scratch_dir("fdcs_incing_ckpt_")
    register_dts_source(spark)

    def run_wave() -> None:
        with pinned_shuffle_partitions(spark):
            env = spark.readStream.format("dts").option("path", raw_dir).load()
            run_available_now(_store_writer(env, store), checkpoint=ckpt)

    par = spark.sparkContext.defaultParallelism
    raw.where(F.col("offset") % 2 == 0).repartition(par).write.mode("append").parquet(raw_dir)
    run_wave()
    n0 = spark.read.parquet(store).count()
    n_wave1 = raw.where(F.col("offset") % 2 == 1).count()
    raw.where(F.col("offset") % 2 == 1).repartition(par).write.mode("append").parquet(raw_dir)
    run_wave()
    n_total = spark.read.parquet(store).count()
    return store, n0, n_total, int(n_wave1)


def compact_store(spark: SparkSession, store: str) -> tuple[str, dict[str, int]]:
    """Per-partition compaction — the one maintenance job the store needs.

    Incremental ingest appends one file per partition directory per
    micro-batch, so a long-running deployment accumulates small files until
    listing cost dominates (`SCALING.md` §decode-once: file count must
    track span ÷ volume, and compaction is how it keeps tracking after the
    fact). One shuffle on the partition keys rewrites every directory to a
    single file.

    The compacted copy goes to a NEW serving directory — never in-place.
    The ingest store is a STREAMING file sink, and its `_spark_metadata`
    commit log is the authoritative file listing for readers; a batch
    overwrite replaces the data files but not the log, so every subsequent
    read of the old path dies with FileNotFound on the replaced parts
    (found the hard way — dynamic partition overwrite + refreshByPath do
    NOT fix it). Production equivalents: compact into the serving layout
    and repoint consumers, or adopt a transactional table format whose
    rewrite updates the log atomically. The streaming sink keeps its own
    directory (and exactly-once bookkeeping) untouched.

    Returns ``(serving_dir, {files_before, files_after, rows})``; content
    equality is the caller's job (`envelope_checksum`)."""
    import os

    from flink_dts_connector_spark.streaming.runner import scratch_dir

    def count_files(root: str) -> int:
        return sum(
            1
            for dirpath, _, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        )

    before = count_files(store)
    df = spark.read.parquet(store)
    rows = df.count()
    serving = scratch_dir("fdcs_envstore_compact_")
    (
        df.repartition("tbl_part", "ingest_month")
        .write.mode("overwrite")
        .partitionBy("tbl_part", "ingest_month")
        .parquet(serving)
    )
    after = count_files(serving)
    return serving, {"files_before": before, "files_after": after, "rows": rows}
