"""DTS Kafka source factory — reference connector parity on Spark's Kafka source.

The reference builds a SASL_PLAINTEXT consumer whose username is
``user-sid`` and whose group id defaults to the sid
(`fetcher/DtsKafkaUtil.java:13-64`), starts from a timestamp when a
checkpoint is given, else from group offsets
(`FlinkDtsKafkaConsumer.java:263-267`, `FlinkDtsRawConsumer.java:60-64`).
Spark's Kafka source replaces the entire custom fetcher stack (partition
discovery, offset state, handover threads — SURVEY.md §3.1): all that
survives is this option builder and the decode step.

No live Kafka exists in the test environment; `read_stream` is exercised
end to end over the in-process broker (`sources/fakebroker.py`), and
`read_stream_files` streams landed raw-record files through the same
decode, so both yield the same envelope shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_dts_connector_spark.formats.decoder import decode_cdc


def dts_kafka_options(
    broker_url: str,
    topic: str,
    sid: str | None,
    group: str | None,
    user: str | None,
    password: str | None,
    checkpoint_ts: int | None = None,
    offsets_by_timestamp: str | None = None,
    group_starting_offsets: str | None = None,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Build Spark Kafka source options matching `DtsKafkaUtil.getKafkaProperties`.

    Semantics carried over:
      * SASL PLAIN with login ``user-sid`` (DtsKafkaUtil.java:53-64);
      * group id = group, else sid (DtsKafkaUtil.java:30-34);
      * auto-commit off — Spark's checkpoint WAL owns progress;
      * start position: all-partition timestamp seek via ``startingTimestamp``
        when ``checkpoint_ts`` is given (DStore failover re-seek,
        FlinkDtsKafkaConsumer.java:303-333 — Spark has no per-partition
        wildcard in ``startingOffsetsByTimestamp``, so the global option is
        the correct re-seek primitive), or an explicit per-partition
        ``offsets_by_timestamp`` JSON from
        `DtsProgressTracker.starting_offsets_by_timestamp`; else committed
        GROUP offsets when ``group_starting_offsets`` carries the explicit
        per-partition JSON resolved by
        `fakebroker.starting_offsets_from_group` (StartupMode.GROUP_OFFSETS,
        `FlinkDtsKafkaConsumer.java:412-470` — Spark's source cannot ask the
        coordinator itself, so the lookup happens driver-side at build time,
        exactly when the reference's fetcher does it); else earliest
        (auto.offset.reset=earliest parity, DtsKafkaUtil.java:44). The
        precedence mirrors the reference: a restored checkpoint beats group
        offsets (`FlinkDtsKafkaConsumer.java:263-267`).
    """
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": broker_url,
        "subscribe": topic,
        "kafka.group.id": group or (sid or ""),
        "kafka.enable.auto.commit": "false",
        "failOnDataLoss": "false",  # DStore failover moves offsets; re-seek instead
    }
    if sid and user and password is not None:
        jaas = (
            "org.apache.kafka.common.security.plain.PlainLoginModule required "
            f'username="{user}-{sid}" password="{password}";'
        )
        opts["kafka.security.protocol"] = "SASL_PLAINTEXT"
        opts["kafka.sasl.mechanism"] = "PLAIN"
        opts["kafka.sasl.jaas.config"] = jaas
    if offsets_by_timestamp is not None:
        # exact per-partition re-seek map (every partition listed — Spark
        # requires full coverage in startingOffsetsByTimestamp)
        opts["startingOffsetsByTimestamp"] = offsets_by_timestamp
    elif checkpoint_ts is not None and checkpoint_ts > 0:
        # all partitions from this timestamp; partitions with no later record
        # fall back per startingOffsetsByTimestampStrategy default ("error")
        # → use "latest" like the reference's consumer, which starts at the
        # end for drained partitions (FlinkDtsKafkaConsumer.java:303-333)
        opts["startingTimestamp"] = str(checkpoint_ts * 1000)
        opts["startingOffsetsByTimestampStrategy"] = "latest"
    elif group_starting_offsets is not None:
        opts["startingOffsets"] = group_starting_offsets
    else:
        opts["startingOffsets"] = "earliest"
    for k, v in (extra or {}).items():
        opts[k] = v
    return opts


def read_stream(
    spark: SparkSession,
    broker_url: str,
    topic: str,
    sid: str | None = None,
    group: str | None = None,
    user: str | None = None,
    password: str | None = None,
    checkpoint_ts: int | None = None,
    offsets_by_timestamp: str | None = None,
    group_starting_offsets: str | None = None,
    tables: list[str] | None = None,
    ops: list[str] | None = None,
    source_format: str = "kafka",
    extra: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming CDC envelope DataFrame from a DTS-subscription Kafka topic.

    Equivalent of `new FlinkDtsKafkaConsumer(...)` + deserializer
    (`FlinkDtsKafkaConsumer.java:228-280`): Spark handles partition
    discovery/offset state; we decode and filter. All six readable-metadata
    columns (`table/DtsDynamicSource.java:268-345`) ride the envelope:
    topic/partition/offset/timestamp/timestamp-type/headers.

    ``source_format`` swaps the wire: "kafka" (default, a real cluster) or
    "kafka_fake" (`sources/fakebroker.py`, the in-process broker whose
    bootstrap "address" is a directory) — the OPTIONS are built identically
    either way, which is the point: the fake executes the same contract.
    """
    reader = spark.readStream.format(source_format)
    for k, v in dts_kafka_options(
        broker_url, topic, sid, group, user, password, checkpoint_ts,
        offsets_by_timestamp, group_starting_offsets, extra=extra,
    ).items():
        reader = reader.option(k, v)
    reader = reader.option("includeHeaders", "true")
    raw = reader.load().select(
        "value", "partition", "offset", "topic", "timestamp", "timestampType", "headers"
    )
    return decode_cdc(raw, tables=tables, ops=ops)


#: the raw-record file layout every generator writes
RAW_FILE_SCHEMA = "value binary, partition int, offset long"


def read_stream_files(
    spark: SparkSession,
    path: str,
    tables: list[str] | None = None,
    ops: list[str] | None = None,
) -> DataFrame:
    """Streaming CDC envelope DataFrame from a directory of landed
    raw-record parquet files (`RAW_FILE_SCHEMA`).

    Spark's own file source does the discovery: its seen-files log in the
    query checkpoint (compacted by Spark) makes a resumed query read only
    the files that landed since its last run, and each file is split into
    tasks like any parquet scan. Decode and filters are `decode_cdc`'s."""
    raw = spark.readStream.schema(RAW_FILE_SCHEMA).parquet(path)
    return decode_cdc(raw, tables=tables, ops=ops)
