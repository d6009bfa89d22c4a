"""The paper's CDC path, assembled from the package's public functions.

Wire records come from the in-process broker (`sources/fakebroker.py`)
through the options `sources/kafka.dts_kafka_options` builds. Each drain is
one Structured Streaming query from the earliest offsets to the log end,
``trigger(availableNow)`` into a foreachBatch sink that decodes
(``decode_cdc``, or ``decode_cdc_prefiltered`` for the multi-tenant topic),
projects the typed I/UB/UA/D changelog (``project_table``), upserts it
(``materialize_upsert``), folds the signed aggregates and records
``offset@timestamp`` progress (``DtsProgressTracker.update_from_batch`` +
``save``). The warm-up's single capped batch runs under a rate cap and
``processingTime`` instead (see ``drain``).

Nothing here changes the program; the spans around its calls are the
benchmark's own.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_dts_connector_spark.formats.decoder import decode_cdc, decode_cdc_prefiltered
from flink_dts_connector_spark.formats.typed import project_table
from flink_dts_connector_spark.operators.changelog import (
    materialize_upsert,
    signed_count,
    signed_sum,
)
from flink_dts_connector_spark.sources.fakebroker import create_broker
from flink_dts_connector_spark.sources.kafka import dts_kafka_options
from flink_dts_connector_spark.streaming.failover import DtsProgressTracker

import gen
from spans import Tracer

SID, USER, PASSWORD = "SID7", "bench", "pw"
CLUSTER = "dstore-a"

#: the consumed table's declared schema (gen.WIDE_FIELDS on the wire)
SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("amount", T.DecimalType(18, 2)),
        T.StructField("customer", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("note", T.StringType()),
        T.StructField("qty", T.LongType()),
        T.StructField("unit_price", T.DecimalType(18, 2)),
        T.StructField("created", T.TimestampType()),
        T.StructField("updated", T.TimestampType()),
        T.StructField("channel", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("sku", T.StringType()),
        T.StructField("region", T.StringType()),
    ]
)


@dataclass(frozen=True)
class Workload:
    spec: gen.Spec
    prefiltered: bool  # decode via decode_cdc_prefiltered

    def decode(self, raw: DataFrame) -> DataFrame:
        if self.prefiltered:
            return decode_cdc_prefiltered(raw, tables=[gen.SELECTED])
        return decode_cdc(raw)


WORKLOADS = {
    "backfill": Workload(gen.SPECS["backfill"], prefiltered=False),
    "tenant": Workload(gen.SPECS["tenant"], prefiltered=True),
}


# -- inputs ---------------------------------------------------------------


def build_inputs(spark: SparkSession, wl: Workload, seed: int, cache_dir: str):
    """Broker directory and ground truth for (workload, seed), built once
    and cached; the program only ever sees the broker."""
    digest = hashlib.sha1(f"{gen.GEN_VERSION}{wl.spec!r}".encode()).hexdigest()[:10]
    key = f"{wl.spec.name}-s{seed}-{digest}"
    root = os.path.join(cache_dir, key)
    truth_path = os.path.join(root, "truth.json")
    broker_dir = os.path.join(root, "broker")
    if os.path.exists(truth_path):
        with open(truth_path) as fh:
            return broker_dir, gen.Truth.from_json(json.load(fh))
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rows, truth = gen.generate(wl.spec, seed)
    # the generated records reach Spark as one parquet file: cheaper than
    # shipping Python objects through createDataFrame
    import pyarrow as pa
    import pyarrow.parquet as pq

    values, parts, stamps = zip(*rows)
    staged = os.path.join(root, "generated.parquet")
    pq.write_table(
        pa.table({"value": pa.array(values, pa.binary()), "partition": pa.array(parts, pa.int32()),
                  "ts_ms": pa.array(stamps, pa.int64())}),
        staged,
    )
    create_broker(
        spark, spark.read.parquet(staged), broker_dir, CLUSTER, gen.TOPIC,
        users=[(f"{USER}-{SID}", PASSWORD)],
    )
    os.remove(staged)
    tmp = f"{truth_path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(truth.to_json(), fh)
    os.replace(tmp, truth_path)  # written last: its presence marks a whole cache entry
    return broker_dir, truth


def raw_stream(spark: SparkSession, broker_dir: str, max_per_trigger: int = 0) -> DataFrame:
    extra = {"maxRecordsPerTrigger": str(max_per_trigger)} if max_per_trigger else None
    opts = dts_kafka_options(broker_dir, gen.TOPIC, SID, None, USER, PASSWORD, extra=extra)
    reader = spark.readStream.format("kafka_fake").options(**opts).option("includeHeaders", "true")
    return reader.load().select(
        "value", "partition", "offset", "topic", "timestamp", "timestampType", "headers"
    )


# -- sinks ------------------------------------------------------------------


@dataclass
class DrainResult:
    """What one drain produced, for the checks and the metrics."""

    wall_s: float = 0.0
    progress: list = field(default_factory=list)
    records: int = 0
    wire_bytes: int = 0
    survivors: dict = field(default_factory=dict)  # (db, tbl) -> decoded rows
    upsert: dict = field(default_factory=dict)  # k -> (cents, status)
    groups: dict = field(default_factory=dict)  # grp -> (cents, count)
    changelog_rows: int = 0
    batches_seen: int = 0
    tracker_path: str = ""
    started: float = 0.0  # epoch seconds just before start()
    traced: bool = False

    @property
    def first_batch_s(self) -> float:
        """``start()`` to the first micro-batch's trigger."""
        return batch_start(self.progress[0]) - self.started if self.progress else 0.0


def _cents(col: str):
    return (F.col(col) * 100).cast("long")


class BacklogSink:
    """foreachBatch sink of every drain. The raw batch and
    the decoded envelope are each persisted once, so every step below reads
    the wire and decodes it exactly once per batch."""

    def __init__(self, wl: Workload, tracker: DtsProgressTracker, res: DrainResult, tracer: Tracer):
        self.wl, self.tracker, self.res, self.tracer = wl, tracker, res, tracer

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        with self.tracer.span("sink"):
            self._run(batch_df)

    def _run(self, batch_df: DataFrame) -> None:
        tr, res = self.tracer, self.res
        res.batches_seen += 1
        raw = batch_df.persist()
        env = None
        try:
            with tr.span("sink.fetch"):
                parts = (
                    raw.groupBy("partition")
                    .agg(
                        F.max("offset").alias("off"),
                        F.max(F.unix_seconds("timestamp")).alias("ts"),
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.length("value")).alias("bytes"),
                    )
                    .collect()
                )
            res.records += sum(r["n"] for r in parts)
            res.wire_bytes += sum(r["bytes"] for r in parts)
            with tr.span("sink.tracker"):
                self.tracker.update_from_batch((r["partition"], r["off"], r["ts"]) for r in parts)
                self.tracker.save()
            with tr.span("sink.decode"):
                env = self.wl.decode(raw).persist()
                for r in env.groupBy("db", "tbl").count().collect():
                    key = (r["db"], r["tbl"])
                    res.survivors[key] = res.survivors.get(key, 0) + r["count"]
            chg = project_table(env, SCHEMA, table=gen.SELECTED)
            with tr.span("sink.upsert"):
                state = (
                    materialize_upsert(chg, ["k"])
                    .select("k", _cents("amount").alias("cents"), "status")
                    .collect()
                )
            res.upsert.update((r["k"], (r["cents"], r["status"])) for r in state)
            with tr.span("sink.signed_agg"):
                aggs = (
                    chg.groupBy("grp")
                    .agg(
                        signed_sum(F.col("amount")).alias("s"),
                        signed_count().alias("c"),
                        F.count(F.lit(1)).alias("n"),
                    )
                    .select("grp", _cents("s").alias("s"), "c", "n")
                    .collect()
                )
            for r in aggs:
                s, c = res.groups.get(r["grp"], (0, 0))
                res.groups[r["grp"]] = (s + r["s"], c + r["c"])
                res.changelog_rows += r["n"]
        finally:
            if env is not None:
                env.unpersist()
            raw.unpersist()


# -- drains -------------------------------------------------------------------


def _progress_list(q) -> list[dict]:
    out, seen = [], set()
    for p in q.recentProgress:
        d = json.loads(p.json)
        if d["batchId"] not in seen:
            seen.add(d["batchId"])
            out.append(d)
    return out


def batch_start(p: dict) -> float:
    """Epoch seconds at which a micro-batch was triggered."""
    t = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def batch_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished."""
    return batch_start(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def run_until_drained(q, records: int, started: float, timeout_s: float = 60.0) -> float:
    """Poll a processingTime query until its progress shows every record
    consumed; return the wall time from ``started`` to the last batch's
    end. Raises when the query dies or stalls."""
    deadline = time.time() + timeout_s
    try:
        while True:
            progs = _progress_list(q)
            if sum(p["numInputRows"] for p in progs) >= records:
                return max(batch_end(p) for p in progs) - started
            if not q.isActive:
                q.awaitTermination()  # re-raises the query's error, if any
                raise RuntimeError("query ended before draining the topic")
            if time.time() > deadline:
                raise TimeoutError("drain did not finish")
            time.sleep(0.02)
    finally:
        q.stop()
        q.awaitTermination()


def _run(writer, capped: bool, records: int, res: DrainResult):
    """Start a query and wait for its end: availableNow drains stop by
    themselves; rate-capped ones run under processingTime (a Python stream
    source ignores a rate cap's admission control under availableNow) and
    stop once ``records`` are in."""
    res.started = time.time()
    t0 = time.perf_counter()
    if capped:
        q = writer.trigger(processingTime="0 seconds").start()
        res.wall_s = run_until_drained(q, records, res.started)
    else:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        res.wall_s = time.perf_counter() - t0
    res.progress = _progress_list(q)


def drain(
    spark: SparkSession,
    wl: Workload,
    broker_dir: str,
    truth: gen.Truth,
    work: str,
    tag: str,
    tracer: Tracer,
    limit: int = 0,
) -> DrainResult:
    """One drain of the topic from the earliest offsets. With ``limit``,
    the drain is a single capped batch of about that many records: a
    warm-up that runs every step of the path on part of the data."""
    ckpt = os.path.join(work, f"ckpt-{tag}")
    res = DrainResult(tracker_path=os.path.join(work, f"tracker-{tag}.json"), traced=tracer.enabled)
    tracker = DtsProgressTracker(state_path=res.tracker_path, cluster_id=CLUSTER)
    records = truth.records
    if limit:
        # the broker's cursor moves every partition by limit // partitions
        # per trigger, so this many records make exactly one batch
        parts = len(truth.last_record)
        records = min(truth.records, max(1, limit // parts) * parts)
    writer = raw_stream(spark, broker_dir, limit).writeStream.foreachBatch(
        BacklogSink(wl, tracker, res, tracer)
    )
    try:
        _run(writer.option("checkpointLocation", ckpt), bool(limit), records, res)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return res


def prefix_drain(
    spark: SparkSession, broker_dir: str, truth: gen.Truth, work: str, tag: str, build
) -> float:
    """Wall seconds of an ``availableNow`` drain of a prefix of the path
    into a noop sink: ``build(raw)`` gives the frame to write."""
    ckpt = os.path.join(work, f"ckpt-{tag}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.format("noop").mode("overwrite").save()

    writer = (
        build(raw_stream(spark, broker_dir))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
    )
    res = DrainResult()
    try:
        _run(writer, False, truth.records, res)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return res.wall_s
