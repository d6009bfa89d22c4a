"""In-process wire-level Kafka stand-in — closes the "no live broker"
testing gap (SURVEY.md §2.1, VERDICT r9 missing #1).

`sources/kafka.py` builds real Spark-Kafka options; until now those
options were only contract-tested (string assertions). This module is a
file-backed fake CLUSTER that *executes* them: a Spark Python DataSource
(`format("kafka_fake")`) that exposes the Kafka source's exact schema and
honors the startup/auth option surface the reference consumer exercises —

* ``startingOffsetsByTimestamp`` (per-partition offsetsForTimes re-seek,
  full-coverage required — `FlinkDtsKafkaConsumer.java:303-333,412-470`),
* ``startingTimestamp`` + ``startingOffsetsByTimestampStrategy``,
* ``startingOffsets`` earliest/latest/explicit per-partition JSON,
* SASL PLAIN credential check of the ``user-sid`` login contract
  (`fetcher/DtsKafkaUtil.java:53-64`) against the broker's user list,
* ``kafka.enable.auto.commit`` must be "false" (the checkpoint owns
  progress — starting a consumer with auto-commit on is a config bug the
  fake rejects, as the reference's property builder prevents),
* consumer-group offset commits on micro-batch completion
  (``kafka.commit.offsets.on.checkpoint`` — Flink's
  setCommitOffsetsOnCheckpoints, which the reference consumer inherits)
  and GROUP_OFFSETS startup via the broker-side group store
  (`FlinkDtsKafkaConsumer.java:412-470`; `starting_offsets_from_group`
  resolves committed offsets into explicit ``startingOffsets`` JSON, the
  one startup mode that survives losing the engine checkpoint).

A "DStore failover" (`fetcher/ClusterSwitchListener.java:32-50`) is
modeled by `create_broker`-ing a SECOND directory holding the same
(value, timestamp) log under a new ``cluster_id`` with shifted offsets:
offsets stored from cluster A are meaningless on B, timestamps are not —
exactly the situation the reference's offset@timestamp checkpoint exists
for. `streaming/failover.py` detects the switch and re-seeks by
timestamp; the fake proves end-to-end that the union of pre- and
post-switch reads has no gaps (duplicates allowed, README.md:26-28).

The broker's "bootstrap address" IS its directory path, so
`dts_kafka_options` output is consumed byte-identically. Logs are built
with Spark writes (row_number per partition assigns dense offsets — one
shuffle at build). Offset bounds and offsetsForTimes come from each log
file's parquet footer statistics (a log file is written once), so the
driver-side calls read no data. Readers are executor-parallel pyarrow reads
of the files whose offsets meet the [start, end) range, mirroring a real
consumer's fetch, and hand Spark one Arrow RecordBatch per fetch in the
Kafka schema — no per-record Python objects.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

#: the Spark Kafka source's output schema (includeHeaders=true shape)
KAFKA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
        T.StructField(
            "headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.BinaryType()),
                    ]
                )
            ),
        ),
    ]
)

_META_FILE = "broker_meta.json"


def create_broker(
    spark: SparkSession,
    records: DataFrame,
    broker_dir: str,
    cluster_id: str,
    topic: str,
    users: list[tuple[str, str]] | None = None,
    offset_base: int = 0,
) -> str:
    """Materialize a fake cluster: ``records`` must carry (value binary,
    partition int, ts_ms long). Offsets are assigned densely per partition
    in timestamp order (row_number — Kafka's append order), starting at
    ``offset_base`` (two brokers built from the same records with
    different bases model the DStore failover's offset discontinuity).
    ``users`` are the SASL PLAIN logins the broker accepts; empty = no
    auth (PLAINTEXT)."""
    from pyspark.sql.window import Window

    log_dir = os.path.join(broker_dir, "log")
    w = Window.partitionBy("partition").orderBy("ts_ms", F.xxhash64("value"))
    (
        records.select("value", "partition", "ts_ms")
        .withColumn("offset", (F.row_number().over(w) - 1 + F.lit(offset_base)).cast("long"))
        .write.mode("overwrite")
        .partitionBy("partition")
        .parquet(log_dir)
    )
    parts = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(log_dir)
        if d.startswith("partition=")
    )
    meta = {
        "cluster_id": cluster_id,
        "topic": topic,
        "partitions": parts,
        "users": [{"username": u, "password": p} for u, p in (users or [])],
    }
    with open(os.path.join(broker_dir, _META_FILE), "w") as fh:
        json.dump(meta, fh)
    return broker_dir


def broker_cluster_id(broker_dir: str) -> str:
    """What a real consumer learns from cluster metadata — feeds
    `DtsProgressTracker.cluster_switched`."""
    with open(os.path.join(broker_dir, _META_FILE)) as fh:
        return json.load(fh)["cluster_id"]


# -- consumer-group offset store (the broker's __consumer_offsets surface) ----
#
# The reference consumer COMMITS offsets back to the group on checkpoint
# completion (Flink's setCommitOffsetsOnCheckpoints — the DTS consumer
# inherits it) and can START from them (StartupMode.GROUP_OFFSETS,
# `FlinkDtsKafkaConsumer.java:412-470`): the one startup mode that survives
# losing the engine checkpoint, because progress also lives broker-side.
# Spark's Kafka source neither commits nor starts from group offsets, so the
# Spark translation is: the fake's reader commits on micro-batch completion
# when `kafka.commit.offsets.on.checkpoint` is "true" (a kafka.*-namespaced
# option — the real Spark source passes unknown kafka.* configs through to
# the client, so the option dict stays valid for a real cluster), and
# startup reads the store driver-side via `group_committed_offsets` →
# explicit `startingOffsets` JSON (the same coordinator lookup the
# reference's fetcher performs at startup).


def _group_path(broker_dir: str, group: str) -> str:
    safe = re.sub(r"[^A-Za-z0-9._-]", "_", group)
    return os.path.join(broker_dir, "groups", f"{safe}.json")


def commit_group_offsets(
    broker_dir: str, group: str, topic: str, offsets: dict[int, int]
) -> None:
    """Commit per-partition NEXT-offsets (Kafka commit semantics: the offset
    of the next record to consume) for ``group``. Monotonic per partition —
    a stale commit never moves the group backwards, like the coordinator."""
    path = _group_path(broker_dir, group)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cur: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            cur = json.load(fh)
    tp = cur.setdefault(topic, {})
    for p, off in offsets.items():
        tp[str(p)] = max(int(off), int(tp.get(str(p), 0)))
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cur, fh)
    os.replace(tmp, path)  # atomic: a concurrent reader never sees a torn file


def group_committed_offsets(
    broker_dir: str, group: str, topic: str
) -> dict[int, int] | None:
    """Committed offsets for (group, topic), or None when the group has
    never committed — callers fall back to ``auto.offset.reset`` (earliest,
    `DtsKafkaUtil.java:44`), exactly the reference's GROUP_OFFSETS
    fallback."""
    path = _group_path(broker_dir, group)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        data = json.load(fh)
    tp = data.get(topic)
    if not tp:
        return None
    return {int(p): int(off) for p, off in tp.items()}


def starting_offsets_from_group(
    broker_dir: str, group: str, topic: str, partitions: list[int] | None = None
) -> str | None:
    """GROUP_OFFSETS startup as Spark options: the committed offsets as an
    explicit ``startingOffsets`` JSON (partitions the group never committed
    start at -2 = earliest, Kafka-source convention), or None when nothing
    is committed (caller starts earliest)."""
    committed = group_committed_offsets(broker_dir, group, topic)
    if committed is None:
        return None
    if partitions is None:
        with open(os.path.join(broker_dir, _META_FILE)) as fh:
            partitions = json.load(fh)["partitions"]
    return json.dumps(
        {topic: {str(p): committed.get(p, -2) for p in partitions}}
    )


@dataclass
class _FetchPartition(InputPartition):
    files: list[str]
    partition: int
    start: int
    end: int
    topic: str


class _FakeKafkaStreamReader(DataSourceStreamReader):
    """Offset-range streaming reader over the broker's per-partition logs.

    Contract enforcement happens HERE (at consumer construction, like a
    real client): auth, auto-commit, subscription, and startup-position
    resolution including offsetsForTimes semantics (first offset whose
    timestamp >= the target; per-partition map requires full coverage)."""

    def __init__(self, options: dict):
        opts = {k.lower(): v for k, v in options.items()}
        self.broker_dir = opts.get("kafka.bootstrap.servers")
        if not self.broker_dir or not os.path.isdir(self.broker_dir):
            raise ValueError(
                f"fake broker 'bootstrap servers' must be a broker dir: {self.broker_dir!r}"
            )
        with open(os.path.join(self.broker_dir, _META_FILE)) as fh:
            self.meta = json.load(fh)
        self.topic = opts.get("subscribe")
        if self.topic != self.meta["topic"]:
            raise ValueError(
                f"unknown topic {self.topic!r} (broker serves {self.meta['topic']!r})"
            )
        if not opts.get("kafka.group.id"):
            raise ValueError("group.id required (reference: group or sid — DtsKafkaUtil.java:30-34)")
        if opts.get("kafka.enable.auto.commit", "false").lower() != "false":
            raise ValueError(
                "enable.auto.commit must be false: the checkpoint owns progress"
            )
        self._check_auth(opts)
        self._opts = opts
        self._max_per_trigger = (
            int(opts["maxrecordspertrigger"]) if "maxrecordspertrigger" in opts else None
        )
        self._cursor: dict[int, int] | None = None

    # -- auth ---------------------------------------------------------------

    def _check_auth(self, opts: dict) -> None:
        users = self.meta.get("users") or []
        proto = opts.get("kafka.security.protocol")
        if not users:
            return  # PLAINTEXT broker
        if proto != "SASL_PLAINTEXT":
            raise ValueError("broker requires SASL_PLAINTEXT")
        if opts.get("kafka.sasl.mechanism") != "PLAIN":
            raise ValueError("broker requires SASL mechanism PLAIN")
        jaas = opts.get("kafka.sasl.jaas.config", "")
        m = re.search(r'username="([^"]*)"\s+password="([^"]*)"', jaas)
        if not m:
            raise ValueError("malformed JAAS config")
        if not any(
            u["username"] == m.group(1) and u["password"] == m.group(2) for u in users
        ):
            raise ValueError(f"authentication failed for {m.group(1)!r}")

    # -- log metadata (driver-side) ------------------------------------------

    def _part_files(self, p: int) -> list[str]:
        d = os.path.join(self.broker_dir, "log", f"partition={p}")
        if not os.path.isdir(d):
            return []
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    def _file_stats(self, p: int) -> list[tuple[str, int, int, int]]:
        """(file, min offset, max offset, max ts_ms) per non-empty log file
        of partition ``p``, from the parquet footers: a log file is written
        once, so its row-group statistics are exact. A file whose footer
        carries no min/max falls back to scanning its two columns. Neither
        path imports pandas or ``pyarrow.dataset`` (``pq.read_table`` does),
        which the stream runner's fresh process would pay on every query."""
        import pyarrow.parquet as pq

        out = []
        for f in self._part_files(p):
            pf = pq.ParquetFile(f)
            md = pf.metadata
            if md.num_rows == 0:
                continue
            idx = {md.schema.column(j).name: j for j in range(md.num_columns)}
            stats = [
                (rg.column(idx["offset"]).statistics, rg.column(idx["ts_ms"]).statistics)
                for rg in map(md.row_group, range(md.num_row_groups))
                if rg.num_rows
            ]
            if all(s is not None and s.has_min_max for pair in stats for s in pair):
                out.append(
                    (
                        f,
                        min(o.min for o, _ in stats),
                        max(o.max for o, _ in stats),
                        max(t.max for _, t in stats),
                    )
                )
            else:
                import pyarrow.compute as pc  # ~80 ms to import: only here

                t = pf.read(columns=["offset", "ts_ms"])
                o = pc.min_max(t["offset"]).as_py()
                out.append((f, o["min"], o["max"], pc.max(t["ts_ms"]).as_py()))
        return out

    def _offset_bounds(self, p: int) -> tuple[int, int]:
        """(earliest offset, log-end offset) — log end = max+1, Kafka-style."""
        stats = self._file_stats(p)
        if not stats:
            return (0, 0)
        return (min(s[1] for s in stats), max(s[2] for s in stats) + 1)

    def _offset_for_time(self, p: int, ts_ms: int) -> int | None:
        """Kafka offsetsForTimes: earliest offset whose timestamp >= ts_ms.
        Only files whose footer says they hold such a record are read."""
        import pyarrow.parquet as pq

        best = None
        for f, _, _, ts_max in self._file_stats(p):
            if ts_max < ts_ms:
                continue
            t = pq.ParquetFile(f).read(columns=["offset", "ts_ms"])
            cand = min(
                (
                    off
                    for off, ts in zip(t["offset"].to_pylist(), t["ts_ms"].to_pylist())
                    if ts >= ts_ms
                ),
                default=None,
            )
            if cand is not None:
                best = cand if best is None else min(best, cand)
        return best

    # -- startup position ----------------------------------------------------

    def initialOffset(self) -> dict:
        opts, parts = self._opts, self.meta["partitions"]
        start: dict[str, int] = {}
        by_ts = opts.get("startingoffsetsbytimestamp")
        global_ts = opts.get("startingtimestamp")
        strategy = opts.get("startingoffsetsbytimestampstrategy", "error")
        if by_ts is not None:
            m = json.loads(by_ts).get(self.topic, {})
            missing = [p for p in parts if str(p) not in m]
            if missing:
                # Spark's Kafka source requires full partition coverage
                raise ValueError(
                    f"startingOffsetsByTimestamp missing partitions {missing} of {self.topic}"
                )
            for p in parts:
                off = self._offset_for_time(p, int(m[str(p)]))
                if off is None:
                    if strategy == "latest":
                        off = self._offset_bounds(p)[1]
                    else:
                        raise ValueError(
                            f"no offset at/after ts for partition {p} (strategy=error)"
                        )
                start[str(p)] = off
        elif global_ts is not None:
            for p in parts:
                off = self._offset_for_time(p, int(global_ts))
                if off is None:
                    if strategy == "latest":
                        off = self._offset_bounds(p)[1]
                    else:
                        raise ValueError(
                            f"no offset at/after ts for partition {p} (strategy=error)"
                        )
                start[str(p)] = off
        else:
            pos = opts.get("startingoffsets", "earliest")
            if pos == "earliest":
                for p in parts:
                    start[str(p)] = self._offset_bounds(p)[0]
            elif pos == "latest":
                for p in parts:
                    start[str(p)] = self._offset_bounds(p)[1]
            else:
                # explicit per-partition JSON, Kafka-source style; honors
                # the -2 (earliest) / -1 (latest) specials so a
                # GROUP_OFFSETS map with never-committed partitions
                # resolves like the real source would
                m = json.loads(pos).get(self.topic, {})
                for p in parts:
                    if str(p) not in m:
                        raise ValueError(f"startingOffsets missing partition {p}")
                    off = int(m[str(p)])
                    if off == -2:
                        off = self._offset_bounds(p)[0]
                    elif off == -1:
                        off = self._offset_bounds(p)[1]
                    start[str(p)] = off
        return {"offsets": start}

    def latestOffset(self) -> dict:
        ends = {str(p): self._offset_bounds(p)[1] for p in self.meta["partitions"]}
        if self._max_per_trigger is None:
            return {"offsets": ends}
        # rate-limited trigger: advance an internal cursor by at most
        # max/partitions each micro-batch (ranges are still authoritative
        # from the WAL's (start, end) pair — a stale cursor after restart
        # only yields empty early batches, never wrong data)
        if self._cursor is None:
            self._cursor = {
                str(p): self._offset_bounds(p)[0] for p in self.meta["partitions"]
            }
        step = max(1, self._max_per_trigger // max(1, len(ends)))
        self._cursor = {
            p: min(ends[p], self._cursor[p] + step) for p in self._cursor
        }
        return {"offsets": dict(self._cursor)}

    # -- fetch ----------------------------------------------------------------

    def partitions(self, start: dict, end: dict):
        out = []
        for p in self.meta["partitions"]:
            s, e = int(start["offsets"][str(p)]), int(end["offsets"][str(p)])
            if e > s:
                # only the log files whose offset range meets [s, e)
                files = [f for f, lo, hi, _ in self._file_stats(p) if lo < e and hi >= s]
                out.append(_FetchPartition(files, p, s, e, self.topic))
        # Spark requires >=1 partition; an all-drained batch yields none —
        # return an empty fetch of partition 0 to represent the empty batch
        if not out:
            p0 = self.meta["partitions"][0]
            out.append(_FetchPartition([], p0, 0, 0, self.topic))
        return out

    def read(self, partition: _FetchPartition) -> Iterator:
        """One Arrow RecordBatch per fetch, in offset order, shaped exactly
        as the Kafka schema; PySpark passes RecordBatches through to the
        JVM without a per-record Python conversion."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        if not partition.files:
            return
        parts = []
        for f in partition.files:
            t = pq.ParquetFile(f).read(columns=["offset", "ts_ms", "value"])
            off = t["offset"]
            parts.append(
                t.filter(
                    pc.and_(
                        pc.greater_equal(off, partition.start), pc.less(off, partition.end)
                    )
                )
            )
        t = pa.concat_tables(parts, promote_options="default").sort_by("offset")
        n = t.num_rows
        schema = to_arrow_schema(KAFKA_SCHEMA)
        cols = {
            "key": pa.nulls(n, schema.field("key").type),
            "value": t["value"],
            "topic": pa.repeat(pa.scalar(partition.topic, pa.string()), n),
            "partition": pa.repeat(pa.scalar(partition.partition, pa.int32()), n),
            "offset": t["offset"],
            "timestamp": t["ts_ms"]
            .cast(pa.timestamp("ms", tz="UTC"))
            .cast(schema.field("timestamp").type),
            "timestampType": pa.repeat(pa.scalar(0, pa.int32()), n),  # CreateTime
            "headers": pa.nulls(n, schema.field("headers").type),
        }
        yield from (
            pa.table([cols[name] for name in schema.names], schema=schema)
            .combine_chunks()
            .to_batches()
        )

    def commit(self, end: dict) -> None:
        # Progress lives in the query's checkpoint WAL; additionally, when
        # `kafka.commit.offsets.on.checkpoint` is "true", mirror the
        # reference consumer's commit-on-checkpoint into the broker's group
        # store so a checkpoint-less restart can resume via GROUP_OFFSETS
        # (`FlinkDtsKafkaConsumer.java:412-470`). Spark calls commit() only
        # after the batch is durably in the WAL — same ordering Flink gives
        # notifyCheckpointComplete.
        if self._opts.get("kafka.commit.offsets.on.checkpoint", "false").lower() == "true":
            commit_group_offsets(
                self.broker_dir,
                self._opts["kafka.group.id"],
                self.topic,
                {int(p): int(off) for p, off in end["offsets"].items()},
            )


class FakeKafkaDataSource(DataSource):
    """`format("kafka_fake")` — a Kafka-source-shaped stream over a
    directory broker; consumes `dts_kafka_options` output unchanged."""

    @classmethod
    def name(cls) -> str:
        return "kafka_fake"

    def schema(self):
        return KAFKA_SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _FakeKafkaStreamReader(self.options)


def register_fake_broker(spark: SparkSession) -> None:
    spark.dataSource.register(FakeKafkaDataSource)
