"""Wire-level Kafka e2e over the in-process fake broker
(`sources/fakebroker.py`): the options `sources/kafka.py` builds are
EXECUTED (auth, auto-commit, startup position, offsetsForTimes), and the
reference's failover contract — kill mid-stream, DStore cluster switch,
timestamp re-seek, no gaps with duplicates allowed (README.md:26-28) —
runs end-to-end through `streaming/failover.py`."""

import os

import pytest

from pyspark.sql import functions as F

from flink_dts_connector_spark.sources.fakebroker import (
    broker_cluster_id,
    create_broker,
    register_fake_broker,
)
from flink_dts_connector_spark.sources.kafka import dts_kafka_options, read_stream
from flink_dts_connector_spark.streaming.failover import DtsProgressTracker

TOPIC = "dts-demo-topic"
USERS = [("alice-SID42", "s3cret")]
BASE_MS = 1_500_000_000_000


def _mk_records(spark, n=24, parts=3):
    """n records, value = b'rec-<i>', partition = i % parts, ts second-spaced."""
    rows = [(f"rec-{i}".encode(), i % parts, BASE_MS + i * 1000) for i in range(n)]
    return spark.createDataFrame(rows, "value binary, partition int, ts_ms long")


def _drain(spark, env_df, ckpt, batches=None, trigger_once=True):
    """Run the stream collecting decoded/raw rows; returns list of Rows."""
    out = []

    def sink(batch_df, epoch_id):
        out.extend(batch_df.collect())

    writer = env_df.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
    if trigger_once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.trigger(processingTime="0 seconds").start()
        import time

        deadline = time.time() + 60
        while len(out) < batches and time.time() < deadline and q.isActive:
            time.sleep(0.1)
        q.stop()
        q.awaitTermination()
    return out


def _raw_stream(spark, broker_dir, **kw):
    reader = spark.readStream.format("kafka_fake")
    for k, v in dts_kafka_options(
        broker_dir, TOPIC, kw.pop("sid", "SID42"), kw.pop("group", None),
        kw.pop("user", "alice"), kw.pop("password", "s3cret"),
        kw.pop("checkpoint_ts", None), kw.pop("offsets_by_timestamp", None),
        kw.pop("group_starting_offsets", None),
        extra=kw.pop("extra", None),
    ).items():
        reader = reader.option(k, v)
    return reader.load()


@pytest.fixture()
def broker(spark, tmp_path):
    register_fake_broker(spark)
    d = str(tmp_path / "brokerA")
    # base 5000: the original DStore's log does not start at 0 — the
    # replacement cluster (a fresh reload) WILL, which is exactly why
    # stored offsets skip data after a switch
    create_broker(
        spark, _mk_records(spark), d, "dstore-cluster-A", TOPIC,
        users=USERS, offset_base=5000,
    )
    return d


def test_earliest_reads_everything_with_kafka_schema(spark, broker, tmp_path):
    rows = _drain(spark, _raw_stream(spark, broker), str(tmp_path / "ck1"))
    assert {bytes(r["value"]).decode() for r in rows} == {f"rec-{i}" for i in range(24)}
    # dense per-partition offsets in timestamp order, Kafka schema columns
    r0 = rows[0]
    assert set(r0.asDict()) == {
        "key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType", "headers",
    }
    per_part = {}
    for r in rows:
        per_part.setdefault(r["partition"], []).append((r["offset"], r["timestamp"]))
    for offs in per_part.values():
        offs.sort()
        assert [o for o, _ in offs] == list(range(5000, 5000 + len(offs)))  # dense from base
        assert [t for _, t in offs] == sorted(t for _, t in offs)


def test_start_by_timestamp_prefix_skipped(spark, broker, tmp_path):
    # checkpoint_ts is SECONDS in the option builder (×1000 inside)
    cut_sec = (BASE_MS + 12 * 1000) // 1000
    rows = _drain(
        spark,
        _raw_stream(spark, broker, checkpoint_ts=cut_sec),
        str(tmp_path / "ck2"),
    )
    got = sorted(int(bytes(r["value"]).decode().split("-")[1]) for r in rows)
    assert got == list(range(12, 24))  # offsetsForTimes: first ts >= cut


def test_contract_violations_rejected(spark, broker, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    def start(df, name):
        q = (
            df.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # wrong password → SASL failure at consumer construction
    with pytest.raises(StreamingQueryException, match="authentication failed"):
        start(_raw_stream(spark, broker, password="wrong"), "ckw")
    # auto-commit on → rejected (checkpoint owns progress)
    with pytest.raises(StreamingQueryException, match="auto.commit"):
        start(
            _raw_stream(spark, broker, extra={"kafka.enable.auto.commit": "true"}),
            "cka",
        )
    # per-partition timestamp map must cover every partition
    import json as _json

    with pytest.raises(StreamingQueryException, match="missing partitions"):
        start(
            _raw_stream(
                spark, broker,
                offsets_by_timestamp=_json.dumps({TOPIC: {"0": BASE_MS}}),
            ),
            "ckm",
        )
    # no group and no sid → group.id empty → rejected
    with pytest.raises(StreamingQueryException, match="group.id required"):
        start(_raw_stream(spark, broker, sid=None, user=None, password=None), "ckg")


def test_kill_switch_reseek_no_gaps_dupes_allowed(spark, broker, tmp_path):
    """The reference's signature flow end-to-end: consume A rate-limited,
    KILL mid-stream (progress = offset@timestamp per partition), the
    DStore fails over to cluster B (same data+timestamps, new cluster id,
    offsets shifted +5000), detection via cluster id, re-seek BY TIMESTAMP
    → union has no gaps; duplicates allowed and actually present. A
    negative control shows offset-restore WOULD lose data."""
    register_fake_broker(spark)
    seen_a = []
    tracker = DtsProgressTracker(state_path=str(tmp_path / "progress.json"))
    tracker.cluster_id = broker_cluster_id(broker)

    def sink_a(batch_df, epoch_id):
        rows = batch_df.collect()
        seen_a.extend(rows)
        tracker.update_from_batch(
            (r["partition"], r["offset"], int(r["timestamp"].timestamp()))
            for r in rows
        )
        tracker.save()

    qa = (
        _raw_stream(spark, broker, extra={"maxRecordsPerTrigger": "6"})
        .writeStream.foreachBatch(sink_a)
        .option("checkpointLocation", str(tmp_path / "cka"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    while len(seen_a) < 10 and time.time() < deadline and qa.isActive:
        time.sleep(0.1)
    qa.stop()  # kill mid-stream
    qa.awaitTermination()
    assert 0 < len(seen_a) < 24, "must die mid-stream for the test to mean anything"

    # ---- DStore failover: cluster B, new id, shifted offsets -------------
    broker_b = str(tmp_path / "brokerB")
    create_broker(
        spark, _mk_records(spark), broker_b, "dstore-cluster-B", TOPIC,
        users=USERS, offset_base=0,  # fresh reload: offsets restart at zero
    )
    restored = DtsProgressTracker.load(str(tmp_path / "progress.json"))
    assert restored.cluster_switched(broker_cluster_id(broker_b))

    by_ts = restored.starting_offsets_by_timestamp(TOPIC)
    assert by_ts is not None
    rows_b = _drain(
        spark,
        _raw_stream(spark, broker_b, offsets_by_timestamp=by_ts),
        str(tmp_path / "ckb"),
    )

    ids_a = [int(bytes(r["value"]).decode().split("-")[1]) for r in seen_a]
    ids_b = [int(bytes(r["value"]).decode().split("-")[1]) for r in rows_b]
    # NO GAPS: every record appears in the union
    assert set(ids_a) | set(ids_b) == set(range(24))
    # duplicates allowed AND present: the per-partition boundary record
    # (its exact timestamp is the re-seek point) is re-read
    assert set(ids_a) & set(ids_b), "timestamp re-seek must re-read the boundary"

    # ---- negative control: restoring by OFFSET on the new cluster --------
    import json as _json

    stored_offsets = {str(p): off for p, (off, _) in restored.partitions.items()}
    gap_rows = _drain(
        spark,
        _raw_stream(
            spark, broker_b,
            extra={"startingOffsets": _json.dumps({TOPIC: stored_offsets})},
        ),
        str(tmp_path / "ckneg"),
    )
    ids_gap = [int(bytes(r["value"]).decode().split("-")[1]) for r in gap_rows]
    assert set(ids_a) | set(ids_gap) != set(range(24)), (
        "offset restore across a cluster switch must lose data — "
        "that loss is why the reference re-seeks by timestamp"
    )


def test_group_offsets_commit_and_checkpointless_resume(spark, broker, tmp_path):
    """StartupMode.GROUP_OFFSETS end-to-end (`FlinkDtsKafkaConsumer.java:
    412-470`) — the one startup mode that survives LOSING the engine
    checkpoint, because progress also lives broker-side:

    phase 1 consumes rate-limited with commit-on-checkpoint (Flink's
    setCommitOffsetsOnCheckpoints, which the reference consumer inherits)
    and is KILLED mid-stream; phase 2 starts with a FRESH checkpoint dir —
    the Spark WAL is gone — resolving its start from the broker's group
    store. Exactly-once across the union: committed offsets are exact
    (unlike the timestamp re-seek, which re-reads the boundary)."""
    import time

    from flink_dts_connector_spark.sources.fakebroker import (
        group_committed_offsets,
        starting_offsets_from_group,
    )

    group = "g-resume"
    seen_1 = []

    def sink_1(batch_df, epoch_id):
        seen_1.extend(batch_df.collect())

    q1 = (
        _raw_stream(
            spark, broker, group=group,
            extra={
                "maxRecordsPerTrigger": "6",
                "kafka.commit.offsets.on.checkpoint": "true",
            },
        )
        .writeStream.foreachBatch(sink_1)
        .option("checkpointLocation", str(tmp_path / "ckg1"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 60
    while len(seen_1) < 10 and time.time() < deadline and q1.isActive:
        time.sleep(0.1)
    q1.stop()  # kill mid-stream; the checkpoint dir is then thrown away
    q1.awaitTermination()
    assert 0 < len(seen_1) < 24, "must die mid-stream for the test to mean anything"

    # the broker-side group store holds NEXT-offsets exactly one past what
    # phase 1 durably consumed (commit() fires only for WAL-complete batches,
    # so committed <= seen — Spark may have collected a batch whose commit
    # never ran; those records will be re-read, at-least-once, never skipped)
    committed = group_committed_offsets(broker, group, TOPIC)
    assert committed is not None and set(committed) <= {0, 1, 2}
    seen_max = {}
    for r in seen_1:
        seen_max[r["partition"]] = max(seen_max.get(r["partition"], -1), r["offset"])
    for p, nxt in committed.items():
        assert 5000 <= nxt <= seen_max.get(p, -1) + 1

    # phase 2: FRESH checkpoint dir; startup = committed group offsets
    start_json = starting_offsets_from_group(broker, group, TOPIC)
    assert start_json is not None
    rows_2 = _drain(
        spark,
        _raw_stream(spark, broker, group=group, group_starting_offsets=start_json),
        str(tmp_path / "ckg2"),
    )
    ids_1 = [int(bytes(r["value"]).decode().split("-")[1]) for r in seen_1]
    ids_2 = [int(bytes(r["value"]).decode().split("-")[1]) for r in rows_2]
    # no gaps: the union is the whole log
    assert set(ids_1) | set(ids_2) == set(range(24))
    # at-least-once with exact offsets: phase 2 re-reads ONLY records whose
    # batch was collected but not yet committed (kill between sink and
    # commit); committed records never reappear
    committed_ids = {
        i for i in ids_1
        if (i % 3) in committed and 5000 + sorted(
            j for j in range(24) if j % 3 == i % 3
        ).index(i) < committed[i % 3]
    }
    assert not committed_ids & set(ids_2), "committed records must not be re-read"


def test_group_offsets_unknown_group_falls_back_earliest(spark, broker, tmp_path):
    """A group that never committed resolves to None — the caller starts
    earliest (auto.offset.reset parity, DtsKafkaUtil.java:44)."""
    from flink_dts_connector_spark.sources.fakebroker import (
        starting_offsets_from_group,
    )

    assert starting_offsets_from_group(broker, "never-seen", TOPIC) is None
    # and a partial commit resolves uncommitted partitions to -2 (earliest)
    from flink_dts_connector_spark.sources.fakebroker import commit_group_offsets
    import json as _json

    commit_group_offsets(broker, "g-partial", TOPIC, {0: 5004})
    m = _json.loads(starting_offsets_from_group(broker, "g-partial", TOPIC))[TOPIC]
    assert m["0"] == 5004 and m["1"] == -2 and m["2"] == -2
    rows = _drain(
        spark,
        _raw_stream(
            spark, broker, group="g-partial",
            group_starting_offsets=_json.dumps({TOPIC: m}),
        ),
        str(tmp_path / "ckgp"),
    )
    ids = sorted(int(bytes(r["value"]).decode().split("-")[1]) for r in rows)
    # partition 0 (ids 0,3,6,...) starts at its 5th record (offset 5004 →
    # id 12); partitions 1 and 2 start earliest
    want = [i for i in range(24) if i % 3 != 0] + [12, 15, 18, 21]
    assert ids == sorted(want)


def test_group_commits_are_monotonic(spark, broker):
    """A stale commit never moves the group backwards — coordinator parity."""
    from flink_dts_connector_spark.sources.fakebroker import (
        commit_group_offsets,
        group_committed_offsets,
    )

    commit_group_offsets(broker, "g-mono", TOPIC, {0: 5010, 1: 5008})
    commit_group_offsets(broker, "g-mono", TOPIC, {0: 5006, 1: 5009, 2: 5001})
    assert group_committed_offsets(broker, "g-mono", TOPIC) == {
        0: 5010, 1: 5009, 2: 5001,
    }


def test_cdc_decode_rides_the_fake_broker(spark, sf_dir, tmp_path):
    """read_stream(source_format='kafka_fake') end-to-end: wire bytes from
    the CDC generator land on the broker, the stream decodes through the
    SAME decode_cdc as the real Kafka path, and the envelope matches the
    batch decode (ids + kafka metadata columns populated)."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes

    register_fake_broker(spark)
    # 1 ms per record id: heartbeat/DDL ids are ~1e10, so second-spacing
    # would overflow pandas' ns timestamps inside the decoder
    recs = generate_cdc_bytes(spark, sf_dir).select(
        "value", "partition", (F.lit(BASE_MS) + F.col("offset")).alias("ts_ms")
    )
    d = str(tmp_path / "brokerCDC")
    create_broker(spark, recs, d, "dstore-cdc", TOPIC, users=USERS)

    env = read_stream(
        spark, d, TOPIC, sid="SID42", user="alice", password="s3cret",
        source_format="kafka_fake",
    )
    out = []

    def sink(batch_df, epoch_id):
        out.extend(batch_df.select("id", "operation", "kafka_partition", "kafka_offset").collect())

    q = (
        env.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckcdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    want = {
        (r["id"], r["operation"])
        for r in decode_cdc(generate_cdc_bytes(spark, sf_dir)).select("id", "operation").collect()
    }
    got = {(r["id"], r["operation"]) for r in out}
    assert got == want and len(got) > 0
    assert all(r["kafka_partition"] is not None and r["kafka_offset"] is not None for r in out)


# -- footer-stat offsets and the Arrow fetch --------------------------------


def _multi_file_broker(spark, tmp_path):
    """A broker whose partition 0 holds three log files: Spark's own, one of
    two row groups, and one written without column statistics. Timestamps
    carry millisecond fractions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    register_fake_broker(spark)
    d = str(tmp_path / "brokerM")
    rows = [(f"rec-{i}".encode(), i % 2, BASE_MS + i * 1000 + (37 * i) % 1000) for i in range(12)]
    create_broker(
        spark, spark.createDataFrame(rows, "value binary, partition int, ts_ms long"),
        d, "dstore-cluster-M", TOPIC, users=USERS, offset_base=100,
    )
    p0 = tmp_path / "brokerM" / "log" / "partition=0"

    def extra(name, first, n, **kw):
        pq.write_table(
            pa.table(
                {
                    "value": pa.array([f"x-{first + j}".encode() for j in range(n)], pa.binary()),
                    "ts_ms": pa.array([BASE_MS + 50_000 + (first + j) * 1001 for j in range(n)], pa.int64()),
                    "offset": pa.array(list(range(first, first + n)), pa.int64()),
                }
            ),
            str(p0 / name),
            **kw,
        )

    extra("part-x1.parquet", 106, 6, row_group_size=3)
    extra("part-x2.parquet", 112, 4, write_statistics=False)
    return d


def _reader(broker_dir, **kw):
    from flink_dts_connector_spark.sources.fakebroker import _FakeKafkaStreamReader

    return _FakeKafkaStreamReader(
        dts_kafka_options(broker_dir, TOPIC, "SID42", None, "alice", "s3cret", **kw)
    )


def test_footer_offset_bounds_equal_column_scan(spark, tmp_path):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = _multi_file_broker(spark, tmp_path)
    r = _reader(d)
    assert len(r._part_files(0)) >= 3
    stats = r._file_stats(0)
    for f, lo, hi, ts_max in stats:
        t = pq.read_table(f)
        assert (lo, hi, ts_max) == (
            pc.min(t["offset"]).as_py(), pc.max(t["offset"]).as_py(), pc.max(t["ts_ms"]).as_py()
        )
    for p in (0, 1):
        offs = [o for f in r._part_files(p) for o in pq.read_table(f)["offset"].to_pylist()]
        assert r._offset_bounds(p) == (min(offs), max(offs) + 1)
    assert r._offset_bounds(0) == (100, 116)
    # offsetsForTimes over the same files: first offset with ts >= target
    recs = [
        rec
        for f in r._part_files(0)
        for rec in zip(*(pq.read_table(f)[c].to_pylist() for c in ("offset", "ts_ms")))
    ]
    for target in (0, BASE_MS + 4_500, BASE_MS + 50_000 + 110 * 1001, BASE_MS + 50_000 + 113 * 1001 + 1):
        want = min((o for o, ts in recs if ts >= target), default=None)
        assert r._offset_for_time(0, target) == want
    assert r._offset_for_time(0, BASE_MS + 10**9) is None
    # a fetch carries only the files whose offset range meets it
    (fetch,) = r.partitions({"offsets": {"0": 112, "1": 0}}, {"offsets": {"0": 114, "1": 0}})
    assert [os.path.basename(f) for f in fetch.files] == ["part-x2.parquet"]


def test_read_yields_one_kafka_shaped_arrow_batch(spark, tmp_path):
    """`read()` gives the rows the old per-record tuple path gave: offset
    order, exact millisecond timestamps, topic, partition, CreateTime and
    null key/headers — as one RecordBatch in the Kafka source's schema."""
    import datetime as dt

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from flink_dts_connector_spark.sources.fakebroker import KAFKA_SCHEMA

    d = _multi_file_broker(spark, tmp_path)
    r = _reader(d)
    start, end = 101, 114
    (fetch,) = r.partitions({"offsets": {"0": start, "1": 0}}, {"offsets": {"0": end, "1": 0}})
    batches = list(r.read(fetch))
    assert len(batches) == 1 and batches[0].schema == to_arrow_schema(KAFKA_SCHEMA)
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    want = [
        {
            "key": None, "value": v, "topic": TOPIC, "partition": 0, "offset": o,
            "timestamp": epoch + dt.timedelta(milliseconds=ts), "timestampType": 0,
            "headers": None,
        }
        for f in r._part_files(0)
        for v, ts, o in zip(*(pq.read_table(f)[c].to_pylist() for c in ("value", "ts_ms", "offset")))
        if start <= o < end
    ]
    want.sort(key=lambda row: row["offset"])
    assert batches[0].to_pylist() == want
    assert len(want) == end - start
    # an all-drained batch reads nothing
    (empty,) = r.partitions({"offsets": {"0": end, "1": 0}}, {"offsets": {"0": end, "1": 0}})
    assert list(r.read(empty)) == []

    # through Spark: the same exact timestamps, naive UTC
    rows = _drain(spark, _raw_stream(spark, d), str(tmp_path / "ckm"))
    got = {(r["partition"], r["offset"]): r["timestamp"] for r in rows}
    for row in want:
        assert got[(0, row["offset"])] == row["timestamp"].replace(tzinfo=None)
    assert len(rows) == 12 + 6 + 4


def test_offsets_import_neither_pandas_nor_dataset(spark, tmp_path):
    """initialOffset/latestOffset (and the timestamp re-seek) run in the
    stream runner's fresh process on every query start; they read parquet
    footers only and must not pull in pandas or `pyarrow.dataset`."""
    import json
    import subprocess
    import sys

    d = _multi_file_broker(spark, tmp_path)
    opts = [
        dts_kafka_options(d, TOPIC, "SID42", None, "alice", "s3cret", checkpoint_ts=ts)
        for ts in (None, (BASE_MS + 4_500) // 1000)
    ]
    # the runner unpickles the data source, so it imports this module only
    code = f"""
import json, sys
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from flink_dts_connector_spark.sources.fakebroker import _FakeKafkaStreamReader
out = []
for opts in json.loads({json.dumps(opts)!r}):
    r = _FakeKafkaStreamReader(opts)
    out.append([r.initialOffset(), r.latestOffset()])
print(json.dumps([out, sorted(m for m in ("pandas", "pyarrow.dataset") if m in sys.modules)]))
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    (earliest, seek), imported = json.loads(res.stdout.strip().splitlines()[-1])
    assert imported == []
    assert earliest == [{"offsets": {"0": 100, "1": 100}}, {"offsets": {"0": 116, "1": 106}}]
    assert seek[0] == {"offsets": {"0": 102, "1": 102}}
