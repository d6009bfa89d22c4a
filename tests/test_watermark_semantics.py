"""Watermark late-data semantics pinned explicitly (SURVEY.md §2.5 'late
data' row): rows arriving behind the advanced watermark are DROPPED from
windowed aggregation — and the divergence from the reference's per-partition
watermarks is what makes this a per-query global cutoff."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F


def test_late_rows_dropped_after_window_eviction(spark, tmp_path):
    """Spark's actual late-data GUARANTEE: once the watermark finalizes and
    evicts a window (append mode), rows arriving for it are dropped — they
    can neither re-emit nor resurrect the window. (While state is still
    live, late filtering is best-effort — a documented Spark semantic.)"""
    import os
    import time as _time

    data_dir = str(tmp_path / "stream")
    os.makedirs(data_dir)

    def write_batch(tag, rows):
        df = spark.createDataFrame(rows, "id long, ts_s string").select(
            "id", F.col("ts_s").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.parquet(f"{data_dir}/f={tag}")
        _time.sleep(1.2)  # distinct mtimes: file source orders batches by mtime

    write_batch(1, [(1, "2024-01-01 10:00:00")])
    # watermark lags one batch: b2 raises the wm target to 10:08, b3 RUNS
    # with wm=10:08 and finalizes+evicts the 10:00 window
    write_batch(2, [(2, "2024-01-01 10:10:00")])
    write_batch(3, [(3, "2024-01-01 10:12:00")])
    # late row for the now-evicted window: MUST be dropped
    write_batch(4, [(4, "2024-01-01 10:00:30")])

    stream = (
        spark.readStream.schema("id long, ts timestamp, f int")
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = [
        (r["window"]["start"].strftime("%H:%M"), r["n"]) for r in spark.table(name).collect()
    ]
    # exactly one emission for the 10:00 window, counting only the on-time row
    assert out.count(("10:00", 1)) == 1, f"unexpected emissions: {out}"
    assert ("10:00", 2) not in out, f"late row resurrected an evicted window: {out}"


def test_transform_with_state_in_pandas(spark, sf_dir):
    """Spark 4 transformWithStateInPandas (the successor stateful API):
    per-user running max event value across micro-batches equals batch max."""
    import pandas as pd
    import pytest

    try:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )
    except ImportError:
        pytest.skip("transformWithStateInPandas unavailable")

    # the Python worker imports pyspark/sql/streaming/proto/StateMessage_pb2.py,
    # which needs protobuf (PySpark lists it only under its `connect` extra)
    pytest.importorskip("google.protobuf")

    from flink_dts_connector_spark.session import load_table
    from flink_dts_connector_spark.streaming.runner import read_stream_table

    class MaxProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("mx", "v double")

        def handleInputRows(self, key, rows, timerValues):
            mx = self.state.get()[0] if self.state.exists() else float("-inf")
            for pdf in rows:
                mx = max(mx, float(pdf["value"].max()))
            self.state.update((mx,))
            yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx]})

        def close(self) -> None:
            pass

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_stream_table(spark, sf_dir, "events").select("user_id", "value", "ts")
        out = (
            ev.groupBy("user_id")
            .transformWithStateInPandas(
                MaxProcessor(),
                outputStructType="user_id bigint, max_value double",
                outputMode="Update",
                timeMode="None",
            )
        )
        import tempfile
        import uuid as _uuid

        name = f"tws_{_uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="fdcs_tws_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = {
        r["user_id"]: r["mx"]
        for r in spark.table(name).groupBy("user_id").agg(F.max("max_value").alias("mx")).collect()
    }
    want = {
        r["user_id"]: r["mx"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("value").alias("mx"))
        .collect()
    }
    assert got == want
