"""`streaming/runner.py:run_available_now` — the one bounded-run helper:
it drains what is available, returns one progress entry per micro-batch,
resumes from a shared checkpoint, and lets a sink failure out."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from flink_dts_connector_spark.plans.streaming_queries import _require_batches
from flink_dts_connector_spark.streaming.runner import (
    read_waves,
    run_available_now,
    scratch_dir,
    write_waves,
)


def _waves(spark, n_waves: int) -> tuple[str, object]:
    df = spark.range(30).withColumn("v", F.col("id") * 2)
    waves_dir = scratch_dir("fdcs_test_waves_")
    write_waves(df, F.col("id") % n_waves, waves_dir, n_waves)
    return waves_dir, df.schema


def test_three_waves_give_three_progress_entries(spark):
    waves_dir, schema = _waves(spark, 3)
    calls = []
    progress = run_available_now(
        read_waves(spark, schema, waves_dir).writeStream.foreachBatch(
            lambda bdf, batch_id: calls.append((batch_id, bdf.count()))
        )
    )
    assert calls == [(0, 10), (1, 10), (2, 10)]
    assert [p.batchId for p in progress] == [0, 1, 2]
    assert [p.numInputRows for p in progress] == [10, 10, 10]
    assert all("addBatch" in p.durationMs for p in progress)
    _require_batches(progress)


def test_one_wave_gives_one_entry_and_fails_the_multi_batch_check(spark):
    waves_dir, schema = _waves(spark, 1)
    progress = run_available_now(
        read_waves(spark, schema, waves_dir).writeStream.foreachBatch(lambda bdf, i: None)
    )
    assert len(progress) == 1
    with pytest.raises(AssertionError, match="got 1"):
        _require_batches(progress)


def test_shared_checkpoint_processes_only_the_new_wave(spark):
    src = scratch_dir("fdcs_test_landing_")
    ckpt = scratch_dir("fdcs_test_ckpt_")
    seen = []

    def run():
        stream = spark.readStream.schema("id bigint").parquet(src)
        return run_available_now(
            stream.writeStream.foreachBatch(
                lambda bdf, i: seen.append(sorted(r.id for r in bdf.collect()))
            ),
            checkpoint=ckpt,
        )

    spark.range(0, 5).coalesce(1).write.mode("append").parquet(src)
    first = run()
    spark.range(100, 103).coalesce(1).write.mode("append").parquet(src)
    second = run()
    assert seen == [[0, 1, 2, 3, 4], [100, 101, 102]]
    assert [p.numInputRows for p in first] == [5]
    assert [(p.batchId, p.numInputRows) for p in second] == [(1, 3)]


def test_foreach_batch_exception_propagates(spark):
    waves_dir, schema = _waves(spark, 2)

    def boom(bdf, batch_id):
        raise ValueError("sink step failed on purpose")

    with pytest.raises(StreamingQueryException, match="sink step failed on purpose"):
        run_available_now(read_waves(spark, schema, waves_dir).writeStream.foreachBatch(boom))
