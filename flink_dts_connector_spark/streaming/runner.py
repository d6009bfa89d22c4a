"""Bounded streaming execution helpers.

The reference's streaming tests run against a live DTS endpoint; ours run
Structured Streaming queries to completion over the driver's parquet tables
with ``trigger(availableNow=True)`` — real streaming machinery (watermarks,
state store, append semantics), bounded input, synchronous result.
"""

from __future__ import annotations

import atexit
import contextlib
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.listener import StreamingQueryProgress


def scratch_dir(prefix: str) -> str:
    """mkdtemp registered for removal at interpreter exit. Streaming queries
    stage wave/checkpoint directories on local disk; a multi-query sweep in
    one process (or repeated bench runs) would otherwise accumulate parquet
    copies of the changelog indefinitely. Queries whose results are
    materialized (localCheckpoint) may additionally rmtree eagerly."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


#: target state rows per streaming shuffle partition (the `rows=` sizing
#: rule below). 64k fixture rows ≈ tens of MB of state per store — small
#: enough for the in-heap provider, large enough that per-store fixed cost
#: (open + delta-file commit per micro-batch) is amortized. Parameterized
#: so a deployment can retune it without touching query code.
STATE_ROWS_PER_PARTITION = 64 * 1024

#: the same rule for state-HEAVY operators (stream-stream interval joins):
#: they buffer ~every input row on both sides AND pay a per-row probe, so
#: the optimum sits at a 4x smaller rows-per-store target than the cheap
#: agg rule. Measured r14 (sf0.1 interval join, 100k events, checksum off,
#: min-of-3 interleaved): 4 parts 2.64 s, 6 -> 2.44, 8 -> 2.27, 12 -> 3.14,
#: 16 -> 3.89, 32 (r13 setting) -> 4.63, 2 (the agg rule's answer, r13
#: measurement) -> 7.9 s. ceil(100k/16k) = 7 lands in the measured basin;
#: the count still grows linearly with input volume to the 8 x cores cap.
JOIN_STATE_ROWS_PER_PARTITION = 16 * 1024


def adaptive_stream_partitions(
    spark: SparkSession, rows: int, rows_per_partition: int = STATE_ROWS_PER_PARTITION
) -> int:
    """Scale-ADAPTIVE streaming shuffle/state partition count: derived from
    the input's row volume, not from the local core count (r13, guide §2.2
    "fewer, larger partitions" + the round rule that partitioning must
    derive from input size). ceil(rows / STATE_ROWS_PER_PARTITION), capped
    at 8 × cores — the same ceiling session.py gives AQE's
    initialPartitionNum for batch shuffles — and floored at 1.

    Why: a stateful op owns one state store per shuffle partition, and a
    foreachBatch body runs WITHOUT AQE (Spark disables adaptive execution
    under streaming), so the pinned count is exactly the task count of
    every exchange in the micro-batch. Measured on this box (3-batch
    availableNow lifecycle, one stateful agg over the sf0.1 documents):
    32 partitions → 3.6 s, 8 → 1.8 s, 4 → 1.3 s — the fixed per-store
    commit cost dominates whenever stores hold trivially small state. At
    scale the same rule grows the count linearly with data (100 TB of
    64-byte rows → the 8×cores cap) — the local win and the cluster
    sizing come from one formula.

    Applicability (measured r13): this rule is for stateful ops whose
    PER-ROW cost is trivial next to the per-store commit (windowed aggs,
    watermark trackers, sketch folds, foreachBatch roster merges — e.g.
    stream_hourly_windows 2.17 s → 1.38 s). Compute-dense stateful ops
    (stream-stream interval joins' per-row probes, fingerprint dedup)
    keep compute-based partitioning: the same rule measured
    stream_stream_interval_join 6.7 s → 7.9 s and stream_corpus_ingest
    3.8 s → 5.1 s, so those call sites deliberately stay un-hinted.

    r14: ``rows_per_partition`` parameterizes the density — interval joins
    pass JOIN_STATE_ROWS_PER_PARTITION (state-heavy ops want 4× more
    stores per row mass than cheap aggs; see that constant's measured
    basin), everything else keeps the agg default."""
    cores = spark.sparkContext.defaultParallelism
    need = max(1, -(-rows // rows_per_partition))
    return min(need, 8 * cores)


@contextlib.contextmanager
def pinned_shuffle_partitions(
    spark: SparkSession,
    n: int | None = None,
    rows: int | None = None,
    rows_per_partition: int = STATE_ROWS_PER_PARTITION,
):
    """Pin `spark.sql.shuffle.partitions` (default: core count) for the
    duration of a stateful streaming query definition+run, restoring after.

    ``rows=`` (r13): derive the count from the streaming input's row volume
    via `adaptive_stream_partitions` — pass the source frame's row count
    (an upper bound is fine; this is a partitioning heuristic, not a
    correctness input). Results are partition-count invariant: every
    oracle-gated streaming query aggregates partition-order-independent
    quantities, re-verified by the sweep after this change.

    Stateful operators own one state store PER shuffle partition PER stateful
    op side; a vanilla 200-partition session pays hundreds of store setups
    per micro-batch, and the count is frozen at the first checkpoint anyway
    — so pin it to the target parallelism before the first run.

    State-store PROVIDER stays Spark's default (HDFS-backed, in-heap):
    measured r9 on the interval join it beats RocksDB at sf0.1 (3.07 vs
    3.14 s) and sf1 (3.00 vs 4.28 s) while resident state is
    interval-bounded (SCALING.md §stream-stream join, STATESTORE_r09.json);
    RocksDB is the right switch only when per-partition state exceeds the
    executor heap."""
    if n is None and rows is not None:
        n = adaptive_stream_partitions(spark, rows, rows_per_partition)
    n_parts = str(n if n is not None else spark.sparkContext.defaultParallelism)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n_parts)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def write_waves(df: DataFrame, wave_col, waves_dir: str, n_waves: int = 3) -> None:
    """Stage a frame as ``n_waves`` arrival files in ONE Spark job (r13):
    the wave loop (`for i in range(n): df.where(...%n==i).coalesce(1)
    .write.append`) paid one full job per wave — n scans, n commits.
    `partitionBy` on the derived wave key writes every wave's file in one
    pass; hash partitioning sends each wave value to one task, so the
    directory holds exactly one data file per wave. Pair with
    `read_waves`, whose ``recursiveFileLookup`` reads the nested files
    WITHOUT partition-column inference — the streamed schema and the
    per-file wave membership are byte-identical to the loop's output."""
    (
        df.withColumn("_wave", wave_col.cast("int"))
        .repartition(n_waves, "_wave")
        .write.partitionBy("_wave")
        .mode("overwrite")
        .parquet(waves_dir)
    )


def read_waves(spark: SparkSession, schema, waves_dir: str) -> DataFrame:
    """File-per-trigger stream over a `write_waves` directory (one
    micro-batch per wave file, exactly like the old flat layout)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(waves_dir)
    )


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming read of one driver parquet table (schema from the batch
    reader, incl. the nanos→µs timestamp conversion in load_table)."""
    from flink_dts_connector_spark.session import load_table, table_path

    batch = load_table(spark, sf_dir, name)
    # file-stream sources require a directory: stream the sf dir filtered to
    # this table's file
    stream = (
        spark.readStream.schema(spark.read.parquet(table_path(sf_dir, name)).schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    # re-apply the nanos→µs conversions load_table made on the batch side
    from pyspark.sql import functions as F

    from flink_dts_connector_spark.session import _nanos_ts_columns

    for col in _nanos_ts_columns(table_path(sf_dir, name)):
        stream = stream.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    assert stream.schema == batch.schema
    return stream


def run_available_now(
    writer: DataStreamWriter, checkpoint: str | None = None
) -> list[StreamingQueryProgress]:
    """Run a bounded stream: start ``writer`` under
    ``trigger(availableNow=True)``, wait for it to drain everything
    available at start, and return its ``recentProgress`` — one
    `StreamingQueryProgress` per micro-batch (batch id, input rows,
    ``durationMs`` phases, ``stateOperators``), plus any no-data batch a
    stateful query runs to advance its watermark. Spark keeps the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100).

    The caller sets the sink, ``outputMode`` and ``partitionBy`` on the
    writer; this sets only the checkpoint and the trigger. ``checkpoint``
    defaults to a fresh `scratch_dir`; pass a shared one to resume a
    query across calls (each call then processes only what landed since
    the last). A failure inside the query (e.g. in a ``foreachBatch``
    function) propagates as the ``awaitTermination`` exception."""
    q = (
        writer.option("checkpointLocation", checkpoint or scratch_dir("fdcs_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.recentProgress


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
    rows: int | None = None,
    rows_per_partition: int = STATE_ROWS_PER_PARTITION,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; returns the sink contents as a batch DataFrame.

    ``rows=`` (r13): the source's row volume; when given, the stream runs
    under `adaptive_stream_partitions`-sized shuffle/state partitioning
    (see `pinned_shuffle_partitions`) instead of the session default.
    ``rows_per_partition=`` (r14): the density target — interval joins pass
    JOIN_STATE_ROWS_PER_PARTITION."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    with pinned_shuffle_partitions(sdf.sparkSession, rows=rows, rows_per_partition=rows_per_partition):
        run_available_now(
            sdf.writeStream.format("memory").queryName(name).outputMode(output_mode)
        )
    return sdf.sparkSession.table(name)
