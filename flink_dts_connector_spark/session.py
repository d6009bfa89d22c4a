"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the conf is
nevertheless written for a multi-executor cluster: AQE on (runtime coalesce +
skew-join splitting), shuffle partitions sized to cores, Arrow enabled for the
Pandas-UDF slow path, UTC session timezone so results hash-match the DuckDB
oracle (duckdb timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_driver_memory() -> str:
    """Half the box's physical memory, capped at 48g. The heap grows lazily
    toward ``-Xmx``, so a heap larger than the box gets the driver JVM killed
    by the kernel's OOM killer mid-run; the other half covers the JVM's
    off-heap memory and the Python driver and workers."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{min(48 << 10, phys_mb // 2)}m"


def get_spark(
    app_name: str = "flink-dts-connector-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = str(cpus) if str(cpus).isdigit() else "32"

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle sizing: ~1 partition per core locally. On a real cluster this
        # is overridden upward (AQE coalesces back down after seeing sizes).
        .config("spark.sql.shuffle.partitions", n_shuffle)
        # AQE: runtime re-planning — partition coalescing, skew-join splitting,
        # dynamic broadcast conversion. Essential at 100 TB where static
        # estimates are wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # SF-aware shuffle sizing WITHOUT per-SF logic (r12, closing the r11
        # sf1 finding that fixed shuffle.partitions=32 at 10x bytes cost the
        # trigram/bm25 index builds x1.2-1.6 over linear): every AQE shuffle
        # STARTS at 8x cores and coalesces down to advisoryPartitionSizeInBytes
        # (64 MB default). Small-SF plans coalesce back to ~cores partitions
        # (same effective plans as before); at sf1+ the exploded index-build
        # shuffles keep more partitions, bounding per-partition bytes — the
        # exact knob a real cluster scales with data, made automatic. This is
        # batch-only: Spark disables AQE under streaming plans, where
        # streaming/runner.py's pinned_shuffle_partitions stays in charge.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(int(n_shuffle) * 8),
        )
        # Arrow for every pandas_udf / applyInPandas / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Oracle comparison: duckdb timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] = driver-only JVM; give it the box's memory, not more.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Streaming checkpoint-file checksums (new in Spark 4.1, default on)
        # guard against silent corruption on remote object stores. On
        # local-disk checkpoints (rename-atomic, fsync-backed) they add no
        # integrity and their SHARED async checksum pool serializes dense
        # per-node state-store commits: r14 thread dump caught 30/32
        # executor threads parked in ChecksumCancellableFSDataOutputStream
        # .close -> awaitResult during every stateful micro-batch (interval
        # join batch commitTimeMs 87.7 s summed across 64 stores with
        # checksums vs 8.9 s without; wall 6.3 s -> 4.7 s at 32 state
        # partitions). Parameterized: object-store deployments re-enable
        # with SPARK_GRAFT_CKPT_CHECKSUM=true.
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            os.environ.get("SPARK_GRAFT_CKPT_CHECKSUM", "false"),
        )
        # Driver testdata stores some timestamps as TIMESTAMP(NANOS) parquet,
        # which Spark rejects by default; read as int64 nanos and convert in
        # load_table (ns → µs is the supported Spark precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver testdata timestamps carry no tz (isAdjustedToUTC=false); read
        # them as session-tz TIMESTAMP (UTC) instead of TIMESTAMP_NTZ so
        # time functions (unix_micros, window, …) and the UTC-naive DuckDB
        # oracle see identical values.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_TABLE_ROWS_CACHE: dict[str, int] = {}


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of one driver table from the parquet FOOTER (driver-side
    metadata read, no Spark job) — the input-volume hint behind the r13
    scale-adaptive streaming partition rule
    (`streaming.runner.adaptive_stream_partitions`). The fixture contract
    is one file per table; a directory-table deployment would swap this
    for the table format's manifest row count."""
    path = table_path(sf_dir, name)
    n = _TABLE_ROWS_CACHE.get(path)
    if n is None:
        import pyarrow.parquet as pq

        n = pq.ParquetFile(path).metadata.num_rows
        _TABLE_ROWS_CACHE[path] = n
    return n


_NANOS_COLS_CACHE: dict[str, tuple[str, ...]] = {}


def _nanos_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) (driver's events table).

    Footer-only metadata read, cached per path — negligible driver cost.
    """
    if path not in _NANOS_COLS_CACHE:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        schema = pq.read_schema(path)
        _NANOS_COLS_CACHE[path] = tuple(
            f.name for f in schema if pat.is_timestamp(f.type) and f.type.unit == "ns"
        )
    return _NANOS_COLS_CACHE[path]


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided parquet table (TESTDATA.md).

    TIMESTAMP(NANOS) columns arrive as int64 nanos (nanosAsLong conf) and are
    converted to Spark TIMESTAMP via integer µs division — matching DuckDB's
    ns→µs truncation, so oracle comparisons stay exact.
    """
    from pyspark.sql import functions as F

    # The driver may hand us a session it built itself; both confs below are
    # runtime-settable SQL confs and required for correctness (nanos parquet
    # readability, UTC-naive timestamp parity with the DuckDB oracle).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    for col in _nanos_ts_columns(path):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df
