"""Changelog semantics kit — Spark's answer to Flink retraction streams.

The reference emits a retraction changelog (I/UB/UA/D,
`DTSSubscribeTableSourceFactory.java:50-57`) and relies on the host planner
to propagate retractions through aggregates
(`DtsTableISelectTCaseTest.java:91` consumes a retract stream). Spark has no
RowKind, so downstream correctness is recovered with two explicit patterns
(SURVEY.md §4.4):

  * signed aggregation — additive measures weighted +1 (I/UA) / −1 (UB/D)
    aggregate to the same result the retract stream would give;
  * upsert materialization — reduce the changelog to current state by
    keeping each key's latest image and dropping deletes.

Both are pure DataFrame ops: one shuffle on the grouping/pk key, AQE-safe,
streaming-compatible (the same expressions run under foreachBatch).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from flink_dts_connector_spark.sqltext import ident, sql

#: +1 for rows that add to state, −1 for retractions.
SIGN = {"I": 1, "UA": 1, "UB": -1, "D": -1}


def _sign_sql(op: str) -> str:
    o = sql(op)
    return f"CASE WHEN {o} IN ('I', 'UA') THEN 1 WHEN {o} IN ('UB', 'D') THEN -1 ELSE 0 END"


def sign_col(op: str = "op") -> Column:
    """+1 (I/UA), −1 (UB/D), 0 otherwise — one `F.expr` parse."""
    return F.expr(_sign_sql(op))


def signed_sum(measure: Column, op: str = "op") -> Column:
    """SUM(measure) over a changelog — retraction-correct. ``measure`` stays
    a Column (any expression), so it is composed, not rendered to SQL."""
    return F.sum(measure * sign_col(op))


def signed_count(op: str = "op") -> Column:
    """COUNT(*) over a changelog — retraction-correct."""
    return F.expr(f"sum({_sign_sql(op)})")


def materialize_upsert(
    changelog: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("ts", "record_id"),
) -> DataFrame:
    """Reduce a changelog to current state: latest image per key, deletes
    removed. UB rows are ignored (they never carry final state).

    Implemented as ``max_by(payload, order)`` — a hash aggregate with
    map-side partial combine (each partition keeps one candidate per key
    before the shuffle), instead of a window sort which shuffles every
    changelog row and then sorts per key. ``order_cols`` must be a total
    order per key (commit ts + monotonic record id, which the wire format
    guarantees — `DtsRecord.java:13`). Column names are taken literally
    and the expressions are built as SQL text (`sqltext.py`).
    """
    df = changelog.where("op <> 'UB'")
    payload_cols = [c for c in df.columns if c not in key_cols]
    keys = [ident(k) for k in key_cols]
    payload = ", ".join(ident(c) for c in payload_cols)
    order = ", ".join(ident(c) for c in order_cols)
    latest = df.groupBy(*map(F.col, keys)).agg(
        F.expr(f"max_by(struct({payload}), struct({order})) AS _latest")
    )
    out = latest.selectExpr(
        *keys, *[f"_latest.{ident(c)} AS {ident(c)}" for c in payload_cols]
    )
    return out.where("op <> 'D'").drop("op")


def txn_manifest(
    env: DataFrame,
    txn_col: str = "transaction_id",
    seq_col: str = "trans_seq",
    ts_col: str = "ts",
) -> DataFrame:
    """Group an interleaved CDC stream back into transactionally-consistent
    BEGIN..COMMIT batches: one manifest row per transaction with its row
    count, the set of tables it touched, its statement operations in
    ``trans_seq`` order, and begin/commit timestamps — the envelope carries
    `transaction_id` + `trans_seq` for exactly this
    (`DtsRecord.java:15,84-90`); a transactionally-consistent sink applies
    all of a txn's rows or none.

    ``seq_contiguous`` pins atomicity: true iff the observed sequence
    numbers are exactly 0..n-1 (no torn/partial transaction made it into
    the batch).

    Shape: ONE hash aggregate on the transaction id with map-side partial
    combine — transactions are small (statement counts), so the collected
    arrays stay bounded; nothing sorts the stream globally, and interleaved
    arrival order is irrelevant (the sort is per-txn over n_stmts
    elements). Heartbeats/DDL (null transaction_id) are excluded."""
    # collect_set, not list: at-least-once redelivery repeats a (seq, op)
    # pair verbatim — the step sequence describes the TRANSACTION, not the
    # delivery log (n_rows keeps the raw delivery count for observability)
    steps = F.array_sort(
        F.collect_set(F.struct(F.col(seq_col).alias("seq"), F.col("operation").alias("op")))
    )
    return (
        env.where(F.col(txn_col).isNotNull())
        .groupBy(F.col(txn_col).alias("transaction_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.array_sort(F.collect_set(F.concat_ws(".", "db", "tbl"))).alias("_tbls"),
            steps.alias("_steps"),
            F.min(ts_col).alias("begin_ts"),
            F.max(ts_col).alias("commit_ts"),
            F.min(seq_col).alias("_min_seq"),
            F.max(seq_col).alias("_max_seq"),
            F.count_distinct(F.col(seq_col)).alias("_n_seq"),
        )
        .select(
            "transaction_id",
            "n_rows",
            F.size("_tbls").alias("n_tables"),
            F.array_join("_tbls", ",").alias("tables"),
            F.array_join(F.transform("_steps", lambda s: s["op"]), ",").alias("ops"),
            "begin_ts",
            "commit_ts",
            # contiguity over DISTINCT seqs: at-least-once redelivery of a
            # statement must not mark a fully-delivered txn torn (row-count
            # forms break on duplicates: {0,1,1,2} has n_rows=4, max=2)
            (
                (F.col("_min_seq") == 0)
                & (F.col("_max_seq") == F.col("_n_seq") - 1)
            ).alias("seq_contiguous"),
        )
    )


def apply_complete_txns(
    env: DataFrame,
    txn_col: str = "transaction_id",
    seq_col: str = "trans_seq",
    ts_col: str = "ts",
) -> DataFrame:
    """Transactionally-consistent APPLY filter: keep only rows belonging to
    COMPLETE transactions (contiguous trans_seq 0..n−1 per `txn_manifest`)
    — a torn/partial transaction (lost record, truncated feed) is skipped
    WHOLE, never half-applied. This is the all-or-none guarantee a
    consistent sink needs before MERGE-ing a CDC batch.

    At-least-once delivery: a redelivered statement (identical payload,
    possibly different Kafka metadata) is applied ONCE — rows dedupe on
    (txn, seq) after the completeness filter, which is safe because the
    wire payload for a given (transaction_id, trans_seq) is immutable.

    Shape: the manifest aggregate (one map-side-combined shuffle on the
    txn id) reduces to a complete-txn id list that is DELTA-sized per
    batch — broadcast semi-join back onto the stream, which therefore
    never reshuffles; the dedupe rides the same (txn, seq) hash agg."""
    complete = (
        txn_manifest(env, txn_col, seq_col, ts_col)
        .where(F.col("seq_contiguous"))
        .select("transaction_id")
    )
    return env.join(
        F.broadcast(complete),
        env[txn_col] == complete["transaction_id"],
        "left_semi",
    ).dropDuplicates([txn_col, seq_col])


def materialize_scd2(
    changelog: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("ts", "record_id"),
    ts_col: str = "ts",
) -> DataFrame:
    """Changelog → type-2 slowly-changing-dimension history: one row per
    VERSION of each key with ``valid_from``/``valid_to``/``is_current``.

    Versions are the state-carrying rows (I/UA); each version's validity
    ends when the key's NEXT event (new version or delete) commits — so a
    deleted key's last version is closed, and only live keys have an open
    (``valid_to`` null, ``is_current`` true) row. One window over the pk
    (same single-shuffle envelope as every ranking op); UB rows never
    carry final state and are dropped first."""
    events = changelog.where(F.col("op").isin("I", "UA", "D"))
    w = W.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    with_end = events.withColumn("_next_ts", F.lead(F.col(ts_col)).over(w))
    versions = with_end.where(F.col("op") != "D")
    return (
        versions.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.col("_next_ts"))
        .withColumn("is_current", F.col("_next_ts").isNull())
        .drop("_next_ts", "op")
    )
