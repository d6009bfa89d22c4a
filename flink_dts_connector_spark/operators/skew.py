"""Skew-mitigation helpers (SURVEY.md scale mandate: "skewed keys → salting
or AQE skew-join").

AQE's skew-join splitting (on by default in session.py) handles most skew at
runtime for sort-merge joins. Salting is the explicit fallback for the cases
AQE can't fix: skewed AGGREGATION keys (two-phase agg below) and skewed
joins whose build side must be replicated.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def row_salt(salt: int) -> Column:
    """Per-row salt in ``[0, salt)``: ``xxhash64`` of the row's
    ``monotonically_increasing_id()``. It depends on the row's position in
    its partition, not on its content, so it is reproducible for the same
    input partitioning and spreads rows that are equal in every column."""
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Join a skew-keyed big side with a small side too large to broadcast:
    big rows get a per-row-id salt (:func:`row_salt`); small rows replicate
    ``salt`` times; the join key becomes (key, salt) — hot keys spread
    across ``salt`` reducers, even when every row of a hot key is identical.

    The salt depends on the row's position in its partition, not on its
    content: reproducible for the same input partitioning (as in
    :func:`two_phase_agg`); salting by content would give identical rows
    one salt and put a hot key of them back on one reducer.

    Result is row-identical to ``big.join(small, on, how)`` (tested in
    tests/test_skew.py); cost is small-side replication ×salt.

    ``how`` is restricted to joins whose output is driven by the big side:
    for right/full outer joins each UNMATCHED small-side row would be
    emitted once per salt replica (matched rows are fine — exactly one
    replica carries each big row), so those modes raise.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
               "semi", "left_anti", "leftanti", "anti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: unmatched small-side rows "
            f"would duplicate ×salt under right/full outer joins (allowed: inner, "
            f"left, left_semi, left_anti)"
        )
    big_s = big.withColumn("_salt", row_salt(salt))
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = big_s.join(small_s, [on, "_salt"], how)
    return out.drop("_salt")


def two_phase_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, str]],
    salt: int = 16,
) -> DataFrame:
    """Skew-safe aggregation for ALGEBRAIC aggregates: phase 1 aggregates on
    (keys, salt) — hot keys split across ``salt`` reducers — phase 2
    re-aggregates the partials on keys alone.

    ``aggs``: name → (phase-1 aggregate expression, combiner), combiner one
    of 'sum' | 'min' | 'max' (count combines with 'sum'). The salt comes
    from a per-row id, not the keys — salting by key would put a hot key
    back on one reducer.
    """
    salted = df.withColumn("_salt", row_salt(salt))
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[expr.alias(f"_p_{name}") for name, (expr, _) in aggs.items()]
    )
    combine = {"sum": F.sum, "min": F.min, "max": F.max}
    combiners = []
    for name, (_, how) in aggs.items():
        if how not in combine:
            raise ValueError(f"non-algebraic combiner for two_phase_agg: {how}")
        combiners.append(combine[how](F.col(f"_p_{name}")).alias(name))
    return phase1.groupBy(*keys).agg(*combiners)


def bloom_hash_xx(key: Column, seed: int, m: int) -> Column:
    """Default position hash: JVM xxhash64 (fastest; not oracle-mirrorable)."""
    return F.pmod(F.xxhash64(key, F.lit(int(seed))), F.lit(m))


def bloom_hash_md5(key: Column, seed: int, m: int) -> Column:
    """Oracle-mirrorable position hash: DuckDB computes the identical
    ``md5_number_lower('bloom' || seed || ':' || key) % m`` — used by the
    FPR calibration sweep where the oracle must reproduce every bit."""
    from flink_dts_connector_spark.operators.dedup import md5_number_lower_mod

    return md5_number_lower_mod(
        F.concat(F.lit(f"bloom{int(seed)}:"), key.cast("string")), m
    )


def bloom_bitmap(
    keys: DataFrame,
    key_col: str,
    m_bits_log2: int = 16,
    seeds: Sequence[int] = (11, 23, 47),
    hash_fn=bloom_hash_xx,
) -> DataFrame:
    """Build a distributed Bloom filter over ``keys[key_col]`` as a tiny
    word-indexed bitmap table: ``(word BIGINT, bits BIGINT)`` where bit
    ``p & 63`` of word ``p >> 6`` is set for every hash position
    ``p = xxhash64(key, seed_j) mod 2^m_bits_log2``.

    The whole build is declarative: explode the k seeds per key, hash
    JVM-side, group positions by word with ``bit_or`` — a map-side-combined
    agg over the (small) key set, never the big side. The result is at most
    ``2^(m_bits_log2-6)`` rows (1024 for the default 64 Kbit filter) — MBs
    even for 2^30-bit filters at 10^9 dim keys, where the dim side itself
    is far too big for a broadcast-hash-join relation. That asymmetry is
    the point: semi-join reduction for joins whose build side fits in a
    bitmap but not in memory as a hash relation.
    """
    m = 1 << m_bits_log2
    pos = F.explode(
        F.array(*[hash_fn(F.col(key_col), s, m) for s in seeds])
    ).alias("pos")
    return (
        keys.select(pos)
        .select(F.shiftright("pos", 6).alias("word"), (F.col("pos") % 64).alias("bit"))
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")).alias("bits"))
    )


def bloom_prefilter(
    big: DataFrame,
    keys: DataFrame,
    key_col: str,
    big_key_col: str | None = None,
    m_bits_log2: int = 16,
    seeds: Sequence[int] = (11, 23, 47),
    hash_fn=bloom_hash_xx,
) -> DataFrame:
    """Drop ``big`` rows whose ``big_key_col`` cannot appear in
    ``keys[key_col]``, using the :func:`bloom_bitmap` filter — k broadcast
    equi-joins against the bitmap table (one per seed), each a
    word-indexed lookup plus a bit test, so the big side is never
    shuffled, exploded, or row-multiplied.

    No false negatives (every inserted key sets exactly the bits tested),
    so ``bloom_prefilter(big, ...).join(keys, ...)`` is row-identical to
    the plain join; false positives only cost the later exact join some
    extra probe rows. This is the runtime-filter / semi-join-reduction
    pattern (Spark's own runtime bloom pushdown, Trino's dynamic filters)
    made explicit so the plan is pinned rather than threshold-dependent.
    """
    bk = big_key_col or key_col
    m = 1 << m_bits_log2
    bitmap = bloom_bitmap(keys, key_col, m_bits_log2, seeds, hash_fn=hash_fn)
    out = big
    for j, s in enumerate(seeds):
        p = hash_fn(F.col(bk), s, m)
        out = out.withColumn(f"_bw{j}", F.shiftright(p, 6)).withColumn(f"_bb{j}", p % 64)
        bm = F.broadcast(
            bitmap.select(F.col("word").alias(f"_bw{j}"), F.col("bits").alias(f"_bs{j}"))
        )
        out = out.join(bm, f"_bw{j}", "inner").where(
            F.expr(f"shiftright(_bs{j}, CAST(_bb{j} AS INT)) & 1 = 1")
        )
    return out.drop(*[c for j in range(len(seeds)) for c in (f"_bw{j}", f"_bb{j}", f"_bs{j}")])


def range_boundaries(
    df: DataFrame,
    key: Column,
    n_splits: int = 8,
    n_buckets: int = 1024,
) -> DataFrame:
    """Equi-depth range-partition planner: the ``n_splits - 1`` split
    boundaries a `repartitionByRange` / range-bucketed write would want,
    computed WITHOUT a global sort (Spark's own RangePartitioner samples
    non-deterministically; this is its deterministic, engine-mirrorable
    twin).

    Method: one min/max/count pass, then a fixed ``n_buckets``-bucket
    histogram of the integer key (one hash agg, map-side combine), then
    the cumulative histogram — a window over the ≤``n_buckets``-row frame,
    never the data — is cut at each target rank i·N/n_splits. Boundary
    values are bucket upper edges, so every partition's true size deviates
    from N/n_splits by at most one bucket's mass (report includes both).

    Integer arithmetic throughout: bucket(v) = (v - mn) * B div (mx-mn+1);
    edge(b) = mn + (b+1) * (mx-mn+1) div B.

    Returns (split_id, boundary_key, cum_count, target_count).
    """
    if n_splits < 2:
        raise ValueError(f"n_splits must be >= 2, got {n_splits}")
    k = df.select(key.cast("bigint").alias("_k"))
    stats = k.agg(
        F.min("_k").alias("mn"),
        F.max("_k").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    bucketed = (
        k.crossJoin(F.broadcast(stats))
        .select(
            F.expr(f"(_k - mn) * {n_buckets} div (mx - mn + 1)").alias("b"),
            "mn",
            "mx",
            "n",
        )
        .groupBy("b", "mn", "mx", "n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = bucketed.withColumn("cum", F.sum("c").over(w))
    splits = spark_range_frame(df, n_splits)
    hit = (
        cum.join(
            F.broadcast(splits),
            F.col("cum") >= F.expr(f"split_id * n div {n_splits}"),
        )
        .groupBy("split_id")
        .agg(
            F.min_by(F.struct("b", "cum", "mn", "mx", "n"), F.col("b")).alias("s"),
        )
        .select(
            F.col("split_id").cast("bigint").alias("split_id"),
            F.expr(f"s.mn + (s.b + 1) * (s.mx - s.mn + 1) div {n_buckets}").alias(
                "boundary_key"
            ),
            F.col("s.cum").alias("cum_count"),
            F.expr(f"split_id * s.n div {n_splits}").cast("bigint").alias("target_count"),
        )
    )
    return hit


def spark_range_frame(df: DataFrame, n_splits: int) -> DataFrame:
    """1..n_splits-1 as a literal one-column frame on df's session."""
    spark = df.sparkSession
    return spark.range(1, n_splits).select(F.col("id").alias("split_id"))
