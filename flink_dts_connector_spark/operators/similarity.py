"""Similarity search over embedding columns (SURVEY.md §2.7 EXT surface).

Two paths:
  * brute-force cosine top-k — the correctness baseline: broadcast the query
    set, score every (query, item) pair with JVM-side array expressions;
  * LSH-bucketed ANN — the scale path: sign-bit bucketing cuts candidates to
    one bucket's worth per query; same scorer on the survivors.

Determinism contract: embeddings are float32; float dot products are
order-sensitive, so the scorer quantizes each component to integer
micro-units (round(x·10⁶)) and accumulates in exact int64 — dot products
and norms become order-insensitive integers, with ONE final double
sqrt/divide that every engine rounds identically. Max |component| ~O(1) →
per-term ≤1e12, 64 dims → ≤6.4e13 ≪ 2^63 (and < 2^53, so the final
int→double conversions are exact).

Scale notes: the query side is broadcast (top-k against a fixed query set);
the item side streams — no shuffle of the big table. For all-pairs near-dup
the blocking key (label / LSH bucket) bounds the quadratic term to within-
bucket pairs; AQE's skew-join splitting handles hot buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

#: column name → SQL text for `F.expr` composition. r14 (guide §7.3 —
#: driver plan-build cost): a higher-order function built through the
#: Python lambda API costs ~12–17 ms of py4j round trips PER HOF (lambda
#: variables, body and wrapper are each separate JVM calls), profiled at
#: 0.24–0.36 s per ANN-query build across the `quantized`/`dot_q`/
#: `norm_sq_q` call sites. Rendering the operand once and parsing the whole
#: HOF from one SQL string builds the IDENTICAL expression tree at ~2 round
#: trips instead of ~25.
from flink_dts_connector_spark.sqltext import sql as _sql

QUANT_SCALE = 1_000_000


def quantized(emb: str, scale: int = QUANT_SCALE) -> Column:
    """array<float> → array<long> micro-units (exact, engine-identical)."""
    return F.expr(
        f"transform({_sql(emb)}, x -> CAST(round(CAST(x AS DOUBLE) * {int(scale)}) AS BIGINT))"
    )


def dot_q(a: str, b: str) -> Column:
    """Exact int64 dot product of two quantized vectors."""
    return F.expr(
        f"aggregate(zip_with({_sql(a)}, {_sql(b)}, (x, y) -> x * y),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def norm_sq_q(a: str) -> Column:
    return dot_q(a, a)


def cosine_q(dot: Column, n1: Column, n2: Column) -> Column:
    """cosine from exact integer parts; single deterministic double step."""
    return dot.cast("double") / F.sqrt(n1.cast("double") * n2.cast("double"))


def _spread_by(df: DataFrame, key: str) -> DataFrame:
    """Single-row-group guard (r13 — the same guard as text's `add_ngrams`
    and dedup's `_shingled`): hash-repartition a compact projection to the
    session's parallelism so the per-row scoring/quantization work
    downstream does not serialize onto the fixture scan's single task.
    The shuffle moves each (id, embedding) row once, pre-explode; at real
    scale a well-split input makes this one cheap extra exchange next to
    the scoring pass it parallelizes, and downstream per-id operations
    reuse the hash partitioning."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)


def brute_force_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` (small, broadcast) joins every item — one pass over the big
    side, partial top-k per partition via the window after a shuffle on
    query_id (bounded by |queries|·|items| scores, the unavoidable
    brute-force cost; the ANN path below is the scale answer)."""
    q = queries.select(
        F.col(query_id_col),
        quantized(emb_col).alias("_qe"),
    ).withColumn("_qn", norm_sq_q("_qe"))
    it = _spread_by(items.select(F.col(id_col), F.col(emb_col)), id_col).select(
        F.col(id_col),
        quantized(emb_col).alias("_ie"),
    ).withColumn("_in", norm_sq_q("_ie"))
    scored = (
        it.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine_q(dot_q("_qe", "_ie"), F.col("_qn"), F.col("_in")).alias(
                "score"
            ),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def signbit_bucket(emb: Column | str, dims: tuple[int, ...] = (0, 7, 17, 29, 41, 53)) -> Column:
    """Axis-aligned sign-bit LSH bucket: bit i = sign(embedding[dims[i]]).

    Deterministic, engine-independent, and cheap (no projection matrix to
    ship). For mean-centered embeddings each bit splits ~half the space, so
    b bits cut candidate volume ~2^b; recall for near-neighbors is tested
    against the brute-force baseline in tests/test_similarity.py."""
    emb = F.col(emb) if isinstance(emb, str) else emb
    bits = [
        F.when(F.element_at(emb, d + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, d in enumerate(dims)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's LSH bucket, then the
    exact quantized scorer. Equi-join on the bucket replaces the cross
    join — this is the 100 TB path (join key bounds the blow-up)."""
    q = (
        queries.select(
            F.col(query_id_col),
            quantized(emb_col).alias("_qe"),
            signbit_bucket(emb_col).alias("_bucket"),
        )
        .withColumn("_qn", norm_sq_q("_qe"))
    )
    it = (
        _spread_by(items.select(F.col(id_col), F.col(emb_col)), id_col)
        .select(
            F.col(id_col),
            quantized(emb_col).alias("_ie"),
            signbit_bucket(emb_col).alias("_bucket"),
        )
        .withColumn("_in", norm_sq_q("_ie"))
    )
    scored = (
        it.join(F.broadcast(q), "_bucket")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine_q(dot_q("_qe", "_ie"), F.col("_qn"), F.col("_in")).alias(
                "score"
            ),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def lsh_multiprobe_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    n_bits: int = 6,
) -> DataFrame:
    """Multi-probe sign-LSH ANN top-k: each query probes its own bucket AND
    every Hamming-distance-1 neighbor bucket (1 + n_bits = 7 probes at 6
    bits) — the standard multi-probe trick that recovers near-boundary
    neighbors single-probe LSH misses (a vector one sign-flip away lands in
    an adjacent bucket).

    Scale shape is unchanged from `lsh_topk`: the probe expansion happens on
    the SMALL broadcast query side (×7 rows via explode), the item side still
    streams through one equi-join on its single bucket. An item belongs to
    exactly one bucket, so a (query, item) pair is produced at most once —
    no dedup pass. Candidate volume is ~7·|bucket| per query, still ~2^b/7×
    smaller than brute force."""
    q = (
        queries.select(
            F.col(query_id_col),
            quantized(emb_col).alias("_qe"),
            signbit_bucket(emb_col).alias("_qb"),
        )
        .withColumn("_qn", norm_sq_q("_qe"))
        .withColumn(
            "_bucket",
            F.explode(
                F.array(
                    F.col("_qb"),
                    *[F.col("_qb").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
                )
            ),
        )
    )
    it = (
        _spread_by(items.select(F.col(id_col), F.col(emb_col)), id_col)
        .select(
            F.col(id_col),
            quantized(emb_col).alias("_ie"),
            signbit_bucket(emb_col).alias("_bucket"),
        )
        .withColumn("_in", norm_sq_q("_ie"))
    )
    scored = (
        it.join(F.broadcast(q), "_bucket")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine_q(dot_q("_qe", "_ie"), F.col("_qn"), F.col("_in")).alias(
                "score"
            ),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def cosine_pairs(
    items: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    chunk_target: int = 256,
) -> DataFrame:
    """All-pairs near-duplicate detection within blocks: pairs (a < b) in
    the same ``block_col`` whose quantized cosine ≥ ``threshold``.
    Output is bit-identical to the naive within-block pair join
    (pytest-pinned: tests/test_ext_ops.py::test_cosine_pairs_tiled_exact).

    r13 rewrite — the r12 verdict measured the naive pair join ×73 wall on
    ×25 data (fixed 10-label vocabulary → blocks grow linearly → pair work
    quadratically, each pair paying an interpreted 64-element HOF dot).
    This version keeps the exact same OUTPUT but restructures the work:

    1. **SF-scaled sub-chunking** (the verdict's option b): each block is
       split into ``ceil(|block|/chunk_target)`` locality chunks by
       nearest-seed assignment (seeds = the k lowest-id members, exact
       int64 L2 argmin with (d2, seed) tie-break — the `kmeans_int` seeding
       idiom, no iteration). Chunk count scales WITH the block, so the
       per-task unit is O(chunk_target²) forever — no task grows with the
       corpus.
    2. **Provably-complete angular tile prune**: per chunk, an exact
       integer centroid-sum S and angular radius r = max member angle to S.
       Geodesic angle on the unit sphere is a metric, so for x∈C₁, y∈C₂:
       θ(x,y) ≥ θ(c₁,c₂) − r₁ − r₂. A chunk pair is skipped ONLY when
       θ(c₁,c₂) − r₁ − r₂ > arccos(t) + 1e-6 — every skipped pair has
       cos < t strictly (the 1e-6 angle slack dwarfs double acos error, so
       the bound stays conservative; zero-norm centroids are never pruned).
       On clusterable corpora (the realistic near-dup case) this removes
       most chunk pairs; on isotropic fixtures it prunes nothing and the
       cost falls to stage 3. (L2AP/APSS prefix filtering — the verdict's
       option a — provably cannot prune here: the fixture vectors are DENSE
       isotropic unit vectors, measured mean per-vector suffix-norm prefix
       27/64 dims under self-order and worse under the global order the
       All-Pairs indexing condition needs, so every pair shares an indexed
       dim and candidates ≥ all pairs ×64 row blow-up.)
    3. **Exact tile GEMM verify**: surviving chunk pairs are scored by an
       Arrow-batched `applyInPandas` matrix multiply. Every quantized
       component is ≤ ~1e6, so each product ≤ 1e12 and every partial sum
       ≤ 64·1e12 < 2⁵³ — float64 BLAS dgemm is therefore EXACT (all
       intermediates are exactly-representable integers; FMA/blocked
       summation cannot round), and the final score is the identical IEEE
       expression `double(dot)/sqrt(double(na)·double(nb))` the column
       scorer uses. Work per tile ≤ chunk_target² · d FLOPs at BLAS rate;
       memory per task ≤ 2·chunk_target vectors.

    Scale shape: pair enumeration is a distributed tiled GEMM — the shape
    exact dense similarity joins take at 100 TB — with replication factor
    √(|block|/chunk_target) per row (the standard triangle-join optimum)
    and every shuffle keyed on (block, chunk). Assignment is |block|·k
    integer ops; at extreme block sizes it becomes a GEMM itself via
    two-level seeding (documented, not needed at current SFs)."""
    import math

    import pandas as pd

    th = float(threshold)
    q = items.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).cast("bigint").alias("_id"),
        quantized(emb_col).alias("_qe"),
    )

    # r13 optimization: when EVERY block already fits in one chunk, the
    # chunking/prune machinery below is a ~8-shuffle no-op (one chunk per
    # block, one unpruned (0,0) tile per block) — the whole pair set comes
    # out of the same `_tile_pairs` GEMM either way. Detect that with one
    # tiny aggregate over (block, count) and go straight to one GEMM tile
    # per block: bit-identical output (the b-empty branch of `_tile_pairs`
    # is exactly what the full path runs on a one-chunk block), one
    # shuffle instead of ~8. The check is data-derived, so the full
    # machinery still engages the moment any block outgrows a chunk (the
    # corpus-growth case the r12 verdict flagged); small inputs — delta
    # micro-batches of the streaming dedup twins, small-SF sweeps — skip
    # the fixed overhead. `applyInPandas` requires a deterministic plan,
    # which q is (scan + projection).
    max_block = (
        q.groupBy("_blk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n").alias("_mx"))
        .first()["_mx"]
    )
    if max_block is not None and max_block <= chunk_target:
        qs = q.withColumn("_side", F.lit(0))
        return qs.groupBy("_blk").applyInPandas(
            _tile_pairs_pd(th), "a_id bigint, b_id bigint, score double"
        )

    wb = W.partitionBy("_blk")
    wo = W.partitionBy("_blk").orderBy("_id")
    base = (
        q.withColumn("_cnt", F.count(F.lit(1)).over(wb))
        .withColumn("_rn", F.row_number().over(wo))
        .withColumn(
            "_k",
            F.greatest(
                F.lit(1), F.ceil(F.col("_cnt") / F.lit(chunk_target)).cast("int")
            ),
        )
    )
    seeds = base.where(F.col("_rn") <= F.col("_k")).select(
        F.col("_blk").alias("_sblk"),
        (F.col("_rn") - 1).alias("_seed"),
        F.col("_qe").alias("_se"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("_qe"), F.col("_se"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    assigned = (
        base.join(seeds, base["_blk"] == seeds["_sblk"])
        .select("_blk", "_id", "_qe", "_seed", d2.alias("_d2"))
        .groupBy("_blk", "_id")
        .agg(
            F.min_by("_seed", F.struct(F.col("_d2"), F.col("_seed"))).alias("_chunk"),
            F.first("_qe").alias("_qe"),
        )
    )
    # Chunk stats: exact integer centroid sum (as double — prune math only)
    # and angular radius. A degenerate (zero-norm) centroid or member keeps
    # radius π so its tiles are never pruned.
    sums = (
        assigned.select("_blk", "_chunk", F.posexplode("_qe").alias("_pos", "_x"))
        .groupBy("_blk", "_chunk", "_pos")
        .agg(F.sum("_x").alias("_sx"))
        .groupBy("_blk", "_chunk")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_sx"))),
                lambda s: s["_sx"].cast("double"),
            ).alias("_S")
        )
    )
    dot_d = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    clamp = lambda c: F.least(F.lit(1.0), F.greatest(F.lit(-1.0), c))
    memb = assigned.join(sums, ["_blk", "_chunk"]).select(
        "_blk",
        "_chunk",
        dot_d(F.col("_qe"), F.col("_S")).alias("_xs"),
        dot_d(F.col("_qe"), F.col("_qe")).alias("_nx"),
        dot_d(F.col("_S"), F.col("_S")).alias("_ns"),
    )
    ang = F.when(
        (F.col("_nx") <= 0) | (F.col("_ns") <= 0), F.lit(math.pi)
    ).otherwise(F.acos(clamp(F.col("_xs") / F.sqrt(F.col("_nx") * F.col("_ns")))))
    stats = (
        memb.groupBy("_blk", "_chunk")
        .agg(F.max(ang).alias("_r"), F.first("_ns").alias("_ns"))
        .join(sums, ["_blk", "_chunk"])
    )
    sa = stats.select(
        F.col("_blk").alias("_tblk"),
        F.col("_chunk").alias("_ci"),
        F.col("_S").alias("_Si"),
        F.col("_ns").alias("_nsi"),
        F.col("_r").alias("_ri"),
    )
    sb = stats.select(
        F.col("_blk").alias("_tblk"),
        F.col("_chunk").alias("_cj"),
        F.col("_S").alias("_Sj"),
        F.col("_ns").alias("_nsj"),
        F.col("_r").alias("_rj"),
    )
    theta = F.when(
        (F.col("_nsi") <= 0) | (F.col("_nsj") <= 0), F.lit(0.0)
    ).otherwise(
        F.acos(
            clamp(
                dot_d(F.col("_Si"), F.col("_Sj"))
                / F.sqrt(F.col("_nsi") * F.col("_nsj"))
            )
        )
    )
    tiles = (
        sa.join(sb, "_tblk")
        .where(F.col("_ci") <= F.col("_cj"))
        .where(
            (F.col("_ci") == F.col("_cj"))
            | (
                theta - F.col("_ri") - F.col("_rj")
                <= F.lit(math.acos(max(-1.0, min(1.0, th))) + 1e-6)
            )
        )
        .select("_tblk", "_ci", "_cj")
    )
    m = assigned.select("_blk", "_chunk", "_id", "_qe")
    rows_a = m.join(
        tiles, (m["_blk"] == tiles["_tblk"]) & (m["_chunk"] == tiles["_ci"])
    ).select("_blk", "_ci", "_cj", "_id", "_qe", F.lit(0).alias("_side"))
    rows_b = m.join(
        tiles,
        (m["_blk"] == tiles["_tblk"])
        & (m["_chunk"] == tiles["_cj"])
        & (tiles["_ci"] != tiles["_cj"]),
    ).select("_blk", "_ci", "_cj", "_id", "_qe", F.lit(1).alias("_side"))

    return (
        rows_a.unionByName(rows_b)
        .groupBy("_blk", "_ci", "_cj")
        .applyInPandas(_tile_pairs_pd(th), "a_id bigint, b_id bigint, score double")
    )


def _tile_pairs_pd(th: float):
    """The exact tile-GEMM scorer shared by `cosine_pairs`' full tiled
    path and its single-chunk-per-block fast path (same function → the
    two paths are bit-identical by construction)."""
    import pandas as pd

    def _tile_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        a = pdf[pdf["_side"] == 0]
        A = np.array([np.asarray(v) for v in a["_qe"]], dtype=np.float64)
        ida = a["_id"].to_numpy()
        na = (A * A).sum(axis=1)
        b = pdf[pdf["_side"] == 1]
        if len(b):
            B = np.array([np.asarray(v) for v in b["_qe"]], dtype=np.float64)
            idb = b["_id"].to_numpy()
            nb = (B * B).sum(axis=1)
            sc = (A @ B.T) / np.sqrt(na[:, None] * nb[None, :])
            ii, jj = np.nonzero(sc >= th)
            aa, bb = ida[ii], idb[jj]
            keep = aa != bb
            aa, bb, s = aa[keep], bb[keep], sc[ii, jj][keep]
            return pd.DataFrame(
                {
                    "a_id": np.minimum(aa, bb),
                    "b_id": np.maximum(aa, bb),
                    "score": s,
                }
            )
        sc = (A @ A.T) / np.sqrt(na[:, None] * na[None, :])
        ii, jj = np.nonzero(sc >= th)
        keep = ida[ii] < ida[jj]
        return pd.DataFrame(
            {"a_id": ida[ii][keep], "b_id": ida[jj][keep], "score": sc[ii, jj][keep]}
        )

    return _tile_pairs


def cosine_pairs_delta(
    new: DataFrame,
    old: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Incremental-maintenance twin of `cosine_pairs`: the pairs a DELTA of
    new items adds to an existing corpus — (new × old) cross pairs plus
    (new × new) within-delta pairs, each normalized to (a_id < b_id) so
    the union over all deltas enumerates every corpus pair EXACTLY once
    (``old`` must exclude ``new``). Per-batch work is |new| × |affected
    block members|, never |corpus|² — the delta bound that makes streaming
    dedup maintenance linear in arrivals.

    r14 negative result (measured, kept out): rewriting the cross leg as
    chunked GEMM tiles (`_tile_pairs_pd` with the old side hash-chunked
    per block, new replicated per chunk) was built, pinned bit-equal, and
    A/B'd interleaved — it LOST: min-of-3 noop 0.88 → 1.12 s at fixture
    mass, 1.65 → 2.40 s at ×10, parity only at ×30. The premise was
    wrong: `zip_with`/`aggregate` dots are whole-stage-codegen'd on Spark
    4 (not interpreted), so the broadcast-join column path already scores
    pairs at JVM rate with zero extra shuffles, while the GEMM route pays
    two joins + a grouped-Arrow boundary per batch. Same conclusion as
    r13's nb_confusion single-tokenize rewrite: don't trade a shuffle-free
    codegen pipeline for a Python-boundary stage at these masses."""
    n = new.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("n_id"),
        quantized(emb_col).alias("_ne"),
    ).withColumn("_nn", norm_sq_q("_ne"))
    o = old.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("o_id"),
        quantized(emb_col).alias("_oe"),
    ).withColumn("_on", norm_sq_q("_oe"))
    score = cosine_q(dot_q("_ne", "_oe"), F.col("_nn"), F.col("_on"))
    # Defensive n_id != o_id: the documented contract is "old excludes new",
    # but a violated contract must not silently produce a self-pair
    # (least/greatest would yield a_id == b_id at score 1, whose loser rule
    # marks the vector as its own duplicate and corrupts dedup counts).
    cross = (
        n.join(o, (n["_blk"] == o["_blk"]) & (F.col("n_id") != F.col("o_id")))
        .select(
            F.least("n_id", "o_id").alias("a_id"),
            F.greatest("n_id", "o_id").alias("b_id"),
            score.alias("score"),
        )
        .where(F.col("score") >= threshold)
    )
    within = cosine_pairs(new, block_col, threshold, id_col=id_col, emb_col=emb_col)
    return cross.unionByName(within)


def pq_codebooks(
    items: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Deterministic product-quantization codebooks: the ``n_codes``
    lowest-id vectors seed every subspace's codeword set (no iterative
    training — reproducible across engines, like the IVF seed quantizer).
    Returns one row per (sub, code) with the codeword's quantized
    subvector. Dim d of subspace m is full-dim m·(D/n_sub)+d."""
    w = W.orderBy(id_col)
    seeds = (
        items.select(id_col, quantized(emb_col).alias("_qe"))
        .orderBy(id_col)
        .limit(n_codes)
        .select((F.row_number().over(w) - 1).alias("code"), "_qe")
    )
    return _subvectors(seeds, "code", n_sub, "cq").select("sub", "code", "cq")


def _subvectors(qe_df: DataFrame, key_col: str, n_sub: int, out_col: str) -> DataFrame:
    """(key, _qe) → (key, sub, out_col): split a quantized vector into
    ``n_sub`` contiguous subvectors (1-based slice, dim_per = D/n_sub).
    The ONE place the PQ subspace geometry is defined — codebook
    construction, item encoding, and query LUTs all slice through here,
    so they cannot desynchronize."""
    dim_per = F.size("_qe") / n_sub
    return qe_df.select(
        key_col,
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub"),
        F.col("_qe"),
    ).select(
        key_col,
        "sub",
        F.slice(
            "_qe", (F.col("sub") * dim_per + 1).cast("int"), dim_per.cast("int")
        ).alias(out_col),
    )


def pq_encode(
    items: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: per (item, subspace), the L2-nearest codeword
    (exact int64 arithmetic on quantized micro-units; ties to the lowest
    code id). Output is the inverted representation (id, sub, code) — at
    rest this is the 8-bytes-per-vector index PQ exists for. One broadcast
    join (codebooks are tiny) + one map-side-combined argmin aggregate;
    the item table streams through once."""
    sub_rows = _subvectors(
        _spread_by(items.select(F.col(id_col), F.col(emb_col)), id_col).select(
            F.col(id_col), quantized(emb_col).alias("_qe")
        ),
        id_col, n_sub, "xq",
    )
    d2 = F.aggregate(
        F.zip_with("xq", "cq", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = sub_rows.join(F.broadcast(codebooks), "sub").select(
        id_col, "sub", "code", d2.alias("_d")
    )
    order = F.struct(F.col("_d").alias("d"), F.col("code").alias("c"))
    return scored.groupBy(id_col, "sub").agg(F.min_by("code", order).alias("code"))


def pq_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    n_codes: int = 16,
    top_r: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Product-quantization ANN top-k with exact rerank — the memory-side
    scale path: at 100 TB the PQ index holds 8 code bytes per vector
    instead of 256 float bytes (32×), the ADC scan approximates every
    query·item dot as Σ_sub LUT[sub][code] (8 int lookups vs 64
    multiplies), and only the per-query top-``top_r`` shortlist touches
    the full vectors for exact scoring.

    Everything is exact integer arithmetic (quantized micro-units), ties
    broken by id — deterministic across engines and partitionings, so the
    whole cascade has a live DuckDB oracle. Plan shape: codebooks and the
    per-query LUTs broadcast; the corpus streams through the code join and
    one (query, item) sum aggregate; rerank joins full vectors for
    |Q|·top_r rows only."""
    cb = pq_codebooks(items, n_sub, n_codes, id_col, emb_col)
    codes = pq_encode(items, cb, n_sub, id_col, emb_col)
    q_sub = _subvectors(
        queries.select(F.col(query_id_col), quantized(emb_col).alias("_qe")),
        query_id_col, n_sub, "xq",
    )
    lut = q_sub.join(F.broadcast(cb), "sub").select(
        query_id_col, "sub", "code", dot_q("xq", "cq").alias("_dot")
    )
    approx = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col(id_col) != F.col(query_id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("_dot").alias("_adot"))
    )
    wr = W.partitionBy(query_id_col).orderBy(F.desc("_adot"), F.asc(id_col))
    cands = (
        approx.withColumn("_rn", F.row_number().over(wr))
        .where(F.col("_rn") <= top_r)
        .select(query_id_col, id_col)
    )
    it = items.select(F.col(id_col), quantized(emb_col).alias("_ie")).withColumn(
        "_in", norm_sq_q("_ie")
    )
    q = queries.select(F.col(query_id_col), quantized(emb_col).alias("_qe2")).withColumn(
        "_qn", norm_sq_q("_qe2")
    )
    rer = (
        cands.join(it, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine_q(dot_q("_qe2", "_ie"), F.col("_qn"), F.col("_in")).alias(
                "score"
            ),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def ivf_assign_cells(
    items: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (the IVF coarse
    quantizer). Centroids are broadcast; assignment is one pass over the
    items with a ``max_by`` argmax aggregation — partial (map-side) combine
    shuffles only n_items pre-reduced rows, vs the n_items×n_centroids
    sort+shuffle a window argmax would cost. Deterministic: the ordering
    struct (score, −centroid_id) is a total order on exact quantized scores,
    so ties break to the smallest centroid id — same contract as the old
    (score desc, centroid id asc) window ordering."""
    c = centroids.select(
        F.col(centroid_id_col), quantized(emb_col).alias("_ce")
    ).withColumn("_cn", norm_sq_q("_ce"))
    it = _spread_by(items.select(F.col(id_col), F.col(emb_col)), id_col).select(
        F.col(id_col), F.col(emb_col), quantized(emb_col).alias("_ie")
    ).withColumn("_in", norm_sq_q("_ie"))
    scored = it.crossJoin(F.broadcast(c)).select(
        id_col,
        emb_col,
        centroid_id_col,
        cosine_q(dot_q("_ie", "_ce"), F.col("_in"), F.col("_cn")).alias("_s"),
    )
    order = F.struct(
        F.col("_s").alias("s"),
        (-F.col(centroid_id_col).cast("bigint")).alias("tb"),
    )
    return scored.groupBy(id_col).agg(
        F.first(emb_col).alias(emb_col),  # constant per id (carried through the cross join)
        F.max_by(F.col(centroid_id_col), order).alias("cell"),
    )


def kmeans_centroids(
    items: DataFrame,
    k: int,
    n_iter: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Train IVF coarse-quantizer centroids with Lloyd's k-means (cosine
    assignment, element-wise-mean update) — the iterative companion to
    `ivf_assign_cells`, so the inverted file can use centroids fitted to
    the corpus instead of arbitrary seed rows.

    Deterministic by construction: init = the k lowest-id vectors; each
    round's new centroids are QUANTIZED to micro-units before the next
    assignment, so the order-sensitive last-ulp noise of the distributed
    mean cannot flip later assignments — rerunning reproduces identical
    centroids. Per round: one broadcast-assign pass (map-side-combined
    argmax) + one posexplode/mean aggregation; `localCheckpoint` truncates
    the iteration lineage. Empty cells keep their previous centroid.

    Returns (centroid_id, embedding) with embedding in micro-unit-rounded
    doubles."""
    w_init = W.orderBy(id_col)
    centroids = (
        items.select(id_col, emb_col)
        .orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(w_init) - 1).alias("centroid_id"),
            F.transform(
                quantized(emb_col), lambda q: q.cast("double") / QUANT_SCALE
            ).alias(emb_col),
        )
        .localCheckpoint()
    )
    for _ in range(n_iter):
        assigned = ivf_assign_cells(items, centroids, id_col, emb_col)
        means = (
            assigned.select("cell", F.posexplode(emb_col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                    lambda s: (F.round(s["mx"] * QUANT_SCALE) / QUANT_SCALE),
                ).alias("_new")
            )
        )
        centroids = (
            centroids.join(means, centroids["centroid_id"] == means["cell"], "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("_new"), F.col(emb_col)).alias(emb_col),
            )
            .localCheckpoint()
        )
    return centroids


def kmeans_int_clusters(
    items: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """INTEGER-exact Lloyd's k-means over quantized embeddings — corpus
    topic/segment clustering whose every step is bit-identical across
    engines, so even the iterative algorithm gets a full value-hash oracle
    (the vector-space sibling of `graph.pagerank_int`'s unrolled-CTE trick).

    Exactness contract: vectors quantized to int64 micro-units; assignment
    is argmin of the exact int64 squared L2 distance with (dist², cid)
    lexicographic tie-break; the centroid update is element-wise
    ``sum(x) div count`` — truncating integer division, matching DuckDB's
    ``//`` — so no distributed-mean last-ulp noise can flip a later
    assignment. Init = the k lowest-id vectors. Empty clusters keep their
    previous centroid.

    Scale: centroids are k rows, always broadcast — the corpus never
    shuffles for assignment (one narrow pass per round, map-side-combined
    argmin); the update is one (cluster, dim)-keyed aggregate of k×dim
    output rows. int64 bound: sum per (cluster, dim) ≤ members × 1e6
    micro-units — exact to ~9e12 member vectors per cluster.

    Returns (id_col, cluster, dist2) — final assignment with exact
    distances."""
    cent = kmeans_int_centroids(items, k=k, n_iter=n_iter, id_col=id_col, emb_col=emb_col)
    return assign_to_centroids(items, cent, id_col=id_col, emb_col=emb_col, k=k)


def _d2_q(vc: str, cc: str) -> Column:
    """Exact int64 squared L2 between two quantized vectors. (Built via
    `F.expr` — see `_sql` for why; identical expression tree.)"""
    return F.expr(
        f"aggregate(zip_with({_sql(vc)}, {_sql(cc)}, (x, y) -> (x - y) * (x - y)),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def kmeans_int_centroids(
    items: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """The trained MODEL half of `kmeans_int_clusters`: final (cid, c)
    centroid rows after ``n_iter`` exact Lloyd rounds — reusable to assign
    vectors that arrive LATER (the SemDeDup production shape: cluster
    once, assign forever). Same init/update laws as the fused function."""
    # single-row-group guard: `q`'s lineage re-executes per Lloyd round
    # (assignment + update) — spread the compact rows once so the HOF
    # argmin work of every round runs on all cores (r13)
    q = _spread_by(items.select(F.col(id_col), F.col(emb_col)), id_col).select(
        F.col(id_col), quantized(emb_col).alias("v")
    )
    w_init = W.orderBy(id_col)
    cent = (
        q.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(w_init) - 1).cast("bigint").alias("cid"),
            F.col("v").alias("c"),
        )
        .localCheckpoint()
    )

    for _ in range(n_iter):
        if k >= ASSIGN_GEMM_MIN_K:
            # SF-aware-k regime: N·k HOF evaluations would make Lloyd's
            # itself the quadratic (k ∝ N) — run the exact argmin at GEMM
            # rate instead (bit-identical, see _assign_gemm)
            assigned = _assign_gemm(q, cent, id_col).select(
                F.col(id_col), "cluster", "v"
            )
        else:
            assigned = (
                q.crossJoin(F.broadcast(cent))
                .select(F.col(id_col), "v", "cid", _d2_q("v", "c").alias("d2"))
                .groupBy(id_col)
                .agg(F.min(F.struct("d2", "cid")).alias("m"), F.first("v").alias("v"))
                .select(F.col(id_col), F.col("m.cid").alias("cluster"), "v")
            )
        upd = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.expr("sum(x) div count(1)").alias("mx"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                    lambda s: s["mx"],
                ).alias("cnew")
            )
        )
        cent = (
            cent.join(upd, cent["cid"] == upd["cluster"], "left")
            .select("cid", F.coalesce("cnew", "c").alias("c"))
            .localCheckpoint()
        )
    return cent


#: assignment switches from the broadcast-crossJoin HOF argmin to the
#: cogroup-GEMM path at this centroid count — below it the HOF path is
#: cheaper (no shuffle); above it the N·k·d interpreted-HOF cost dominates
#: (the SF-aware SemDeDup regime, where k ∝ N makes assignment the new
#: quadratic unless it runs at GEMM rate)
ASSIGN_GEMM_MIN_K = 16


def _assign_gemm(
    q: DataFrame, centroids: DataFrame, id_col: str, n_buckets: int = 64
) -> DataFrame:
    """Exact integer k-means assignment as a distributed GEMM: items hash
    into ``n_buckets`` groups, the (tiny) centroid set replicates to every
    bucket via an explode — never through the driver — and each cogroup
    task computes D = |v|² + |c|² − 2·V·Cᵀ in float64. Every term is an
    integer ≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴ < 2⁵³, so the BLAS products and sums
    are EXACT and the row-wise argmin (columns sorted by cid, numpy takes
    the first minimum) reproduces the (dist², cid) lexicographic
    tie-break bit-for-bit — pytest-pinned against the HOF path."""
    import pandas as pd

    qb = q.withColumn("_b", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)))
    cb = centroids.select(
        "cid", "c", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("_b")
    )

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(left) == 0 or len(right) == 0:
            # typed empties: a bare [] column is float64, which Arrow
            # cannot convert to bigint / list<bigint>
            return pd.DataFrame(
                {
                    "_id": pd.Series([], dtype="int64"),
                    "cluster": pd.Series([], dtype="int64"),
                    "dist2": pd.Series([], dtype="int64"),
                    "v": pd.Series([], dtype=object),
                }
            )
        right = right.sort_values("cid")
        V = np.array([np.asarray(x) for x in left["v"]], dtype=np.float64)
        C = np.array([np.asarray(x) for x in right["c"]], dtype=np.float64)
        nv = (V * V).sum(axis=1)
        nc = (C * C).sum(axis=1)
        D = nv[:, None] + nc[None, :] - 2.0 * (V @ C.T)
        arg = D.argmin(axis=1)
        return pd.DataFrame(
            {
                "_id": left[id_col].to_numpy(),
                "cluster": right["cid"].to_numpy()[arg],
                "dist2": D[np.arange(len(V)), arg].astype(np.int64),
                # plain lists: Arrow's ndarray-of-ndarrays re-conversion to
                # list<int64> is not implemented for every batch shape
                "v": [np.asarray(x).tolist() for x in left["v"]],
            }
        )

    return (
        qb.groupBy("_b")
        .cogroup(cb.groupBy("_b"))
        .applyInPandas(
            fn, f"_id bigint, cluster bigint, dist2 bigint, v array<bigint>"
        )
        .withColumnRenamed("_id", id_col)
    )


def assign_to_centroids(
    items: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int | None = None,
) -> DataFrame:
    """Assign vectors to trained centroids — (id_col, cluster, dist2) via
    the exact argmin with the (dist², cid) lexicographic tie-break.
    ``k`` (when the caller knows the centroid count) routes large models
    through the cogroup-GEMM path (`_assign_gemm`) — bit-identical, at
    BLAS rate instead of N·k interpreted HOF evaluations; small models
    keep the shuffle-free broadcast crossJoin."""
    q = items.select(F.col(id_col), quantized(emb_col).alias("v"))
    if k is not None and k >= ASSIGN_GEMM_MIN_K:
        return _assign_gemm(q, centroids, id_col).select(id_col, "cluster", "dist2")
    return (
        q.crossJoin(F.broadcast(centroids))
        .select(F.col(id_col), "cid", _d2_q("v", "c").alias("d2"))
        .groupBy(id_col)
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select(
            F.col(id_col),
            F.col("m.cid").alias("cluster"),
            F.col("m.d2").alias("dist2"),
        )
    )


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF ANN top-k: items pre-assigned to coarse cells; each query probes
    its ``nprobe`` nearest cells and reranks exactly within them.

    The inverted-file structure is the partitioning: at scale the item table
    is written partitioned/bucketed by ``cell``, so a query's probe list
    prunes to nprobe partitions — the classic IVF pruning expressed as
    partition pruning instead of index files."""
    cells = ivf_assign_cells(items, centroids, id_col, emb_col, centroid_id_col)
    return ivf_probe_index(
        cells, queries, centroids, k, nprobe, id_col, emb_col, query_id_col, centroid_id_col
    )


def ivf_upsert_index(
    index: DataFrame,
    delta: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Incremental IVF index maintenance: assign ONLY the delta's vectors
    to the (frozen) coarse quantizer and append them to the existing
    cell-assigned index — cell assignment is per-row independent, so
    upsert(index(base), delta) is row-identical to index(base ∪ delta)
    (pinned by pytest and by `ann_ivf_delta_upsert`'s full-rebuild
    oracle). At 100 TB this is the point of an inverted file: a snapshot
    delta re-indexes in O(|delta|), appended into the same
    partitioned-by-cell layout, while the quantizer stays fixed until a
    scheduled retrain."""
    return index.unionByName(
        ivf_assign_cells(delta, centroids, id_col, emb_col, centroid_id_col)
    )


def ivf_probe_index(
    cells: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Probe a pre-built cell-assigned IVF index (the second half of
    `ivf_topk`, split out so incremental maintenance can reuse it)."""
    c = centroids.select(
        F.col(centroid_id_col), quantized(emb_col).alias("_ce")
    ).withColumn("_cn", norm_sq_q("_ce"))
    q = queries.select(
        F.col(query_id_col), F.col(emb_col).alias("_qemb"), quantized(emb_col).alias("_qe")
    ).withColumn("_qn", norm_sq_q("_qe"))
    probe_scored = q.crossJoin(F.broadcast(c)).select(
        query_id_col,
        "_qemb",
        "_qe",
        "_qn",
        centroid_id_col,
        cosine_q(dot_q("_qe", "_ce"), F.col("_qn"), F.col("_cn")).alias("_s"),
    )
    wq = W.partitionBy(query_id_col).orderBy(F.desc("_s"), F.asc(centroid_id_col))
    probes = (
        probe_scored.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select(query_id_col, "_qe", "_qn", F.col(centroid_id_col).alias("cell"))
    )
    it = cells.select(
        F.col(id_col), F.col("cell"), quantized(emb_col).alias("_ie")
    ).withColumn("_in", norm_sq_q("_ie"))
    scored = (
        it.join(F.broadcast(probes), "cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine_q(dot_q("_qe", "_ie"), F.col("_qn"), F.col("_in")).alias("score"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def power_iteration_top_dir(
    items: DataFrame,
    dim: int = 64,
    n_iter: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Dominant principal direction of the embedding corpus by POWER
    ITERATION — matrix-free ``v ← Σᵢ xᵢ (xᵢ·v)`` (uncentered PCA / top
    singular direction), every step exact so the iterative algorithm
    carries a full value-hash oracle (third of the family after
    `graph.pagerank_int` and `kmeans_int_clusters`). The direction exposes
    the corpus's strongest axis of variation — a drift/degeneracy probe
    (e.g. one source's embeddings collapsing onto a ray).

    Exactness: x in int64 micro-units; v integer at ``scale``; per-vector
    dot exact int64 (≤ dim·1e6·scale); the dim-wise accumulation runs in
    DECIMAL(38,0) (DuckDB twin: HUGEINT) — exact to ~1e38, i.e. ~1e15
    vectors; renormalization is ``v_d = y_d·scale div max|y|`` with
    truncating integer division, matching DuckDB `//` bit-for-bit. Sign
    and convergence path are deterministic from the fixed all-ones seed.

    Scale: two aggregates per round — dots (groupBy row) and the dim-wise
    sum (groupBy dim, dim rows out); v is always a broadcast dim-row
    table; the corpus is scanned once per round, never shuffled on its
    own key. Returns (dim 1-based, component at ``scale``)."""
    # single-row-group guard: `ex` re-executes per round (r13)
    ex = _spread_by(items.select(F.col(id_col), F.col(emb_col)), id_col).select(
        F.col(id_col).alias("rid"), F.posexplode(quantized(emb_col)).alias("pos", "x")
    )
    spark = items.sparkSession
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("pos"), F.lit(scale).cast("bigint").alias("val")
    )
    for _ in range(n_iter):
        dot = (
            ex.join(F.broadcast(v), "pos")
            .groupBy("rid")
            .agg(F.sum(F.col("x") * F.col("val")).alias("dot"))
        )
        y = (
            ex.join(dot, "rid")
            .groupBy("pos")
            .agg(F.sum(F.col("x").cast("decimal(38,0)") * F.col("dot")).alias("y"))
        )
        m = y.agg(F.max(F.abs(F.col("y"))).alias("m"))
        v = (
            y.crossJoin(F.broadcast(m))
            .select(
                "pos",
                F.expr(f"CAST(CAST(y * {scale} AS DECIMAL(38,0)) div m AS BIGINT)").alias(
                    "val"
                ),
            )
            .localCheckpoint()
        )
    return v.select(
        (F.col("pos") + 1).cast("bigint").alias("dim"), F.col("val").alias("component")
    )


def ivfpq_topk(
    items: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    n_sub: int = 8,
    n_codes: int = 16,
    top_r: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF-PQ ANN top-k — the canonical two-level disk+memory scale
    architecture (FAISS IVFPQ): the coarse quantizer prunes the CORPUS
    (each query touches only its ``nprobe`` cells — partition pruning when
    the index is laid out by cell), product quantization prunes the BYTES
    (ADC scans 8 code bytes per surviving vector, not 256 float bytes),
    and only the per-query ``top_r`` shortlist touches full vectors for
    exact rerank. At 100 TB the two prunings multiply: nprobe/n_cells of
    the corpus × 1/32 of the bandwidth.

    Composition of the audited pieces: `ivf_assign_cells` (broadcast
    argmax), `pq_codebooks`/`pq_encode` (broadcast codebooks, map-side
    argmin), per-query LUTs broadcast onto the code stream restricted to
    probed cells, exact quantized-cosine rerank. All-integer arithmetic,
    ties to lowest id — fully oracle-expressible."""
    cells = ivf_assign_cells(items, centroids, id_col, emb_col, centroid_id_col)
    cb = pq_codebooks(items, n_sub, n_codes, id_col, emb_col)
    codes = pq_encode(items, cb, n_sub, id_col, emb_col)

    c = centroids.select(
        F.col(centroid_id_col), quantized(emb_col).alias("_ce")
    ).withColumn("_cn", norm_sq_q("_ce"))
    q = queries.select(F.col(query_id_col), quantized(emb_col).alias("_qe")).withColumn(
        "_qn", norm_sq_q("_qe")
    )
    probe_scored = q.crossJoin(F.broadcast(c)).select(
        query_id_col,
        centroid_id_col,
        cosine_q(dot_q("_qe", "_ce"), F.col("_qn"), F.col("_cn")).alias("_s"),
    )
    wq = W.partitionBy(query_id_col).orderBy(F.desc("_s"), F.asc(centroid_id_col))
    probes = (
        probe_scored.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select(query_id_col, F.col(centroid_id_col).alias("cell"))
    )

    q_sub = _subvectors(
        queries.select(F.col(query_id_col), quantized(emb_col).alias("_qe")),
        query_id_col, n_sub, "xq",
    )
    lut = q_sub.join(F.broadcast(cb), "sub").select(
        query_id_col, "sub", "code", dot_q("xq", "cq").alias("_dot")
    )
    coded = codes.join(cells.select(id_col, "cell"), id_col)
    approx = (
        coded.join(F.broadcast(probes), "cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .join(F.broadcast(lut), [query_id_col, "sub", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("_dot").alias("_adot"))
    )
    wr = W.partitionBy(query_id_col).orderBy(F.desc("_adot"), F.asc(id_col))
    cands = (
        approx.withColumn("_rn", F.row_number().over(wr))
        .where(F.col("_rn") <= top_r)
        .select(query_id_col, id_col)
    )

    it = items.select(F.col(id_col), quantized(emb_col).alias("_ie")).withColumn(
        "_in", norm_sq_q("_ie")
    )
    q2 = queries.select(F.col(query_id_col), quantized(emb_col).alias("_qe2")).withColumn(
        "_qn2", norm_sq_q("_qe2")
    )
    rer = (
        cands.join(it, id_col)
        .join(F.broadcast(q2), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine_q(dot_q("_qe2", "_ie"), F.col("_qn2"), F.col("_in")).alias(
                "score"
            ),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def sq8_train_dims(items: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Train scalar quantization (SQ8): per-DIMENSION min/max over the
    corpus — one posexplode + grouped agg + re-assembly into two
    64-element arrays on a single broadcastable row. The quantized-int
    domain keeps everything engine-exact."""
    flat = items.select(
        F.posexplode(quantized(emb_col)).alias("_i", "_x")
    )
    per_dim = flat.groupBy("_i").agg(
        F.min("_x").alias("_mn"), F.max("_x").alias("_mx")
    )
    return per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_mn"))), lambda s: s["_mn"]
        ).alias("mn"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_mx"))), lambda s: s["_mx"]
        ).alias("mx"),
    )


def sq8_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN member #5 (r10): SQ8 scalar quantization — FAISS's
    ScalarQuantizer shape. Train per-dimension (min, max) on one corpus
    pass; store every vector as 64 8-bit levels (8x smaller than the
    quantized ints, 32x smaller than float32); score queries
    ASYMMETRICALLY (full-precision query against reconstructed items —
    the ADC trick) and exactly re-rank the top-``pool``. All encode/
    reconstruct arithmetic is integer half-up rounding, so the oracle
    reproduces every code and the ranking bit-exactly.

    Scale: the trained (mn, mx) row broadcasts (128 ints); items encode in
    one map; the scored join is |queries| x |items| like brute force but
    over 8-bit reconstructions — in a real deployment the codes ride an
    IVF cell layout (see ivfpq_topk) and this member contributes the
    compression tier."""
    dims = sq8_train_dims(items, emb_col)
    it = (
        _spread_by(items.select(F.col(id_col), F.col(emb_col)), id_col)
        .select(F.col(id_col), quantized(emb_col).alias("_ie"))
        .crossJoin(F.broadcast(dims))
        .select(
            id_col,
            F.expr(
                "zip_with(zip_with(_ie, mn, (x, m) -> x - m), "
                "zip_with(mx, mn, (a, b) -> a - b), "
                "(d, g) -> IF(g = 0, CAST(0 AS BIGINT), (d * 510 + g) div (2 * g)))"
            ).alias("_code"),
            "mn",
            "mx",
        )
        .select(
            id_col,
            F.expr(
                "zip_with(zip_with(_code, zip_with(mx, mn, (a, b) -> a - b), "
                "(c, g) -> (c * g * 2 + 255) div 510), mn, (t, m) -> m + t)"
            ).alias("_re"),
        )
        .withColumn("_rn", norm_sq_q("_re"))
    )
    q = queries.select(
        F.col(query_id_col), quantized(emb_col).alias("_qe")
    ).withColumn("_qn", norm_sq_q("_qe"))
    scored = (
        it.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine_q(dot_q("_qe", "_re"), F.col("_qn"), F.col("_rn")).alias(
                "_s8"
            ),
        )
    )
    wp = W.partitionBy(query_id_col).orderBy(F.desc("_s8"), F.asc(id_col))
    cand = scored.withColumn("_prank", F.row_number().over(wp)).where(
        F.col("_prank") <= pool
    )
    # exact re-rank of the candidate pool (full-precision both sides)
    exact = items.select(
        F.col(id_col), quantized(emb_col).alias("_xe")
    ).withColumn("_xn", norm_sq_q("_xe"))
    rer = (
        cand.join(exact, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine_q(dot_q("_qe", "_xe"), F.col("_qn"), F.col("_xn")).alias(
                "score"
            ),
        )
    )
    wf = W.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        rer.withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )
