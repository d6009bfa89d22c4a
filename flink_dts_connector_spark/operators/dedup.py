"""Deduplication operators for training-data pipelines (SURVEY.md §2.7).

Four tiers, all DataFrame-first:

  exact          — fingerprint groupBy (one shuffle on the hash, map-side
                   combine; the 100 TB default)
  n-gram Jaccard — exact near-dup: explode distinct shingles, equi-join on
                   the shingle, count co-occurrences → inter/union. Exact
                   but pair-bounded by shared shingles, not |docs|².
  MinHash + LSH  — approximate near-dup at scale: k permutations via
                   affine transforms over one base xxhash64, banded into
                   buckets; candidates = same (band, band-hash) bucket;
                   survivors verified with the exact Jaccard join.
  SimHash        — 64-bit fingerprints whose Hamming distance tracks
                   cosine/token similarity; xxhash64 token hashes JVM-side,
                   sign aggregation in vectorized numpy (fastest measured)
                   with a codegen'd explode+sum variant and a shuffle-free
                   array-expression variant, all three pinned bit-equal.

Everything else is pure JVM column expressions on the hot path. The LSH chain is
the classic shingle→minhash→band→bucket-join pipeline (Broder/MMDS); the
MinHash signature math lives in plain `transform`/`array_min` so Catalyst
sees one narrow projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_dts_connector_spark.operators.text import add_ngrams, fingerprint
from flink_dts_connector_spark.session import spread

# Mersenne prime 2^31-1 for the affine MinHash permutations: h_i = (a_i·h +
# b_i) mod P. 31-bit hash space keeps a·h + b well inside int64 (ANSI mode
# errors on overflow); collision odds ~n_shingles/2^31 are negligible for
# per-document shingle sets. Fixed seeds → reproducible across runs.
_P = (1 << 31) - 1


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group documents by content fingerprint: survivor (min id) + group
    size. `dropDuplicates` parity but keeps the dup-count signal a corpus
    pipeline needs."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content-exact dedup: keep the min-id row per fingerprint.

    Window-free formulation (join back on (fp, min_id)) so the big side
    shuffles once on the fingerprint."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        "fp", F.col("keep_id").alias(id_col)
    )
    fp_df = df.withColumn("fp", fingerprint(text_col))
    return fp_df.join(keep, ["fp", id_col], "left_semi").drop("fp")


def drop_hot_shingles(ex: DataFrame, max_df: int, s_col: str = "s") -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` from an
    exploded (id, shingle) frame — the standard MMDS boilerplate guard.

    At corpus scale a handful of template shingles ("all rights reserved…")
    appear in a large fraction of documents; each contributes O(df²)
    candidate pairs to the shingle equi-join, a quadratic blow-up AQE can
    split but not avoid. High-df shingles carry ~zero discriminating power
    for near-dup detection, so capping df bounds the join fan-out at
    O(max_df²) per shingle while leaving threshold-level pairs intact
    (verified on the fixtures in tests/test_ext_ops.py). The df pass
    shuffles on the same key as the candidate join that follows."""
    hot = (
        ex.groupBy(s_col)
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select(s_col)
    )
    return ex.join(hot, s_col, "left_anti")


def _shingled(
    df: DataFrame, id_col: str, text_col: str, n: int, spread: bool = True
) -> DataFrame:
    """(id, sh) distinct-shingle projection via `text.add_ngrams` (compiled
    NGram sliding — measured 24× the interpreted higher-order expression on
    the sf0.1 corpus).

    ``spread`` hash-repartitions the compact (id, text) rows to
    ``defaultParallelism`` before shingling: a single-row-group parquet
    input otherwise runs the whole explode-heavy pipeline on ONE core. The
    shuffle moves each doc once (pre-explode, narrow), and the downstream
    per-id groupBys (signature mins, collect_set) reuse the id hash
    partitioning. Callers with well-partitioned inputs pass spread=False."""
    narrow = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    return add_ngrams(
        narrow, "__t", "sh", n, distinct=True, spread_by="id" if spread else None
    ).select("id", "sh")


def jaccard_pairs(
    df: DataFrame,
    threshold_pct: int = 30,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (a < b), integer-exact decision:
        |∩| / |∪| ≥ t%  ⟺  100·|∩| ≥ t·(|a|+|b|−|∩|)
    so no float enters the pair selection; the reported ``jaccard`` is one
    deterministic double division.

    ``max_df`` (optional) bounds the candidate join: shingles in more than
    ``max_df`` documents generate no candidates (`drop_hot_shingles`), and
    surviving pairs are then verified with the FULL shingle sets — so every
    reported (n_inter, n_union, jaccard) stays exact; only pairs whose
    overlap is exclusively boilerplate can be missed."""
    sh = _shingled(df, id_col, text_col, n).withColumn(
        "n_sh", F.size("sh").cast("bigint")
    )
    if max_df is not None:
        ex = drop_hot_shingles(sh.select("id", F.explode("sh").alias("s")), max_df)
        a, b = ex.alias("a"), ex.alias("b")
        cand = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
            .distinct()
        )
        return _verify_jaccard(cand, sh.select("id", "sh"), threshold_pct)
    ex = sh.select("id", "n_sh", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        inter.where(F.lit(100) * F.col("n_inter") >= F.lit(threshold_pct) * union)
        .select(
            "a_id",
            "b_id",
            F.col("n_inter"),
            union.alias("n_union"),
            (F.col("n_inter").cast("double") / union).alias("jaccard"),
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    threshold_pct: int = 60,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via PREFIX FILTERING (the
    SSJoin/PPJoin candidate bound) — the exact-recall alternative to both
    the full shingle self-join (whose fan-out is df² on EVERY shingle) and
    MinHash-LSH (which trades recall for cost).

    Order all shingles globally rare-first (document frequency asc, then
    shingle); each doc contributes only its first
    ``p = |x| − ceil(t·|x|/100) + 1`` shingles to the candidate join.
    Exact recall: for any pair with J ≥ t, the overlap I satisfies
    I ≥ ceil(t·|x|/100) for BOTH sets (I ≥ t/100·U and U ≥ |x|). Take the
    pair's smaller prefix-boundary token e under the global order: every
    common token ≤ e lies in both prefixes; if all common tokens were > e,
    they would all sit in that set's suffix of ceil(t·|x|/100) − 1
    elements < I — contradiction. So ≥1 shared prefix token exists and
    the equi-join on prefix tokens misses nothing.

    Why it scales where the alternatives don't: candidate fan-out is df²
    only over each doc's RAREST ~(1−t) fraction of shingles — boilerplate
    shingles ("all rights reserved …") sort last and never enter the
    join, without `drop_hot_shingles`' recall caveat. The df pass, prefix
    build, and candidate join all shuffle on the shingle/id keys already
    used by the exact join. A size-ratio filter (J ≥ t forces
    t·|b| ≤ 100·|a|) prunes candidates before verification; survivors are
    verified with the FULL shingle sets (`_verify_jaccard`), so the
    output is bit-identical to `jaccard_pairs` at the same threshold.
    """
    sh = _shingled(df, id_col, text_col, n).withColumn(
        "n_sh", F.size("sh").cast("bigint")
    )
    ex = sh.select("id", "n_sh", F.explode("sh").alias("s"))
    dfs = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = (
        F.col("n_sh")
        - F.floor((F.lit(threshold_pct) * F.col("n_sh") + F.lit(99)) / F.lit(100))
        + F.lit(1)
    )
    pref = (
        ex.join(dfs, "s")
        .groupBy("id")
        .agg(
            F.first("n_sh").alias("n_sh"),
            F.array_sort(F.collect_list(F.struct("df", "s"))).alias("toks"),
        )
        .select(
            "id",
            "n_sh",
            F.explode(F.slice("toks", F.lit(1), prefix_len)).alias("tok"),
        )
        .select("id", "n_sh", F.col("tok.s").alias("s"))
    )
    a = pref.select(F.col("id").alias("a_id"), F.col("n_sh").alias("n_a"), "s")
    b = pref.select(F.col("id").alias("b_id"), F.col("n_sh").alias("n_b"), "s")
    t = F.lit(threshold_pct)
    cand = (
        a.join(b, "s")
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.lit(100) * F.col("n_a") >= t * F.col("n_b"))
            & (F.lit(100) * F.col("n_b") >= t * F.col("n_a"))
        )
        .select("a_id", "b_id")
        .distinct()
    )
    return _verify_jaccard(cand, sh.select("id", "sh"), threshold_pct)


def containment_pairs(
    df: DataFrame,
    threshold_pct: int = 90,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Directional containment near-dup (a ⊂ b): pairs where the smaller
    document's shingle set is ≥ t% covered by the larger's,

        |A ∩ B| / |A| ≥ t%   with |A| ≤ |B|

    — the quote-inclusion / page-wrapper case symmetric Jaccard misses: a
    tweet embedded verbatim in an article has Jaccard ≈ |A|/|B| ≈ 0 but
    containment 1.0. Decision is integer-exact (100·|∩| ≥ t·|A|); the
    reported ``containment`` is one deterministic double division.

    ``contained_id`` is the doc with the smaller shingle set (lower id on
    ties), ``container_id`` the other — a deterministic orientation, so the
    output is directly consumable as "drop contained, keep container".
    Scale shape is identical to `jaccard_pairs`: the shingle equi-join
    bounds candidates to pairs sharing a shingle, and ``max_df`` caps the
    boilerplate fan-out in the CANDIDATE join only — surviving pairs are
    re-verified with the FULL shingle sets (an intersection counted on
    filtered sets over an unfiltered |A| would under-report containment
    and silently drop fully-contained pairs sharing hot shingles)."""
    sh = _shingled(df, id_col, text_col, n).withColumn(
        "n_sh", F.size("sh").cast("bigint")
    )
    if max_df is not None:
        ex = drop_hot_shingles(sh.select("id", F.explode("sh").alias("s")), max_df)
        a, b = ex.alias("a"), ex.alias("b")
        cand = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
            .distinct()
        )
        full = cand.join(
            sh.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_x")),
            "a_id",
        ).join(
            sh.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_y")),
            "b_id",
        )
        inter = full.select(
            F.col("a_id").alias("x_id"),
            F.col("b_id").alias("y_id"),
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_inter"),
            "n_x",
            "n_y",
        )
        return _orient_containment(inter, threshold_pct)
    ex = sh.select("id", "n_sh", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("x_id"), F.col("b.id").alias("y_id"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("a.n_sh").alias("n_x"),
            F.first("b.n_sh").alias("n_y"),
        )
    )
    return _orient_containment(inter, threshold_pct)


def _orient_containment(inter: DataFrame, threshold_pct: int) -> DataFrame:
    """Orient + threshold a (x_id, y_id, n_inter, n_x, n_y) frame where
    x_id < y_id: contained = smaller shingle set; ties → lower id, which
    is x_id by construction, so `<=` encodes both rules."""
    x_contained = F.col("n_x") <= F.col("n_y")
    oriented = inter.select(
        F.when(x_contained, F.col("x_id")).otherwise(F.col("y_id")).alias("contained_id"),
        F.when(x_contained, F.col("y_id")).otherwise(F.col("x_id")).alias("container_id"),
        "n_inter",
        F.when(x_contained, F.col("n_x")).otherwise(F.col("n_y")).alias("n_contained"),
    )
    return oriented.where(
        F.lit(100) * F.col("n_inter") >= F.lit(threshold_pct) * F.col("n_contained")
    ).select(
        "contained_id",
        "container_id",
        "n_inter",
        "n_contained",
        (F.col("n_inter").cast("double") / F.col("n_contained")).alias("containment"),
    )


def minhash_signature(sh: Column, num_hashes: int = 32, seed: int = 42) -> list[Column]:
    """k MinHash values from one distinct-shingle array: base = xxhash64
    (non-negative), permuted by fixed affine maps mod 2³¹−1 (``_P``)."""
    base = F.transform(sh, lambda s: F.pmod(F.xxhash64(s, F.lit(seed)), F.lit(_P)))
    sigs = []
    for i in range(num_hashes):
        a = 2 * i + 1  # odd multipliers < 2^7; a·h + b < 2^38 — no overflow
        b = 1000003 * (i + 1)
        sigs.append(
            F.array_min(F.transform(base, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_P)))
        )
    return sigs


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: signatures banded (rows = k/bands); a pair is a
    candidate iff some band's row-slice hashes equal. Returns (a_id, b_id)
    distinct. Collision probability ≈ 1−(1−j^rows)^bands (tuned by k/bands).

    ``max_df`` (optional) removes corpus-boilerplate shingles (df >
    max_df) from every document BEFORE signatures are computed — a
    consistent corpus-wide vocabulary change, so signatures remain mutually
    comparable; docs left with no shingles drop out. Bounds both the band
    buckets (boilerplate-only docs no longer all collide) and downstream
    verification fan-out."""
    rows = num_hashes // bands
    sh = _shingled(df, id_col, text_col, n).where(F.size("sh") > 0)
    ex = sh.select("id", F.explode("sh").alias("s"))
    if max_df is not None:
        ex = drop_hot_shingles(ex, max_df)
    # signature mins by explode + grouped MIN (codegen, map-side combine) —
    # bit-equal to `minhash_signature`'s array formulation but not
    # interpreted per element; groupBy("id") reuses _shingled's spread
    # partitioning, so this adds no extra shuffle.
    base = ex.withColumn("h", F.pmod(F.xxhash64("s", F.lit(42)), F.lit(_P)))
    sig = base.groupBy("id").agg(
        *[
            F.min(
                (F.lit(2 * i + 1) * F.col("h") + F.lit(1000003 * (i + 1))) % F.lit(_P)
            ).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)], F.lit(b)).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    stacked = banded.select(
        "id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("h")) for b in range(bands)])
        ).alias("bh"),
    ).select("id", "bh.band", "bh.h")
    a, b = stacked.alias("a"), stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )


def md5_number_lower_mod(col: Column, m: int) -> Column:
    """Engine-mirrorable string hash: int(last 8 md5 bytes, little-endian)
    mod ``m`` — exactly DuckDB's `md5_number_lower(s) % m`, built here from
    hex-substring reversal + base-16 conv (verified equal incl. unicode).
    The slow-but-oracle-able sibling of xxhash64.

    Stays in BIGINT arithmetic: the 64-bit value v = hi·2³² + lo would
    overflow int64, but v mod m = (hi mod m · (2³² mod m) + lo) mod m, and
    for m ≤ 2³¹ every intermediate fits in 63 bits — no decimal(20,0)
    round-trip in the per-shingle hot path."""
    if not 0 < m <= (1 << 31):
        raise ValueError(f"modulus must be in (0, 2^31], got {m}")
    hexstr = F.md5(F.encode(col, "UTF-8"))
    le = F.concat(*[F.substring(hexstr, 31 - 2 * i, 2) for i in range(8)])
    hi = F.conv(F.substring(le, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(le, 9, 8), 16, 10).cast("bigint")
    c = (1 << 32) % m
    return F.pmod(F.pmod(hi, F.lit(m)) * F.lit(c) + lo, F.lit(m)).cast("bigint")


def md5_hash_mod_p(col: Column) -> Column:
    """`md5_number_lower_mod` pinned to the MinHash prime 2³¹−1."""
    return md5_number_lower_mod(col, _P)


def _verify_jaccard(cand: DataFrame, sh: DataFrame, threshold_pct: int) -> DataFrame:
    """Exact-Jaccard verification of candidate (a_id, b_id) pairs against
    per-doc shingle arrays ``sh``(id, sh)."""
    pairs = (
        cand.join(sh.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "sh_a"), "a_id")
        .join(sh.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "sh_b"), "b_id")
    )
    n_inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    n_union = F.size(F.array_union("sh_a", "sh_b")).cast("bigint")
    return (
        pairs.select("a_id", "b_id", n_inter.alias("n_inter"), n_union.alias("n_union"))
        .where(F.lit(100) * F.col("n_inter") >= F.lit(threshold_pct) * F.col("n_union"))
        .withColumn("jaccard", F.col("n_inter").cast("double") / F.col("n_union"))
    )


def minhash_band_index_md5(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MATERIALIZABLE MinHash band index (md5 hash family): one row per
    (id, band) carrying that band's signature-row tuple (r0..r{rows-1}).
    This is the persistent state an incremental near-dup pipeline keeps
    between runs: write it out bucketed by (band, r0) so delta probes
    bucket-join against it shuffle-free (see SCALING.md). Empty-shingle
    docs are excluded (they can never collide)."""
    rows = num_hashes // bands
    sh = _shingled(df, id_col, text_col, n).where(F.size("sh") > 0)
    ex = sh.select("id", F.explode("sh").alias("s")).withColumn("h", md5_hash_mod_p(F.col("s")))
    # r14: the permuted-min aggregates and the band structs are built as
    # SQL strings (ONE py4j round-trip per F.expr) instead of nested Column
    # operator calls (~8 round-trips each) — this operator alone cost ~0.6 s
    # of driver socket round-trips per query BUILD (profiled: the
    # dedup_minhash_probe row spent 1.3-1.8 s building its plan, 5.6k py4j
    # calls). Expressions are unchanged term-for-term; results identical.
    mins = ex.groupBy("id").agg(
        *[
            F.expr(
                f"min(({2 * j + 1} * h + {1000003 * (j + 1)}) % {_P}) AS m{j}"
            )
            for j in range(num_hashes)
        ]
    )
    band_structs = ", ".join(
        "struct({b} AS band, {rs})".format(
            b=b,
            rs=", ".join(f"m{b * rows + r} AS r{r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return mins.select(
        "id", F.expr(f"explode(array({band_structs})) AS bk")
    ).select("id", "bk.*")


def _band_tuple_cond(rows: int):
    cond = F.col("a.band") == F.col("b.band")
    for r in range(rows):
        cond = cond & (F.col(f"a.r{r}") == F.col(f"b.r{r}"))
    return cond


def minhash_lsh_dedup_pairs_md5(
    df: DataFrame,
    threshold_pct: int = 50,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup with the md5 shingle hash and BAND-TUPLE
    equality candidates — every step has an exact SQL twin, so this
    approximate pipeline is fully oracle-checkable (the xxhash64 variant
    stays the throughput path). Signature mins are computed by
    explode + grouped MIN aggregates (codegen + map-side combine, the
    SimHash lesson: array higher-order lambdas are interpreted)."""
    sh = _shingled(df, id_col, text_col, n).where(F.size("sh") > 0)
    banded = minhash_band_index_md5(df, num_hashes, bands, n, id_col, text_col)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, _band_tuple_cond(num_hashes // bands) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    return _verify_jaccard(cand, sh, threshold_pct)


def minhash_lsh_probe_md5(
    delta: DataFrame,
    index: DataFrame,
    corpus_sh: DataFrame,
    threshold_pct: int = 50,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """INCREMENTAL near-dup: probe only the delta's bands against a
    materialized corpus band ``index`` (from `minhash_band_index_md5`,
    covering the corpus WITHOUT the delta) — no corpus signature is ever
    recomputed. Returns exactly the full-corpus pair set restricted to
    pairs touching the delta:

      * delta × corpus — delta band tuples equi-join the index;
      * delta × delta — self-join of the delta's own bands (new docs can
        near-dup each other).

    Every delta-touching collision in a hypothetical full run involves a
    delta band tuple, so the union is complete; verification then uses
    full shingle sets (``corpus_sh`` = the materialized (id, sh) store +
    the delta's own, so reported jaccard stays exact). Pair ids are
    normalized (a_id < b_id) to match the full run's convention.

    UPDATE deltas (an id already present in the index) are handled by
    construction: the delta's ids are anti-joined out of both ``index``
    and ``corpus_sh`` first, so the stale bands/shingles of an updated doc
    neither generate candidates nor corrupt verification — without this a
    candidate pair would fan out into one row verified against the OLD
    text and one against the NEW (duplicate conflicting jaccards).

    Scale shape: the index is read, never rebuilt; with index and probe
    both bucketed by (band, r0) the candidate join is shuffle-free, and
    everything else is delta-sized (including the broadcast anti-join of
    delta ids onto the index scan)."""
    rows = num_hashes // bands
    delta_ids = delta.select(F.col(id_col).alias("id")).distinct()
    index = index.join(F.broadcast(delta_ids), "id", "left_anti")
    corpus_sh = corpus_sh.join(F.broadcast(delta_ids), "id", "left_anti")
    delta_sh = _shingled(delta, id_col, text_col, n).where(F.size("sh") > 0)
    delta_bands = minhash_band_index_md5(delta, num_hashes, bands, n, id_col, text_col)
    a, b = delta_bands.alias("a"), index.alias("b")
    vs_corpus = (
        a.join(b, _band_tuple_cond(rows) & (F.col("a.id") != F.col("b.id")))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("a_id"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("b_id"),
        )
    )
    d1, d2 = delta_bands.alias("a"), delta_bands.alias("b")
    vs_delta = (
        d1.join(d2, _band_tuple_cond(rows) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
    )
    cand = vs_corpus.unionByName(vs_delta).distinct()
    sh_all = corpus_sh.unionByName(delta_sh)
    return _verify_jaccard(cand, sh_all, threshold_pct)


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    threshold_pct: int = 50,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup: LSH candidates → exact-Jaccard verify.
    Verification joins the shingle sets back only for candidate pairs
    (broadcast-able candidate list at sane thresholds). ``max_df`` caps
    hot-shingle fan-out in the candidate stage (see
    `minhash_lsh_candidates`); verification always uses full shingle sets,
    so reported jaccard values stay exact."""
    cand = minhash_lsh_candidates(df, num_hashes, bands, n, id_col, text_col, max_df)
    sh = _shingled(df, id_col, text_col, n)
    return _verify_jaccard(cand, sh, threshold_pct)


def _token_hashes(text_col: str) -> Column:
    """Per-document array of 64-bit token hashes, computed JVM-side
    (xxhash64 over each token) — shared by both SimHash implementations so
    their signatures are bit-identical."""
    from flink_dts_connector_spark.operators.text import tokens as _tokens

    # split("") yields [""] — drop empty tokens so blank docs hash to 0
    toks = F.filter(_tokens(text_col), lambda t: t != "")
    return F.transform(toks, lambda t: F.xxhash64(t))


def _spread_narrow(df: DataFrame, id_col: str, text_col: str, spread: bool) -> DataFrame:
    """Narrow (id, text) projection, optionally hash-repartitioned by id to
    ``defaultParallelism`` — the same single-row-group guard as `_shingled`:
    without it every SimHash variant runs its token hashing on one core."""
    narrow = df.select(F.col(id_col), F.col(text_col))
    if spread:
        narrow = narrow.repartition(
            narrow.sparkSession.sparkContext.defaultParallelism, id_col
        )
    return narrow


def simhash64_agg(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", spread: bool = True
) -> DataFrame:
    """Pure-JVM 64-bit SimHash via explode + hash aggregation — the 100 TB
    shape: explode token hashes, 64 codegen'd `sum(bit_i)` aggregates with
    map-side combine (the shuffle carries one 65-column row per document,
    not per token), then assemble sign bits. Unlike the array higher-order
    variant (`simhash64_col`), every expression here is inside whole-stage
    codegen (measured 3× faster than it at sf0.1; see `simhash64` for the
    full comparison)."""
    one = F.lit(1).cast("long")
    ex = _spread_narrow(df, id_col, text_col, spread).select(
        F.col(id_col), F.explode_outer(_token_hashes(text_col)).alias("h")
    )
    aggs = [
        F.sum(F.shiftrightunsigned("h", i).bitwiseAND(one)).alias(f"b{i}") for i in range(64)
    ] + [F.count("h").alias("n")]
    g = ex.groupBy(id_col).agg(*aggs)
    n = F.col("n")
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig.bitwiseOR(
            F.when(F.lit(2) * F.col(f"b{i}") >= n, F.shiftleft(one, i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    # explode_outer keeps empty docs as a null-h row: n=0 → signature 0
    return g.select(
        F.col(id_col), F.when(n > 0, sig).otherwise(F.lit(0).cast("long")).alias("simhash")
    )


def simhash64_col(hashes: Column) -> Column:
    """Shuffle-free 64-bit SimHash (Charikar) from a token-hash array: bit i
    of the signature is set iff ≥ half the token hashes have bit i set
    (sign of Σ(±1)). 64 `filter`+`size` scans over the array — correct and
    narrow, but array higher-order functions are interpreted per element,
    so prefer `simhash64_agg` (codegen'd) on large corpora."""
    n = F.size(hashes)
    one = F.lit(1).cast("long")

    def bit_set(i: int):
        return lambda h: F.shiftrightunsigned(h, i).bitwiseAND(one) == one

    sig = F.lit(0).cast("long")
    for i in range(64):
        pos = F.size(F.filter(hashes, bit_set(i)))
        # acc_i = 2·pos − n ; bit set iff acc_i ≥ 0
        sig = sig.bitwiseOR(
            F.when(F.lit(2) * pos >= n, F.shiftleft(one, i)).otherwise(F.lit(0).cast("long"))
        )
    # empty/None token list → 0 (not all-ones from the ≥0 tie rule)
    return F.when(n > 0, sig).otherwise(F.lit(0).cast("long"))


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "pandas",
    spread: bool = True,
) -> DataFrame:
    """64-bit SimHash per document. All three implementations hash tokens
    JVM-side (xxhash64 in a `transform`) and agree bit-for-bit
    (`tests/test_ext_ops.py`); they differ only in where the sign
    aggregation runs. Measured at sf0.1 (5k docs, local[32], best-of-2):

    ``impl='pandas'`` (default, 0.58s): vectorized numpy over Arrow batches
    — no shuffle, stateless per partition, the bit math is one broadcasted
    shift over the whole batch. Python, but not a Python loop.
    ``impl='agg'`` (2.8s): explode + 64 codegen'd sums, map-side combine —
    zero Python workers; the choice when the cluster starves Python.
    ``impl='jvm'`` (9.2s): shuffle-free array expressions; array
    higher-order functions are interpreted per element — kept as the
    no-shuffle-no-Python corner, not a default."""
    if impl == "agg":
        return simhash64_agg(df, id_col, text_col, spread)
    narrow = _spread_narrow(df, id_col, text_col, spread)
    hashes = _token_hashes(text_col)
    if impl == "jvm":
        return narrow.select(F.col(id_col), simhash64_col(hashes).alias("simhash"))
    if impl != "pandas":
        raise ValueError(f"impl must be 'agg', 'jvm' or 'pandas', got {impl!r}")

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _simhash(hash_arrays):  # pd.Series of int64 arrays
        out = np.zeros(len(hash_arrays), dtype=np.int64)
        shifts = np.arange(64, dtype=np.uint64)
        for i, hs in enumerate(hash_arrays):
            if hs is None or len(hs) == 0:
                continue
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            bits = (h[:, None] >> shifts) & np.uint64(1)  # (n_tokens, 64)
            acc = bits.astype(np.int64).sum(axis=0) * 2 - len(h)
            sig = np.bitwise_or.reduce(
                np.where(acc >= 0, np.uint64(1) << shifts, np.uint64(0))
            )
            out[i] = int(sig.astype(np.uint64)) - (1 << 64) if sig >> np.uint64(63) else int(sig)
        return pd.Series(out)

    return narrow.select(F.col(id_col), _simhash(hashes).alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHash longs."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def simhash_neardup_pairs(
    df: DataFrame, max_distance: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit prefix bands (4 bands; two
    docs within Hamming≤max_distance share ≥1 identical band w.h.p.), then
    verify the full distance."""
    sig = simhash64(df, id_col, text_col)
    bands = sig.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                )
                for i in range(4)
            ])
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("distance"),
        )
        .distinct()
        .where(F.col("distance") <= max_distance)
    )


def positional_grams(
    df: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, g): md5 of the k-token gram starting at 1-based token
    position pos — the positional index both span extractors join on.
    Docs shorter than k produce no rows (Spark's descending `sequence`
    trap is guarded).

    r14 single-row-group guard (the `_shingled` idiom): the per-gram
    transform lambda runs interpreted, so an under-split input serializes
    the whole gram explode on one core — the r14 job drill caught
    neardup_shared_spans spending 0.6-0.7 s in back-to-back 1-task jobs
    here. The compact (id, text) rows repartition once, only when the
    input has fewer partitions than cores; the (id, gram) self-join
    downstream shuffles on g regardless."""
    from flink_dts_connector_spark.operators.text import tokens

    narrow = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")), "id")
    toks = narrow.select("id", tokens("__t").alias("v"))
    starts = F.when(
        F.size("v") >= k, F.sequence(F.lit(0), F.size("v") - k)
    ).otherwise(F.array().cast("array<int>"))
    return toks.select(
        "id",
        F.posexplode(
            F.transform(starts, lambda i: F.array_join(F.slice("v", i + 1, k), " "))
        ).alias("pos0", "gram"),
    ).select("id", (F.col("pos0") + 1).cast("bigint").alias("pos"), F.md5("gram").alias("g"))


def shared_spans(
    df: DataFrame,
    k: int = 6,
    min_span: int = 8,
    max_df: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document maximal shared-span extraction: find every repeated
    passage of >= ``min_span`` tokens between any two documents — the
    exact-substring dedup signal (Lee et al.'s "Deduplicating Training
    Data Makes Language Models Better") recast shuffle-first instead of
    suffix-array-first.

    Pipeline: positional k-token grams per doc -> document-frequency cap
    (``max_df`` total occurrences: boilerplate grams that would blow the
    pair join up O(df^2) are dropped — a CONSERVATIVE cut, it can only
    shorten/split reported spans, never invent one) -> self-equi-join on
    the md5 of the gram (narrow shuffle key) -> gaps-and-islands merge:
    matches on one (pair, pb-pa) diagonal with consecutive pa collapse to
    a single maximal span of ``island_len + k - 1`` tokens.

    Scale: never all-pairs — the join is bounded by the df cap exactly
    like `jaccard_pairs`; the island window partitions by (pair, diagonal),
    whose groups are span-sized. Returns (doc_a, doc_b, a_start, b_start,
    span_tokens), 1-based starts."""
    grams = positional_grams(df, k, id_col, text_col)
    cool = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= max_df)
    gc = grams.join(cool.select("g"), "g")
    a, b = gc.alias("a"), gc.alias("b")
    m = a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id"))).select(
        F.col("a.id").alias("doc_a"),
        F.col("b.id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    from pyspark.sql import Window as W

    diag = (F.col("pb") - F.col("pa")).alias("diag")
    w = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = m.select("doc_a", "doc_b", diag, "pa", "pb").withColumn(
        "isle", F.col("pa") - F.row_number().over(w)
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "isle")
        .agg(
            F.min("pa").cast("bigint").alias("a_start"),
            F.min("pb").cast("bigint").alias("b_start"),
            (F.count(F.lit(1)) + (k - 1)).cast("bigint").alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_span)
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    )


def minhash_calibration_md5(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash index CALIBRATION: for every LSH candidate pair, compare the
    signature-agreement estimate (matching positions / 16 — the MinHash
    Jaccard estimator) against the EXACT Jaccard, rolled up per agreement
    level — the empirical S-curve an operator reads before trusting a
    (bands, rows) configuration on a new corpus (`ann_recall_report`'s
    role for the near-dup index). Exact everywhere: match counts are
    integers, the per-level mean Jaccard is a ratio of integer sums
    (never a float sum of per-pair doubles, which would be order-
    sensitive). Scale: candidates are band-bounded; signatures rejoin by
    id (signature table is |docs| × 16 ints)."""
    sh = _shingled(df, id_col, text_col, n).where(F.size("sh") > 0)
    ex = sh.select("id", F.explode("sh").alias("s")).withColumn("h", md5_hash_mod_p(F.col("s")))
    mins = ex.groupBy("id").agg(
        *[
            F.min((F.lit(2 * j + 1) * F.col("h") + F.lit(1000003 * (j + 1))) % F.lit(_P)).alias(
                f"m{j}"
            )
            for j in range(num_hashes)
        ]
    )
    banded = minhash_band_index_md5(df, num_hashes, bands, n, id_col, text_col)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, _band_tuple_cond(num_hashes // bands) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    ma = mins.select(F.col("id").alias("a_id"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(num_hashes)])
    mb = mins.select(F.col("id").alias("b_id"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(num_hashes)])
    match_expr = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("bigint") for j in range(num_hashes)
    )
    est = cand.join(ma, "a_id").join(mb, "b_id").select(
        "a_id", "b_id", match_expr.alias("n_match")
    )
    exact = _verify_jaccard(cand, sh, threshold_pct=0).select("a_id", "b_id", "n_inter", "n_union")
    return (
        est.join(exact, ["a_id", "b_id"])
        .groupBy("n_match")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("n_inter").cast("bigint").alias("sum_inter"),
            F.sum("n_union").cast("bigint").alias("sum_union"),
            (F.sum("n_inter").cast("double") / F.sum("n_union")).alias("mean_jaccard"),
        )
    )
