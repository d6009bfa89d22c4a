"""EXT operator queries: dedup / similarity / text / multimodal
(SURVEY.md §2.7 — the LLM-training-data-pipeline surface BASELINE.json
mandates on top of reference parity).

Oracle-checked wherever the operator is SQL-expressible; the hash-based ops
(MinHash-LSH, SimHash) have no DuckDB equivalent of xxhash64/FNV and get the
rows-only gate plus ground-truth pytest checks against in-engine brute force
(tests/test_ext_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_dts_connector_spark.operators import dedup as D
from flink_dts_connector_spark.operators import multimodal as M
from flink_dts_connector_spark.operators import similarity as S
from flink_dts_connector_spark.operators import text as X
from flink_dts_connector_spark.plans import _snapshots as SNAP
from flink_dts_connector_spark.plans.registry import register
from flink_dts_connector_spark.session import load_table, table_rows

# Shared DuckDB fragments -----------------------------------------------------

SQL_TOKS = "string_split_regex(trim(text), '\\s+')"
SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
SQL_Q = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

# signbit LSH bucket over dims (0,7,17,29,41,53) — 1-based in duckdb lists
_BUCKET_DIMS = (0, 7, 17, 29, 41, 53)
SQL_BUCKET = " + ".join(
    f"(CASE WHEN embedding[{d + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i, d in enumerate(_BUCKET_DIMS)
)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_fingerprint",
    oracle=f"SELECT doc_id, md5({SQL_NORM}) AS fp FROM documents",
    tags=("ext", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text (dedup key)."""
    return t(spark, sf_dir, "documents").select("doc_id", X.fingerprint("text").alias("fp"))


@register(
    "text_quality_scores",
    oracle=f"""
SELECT doc_id,
       CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(list_filter({SQL_TOKS}, t -> t IN ('the','a','of','and'))) AS BIGINT) AS n_stopwords,
       CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS BIGINT) AS n_non_alnum,
       CAST(length(text) AS DOUBLE) / len({SQL_TOKS}) AS chars_per_token,
       CAST(len(list_filter({SQL_TOKS}, t -> t IN ('the','a','of','and'))) AS DOUBLE) / len({SQL_TOKS}) AS stopword_ratio,
       CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE) / length(text) AS non_alnum_ratio
FROM documents
""",
    tags=("ext", "text"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length/stopword/punctuation ratios) —
    integer counts + one double division each."""
    return X.quality_metrics(t(spark, sf_dir, "documents"))


@register(
    "text_langid",
    oracle=f"""
SELECT doc_id, lang,
       CASE WHEN len(list_filter({SQL_TOKS}, t -> t IN ('der','die','und'))) >= 2 THEN 'de'
            WHEN len(list_filter({SQL_TOKS}, t -> t IN ('le','la','et'))) >= 2 THEN 'fr'
            WHEN len(list_filter({SQL_TOKS}, t -> t IN ('el','los','y'))) >= 2 THEN 'es'
            ELSE 'en' END AS lang_guess
FROM documents
""",
    tags=("ext", "text"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language-ID heuristic vs the labeled lang column."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", "lang", X.langid_heuristic("text").alias("lang_guess")
    )


@register(
    "text_token_stats_by_source",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(len({SQL_TOKS}) AS BIGINT)) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
       MAX(CAST(len({SQL_TOKS}) AS BIGINT)) AS max_tokens
FROM documents
GROUP BY source
""",
    tags=("ext", "text"),
)
def text_token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count rollup per source — the corpus-stats aggregation shape."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count("text")).alias("total_tokens"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
        F.max(X.token_count("text")).alias("max_tokens"),
    )


_BPE_SQL_PATTERN = "''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


@register(
    "text_bpe_token_stats",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(len({SQL_TOKS}) AS BIGINT)) AS BIGINT) AS ws_tokens,
       CAST(SUM(CAST(len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}')) AS BIGINT)) AS BIGINT) AS bpe_tokens
FROM documents
GROUP BY source
""",
    tags=("ext", "text", "tokenizer"),
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under both tokenizers — whitespace and the BPE-ish
    regex pre-tokenizer (contractions/letter-runs/digit-runs/symbols split
    like a GPT-2 pre-tokenizer, no merges table) — the cheap LLM token-
    budget estimate, rolled up per source."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count("text")).alias("ws_tokens"),
        F.sum(X.bpe_ish_token_count("text")).alias("bpe_tokens"),
    )


@register(
    "text_kgram_sketches",
    oracle=f"""
WITH sk AS (
  SELECT doc_id,
         list_slice(list_sort(list_distinct(
           list_transform(range(1, greatest(length({SQL_NORM}) - 15, 1) + 1),
                          i -> substring(md5(substring({SQL_NORM}, CAST(i AS INT), 16)), 1, 8))
         )), 1, 4) AS sketch
  FROM documents
)
SELECT doc_id, CAST(generate_subscripts(sketch, 1) AS BIGINT) AS sketch_pos,
       unnest(sketch) AS sketch_hash
FROM sk
""",
    tags=("ext", "text", "fingerprint"),
)
def text_kgram_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash-style document sketches: bottom-4 md5 prefixes over all
    16-char windows of the normalized text (winnowing family) — sketch
    overlap estimates containment between documents. Exploded to scalar
    rows so the value hash is engine-stable."""
    d = t(spark, sf_dir, "documents")
    sk = X.kgram_sketch_by_id(d, "doc_id", "text", "sketch", k=16, bottom=4)
    return sk.select(
        "doc_id", F.posexplode("sketch").alias("p", "sketch_hash")
    ).select("doc_id", (F.col("p") + 1).cast("bigint").alias("sketch_pos"), "sketch_hash")


# ---------------------------------------------------------------------------
# Corpus curation (sampling / mixing / packing)
# ---------------------------------------------------------------------------

from flink_dts_connector_spark.operators import curation as C

_SAMPLE_PCT = 37
_SAMPLE_THR = C.sample_threshold_hex(_SAMPLE_PCT)


@register(
    "curate_deterministic_sample",
    oracle=f"""
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_SAMPLE_THR}'
""",
    tags=("ext", "curation", "sampling"),
)
def curate_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-Bernoulli corpus sampling (37% by md5(doc_id)): deterministic
    across engines/partitionings — unlike rng `df.sample` — and nested
    across rates, the property corpus-ablation pipelines rely on."""
    d = t(spark, sf_dir, "documents")
    return C.deterministic_sample(d, _SAMPLE_PCT).select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@register(
    "curate_stratified_sample",
    oracle="""
SELECT doc_id, source
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 7
""",
    tags=("ext", "curation", "sampling"),
)
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 7 docs per source drawn
    by md5-hash order — exact-count per stratum AND reproducible across
    engines, which rng `sampleBy` gives up."""
    d = t(spark, sf_dir, "documents")
    return C.stratified_sample(d, n_per_group=7).select("doc_id", "source")


@register(
    "curate_cap_per_source",
    oracle="""
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) WHERE rn <= 10
""",
    tags=("ext", "curation", "mixing"),
)
def curate_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document budget (data-mixing cap): keep the 10 longest
    docs per source, deterministic tie-break on doc_id — one shuffle on the
    group key, rank inside the window."""
    d = t(spark, sf_dir, "documents")
    return C.cap_per_group(d, n=10, group_col="source", order_col="n_chars").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@register(
    "curate_pack_sequences",
    oracle=f"""
WITH packed AS (
  SELECT source, doc_id,
         CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens,
         SUM(CAST(len({SQL_TOKS}) AS BIGINT)) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - CAST(len({SQL_TOKS}) AS BIGINT) AS start_off
  FROM documents
)
SELECT source, CAST(start_off // 2048 AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc
FROM packed GROUP BY 1, 2
""",
    tags=("ext", "curation", "packing"),
)
def curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: docs stream into 2048-token training
    bins per source (cumulative-sum window, exact integer division). The
    per-bin rollup pins both the running sum and the bin assignment."""
    d = t(spark, sf_dir, "documents")
    packed = C.pack_sequences(
        d, seq_len=2048, token_col=X.token_count("text"), group_col="source"
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    oracle=f"""
SELECT md5({SQL_NORM}) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
    tags=("ext", "dedup"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: survivor id + multiplicity per content hash."""
    return D.exact_dedup_groups(t(spark, sf_dir, "documents"))


@register(
    "neardup_jaccard_pairs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, n_inter,
       sa.n_sh + sb.n_sh - n_inter AS n_union,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
""",
    tags=("ext", "dedup"),
)
def neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-Jaccard near-dup pairs (≥0.30), integer-exact decision.
    The shingle equi-join bounds cost to pairs sharing a shingle — the
    exact-near-dup shape that still works when |docs|² doesn't."""
    return D.jaccard_pairs(t(spark, sf_dir, "documents"), threshold_pct=30)


@register(
    "neardup_prefix_filter_pairs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, n_inter,
       sa.n_sh + sb.n_sh - n_inter AS n_union,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE 100 * n_inter >= 60 * (sa.n_sh + sb.n_sh - n_inter)
""",
    tags=("ext", "dedup", "prefix-filter"),
)
def neardup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-Jaccard near-dup pairs (≥0.60) via PREFIX FILTERING —
    candidates come only from each doc's rarest ~40% of shingles under a
    global df-asc order, with a size-ratio prune, then full-set exact
    verification. ZERO recall loss (the oracle is the full exact join):
    the scale answer when LSH's probabilistic recall is not acceptable
    and the full shingle self-join's boilerplate fan-out is not payable
    (`operators/dedup.py:prefix_filter_pairs` has the proof and the
    cost argument)."""
    return D.prefix_filter_pairs(t(spark, sf_dir, "documents"), threshold_pct=60)


@register(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
), edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
), reach(id, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id
), comp AS (
  SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id
)
SELECT doc_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
FROM comp
""",
    tags=("ext", "dedup", "graph"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup CLUSTERS via iterative min-label connected
    components (transitive closure of the ≥0.30-Jaccard graph). The Spark
    side converges by distributed join+min rounds; the oracle is DuckDB's
    recursive CTE over the same pair set — an end-to-end check of an
    ITERATIVE distributed algorithm, not just one query shape."""
    from flink_dts_connector_spark.operators.graph import dedup_clusters

    pairs = D.jaccard_pairs(t(spark, sf_dir, "documents"), threshold_pct=30)
    return dedup_clusters(pairs)


@register(
    "dedup_minhash_lsh",
    oracle=SNAP.SNAPSHOT_DEDUP_MINHASH_LSH,
    tags=("ext", "dedup", "approx", "snapshot-oracle"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (shingle→minhash→band→bucket-join→verify).
    xxhash64-based — no native DuckDB twin, so the oracle is an SF-keyed
    SNAPSHOT (tools/gen_snapshots.py): the deterministic output pinned at
    every fixture SF after cross-validation against the exact-Jaccard and
    md5-LSH oracle-checked siblings; keyed by a content fingerprint of
    `documents`, 0 rows (loud vacuity) at any unpinned SF. The md5 variant
    below runs the same pipeline under a live step-for-step SQL twin."""
    return D.minhash_lsh_dedup_pairs(t(spark, sf_dir, "documents"), threshold_pct=50)


_MINHASH_MD5_MINS = ",\n         ".join(
    f"MIN(({2 * j + 1} * h + {1000003 * (j + 1)}) % 2147483647) AS m{j}" for j in range(16)
)
_MINHASH_BANDS_SQL = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, m{b * 4} AS r0, m{b * 4 + 1} AS r1, "
    f"m{b * 4 + 2} AS r2, m{b * 4 + 3} AS r3 FROM sig"
    for b in range(4)
)

#: Full md5 MinHash-LSH pipeline as SQL — the oracle of `dedup_minhash_md5`
#: AND of its streaming maintenance twin (`stream_minhash_maintenance`: the
#: union of per-wave probe pair sets must equal this batch pair set).
MINHASH_MD5_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), hb AS (
  SELECT doc_id, md5_number_lower(s) % 2147483647 AS h FROM sh
), sig AS (
  SELECT doc_id,
         {_MINHASH_MD5_MINS}
  FROM hb GROUP BY doc_id
), bands AS (
  {_MINHASH_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.r0 = b.r0 AND a.r1 = b.r1 AND a.r2 = b.r2 AND a.r3 = b.r3
   AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.a_id
  JOIN sh y ON y.doc_id = c.b_id AND y.s = x.s
  GROUP BY 1, 2
)
SELECT a_id, b_id, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n_sh + sb.n_sh - n_inter AS BIGINT) AS n_union,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE 100 * n_inter >= 50 * (sa.n_sh + sb.n_sh - n_inter)
"""


@register(
    "dedup_minhash_md5",
    oracle=MINHASH_MD5_ORACLE,
    tags=("ext", "dedup", "approx"),
)
def dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the md5 shingle hash and band-TUPLE equality — the
    complete approximate pipeline (16 affine min-hashes, 4 bands of 4,
    candidate join, exact-Jaccard verify ≥0.50) mirrored step-for-step in
    SQL via `md5_number_lower`: LSH itself under the rows+schema+hash gate."""
    return D.minhash_lsh_dedup_pairs_md5(t(spark, sf_dir, "documents"), threshold_pct=50)


@register(
    "dedup_minhash_probe",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), hb AS (
  SELECT doc_id, md5_number_lower(s) % 2147483647 AS h FROM sh
), sig AS (
  SELECT doc_id,
         {_MINHASH_MD5_MINS}
  FROM hb GROUP BY doc_id
), bands AS (
  {_MINHASH_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.r0 = b.r0 AND a.r1 = b.r1 AND a.r2 = b.r2 AND a.r3 = b.r3
   AND a.doc_id < b.doc_id
  WHERE a.doc_id % 13 = 0 OR b.doc_id % 13 = 0
), inter AS (
  SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.a_id
  JOIN sh y ON y.doc_id = c.b_id AND y.s = x.s
  GROUP BY 1, 2
)
SELECT a_id, b_id, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n_sh + sb.n_sh - n_inter AS BIGINT) AS n_union,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE 100 * n_inter >= 50 * (sa.n_sh + sb.n_sh - n_inter)
""",
    tags=("ext", "dedup", "approx", "incremental"),
)
def dedup_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup probe: docs with doc_id % 13 == 0 play the
    nightly delta; the rest of the corpus contributes only its
    MATERIALIZED band index + shingle store (state reused across runs,
    never recomputed). The probe joins delta bands against the index and
    itself, verifies with exact Jaccard, and must equal the FULL-corpus
    md5-LSH pair set restricted to delta-touching pairs — which is
    exactly what the oracle computes."""
    docs = t(spark, sf_dir, "documents")
    delta = docs.where(F.col("doc_id") % 13 == 0)
    old = docs.where(F.col("doc_id") % 13 != 0)
    index = D.minhash_band_index_md5(old)
    corpus_sh = D._shingled(old, "doc_id", "text", 3)
    return D.minhash_lsh_probe_md5(delta, index, corpus_sh, threshold_pct=50)


@register(
    "dedup_simhash",
    oracle=SNAP.SNAPSHOT_DEDUP_SIMHASH,
    tags=("ext", "dedup", "approx", "snapshot-oracle"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (banded Hamming≤8). Token hashing is JVM
    (xxhash64); sign aggregation uses the fastest measured path (vectorized
    numpy over Arrow batches — no Python loop, no shuffle), with codegen'd
    explode+sum and array-expression variants pinned bit-equal in
    tests/test_ext_ops.py. Oracle is an SF-keyed snapshot
    (tools/gen_snapshots.py): deterministic output pinned per fixture after
    popcount re-verification of every distance."""
    return D.simhash_neardup_pairs(t(spark, sf_dir, "documents"), max_distance=8)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

SQL_ANN_BASE = f"""
WITH q AS (
  SELECT vec_id AS query_id, {SQL_Q} AS qe, {{bucket}} AS qb
  FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 5000
), it AS (
  SELECT vec_id, {SQL_Q} AS ie, {{bucket}} AS ib FROM embeddings
), qn AS (
  SELECT query_id, qe, qb, CAST(list_sum(list_transform(qe, x -> x*x)) AS BIGINT) AS nq FROM q
), itn AS (
  SELECT vec_id, ie, ib, CAST(list_sum(list_transform(ie, x -> x*x)) AS BIGINT) AS ni FROM it
), flat_q AS (
  SELECT query_id, nq, qb, unnest(qe) AS x, generate_subscripts(qe, 1) AS i FROM qn
), flat_i AS (
  SELECT vec_id, ni, ib, unnest(ie) AS x, generate_subscripts(ie, 1) AS i FROM itn
), dots AS (
  SELECT query_id, vec_id, CAST(SUM(fq.x * fi.x) AS BIGINT) AS dot,
         ANY_VALUE(nq) AS nq, ANY_VALUE(ni) AS ni
  FROM flat_q fq JOIN flat_i fi ON fq.i = fi.i {{bucket_cond}}
  WHERE query_id <> vec_id
  GROUP BY query_id, vec_id
), scored AS (
  SELECT query_id, vec_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(ni AS DOUBLE)) AS score
  FROM dots
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register(
    "ann_topk_bruteforce",
    oracle=SQL_ANN_BASE.format(bucket="0", bucket_cond=""),
    tags=("ext", "similarity"),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the FIXED query set (vec_id % 100 = 0, capped
    below 5000 — the whole set at sf ≤ 0.1, a constant 50-query workload
    beyond, so the scan is linear in corpus; r11 sf1 bench) —
    quantized-integer scoring, broadcast query side."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(e, q, k=5)


@register(
    "search_rag_hydrated_topk",
    oracle=f"""
WITH ann AS ({SQL_ANN_BASE.format(bucket="0", bucket_cond="")})
SELECT ann.query_id, ann.vec_id, ann.score, ann.rank,
       d.source, d.lang, d.n_chars,
       ROW_NUMBER() OVER (PARTITION BY ann.query_id
                          ORDER BY ann.score DESC, ann.vec_id) AS final_rank
FROM ann JOIN documents d ON d.doc_id = ann.vec_id
WHERE d.n_chars >= 200
""",
    tags=("ext", "search", "similarity", "rag"),
)
def search_rag_hydrated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG serving composition: ANN top-5 candidates → METADATA HYDRATION
    (join the documents table on the shared id) → quality gate
    (n_chars ≥ 200 — short snippets are poor context) → per-query
    re-rank of the survivors. This is the retrieval shape every
    RAG/serving pipeline runs: the vector index returns ids, the corpus
    table supplies the payload and the filters, and the final rank is
    over what survives hydration. Scale: the candidate set is
    queries × k rows (tiny — it BROADCASTS into the documents join, so
    hydration is a pruned probe of the corpus, never a shuffle of it);
    the exact-cosine scorer inherits `ann_topk_bruteforce`'s
    quantized-integer determinism."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = S.brute_force_topk(e, q, k=5)
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source", "lang", "n_chars"
    )
    hydrated = docs.join(F.broadcast(cand), "vec_id").where(F.col("n_chars") >= 200)
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return hydrated.select(
        "query_id",
        "vec_id",
        "score",
        "rank",
        "source",
        "lang",
        "n_chars",
        F.row_number().over(w).cast("bigint").alias("final_rank"),
    )


@register(
    "ann_topk_lsh",
    oracle=SQL_ANN_BASE.format(bucket=f"({SQL_BUCKET})", bucket_cond="AND fq.qb = fi.ib"),
    tags=("ext", "similarity", "approx"),
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5: candidates limited to the query's sign-bit
    bucket, exact scorer on survivors. The bucketing rule is deterministic,
    so even this approximate path has a full DuckDB oracle."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_topk(e, q, k=5)


@register(
    "ann_topk_lsh_multiprobe",
    oracle=SQL_ANN_BASE.format(
        bucket=f"({SQL_BUCKET})",
        bucket_cond="AND bit_count(xor(CAST(fq.qb AS BIGINT), CAST(fi.ib AS BIGINT))) <= 1",
    ),
    tags=("ext", "similarity", "approx"),
)
def ann_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN top-5: each query probes its own bucket plus
    all 6 Hamming-1 neighbor buckets (7 probes at 6 bits) — recovers the
    near-boundary neighbors single-probe misses while keeping the equi-join
    shape (probe expansion happens on the broadcast query side). Oracle:
    candidate rule is exactly bit_count(qb XOR ib) <= 1, so DuckDB mirrors
    the whole cascade."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_multiprobe_topk(e, q, k=5)


@register(
    "ann_topk_pq",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, {SQL_Q} AS qe FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 5000
), it AS (
  SELECT vec_id, {SQL_Q} AS ie FROM embeddings
), seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, ce FROM (
    SELECT vec_id, {SQL_Q} AS ce FROM embeddings ORDER BY vec_id LIMIT 16
  )
), subs AS (SELECT unnest(range(8)) AS sub),
dims AS (SELECT unnest(range(1, 9)) AS i),
cb AS (
  SELECT s.code, m.sub, d.i, s.ce[m.sub * 8 + d.i] AS c
  FROM seeds s, subs m, dims d
), itv AS (
  SELECT it.vec_id, m.sub, d.i, it.ie[m.sub * 8 + d.i] AS x
  FROM it, subs m, dims d
), dist AS (
  SELECT itv.vec_id, itv.sub, cb.code,
         SUM((itv.x - cb.c) * (itv.x - cb.c)) AS d2
  FROM itv JOIN cb ON itv.sub = cb.sub AND itv.i = cb.i
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM dist
  ) WHERE rn = 1
), qv AS (
  SELECT q.query_id, m.sub, d.i, q.qe[m.sub * 8 + d.i] AS xq
  FROM q, subs m, dims d
), lut AS (
  SELECT qv.query_id, qv.sub, cb.code, SUM(qv.xq * cb.c) AS dot
  FROM qv JOIN cb ON qv.sub = cb.sub AND qv.i = cb.i
  GROUP BY 1, 2, 3
), approx AS (
  SELECT l.query_id, c.vec_id, SUM(l.dot) AS adot
  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
  WHERE l.query_id <> c.vec_id
  GROUP BY 1, 2
), cands AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rn
    FROM approx
  ) WHERE rn <= 50
), qn AS (
  SELECT query_id, qe, CAST(list_sum(list_transform(qe, x -> x*x)) AS BIGINT) AS nq FROM q
), itn AS (
  SELECT vec_id, ie, CAST(list_sum(list_transform(ie, x -> x*x)) AS BIGINT) AS ni FROM it
), flat_q AS (
  SELECT query_id, nq, unnest(qe) AS x, generate_subscripts(qe, 1) AS i FROM qn
), flat_i AS (
  SELECT vec_id, ni, unnest(ie) AS x, generate_subscripts(ie, 1) AS i FROM itn
), dots AS (
  SELECT fq.query_id, fi.vec_id, CAST(SUM(fq.x * fi.x) AS BIGINT) AS dot,
         ANY_VALUE(nq) AS nq, ANY_VALUE(ni) AS ni
  FROM cands cd
  JOIN flat_q fq ON fq.query_id = cd.query_id
  JOIN flat_i fi ON fi.vec_id = cd.vec_id AND fi.i = fq.i
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, vec_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(ni AS DOUBLE)) AS score
  FROM dots
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    tags=("ext", "similarity", "approx"),
)
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-5: deterministic 8×16 codebooks (seed
    vectors, no training), L2 encoding to 8 code bytes per vector, ADC
    approximate scan (Σ per-subspace LUT lookups), top-50 shortlist, exact
    quantized-cosine rerank. Exact integer arithmetic end-to-end, so the
    whole five-stage cascade — codebooks, encoding argmin, LUTs,
    shortlist, rerank — has a live step-for-step DuckDB oracle."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.pq_topk(e, q, k=5)


@register(
    "ann_topk_sq8",
    oracle=f"""
WITH it AS (
  SELECT vec_id, {SQL_Q} AS ie FROM embeddings
), flat AS (
  SELECT vec_id, unnest(ie) AS x, generate_subscripts(ie, 1) AS i FROM it
), dims AS (
  SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM flat GROUP BY i
), rec AS (
  SELECT f.vec_id, f.i,
         CASE WHEN d.mx = d.mn THEN d.mn
              ELSE d.mn + ((((f.x - d.mn) * 510 + (d.mx - d.mn)) // (2 * (d.mx - d.mn)))
                           * (d.mx - d.mn) * 2 + 255) // 510
         END AS r
  FROM flat f JOIN dims d USING (i)
), recv AS (
  SELECT vec_id, array_agg(r ORDER BY i) AS re FROM rec GROUP BY vec_id
), q AS (
  SELECT vec_id AS query_id, {SQL_Q} AS qe FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 5000
), scored AS (
  SELECT q.query_id, r.vec_id,
         CAST(list_dot_product(q.qe, r.re) AS BIGINT) AS dot,
         CAST(list_dot_product(q.qe, q.qe) AS BIGINT) AS qn,
         CAST(list_dot_product(r.re, r.re) AS BIGINT) AS rn
  FROM q JOIN recv r ON r.vec_id <> q.query_id
), cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(rn AS DOUBLE)) DESC,
                      vec_id) AS prank
    FROM scored
  ) WHERE prank <= 20
), rer AS (
  SELECT c.query_id, c.vec_id,
         CAST(list_dot_product(q.qe, i.ie) AS BIGINT) AS dot,
         CAST(list_dot_product(q.qe, q.qe) AS BIGINT) AS qn,
         CAST(list_dot_product(i.ie, i.ie) AS BIGINT) AS xn
  FROM cand c JOIN q ON q.query_id = c.query_id JOIN it i ON i.vec_id = c.vec_id
)
SELECT query_id, vec_id,
       CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(xn AS DOUBLE)) AS score,
       rank
FROM (
  SELECT query_id, vec_id, dot, qn, xn,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(xn AS DOUBLE)) DESC,
                    vec_id) AS BIGINT) AS rank
  FROM rer
) WHERE rank <= 5
""",
    tags=("ext", "similarity", "approx"),
)
def ann_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10, ANN member #5: SQ8 scalar quantization (FAISS ScalarQuantizer
    shape) — per-dimension (min, max) trained in one pass, vectors stored
    as 8-bit levels, ASYMMETRIC scoring (full-precision query vs
    reconstructed items), exact top-20→top-5 rerank. Encode and
    reconstruct are integer half-up roundings, so the oracle reproduces
    every code, both rankings, and the final scores bit-exactly
    (`operators/similarity.py::sq8_topk`). Completes the quantization
    family: sign-LSH / IVF / PQ / IVF-PQ / SQ8."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.sq8_topk(e, q, k=5, pool=20)


@register(
    "ann_topk_ivf_trained",
    oracle=SNAP.SNAPSHOT_ANN_TOPK_IVF_TRAINED,
    tags=("ext", "similarity", "approx", "iterative", "snapshot-oracle"),
)
def ann_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with k-means-TRAINED centroids (Lloyd's, 3 rounds, cosine
    assignment, deterministic quantized updates) instead of arbitrary seed
    rows — the full train→index→probe→rerank pipeline. Iterative training
    has no live SQL twin, so the oracle is an SF-keyed snapshot
    (tools/gen_snapshots.py) pinned after recall-vs-bruteforce
    cross-validation; centroid determinism, objective improvement, and
    recall are additionally pytest-pinned."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = S.kmeans_centroids(e, k=13, n_iter=3)
    return S.ivf_topk(e, q, centroids, k=5, nprobe=3)


@register(
    "neardup_cosine_pairs",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, {SQL_Q} AS qe FROM embeddings
), n AS (
  SELECT vec_id, label, qe, CAST(list_sum(list_transform(qe, x -> x*x)) AS BIGINT) AS nrm FROM e
), flat AS (
  SELECT vec_id, label, nrm, unnest(qe) AS x, generate_subscripts(qe, 1) AS i FROM n
), dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, CAST(SUM(a.x * b.x) AS BIGINT) AS dot,
         ANY_VALUE(a.nrm) AS na, ANY_VALUE(b.nrm) AS nb
  FROM flat a JOIN flat b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS score
FROM dots
WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.35
""",
    tags=("ext", "dedup", "similarity"),
)
def neardup_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all pairs within a label block scoring
    ≥0.35. r13 pair-stage work argument (closes the r12 quadratic flag —
    ×73 wall on ×25 data): labels are a FIXED 10-value vocabulary so blocks
    grow linearly with the corpus; `cosine_pairs` now sub-chunks each block
    into ceil(|block|/256) locality chunks, prunes chunk pairs with a
    provably-complete spherical-triangle bound, and scores survivors with
    an exact float64 tile GEMM — per-task work is O(256²·d) forever, pair
    enumeration runs at BLAS rate, and the output stays bit-identical
    (measured r13: sf0.1→sf1 wall ×0.8 on ×25 embedding rows, was ×73)."""
    return S.cosine_pairs(t(spark, sf_dir, "embeddings"), block_col="label", threshold=0.35)


@register(
    "dedup_embedding_components",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT vec_id, label, {SQL_Q} AS qe FROM embeddings
), n AS (
  SELECT vec_id, label, qe, CAST(list_sum(list_transform(qe, x -> x*x)) AS BIGINT) AS nrm FROM e
), dots AS (
  -- r10: list_dot_product on the pair join instead of unnest+regroup —
  -- 64x fewer intermediate rows, which is what let the sf1 oracle finish
  -- inside the budget. Exact: quantized |x| <= ~5.3e5, dim 64 => every
  -- partial double sum stays under 2^53, so the BIGINT cast is lossless.
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         CAST(list_dot_product(a.qe, b.qe) AS BIGINT) AS dot,
         a.nrm AS na, b.nrm AS nb
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
), pairs AS (
  SELECT a_id, b_id FROM dots
  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.35
), edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
), reach(id, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e2.v, r.comp FROM reach r JOIN edges e2 ON e2.u = r.id
), comp AS (
  SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id
)
SELECT doc_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
FROM comp
""",
    tags=("ext", "dedup", "similarity", "graph"),
)
def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup clusters: cosine near-dup pairs (≥0.35,
    label-blocked, exact quantized-int scoring) closed under transitivity
    by the same iterative components operator — the semantic-dedup
    composition a corpus pipeline runs after lexical dedup. r13: consumes
    the tiled-GEMM pair stage (see `neardup_cosine_pairs` / the
    `cosine_pairs` docstring), which killed the r12 ×41-on-×25 quadratic;
    the component closure is a function of the exact pair set, so the
    output is unchanged bit-for-bit."""
    from flink_dts_connector_spark.operators.graph import dedup_clusters

    pairs = S.cosine_pairs(t(spark, sf_dir, "embeddings"), block_col="label", threshold=0.35)
    return dedup_clusters(pairs)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode_features",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(string_split(text, ''), c -> ord(c))) AS BIGINT) AS byte_sum,
       CAST(list_sum(list_transform(string_split(text, ''), c -> ord(c))) AS DOUBLE)
         / octet_length(encode(text)) AS byte_mean
FROM documents
""",
    tags=("ext", "multimodal"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: text → opaque media bytes + meta
    struct → Arrow-batched fake decode → feature rows. (Oracle works because
    the corpus is ASCII: UTF-8 byte sum == codepoint sum.)"""
    media = M.attach_media(
        t(spark, sf_dir, "documents"), rows=table_rows(sf_dir, "documents")
    )
    return M.decode_media(media)


@register(
    "multimodal_frame_plan",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) * 40 AS BIGINT) AS duration_ms,
       CAST(unnest(generate_series(0, octet_length(encode(text)) * 40 - 1, 1000)) AS BIGINT) AS frame_ms
FROM documents
""",
    tags=("ext", "multimodal"),
)
def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only frame-sampling plan (1 row per sampled frame) — never
    touches the payload column (the laziness contract for media bytes)."""
    media = M.attach_media(
        t(spark, sf_dir, "documents"), rows=table_rows(sf_dir, "documents")
    )
    return M.frame_sample_plan(media, every_ms=1000)


@register(
    "multimodal_resize_plan",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) % 640 AS BIGINT) AS w,
         CAST(octet_length(encode(text)) % 480 AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, w AS width, h AS height,
       CASE WHEN w <= 0 OR h <= 0 OR (w <= 256 AND h <= 192) THEN w
            WHEN w * 192 >= h * 256 THEN 256
            ELSE (w * 192) // h END AS out_width,
       CASE WHEN w <= 0 OR h <= 0 OR (w <= 256 AND h <= 192) THEN h
            WHEN w * 192 >= h * 256 THEN (h * 256) // w
            ELSE 192 END AS out_height,
       NOT (w <= 256 AND h <= 192) AND w > 0 AND h > 0 AS scaled
FROM dims
""",
    tags=("ext", "multimodal"),
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving fit-in-box resize planning (256×192, never
    upscale) over metadata only — integer cross-multiplication picks the
    binding dimension, integer division sizes the other, so both engines
    agree exactly; degenerate (zero) dims pass through flagged unscaled."""
    media = M.attach_media(
        t(spark, sf_dir, "documents"), rows=table_rows(sf_dir, "documents")
    )
    return M.resize_plan(media, max_w=256, max_h=192)


SQL_IVF = f"""
WITH itq AS (
  SELECT vec_id, {SQL_Q} AS e FROM embeddings
), n AS (
  SELECT vec_id, e, CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm FROM itq
), c AS (
  SELECT vec_id AS cid, e AS ce, nrm AS cn FROM n WHERE vec_id % 37 = 3 AND vec_id < 5000
), flat_n AS (
  SELECT vec_id, nrm, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM n
), flat_c AS (
  SELECT cid, cn, unnest(ce) AS x, generate_subscripts(ce, 1) AS i FROM c
), ic AS (
  SELECT f.vec_id, fc.cid, CAST(SUM(f.x * fc.x) AS BIGINT) AS dot,
         ANY_VALUE(f.nrm) AS ni, ANY_VALUE(fc.cn) AS cn
  FROM flat_n f JOIN flat_c fc ON f.i = fc.i
  GROUP BY 1, 2
), ic_scored AS (
  SELECT vec_id, cid,
         CAST(dot AS DOUBLE) / sqrt(CAST(ni AS DOUBLE) * CAST(cn AS DOUBLE)) AS s
  FROM ic
), assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM ic_scored
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM ic_scored WHERE vec_id % 100 = 0 AND vec_id < 5000
  ) WHERE rn <= 3
), cand AS (
  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
), pair_scores AS (
  SELECT cd.query_id, cd.vec_id, CAST(SUM(fa.x * fb.x) AS BIGINT) AS dot,
         ANY_VALUE(fa.nrm) AS nq, ANY_VALUE(fb.nrm) AS ni
  FROM cand cd
  JOIN flat_n fa ON fa.vec_id = cd.query_id
  JOIN flat_n fb ON fb.vec_id = cd.vec_id AND fb.i = fa.i
  GROUP BY 1, 2
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(ni AS DOUBLE)) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(ni AS DOUBLE)) DESC, vec_id
         ) AS rank
  FROM pair_scores
) WHERE rank <= 5
"""


@register("ann_topk_ivf", oracle=SQL_IVF, tags=("ext", "similarity", "approx"))
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: coarse quantizer = deterministic seed vectors
    (vec_id % 37 == 3, capped below 5000 → fixed nlist), nprobe=3 cells
    per query, exact rerank within.
    The whole cascade — cell argmax, probe selection, rerank — is exact
    quantized-integer math, so even this approximate index has a full
    DuckDB oracle; recall vs brute force is pinned in tests/test_ext_ops.py."""
    e = t(spark, sf_dir, "embeddings")
    centroids = e.where((F.col("vec_id") % 37 == 3) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(e, q, centroids, k=5, nprobe=3)


@register(
    "text_top_terms_by_source",
    oracle=f"""
WITH counts AS (
  SELECT source, token, COUNT(*) AS n
  FROM (SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents)
  GROUP BY source, token
)
SELECT source, token, n, rnk FROM (
  SELECT source, token, n,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token) AS rnk
  FROM counts
) WHERE rnk <= 5
""",
    tags=("ext", "text", "topk"),
)
def text_top_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: top-5 tokens per source by frequency
    (explode → count → windowed top-k; integer counts with token tiebreak
    keep the set deterministic). The vocabulary-profile op every corpus
    pipeline runs before filtering."""
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(X.tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 5)
    )


@register(
    "search_fuzzy_terms",
    oracle=f"""
WITH vocab AS (
  SELECT token AS term, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT unnest({SQL_TOKS}) AS token FROM documents)
  GROUP BY token
), ranked AS (
  SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rnk
  FROM vocab WHERE length(term) >= 5
), q AS (
  SELECT DISTINCT concat(substring(term, 1, (length(term) + 1) // 2 - 1),
                         substring(term, (length(term) + 1) // 2 + 1, length(term))) AS q
  FROM ranked WHERE rnk <= 50
)
SELECT q.q, v.term, CAST(levenshtein(q.q, v.term) AS BIGINT) AS dist, v.df
FROM q CROSS JOIN vocab v
WHERE levenshtein(q.q, v.term) <= 1
""",
    tags=("ext", "search", "fuzzy"),
)
def search_fuzzy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance ≤ 1) term matching via SymSpell-style DELETION
    NEIGHBORHOODS — the scale answer to spell-correction/fuzzy search,
    where the naive plan is queries × vocabulary levenshtein (the oracle
    does exactly that, so the equi-join path is verified against brute
    force). Each side expands to {{identity}} ∪ {{one-char deletions}} and
    candidates come from an EQUI-JOIN on the deletion key; exact recall
    for dist ≤ 1: substitution at i → del_i matches del_i; insertion →
    the query IS a deletion of the term; deletion → the term IS a
    deletion of the query. Survivors are verified with levenshtein, so
    false candidates (different edits colliding on a key) are removed.

    Query terms are derived deterministically from the corpus: the top-50
    tokens by (df desc, token) with length ≥ 5, each "misspelled" by
    dropping its middle character. Scale: the vocab side grows by ~avg
    token length (linear), the join shuffles on short string keys, and
    query neighborhoods broadcast — never a cross join in the plan."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    vocab = (
        d.select(F.explode(X.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    mid = "(length(term) + 1) div 2"
    qterms = (
        vocab.where(F.length("term") >= 5)
        .withColumn("rnk", F.row_number().over(W.orderBy(F.desc("df"), F.asc("term"))))
        .where(F.col("rnk") <= 50)
        .select(
            F.expr(
                f"concat(substring(term, 1, {mid} - 1), "
                f"substring(term, {mid} + 1, length(term))) AS q"
            )
        )
        .distinct()
    )

    def dkeys(col: str) -> str:
        return (
            f"array_union(array({col}), transform(sequence(1, length({col})), "
            f"i -> concat(substring({col}, 1, i - 1), "
            f"substring({col}, i + 1, length({col})))))"
        )

    vkeys = vocab.select(
        "term", "df", F.explode(F.expr(dkeys("term"))).alias("k")
    )
    qkeys = qterms.select("q", F.explode(F.expr(dkeys("q"))).alias("k"))
    return (
        vkeys.join(F.broadcast(qkeys), "k")
        .select("q", "term", "df")
        .distinct()
        .withColumn("dist", F.levenshtein("q", "term").cast("bigint"))
        .where(F.col("dist") <= 1)
        .select("q", "term", "dist", "df")
    )


@register(
    "events_funnel_view_to_purchase",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS first_view FROM events WHERE event_type = 'view' GROUP BY user_id
), p AS (
  SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id, v.first_view,
       COUNT(p.p_ts) AS purchases_after_view,
       MIN(p.p_ts) AS first_purchase_after_view
FROM v LEFT JOIN p ON p.user_id = v.user_id AND p.p_ts > v.first_view
               AND epoch_us(p.p_ts) <= epoch_us(v.first_view) + 86400000000
GROUP BY v.user_id, v.first_view
""",
    tags=("ext", "events", "funnel"),
)
def events_funnel_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel/sequence analytics: per user, purchases within 24 h after
    their first view (bounded-window conversion). One aggregation per side
    + a conditional left join — no per-event state; non-converters survive
    through the left join with count 0."""
    ev = t(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    return (
        v.join(
            p,
            (v.user_id == F.col("p_uid"))
            & (F.col("p_ts") > F.col("first_view"))
            & (
                F.unix_micros(F.col("p_ts"))
                <= F.unix_micros(F.col("first_view")) + 86_400_000_000
            ),
            "left",
        )
        .groupBy("user_id", "first_view")
        .agg(
            F.count("p_ts").alias("purchases_after_view"),
            F.min("p_ts").alias("first_purchase_after_view"),
        )
    )


# ---------------------------------------------------------------------------
# Round-3 additions: repetition quality signals + benchmark decontamination
# ---------------------------------------------------------------------------


@register(
    "text_repetition_metrics",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), tokstats AS (
  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT w) AS n_distinct_tokens
  FROM toks GROUP BY 1
), g2 AS (
  SELECT doc_id, w || ' ' || LEAD(w,1) OVER w1 AS g
  FROM toks WINDOW w1 AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w,1) OVER w1 IS NOT NULL
), g2per AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2
), g2stats AS (
  SELECT doc_id, MAX(c) AS top_2gram_count, CAST(SUM(c) AS BIGINT) AS n_2grams
  FROM g2per GROUP BY 1
), g5 AS (
  SELECT doc_id,
         w || ' ' || LEAD(w,1) OVER w1 || ' ' || LEAD(w,2) OVER w1
           || ' ' || LEAD(w,3) OVER w1 || ' ' || LEAD(w,4) OVER w1 AS g
  FROM toks WINDOW w1 AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w,4) OVER w1 IS NOT NULL
), g5stats AS (
  SELECT doc_id, COUNT(*) AS n_5grams, COUNT(DISTINCT g) AS n_distinct_5grams
  FROM g5 GROUP BY 1
)
SELECT t.doc_id, t.n_tokens, t.n_distinct_tokens,
       CASE WHEN t.n_tokens > 0
            THEN CAST(t.n_tokens - t.n_distinct_tokens AS DOUBLE) / t.n_tokens END
         AS dup_token_frac,
       COALESCE(f.n_5grams, 0) AS n_5grams,
       COALESCE(f.n_distinct_5grams, 0) AS n_distinct_5grams,
       CASE WHEN f.n_5grams > 0
            THEN CAST(f.n_5grams - f.n_distinct_5grams AS DOUBLE) / f.n_5grams END
         AS dup_5gram_frac,
       COALESCE(b.n_2grams, 0) AS n_2grams,
       COALESCE(b.top_2gram_count, 0) AS top_2gram_count,
       CASE WHEN b.n_2grams > 0
            THEN CAST(b.top_2gram_count AS DOUBLE) / b.n_2grams END AS top_2gram_frac
FROM tokstats t
LEFT JOIN g2stats b USING (doc_id)
LEFT JOIN g5stats f USING (doc_id)
""",
    tags=("ext", "text", "quality"),
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filters (duplicate-token
    fraction, top-2-gram fraction, duplicate-5-gram fraction) — the
    standard degenerate-text signals for LLM corpus curation, exact
    integer counts + one double division each."""
    return X.repetition_metrics(t(spark, sf_dir, "documents"))


@register(
    "curate_decontaminate",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER w1 || ' ' || LEAD(w,2) OVER w1
           || ' ' || LEAD(w,3) OVER w1 || ' ' || LEAD(w,4) OVER w1
           || ' ' || LEAD(w,5) OVER w1 || ' ' || LEAD(w,6) OVER w1 AS s
  FROM toks WINDOW w1 AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w,6) OVER w1 IS NOT NULL
), probe AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0
)
SELECT DISTINCT d.doc_id, d.source
FROM sh JOIN probe USING (s) JOIN documents d USING (doc_id)
""",
    tags=("ext", "curation", "decontamination"),
)
def curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram collision, n=7 on the
    fixtures): corpus docs sharing any word 7-gram with the probe set
    (every 37th document, standing in for a benchmark suite). The probe's
    distinct n-grams broadcast; the corpus side never shuffles."""
    docs = t(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 37 == 0)
    hits = C.contaminated_ids(docs, probe, n=7)
    return hits.join(docs.select("doc_id", "source"), "doc_id").select("doc_id", "source")


from flink_dts_connector_spark.operators.text import PII_PATTERNS as _PII

_PII_AUG_SQL = (
    "text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com"
    " from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17 tel +1-555-123-4567'"
)
_PII_REDACT_SQL = "a"
for _name, _pat, _repl in _PII:
    _PII_REDACT_SQL = f"regexp_replace({_PII_REDACT_SQL}, '{_pat}', '{_repl}', 'g')"
_PII_COUNT_SQL = ",\n       ".join(
    f"CAST(len(regexp_extract_all(a, '{_pat}')) AS BIGINT) AS n_{_name}"
    for _name, _pat, _repl in _PII
)


@register(
    "text_pii_redaction",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, {_PII_AUG_SQL} AS a FROM documents
)
SELECT doc_id,
       {_PII_COUNT_SQL},
       md5({_PII_REDACT_SQL}) AS redacted_md5
FROM aug
""",
    tags=("ext", "text", "pii"),
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails/IPv4/phones → typed placeholders) — the
    corpus-sanitization pass every training pipeline runs before tokenizing.
    The fixtures carry no PII, so the query first injects deterministic
    doc_id-derived PII into every document (identically in the oracle),
    then pins pattern counts AND the md5 of the fully redacted text.
    Chained JVM regexp_replace in the Java-regex ∩ RE2 subset, pipelined in
    the scan — no shuffle, no Python."""
    aug = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".17 tel +1-555-123-4567"),
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        *[c for c in X.pii_counts(aug)],
        F.md5(F.encode(X.redact_pii(aug), "UTF-8")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Round-3 additions (wave 2): budget selection, mixing, sharding, retention
# ---------------------------------------------------------------------------

_NON_ALNUM_SQL = "(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')))"


@register(
    "curate_token_budget",
    oracle=f"""
WITH q AS (
  SELECT doc_id, source,
         CAST(2 * len({SQL_TOKS}) - {_NON_ALNUM_SQL} AS BIGINT) AS score,
         CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), w AS (
  SELECT *,
         SUM(n_tokens) OVER (
             ORDER BY score DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS tok_before,
         (SUM(n_tokens) OVER () * 60) // 100 AS budget
  FROM q
)
SELECT doc_id, source, score, n_tokens FROM w WHERE tok_before < budget
""",
    tags=("ext", "curation", "selection"),
)
def curate_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget cut: keep the best-scoring docs (integer
    quality score DESC) until 60% of the corpus's tokens are taken — the
    final selection step of a mixing recipe. The oracle is the naive global
    window; the engine's two-phase plan (per-score bucket totals → boundary
    bucket only gets a window) produces the identical set WITHOUT a global
    sort — the difference between "sort 100 TB" and "sort |distinct
    scores| rows"."""
    # r14 single-row-group guard (the `_spread` idiom): the tokenize +
    # regexp scoring projection runs upstream of any exchange, and
    # `token_budget_select` consumes the scored frame TWICE (per-score
    # totals + the kept-docs join) — an under-split scan paid the serial
    # scoring twice (r14 job drill: 0.42 s 1-task + 0.38 s legs). One
    # conditional hash repartition spreads the scoring AND gives both
    # consumers an identical Exchange subtree for ReuseExchange.
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target, "doc_id")
    toks = X.token_count("text")
    non_alnum = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9]", "")
    )
    scored = docs.select(
        "doc_id",
        "source",
        (F.lit(2) * toks - non_alnum).cast("bigint").alias("score"),
        toks.alias("n_tokens"),
    )
    return C.token_budget_select(scored, 60, "score", "n_tokens")


_MIX_WEIGHTS = {"src0": 5, "src1": 3, "src2": 2}
_MIX_CASE = " ".join(f"WHEN '{s}' THEN {w}" for s, w in _MIX_WEIGHTS.items())
_MIX_IN = ", ".join(f"'{s}'" for s in _MIX_WEIGHTS)


@register(
    "curate_mixture_resample",
    oracle=f"""
WITH avail AS (
  SELECT source, COUNT(*) AS a, CASE source {_MIX_CASE} END AS w
  FROM documents WHERE source IN ({_MIX_IN}) GROUP BY source
), b AS (
  SELECT a AS ab, w AS wb FROM avail
  ORDER BY CAST(a AS DOUBLE) / w, a, w LIMIT 1
), quota AS (
  SELECT source, (w * ab) // wb AS take FROM avail, b
)
SELECT d.doc_id, d.source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents WHERE source IN ({_MIX_IN})
) d JOIN quota q ON d.source = q.source WHERE d.rn <= q.take
""",
    tags=("ext", "curation", "mixing"),
)
def curate_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling to target weights web:code:books = 5:3:2
    (src0/src1/src2 standing in): the binding domain is kept whole, every
    other domain is down-sampled to its exact integer quota in md5-hash
    order — deterministic across engines AND partitionings, the property
    rng sampling cannot give a reproducible data recipe."""
    d = t(spark, sf_dir, "documents")
    return C.mixture_resample(d, _MIX_WEIGHTS).select("doc_id", "source")


@register(
    "curate_shard_manifest",
    oracle=f"""
SELECT CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 16 AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY 1
""",
    tags=("ext", "curation", "sharding"),
)
def curate_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding + write manifest: docs hash into 16
    shards (md5 low-64, engine-mirrorable), manifest = per-shard doc/token/
    byte totals — the balance check before `.repartition(n, shard_id)
    .write`. Narrow projection + one agg; the manifest IS the shuffle plan
    for the output layout, and rerunning the pipeline reproduces byte-
    identical shard membership."""
    d = C.shard_assign(t(spark, sf_dir, "documents"), n_shards=16)
    return d.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count("text")).alias("n_tokens"),
        F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
), edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
), reach(id, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id
), comp AS (
  SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id
), sized AS (
  SELECT doc_id, component,
         CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
  FROM comp
)
SELECT component, doc_id AS keep_id, keep_quality, n_members FROM (
  SELECT s.component, s.doc_id, CAST(d.n_chars AS BIGINT) AS keep_quality,
         s.n_members,
         row_number() OVER (
           PARTITION BY s.component ORDER BY d.n_chars DESC, s.doc_id
         ) AS rn
  FROM sized s JOIN documents d USING (doc_id)
) WHERE rn = 1
""",
    tags=("ext", "dedup", "graph"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup retention policy: per near-dup cluster (transitive closure of
    the ≥0.30-Jaccard graph), keep the HIGHEST-quality member (longest
    text, ties to smallest id) instead of the arbitrary min-id — what a
    production corpus pipeline actually ships. Iterative components + one
    map-side-combinable `max_by` argmax; only duplicate docs shuffle."""
    from flink_dts_connector_spark.operators.graph import (
        dedup_clusters,
        keep_best_per_cluster,
    )

    docs = t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold_pct=30)
    clusters = dedup_clusters(pairs)
    quality = docs.select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    return keep_best_per_cluster(clusters, quality, "n_chars")


@register(
    "curate_pipeline_manifest",
    oracle=f"""
WITH gated AS (
  SELECT doc_id, text, n_chars FROM documents
  WHERE len({SQL_TOKS}) >= 20
    AND {_NON_ALNUM_SQL} * 10 < length(text) * 3
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5({SQL_NORM})
), deduped AS (
  SELECT g.* FROM gated g JOIN keep USING (doc_id)
), ctoks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM deduped
), csh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER w1 || ' ' || LEAD(w,2) OVER w1
           || ' ' || LEAD(w,3) OVER w1 || ' ' || LEAD(w,4) OVER w1
           || ' ' || LEAD(w,5) OVER w1 || ' ' || LEAD(w,6) OVER w1 AS s
  FROM ctoks WINDOW w1 AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w,6) OVER w1 IS NOT NULL
), ptoks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents WHERE doc_id % 37 = 0
), psh AS (
  SELECT DISTINCT
         w || ' ' || LEAD(w,1) OVER w1 || ' ' || LEAD(w,2) OVER w1
           || ' ' || LEAD(w,3) OVER w1 || ' ' || LEAD(w,4) OVER w1
           || ' ' || LEAD(w,5) OVER w1 || ' ' || LEAD(w,6) OVER w1 AS s
  FROM ptoks WINDOW w1 AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w,6) OVER w1 IS NOT NULL
), contaminated AS (
  SELECT DISTINCT doc_id FROM csh JOIN psh USING (s)
), clean AS (
  SELECT * FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 16 AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM clean GROUP BY 1
""",
    tags=("ext", "curation", "pipeline"),
)
def curate_pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus pipeline in one declarative plan: quality gate
    (integer-exact length + punctuation predicates, pipelined into the
    scan) → content-exact dedup (min-id survivor per fingerprint, one
    fingerprint shuffle) → benchmark decontamination (7-gram collision vs
    a broadcast probe set) → deterministic 16-way shard manifest. What a
    user actually runs nightly; every stage is the already-oracled
    operator, and the composed oracle checks the whole dataflow — filters
    compose, dedup survivors feed decontamination, the manifest reflects
    only clean docs."""
    docs = t(spark, sf_dir, "documents")
    toks = X.token_count("text")
    chars = F.length("text").cast("bigint")
    non_alnum = chars - F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9]", ""))
    gated = docs.where((toks >= 20) & (non_alnum * 10 < chars * 3)).select(
        "doc_id", "text", "n_chars"
    )
    deduped = D.dedup_exact(gated)
    probe = docs.where(F.col("doc_id") % 37 == 0).select("text")
    clean = C.decontaminate(deduped, probe, n=7)
    return C.shard_assign(clean, n_shards=16).groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count("text")).alias("n_tokens"),
        F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
    )


@register(
    "skew_salted_join_revenue",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)), 2) AS DOUBLE)
         AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
    tags=("ext", "skew", "join", "dec2"),
)
def skew_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation under the driver gate: the lineitem⋈orders join runs
    through `salted_join` (hot keys spread across 8 salt replicas, the
    explicit fallback for skew AQE can't split) and must produce results
    row-identical to the plain join — the oracle IS the plain join. Exact
    decimal revenue per the determinism contract."""
    from flink_dts_connector_spark.operators.skew import salted_join
    from flink_dts_connector_spark.plans.relational import dec, dsum2

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), orders, on="o_orderkey"
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum2(dec("l_extendedprice") * (1 - dec("l_discount")), "revenue"),
    )


@register(
    "skew_two_phase_agg",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY 1
""",
    tags=("ext", "skew", "agg"),
)
def skew_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) aggregation for skewed GROUP BY keys under the
    driver gate: phase 1 aggregates on (key, salt) so a hot key spreads
    across 16 reducers, phase 2 combines partials — algebraic aggregates
    only, so the result is EXACTLY the single-phase answer (decimal sums
    commute; min/max/count trivially associative)."""
    from flink_dts_connector_spark.operators.skew import two_phase_agg
    from flink_dts_connector_spark.plans.relational import dec

    li = t(spark, sf_dir, "lineitem")
    out = two_phase_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "n": (F.count(F.lit(1)), "sum"),
            "sum_qty_dec": (F.sum(dec("l_quantity")), "sum"),
            "max_price": (F.max("l_extendedprice"), "max"),
        },
        salt=16,
    )
    return out.select(
        "l_returnflag",
        "n",
        F.col("sum_qty_dec").cast("decimal(38,6)").cast("double").alias("sum_qty"),
        F.col("max_price").cast("double").alias("max_price"),
    )


_ASCII_NORM_SQL = (
    f"regexp_replace({SQL_NORM}, '[^\\x20-\\x7e]', '', 'g')"
)


@register(
    "neardup_levenshtein",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), cand AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT a_id, b_id FROM cand
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 50 * (sa.n_sh + sb.n_sh - n_inter)
), texts AS (
  SELECT doc_id, {_ASCII_NORM_SQL} AS t FROM documents
)
SELECT p.a_id, p.b_id,
       CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS edit_dist,
       CAST(GREATEST(length(ta.t), length(tb.t)) AS BIGINT) AS max_len
FROM pairs p
JOIN texts ta ON ta.doc_id = p.a_id
JOIN texts tb ON tb.doc_id = p.b_id
WHERE 10 * levenshtein(ta.t, tb.t) <= GREATEST(length(ta.t), length(tb.t))
""",
    tags=("ext", "dedup", "edit-distance"),
)
def neardup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup tier: Jaccard-candidate pairs verified by
    LEVENSHTEIN distance ≤ 10% of the longer text — the character-level
    confirmation pass token-level similarity can't give (detects small
    in-place edits vs. token reshuffles). Texts are normalized to the
    ASCII subset first: Spark's levenshtein counts CHARACTER edits while
    DuckDB's counts UTF-8 BYTE edits, so the oracle is only exact where
    the two alphabets coincide (fixtures are ASCII; at production scale
    the distance stays a Spark-side filter). Candidate generation is the
    bounded shingle equi-join — never |docs|² distance computations."""
    from flink_dts_connector_spark.operators.text import normalized

    docs = t(spark, sf_dir, "documents")
    cand = D.jaccard_pairs(docs, threshold_pct=50).select("a_id", "b_id")
    ascii_norm = F.regexp_replace(normalized("text"), r"[^\x20-\x7e]", "")
    texts = docs.select("doc_id", ascii_norm.alias("t"))
    j = (
        cand.join(texts.select(F.col("doc_id").alias("a_id"), F.col("t").alias("ta")), "a_id")
        .join(texts.select(F.col("doc_id").alias("b_id"), F.col("t").alias("tb")), "b_id")
    )
    dist = F.levenshtein("ta", "tb").cast("bigint")
    max_len = F.greatest(F.length("ta"), F.length("tb")).cast("bigint")
    return (
        j.select("a_id", "b_id", dist.alias("edit_dist"), max_len.alias("max_len"))
        .where(F.lit(10) * F.col("edit_dist") <= F.col("max_len"))
    )


@register(
    "curate_snapshot_diff",
    oracle=f"""
WITH old AS (
  SELECT doc_id, md5({SQL_NORM}) AS fp FROM documents WHERE doc_id % 11 <> 0
), new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0
                  THEN {SQL_NORM} || ' v2'
                  ELSE {SQL_NORM} END) AS fp
  FROM documents WHERE doc_id % 17 <> 0
)
SELECT COALESCE(new.doc_id, old.doc_id) AS doc_id,
       CASE WHEN old.doc_id IS NULL THEN 'I'
            WHEN new.doc_id IS NULL THEN 'D'
            WHEN old.fp <> new.fp THEN 'U' END AS op
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
WHERE (old.doc_id IS NULL OR new.doc_id IS NULL OR old.fp <> new.fp)
""",
    tags=("ext", "curation", "incremental"),
)
def curate_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus change-data-feed: two snapshots derived deterministically
    from the fixture (docs %11 missing from old → I; %17 dropped from new
    → D; %7 texts mutated → U), diffed into I/U/D by one full-outer join
    on the id with fingerprint content compare — the primitive that makes
    the whole curation pipeline INCREMENTAL. Bridges the engine's CDC
    changelog semantics and its corpus surface."""
    docs = t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = docs.where(F.col("doc_id") % 17 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return C.snapshot_diff(old, new)


@register(
    "text_token_quantiles",
    oracle=f"""
SELECT source,
       CAST(quantile_disc(len({SQL_TOKS}), 0.25) AS BIGINT) AS p25,
       CAST(quantile_disc(len({SQL_TOKS}), 0.5) AS BIGINT) AS p50,
       CAST(quantile_disc(len({SQL_TOKS}), 0.75) AS BIGINT) AS p75,
       CAST(quantile_disc(len({SQL_TOKS}), 0.9) AS BIGINT) AS p90,
       COUNT(*) AS n_docs
FROM documents GROUP BY source
""",
    tags=("ext", "text", "sketch", "quantile"),
)
def text_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length quantiles via the Greenwald-Khanna sketch
    (`approx_percentile`) — the corpus-distribution profile every mixing
    recipe starts from. With accuracy (10⁶) above the per-group row count
    the GK rank error is < 1, so the sketch returns the EXACT discrete
    quantile and DuckDB's `quantile_disc` is a live oracle; at true 100 TB
    group sizes the same plan degrades gracefully to ε-rank sketching
    (mergeable, one map-side-combined aggregate shuffle — never a
    per-group sort)."""
    d = t(spark, sf_dir, "documents")
    q = (
        d.select(F.col("source"), X.token_count("text").alias("_n"))
        .groupBy("source")
        .agg(
            F.expr(
                "approx_percentile(_n, array(0.25D, 0.5D, 0.75D, 0.9D), 1000000)"
            ).alias("_q"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return q.select(
        "source",
        F.element_at("_q", 1).alias("p25"),
        F.element_at("_q", 2).alias("p50"),
        F.element_at("_q", 3).alias("p75"),
        F.element_at("_q", 4).alias("p90"),
        "n_docs",
    )


#: Full-rebuild closed form for the incremental-pipeline queries: the
#: pipeline manifest (gate → exact dedup → 7-gram decontamination → 16-way
#: shard rollup) computed directly on the FINAL corpus snapshot
#: (old = %11, new = %17 with ' v2' on %7 — same construction as
#: `curate_snapshot_diff`). Shared by the batch incremental query and the
#: streaming incremental-maintenance flagship: matching this closed form
#: IS the incremental ≡ full-rebuild equivalence proof.
SQL_REBUILD_MANIFEST = f"""
WITH newdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
         n_chars
  FROM documents WHERE doc_id % 17 <> 0
), gated AS (
  SELECT doc_id, text, n_chars FROM newdocs
  WHERE len({SQL_TOKS}) >= 20
    AND {_NON_ALNUM_SQL} * 10 < length(text) * 3
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5({SQL_NORM})
), deduped AS (
  SELECT g.* FROM gated g JOIN keep USING (doc_id)
), ctoks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM deduped
), csh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER w1 || ' ' || LEAD(w,2) OVER w1
           || ' ' || LEAD(w,3) OVER w1 || ' ' || LEAD(w,4) OVER w1
           || ' ' || LEAD(w,5) OVER w1 || ' ' || LEAD(w,6) OVER w1 AS s
  FROM ctoks WINDOW w1 AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w,6) OVER w1 IS NOT NULL
), ptoks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM newdocs WHERE doc_id % 37 = 0
), psh AS (
  SELECT DISTINCT
         w || ' ' || LEAD(w,1) OVER w1 || ' ' || LEAD(w,2) OVER w1
           || ' ' || LEAD(w,3) OVER w1 || ' ' || LEAD(w,4) OVER w1
           || ' ' || LEAD(w,5) OVER w1 || ' ' || LEAD(w,6) OVER w1 AS s
  FROM ptoks WINDOW w1 AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w,6) OVER w1 IS NOT NULL
), contaminated AS (
  SELECT DISTINCT doc_id FROM csh JOIN psh USING (s)
), clean AS (
  SELECT * FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 16 AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM clean GROUP BY 1
"""


@register(
    "curate_incremental_pipeline",
    oracle=SQL_REBUILD_MANIFEST,
    tags=("ext", "curation", "pipeline", "incremental"),
)
def curate_incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus pipeline: the snapshot delta (I/U/D, same
    old/new construction as `curate_snapshot_diff`) drives a re-run of
    quality gate → exact dedup → decontamination over ONLY the touched
    fingerprint groups; everything else carries over from the prior run's
    materialized output. The oracle is the FULL REBUILD on the new
    snapshot — the driver's rows+schema+hash gate IS the
    incremental ≡ full-rebuild equivalence proof. At 100 TB this is the
    difference between processing a nightly delta and re-sharding the
    corpus (the CDC mandate applied to the curation surface)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    # r14 session 2: the pipeline's ~6 legs (prior-kept rebuild, snapshot
    # diff, old/new fingerprint semi-joins, region gate, region shingles)
    # each re-ran the corpus scan+projection — on the fixture's one-row-
    # group parquet that is ~6 sequential single-task legs (job drill:
    # 0.92 s + 0.73 s + 0.36 s single-task jobs). Spreading inside
    # `add_ngrams` was measured WORSE (see contaminated_ids — an exchange
    # per broadcast leg); instead, when the scan is under-split, spread +
    # EAGERLY materialize the compact corpus projection ONCE — every leg
    # then reads 32-partition checkpointed blocks in parallel and the
    # scan+projection runs exactly once. A well-split input (the 100 TB
    # case) skips both the shuffle and the checkpoint entirely — N
    # parallel re-scans of a well-split table are the cheaper shape there.
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target, "doc_id").localCheckpoint()
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = docs.where(F.col("doc_id") % 17 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    probe = new.where(F.col("doc_id") % 37 == 0).select("text")
    toks = X.token_count("text")
    chars = F.length("text").cast("bigint")
    non_alnum = chars - F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9]", ""))

    def gate(d: DataFrame) -> DataFrame:
        return d.where((toks >= 20) & (non_alnum * 10 < chars * 3)).select(
            "doc_id", "text", "n_chars"
        )

    # the prior run's materialized kept set (full pipeline over OLD snapshot)
    prior_kept = C.decontaminate(D.dedup_exact(gate(old)), probe, n=7)
    new_kept = C.incremental_pipeline_update(
        prior_kept, old, new, probe, gate, ngram_n=7
    )
    return C.shard_assign(new_kept, n_shards=16).groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count("text")).alias("n_tokens"),
        F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
    )


@register(
    "curate_shuffle_order",
    oracle="""
SELECT doc_id, shard_id, shard_pos FROM (
  SELECT doc_id,
         CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 32 AS BIGINT) AS shard_id,
         CAST(row_number() OVER (
           PARTITION BY md5_number_lower(CAST(doc_id AS VARCHAR)) % 32
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS shard_pos
  FROM documents
)
""",
    tags=("ext", "curation", "shuffle"),
)
def curate_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-shuffle order: every document gets a
    reproducible (shard_id, shard_pos) — shard-major iteration is a
    pseudo-random visit order computed with one bounded window per shard,
    never a corpus-wide sort. Resumable training depends on exactly this:
    re-deriving the same order on restart from nothing but the corpus."""
    d = C.shuffle_order(t(spark, sf_dir, "documents"), n_shards=32)
    return d.select("doc_id", "shard_id", "shard_pos")


# ---------------------------------------------------------------------------
# Round 4 wave 2: containment dedup, rare-bigram quality, chunking, BM25
# ---------------------------------------------------------------------------

SQL_SHINGLES_CTE = f"""toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


@register(
    "dedup_containment",
    oracle=f"""
WITH {SQL_SHINGLES_CTE}, o AS (
  SELECT CASE WHEN sa.n_sh <= sb.n_sh THEN a_id ELSE b_id END AS contained_id,
         CASE WHEN sa.n_sh <= sb.n_sh THEN b_id ELSE a_id END AS container_id,
         CAST(n_inter AS BIGINT) AS n_inter,
         CAST(LEAST(sa.n_sh, sb.n_sh) AS BIGINT) AS n_contained
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
)
SELECT contained_id, container_id, n_inter, n_contained,
       CAST(n_inter AS DOUBLE) / n_contained AS containment
FROM o WHERE 100 * n_inter >= 60 * n_contained
""",
    tags=("ext", "dedup"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment near-dup (A ⊂ B, ≥0.60): the smaller shingle
    set ≥60%-covered by the larger — catches quote-inclusion/page-wrapper
    duplication that symmetric Jaccard scores near |A|/|B| ≈ 0. Decision
    integer-exact; orientation deterministic (smaller set contained, lower
    id on ties), so the output reads directly as drop-contained."""
    return D.containment_pairs(t(spark, sf_dir, "documents"), threshold_pct=60)


@register(
    "text_rare_bigram_fraction",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), bg AS (
  SELECT doc_id, w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM toks
  QUALIFY LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), vocab AS (
  SELECT g, COUNT(*) AS corpus_c FROM bg GROUP BY g
), scored AS (
  SELECT bg.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CASE WHEN v.corpus_c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM bg JOIN vocab v ON v.g = bg.g
  GROUP BY bg.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       COALESCE(s.n_rare, 0) AS n_rare,
       CASE WHEN COALESCE(s.n_bigrams, 0) > 0
            THEN CAST(s.n_rare AS DOUBLE) / s.n_bigrams END AS rare_frac
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
""",
    tags=("ext", "text", "quality"),
)
def text_rare_bigram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained LM-style quality filter: fraction of a doc's bigram
    positions whose bigram occurs ≤2× in the whole corpus — the CCNet
    perplexity-filter role in pure integer counts (no transcendental
    log-prob to diverge across engines). The corpus bigram-count table IS
    the model; at scale it is trained once and reused per snapshot."""
    return X.rare_bigram_metrics(t(spark, sf_dir, "documents"), rare_max=2)


@register(
    "curate_chunk_windows",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks), 48)) AS start_tok FROM d
  WHERE len(toks) > 0
), c AS (
  SELECT doc_id,
         CAST((start_tok - 1) // 48 AS BIGINT) AS chunk_id,
         CAST(start_tok AS BIGINT) AS start_tok,
         list_slice(toks, start_tok, least(start_tok + 63, len(toks))) AS chunk
  FROM s
)
SELECT doc_id, chunk_id, start_tok,
       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM c
""",
    tags=("ext", "curation", "chunking"),
)
def curate_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 64, stride 48) — the
    context-window shaping step of pretraining/RAG ingestion. Chunk k
    covers tokens [1+48k, 64+48k); every token lands in ≥1 chunk; emits
    md5-of-chunk so chunk-level exact dedup composes without re-reading
    text. Pure narrow expressions — pipelines inside the scan at any
    scale."""
    return C.chunk_windows(t(spark, sf_dir, "documents"), window=64, stride=48)


#: the BM25 top-k oracle — shared verbatim with the streaming maintenance
#: twin (`stream_bm25_maintenance`): the twin's converged index serves the
#: identical ranking, so the same SQL is the correct oracle for both.
BM25_TOPK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
), post AS (
  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
), dls AS (
  SELECT doc_id, CAST(len({SQL_TOKS}) AS BIGINT) AS dl FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dls
), dftbl AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM post
  WHERE length(token) >= 4 AND token NOT IN ('the','a','of','and')
  GROUP BY token
), qt AS (
  SELECT CAST((rnk - 1) // 2 AS BIGINT) AS query_id, token, df FROM (
    SELECT token, df, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS rnk FROM dftbl
  ) WHERE rnk <= 8
), hits AS (
  SELECT qt.query_id, p.doc_id,
         CAST(FLOOR(
           CAST(((s.n_docs - qt.df) * 1000000) // s.n_docs
                * LEAST(p.tf, 1000) * 22 * ((s.sum_dl * 1000) // s.n_docs) AS DOUBLE)
           / CAST(10 * LEAST(p.tf, 1000) * ((s.sum_dl * 1000) // s.n_docs)
                + 3 * ((s.sum_dl * 1000) // s.n_docs) + 9 * d.dl * 1000 AS DOUBLE)
           * 1000000.0) AS BIGINT) AS t6
  FROM post p
  JOIN qt ON qt.token = p.token
  JOIN dls d ON d.doc_id = p.doc_id, stats s
), scored AS (
  SELECT query_id, doc_id, CAST(SUM(t6) AS BIGINT) AS score6 FROM hits GROUP BY 1, 2
)
SELECT query_id, doc_id, score6,
       CAST(score6 AS DOUBLE) / 1000000.0 AS score, rank
FROM (
  SELECT query_id, doc_id, score6,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score6 DESC, doc_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 10
"""


@register(
    "search_bm25_topk",
    oracle=BM25_TOPK_ORACLE,
    tags=("ext", "search", "topk"),
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over a DataFrame inverted index: top-10 docs
    for each of 4 derived two-term queries (the 8 highest-df non-stopword
    terms, paired). Rational-idf BM25 (k1=1.2, b=0.75 folded into integer
    coefficients) keeps every per-term score one IEEE division — exact
    across engines — and per-query totals sum ⌊score·10⁶⌋ as BIGINTs so
    aggregation order can't move a hash. Retrieval cost is Σ df postings
    (broadcast query terms → postings equi-join), never corpus×queries."""
    from flink_dts_connector_spark.operators import search as SR

    return SR.bm25_topk(t(spark, sf_dir, "documents"), k=10)


@register(
    "search_rrf_fusion",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
), post AS (
  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
), dls AS (
  SELECT doc_id, CAST(len({SQL_TOKS}) AS BIGINT) AS dl FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dls
), dftbl AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM post
  WHERE length(token) >= 4 AND token NOT IN ('the','a','of','and')
  GROUP BY token
), qt AS (
  SELECT CAST((rnk - 1) // 2 AS BIGINT) AS query_id, token, df FROM (
    SELECT token, df, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS rnk FROM dftbl
  ) WHERE rnk <= 8
), hits AS (
  SELECT qt.query_id, p.doc_id, p.tf,
         CAST(FLOOR(
           CAST(((s.n_docs - qt.df) * 1000000) // s.n_docs
                * LEAST(p.tf, 1000) * 22 * ((s.sum_dl * 1000) // s.n_docs) AS DOUBLE)
           / CAST(10 * LEAST(p.tf, 1000) * ((s.sum_dl * 1000) // s.n_docs)
                + 3 * ((s.sum_dl * 1000) // s.n_docs) + 9 * d.dl * 1000 AS DOUBLE)
           * 1000000.0) AS BIGINT) AS t6
  FROM post p
  JOIN qt ON qt.token = p.token
  JOIN dls d ON d.doc_id = p.doc_id, stats s
), ranka AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY SUM(t6) DESC, doc_id) AS BIGINT) AS rank
  FROM (SELECT query_id, doc_id, t6 FROM hits) GROUP BY query_id, doc_id
), rankb AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY SUM(LEAST(tf, 1000)) DESC, doc_id) AS BIGINT) AS rank
  FROM hits GROUP BY query_id, doc_id
), pooled AS (
  SELECT query_id, doc_id, 1000000 // (60 + rank) AS c FROM ranka WHERE rank <= 20
  UNION ALL
  SELECT query_id, doc_id, 1000000 // (60 + rank) FROM rankb WHERE rank <= 20
), fused AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf6 FROM pooled GROUP BY 1, 2
)
SELECT query_id, doc_id, rrf6, rank FROM (
  SELECT query_id, doc_id, rrf6,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY rrf6 DESC, doc_id) AS BIGINT) AS rank
  FROM fused
) WHERE rank <= 10
""",
    tags=("ext", "search", "topk", "fusion"),
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: reciprocal-rank fusion — the standard hybrid-search combiner —
    over two genuinely different retrievers on the same derived queries:
    integer-exact BM25 (idf-weighted) and raw tf-mass (idf-free). Each
    contributes 1000000 div (60 + rank) for its top-20 pool; fused top-10
    per query. Integer division end to end, ties broken by doc_id, so the
    oracle reconstructs both rankings and the fusion bit-exactly
    (`operators/search.py::rrf_topk`)."""
    from flink_dts_connector_spark.operators import search as SR

    return SR.rrf_topk(t(spark, sf_dir, "documents"), k=10, pool=20)


@register(
    "curate_chunk_dedup",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks), 48)) AS start_tok FROM d
  WHERE len(toks) > 0
), c AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, start_tok, least(start_tok + 63, len(toks))), ' ')) AS chunk_md5
  FROM s
)
SELECT chunk_md5,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
FROM c
GROUP BY chunk_md5
HAVING COUNT(DISTINCT doc_id) >= 2
""",
    tags=("ext", "curation", "dedup", "chunking"),
)
def curate_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage detection: chunk the corpus
    (window 64 / stride 48), hash each chunk, keep chunks seen in ≥2
    distinct documents — sub-document boilerplate (headers, license
    blocks, templated passages) that document-level exact dedup can't
    see and near-dup thresholds may dilute away. One hash agg on
    chunk_md5 with map-side combine; composes `chunk_windows`, so the
    md5 computed for chunk-level dedup is the same one the chunking
    step already emits."""
    ch = C.chunk_windows(t(spark, sf_dir, "documents"), window=64, stride=48)
    return (
        ch.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "text_hash_embedding",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS t FROM documents
), bs AS (
  SELECT doc_id,
         CAST(md5_number_lower(t) % 32 AS BIGINT) // 2 AS b,
         CAST(md5_number_lower(t) % 32 AS BIGINT) % 2 * 2 - 1 AS s
  FROM toks
), agg AS (
  SELECT doc_id, {", ".join(f"CAST(COALESCE(SUM(CASE WHEN b = {j} THEN s END), 0) AS BIGINT) AS v{j}" for j in range(16))}
  FROM bs GROUP BY doc_id
)
SELECT d.doc_id, [{", ".join(f"COALESCE(v{j}, 0)" for j in range(16))}] AS embedding
FROM documents d LEFT JOIN agg USING (doc_id)
""",
    tags=("ext", "text", "embedding"),
)
def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed document embeddings (hashing trick): 16-dim signed
    bag-of-words vectors, bucket/sign from an md5-derived hash — the
    model-free representation for cheap clustering and near-dup blocking
    before any learned embedding exists. Integer-exact end-to-end; one
    (doc, bucket) hash agg, no other corpus shuffle."""
    return X.hash_embedding(t(spark, sf_dir, "documents"), dim=16)


@register(
    "curate_chunk_pack",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks), 48)) AS start_tok FROM d
  WHERE len(toks) > 0
), c AS (
  SELECT doc_id,
         CAST((start_tok - 1) // 48 AS BIGINT) AS chunk_id,
         CAST(len(list_slice(toks, start_tok, least(start_tok + 63, len(toks)))) AS BIGINT) AS n_chunk_tokens
  FROM s
), sh AS (
  SELECT doc_id, chunk_id, n_chunk_tokens,
         CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 8 AS BIGINT) AS shard_id,
         doc_id * 1000000 + chunk_id AS ord
  FROM c
), packed AS (
  SELECT shard_id, n_chunk_tokens,
         CAST((SUM(n_chunk_tokens) OVER (PARTITION BY shard_id ORDER BY ord) - n_chunk_tokens) // 512 AS BIGINT) AS bin_id
  FROM sh
)
SELECT shard_id, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_tokens
FROM packed GROUP BY 1, 2
""",
    tags=("ext", "curation", "chunking", "packing"),
)
def curate_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk → shard → pack, the full context-window assembly line: chunk
    the corpus (64/48), spread chunks across 8 md5 shards, pack each
    shard's chunks (in deterministic (doc, chunk) order) into 512-token
    training bins, and report per-bin occupancy. Packing is per-shard — a
    bounded ranked window per shard, never a global sort — which is the
    only packing shape that survives 100 TB."""
    docs = t(spark, sf_dir, "documents")
    ch = C.chunk_windows(docs, window=64, stride=48)
    # ord = doc_id·10⁶ + chunk_id: int64-safe for doc_id < 9.2e12 (a 100 TB
    # corpus at ~2 KB/doc is ~5e10 docs — 180× of margin) and chunk_id <
    # 10⁶ (docs under 48M tokens); overflow errors loudly under ANSI mode
    sh = C.shard_assign(ch, n_shards=8, key_col="doc_id").withColumn(
        "ord", F.col("doc_id") * 1000000 + F.col("chunk_id")
    )
    packed = C.pack_sequences(
        sh, seq_len=512, token_col="n_chunk_tokens", group_col="shard_id", order_col="ord"
    )
    return packed.groupBy("shard_id", "bin_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("bigint").alias("n_tokens"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
WITH f AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
), a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week
  FROM events
)
SELECT f.cohort_week,
       CAST((epoch(a.act_week) - epoch(f.cohort_week)) // 604800 AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
""",
    tags=("ext", "events", "cohort"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week, then
    counted once per (cohort, week-offset) they were active in — the
    product-analytics staple. Week offsets are exact integer epoch math
    over UTC week-truncated timestamps (both engines truncate to Monday;
    UTC weeks are exact 604800 s multiples), so no date_diff semantic can
    diverge. Two hash aggs + one user-keyed join; activity dedup is per
    (user, week) — no event-grain state survives the first agg."""
    ev = t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    j = active.join(first, "user_id")
    off = (
        (F.unix_timestamp("act_week") - F.unix_timestamp("cohort_week"))
        / F.lit(604800)
    ).cast("bigint")
    return j.groupBy("cohort_week", off.alias("week_offset")).agg(
        F.count(F.lit(1)).alias("n_active")
    )


@register(
    "curate_train_val_test",
    oracle="""
WITH split AS (
  SELECT source,
         CASE WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 80 THEN 'train'
              WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok
  FROM documents
)
SELECT source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM split GROUP BY 1, 2
""",
    tags=("ext", "curation", "split"),
)
def curate_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-independent
    id hash (md5 mod 100 — engine-mirrorable, partition-independent,
    stable under corpus growth: a doc never changes split when others are
    added), reported per source so stratification skew is visible. The
    split column is a pure projection — assignment costs nothing at any
    scale; the report is one hash agg."""
    from flink_dts_connector_spark.operators.dedup import md5_number_lower_mod

    d = t(spark, sf_dir, "documents")
    h = md5_number_lower_mod(F.col("doc_id").cast("string"), 100)
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        d.select("source", split.alias("split"), X.token_count("text").alias("n_tok"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


@register(
    "events_hourly_anomaly",
    oracle="""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_events) AS BIGINT) AS sc,
         SUM(CAST(n_events AS HUGEINT) * n_events) AS scc
  FROM h GROUP BY 1
), scored AS (
  SELECT h.event_type, h.hour_start, h.n_events,
         CAST(s.sc AS DOUBLE) / s.n AS mean_events,
         sqrt(CAST(s.n * s.scc - CAST(s.sc AS HUGEINT) * s.sc AS DOUBLE)
              / CAST(CAST(s.n AS HUGEINT) * s.n AS DOUBLE)) AS std_events
  FROM h JOIN s USING (event_type)
)
SELECT event_type, hour_start, n_events, mean_events, std_events,
       CASE WHEN std_events > 0
            THEN (n_events - mean_events) / std_events END AS z,
       (abs(n_events - mean_events) > 2 * std_events) AS is_anomaly
FROM scored
""",
    tags=("ext", "events", "anomaly"),
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomaly detection per event type: hours whose count
    deviates more than 2σ from the type's mean. Population moments are
    EXACT integer sums (n, Σc, Σc² — the big products through
    DECIMAL(38,0)/HUGEINT so nothing overflows or rounds), converted to
    double once at the end; sqrt and the ±2σ comparison are single IEEE
    ops, so both engines flag the identical hour set. Two hash aggs and a
    broadcast-sized stats join — the streaming twin is a windowed agg
    over the same closed form."""
    ev = t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    s = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_events").alias("sc"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("scc"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    var_num = (dec("n") * dec("scc") - dec("sc") * dec("sc")).cast("double")
    var_den = (dec("n") * dec("n")).cast("double")
    joined = h.join(F.broadcast(s), "event_type").select(
        "event_type",
        "hour_start",
        "n_events",
        (F.col("sc").cast("double") / F.col("n")).alias("mean_events"),
        F.sqrt(var_num / var_den).alias("std_events"),
    )
    z = (F.col("n_events") - F.col("mean_events")) / F.col("std_events")
    return joined.select(
        "event_type",
        "hour_start",
        "n_events",
        "mean_events",
        "std_events",
        F.when(F.col("std_events") > 0, z).alias("z"),
        (
            F.abs(F.col("n_events") - F.col("mean_events"))
            > 2 * F.col("std_events")
        ).alias("is_anomaly"),
    )


@register(
    "curate_quality_funnel",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, text,
         len({SQL_TOKS}) AS n_tok,
         len(list_distinct({SQL_TOKS})) AS nd_tok,
         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS non_alnum,
         length(text) AS n_chars
  FROM documents
), labeled AS (
  SELECT source, n_tok,
         CASE WHEN n_tok < 20 THEN 'too_short'
              WHEN non_alnum * 10 >= n_chars * 3 THEN 'too_punct'
              WHEN (n_tok - nd_tok) * 2 > n_tok THEN 'repetitive'
              ELSE 'keep' END AS verdict
  FROM toks
)
SELECT source, verdict,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM labeled GROUP BY 1, 2
""",
    tags=("ext", "curation", "quality"),
)
def curate_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate funnel report: every document labeled with its FIRST
    failing gate (too_short → too_punct → repetitive → keep, the
    precedence a pipeline applies) and rolled up per source — the
    "where did my corpus go" report that accompanies every filtering run.
    All gates are integer-exact predicates; one narrow projection + one
    hash agg."""
    d = t(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n_tok = F.size(toks).cast("bigint")
    nd_tok = F.size(F.array_distinct(toks)).cast("bigint")
    chars = F.length("text").cast("bigint")
    non_alnum = chars - F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9]", ""))
    verdict = (
        F.when(n_tok < 20, F.lit("too_short"))
        .when(non_alnum * 10 >= chars * 3, F.lit("too_punct"))
        .when((n_tok - nd_tok) * 2 > n_tok, F.lit("repetitive"))
        .otherwise(F.lit("keep"))
    )
    return (
        d.select("source", verdict.alias("verdict"), n_tok.alias("n_tok"))
        .groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


@register(
    "curate_contamination_report",
    oracle=f"""
WITH probe AS (
  SELECT doc_id AS probe_id, {SQL_TOKS} AS toks FROM documents WHERE doc_id % 37 = 0
), corpus AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents WHERE doc_id % 37 <> 0
), pg AS (
  SELECT DISTINCT probe_id, g FROM (
    SELECT probe_id,
           w || ' ' || LEAD(w,1) OVER w1 || ' ' || LEAD(w,2) OVER w1
             || ' ' || LEAD(w,3) OVER w1 || ' ' || LEAD(w,4) OVER w1
             || ' ' || LEAD(w,5) OVER w1 || ' ' || LEAD(w,6) OVER w1 AS g
    FROM (SELECT probe_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM probe)
    WINDOW w1 AS (PARTITION BY probe_id ORDER BY i)
    QUALIFY LEAD(w,6) OVER w1 IS NOT NULL
  )
), cg AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           w || ' ' || LEAD(w,1) OVER w1 || ' ' || LEAD(w,2) OVER w1
             || ' ' || LEAD(w,3) OVER w1 || ' ' || LEAD(w,4) OVER w1
             || ' ' || LEAD(w,5) OVER w1 || ' ' || LEAD(w,6) OVER w1 AS g
    FROM (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM corpus)
    WINDOW w1 AS (PARTITION BY doc_id ORDER BY i)
    QUALIFY LEAD(w,6) OVER w1 IS NOT NULL
  )
), hits AS (
  SELECT pg.probe_id,
         CAST(COUNT(DISTINCT cg.doc_id) AS BIGINT) AS n_contaminated_docs,
         CAST(COUNT(DISTINCT pg.g) AS BIGINT) AS n_colliding_grams
  FROM pg JOIN cg USING (g)
  GROUP BY pg.probe_id
)
SELECT p.probe_id,
       COALESCE(h.n_contaminated_docs, 0) AS n_contaminated_docs,
       COALESCE(h.n_colliding_grams, 0) AS n_colliding_grams
FROM probe p LEFT JOIN hits h USING (probe_id)
""",
    tags=("ext", "curation", "decontamination"),
)
def curate_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-document leakage report — the inverse view of
    `decontaminate`: for each probe doc, how many corpus docs share a
    7-gram with it and how many of ITS grams collide. Decontamination
    tells you what to drop; this tells the benchmark owner which eval
    items are compromised and how badly. Same broadcast shape (probe
    grams tiny, corpus explode pipelines into the scan; counts ride one
    hash agg keyed by probe id)."""
    from flink_dts_connector_spark.operators.text import add_ngrams

    docs = t(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    corpus = docs.where(F.col("doc_id") % 37 != 0).select("doc_id", "text")
    pg = (
        add_ngrams(probe, "text", "__g", 7, distinct=True)
        .select("probe_id", F.explode("__g").alias("g"))
    )
    cg = (
        add_ngrams(corpus, "text", "__g", 7, distinct=True)
        .select("doc_id", F.explode("__g").alias("g"))
    )
    hits = (
        cg.join(F.broadcast(pg), "g")
        .groupBy("probe_id")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_contaminated_docs"),
            F.countDistinct("g").cast("bigint").alias("n_colliding_grams"),
        )
    )
    return probe.select("probe_id").join(hits, "probe_id", "left").select(
        "probe_id",
        F.coalesce("n_contaminated_docs", F.lit(0)).alias("n_contaminated_docs"),
        F.coalesce("n_colliding_grams", F.lit(0)).alias("n_colliding_grams"),
    )


@register(
    "text_vocab_concentration",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({SQL_TOKS}) AS w FROM documents
), counts AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
), totals AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS total FROM counts GROUP BY 1
), top10 AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS top_mass FROM (
    SELECT source, c, ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w) AS rnk
    FROM counts
  ) WHERE rnk <= 10 GROUP BY source
)
SELECT t.source, t.total AS n_tokens, top10.top_mass AS top10_tokens,
       CAST(top10.top_mass AS DOUBLE) / t.total AS concentration
FROM totals t JOIN top10 USING (source)
""",
    tags=("ext", "text", "vocab"),
)
def text_vocab_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary concentration per source: the share of all token mass
    held by the 10 most frequent terms — high concentration flags
    templated/boilerplate-heavy sources before any model sees them.
    Integer masses, one double division; the top-10 rank runs per source
    (bounded windows over the per-source vocab)."""
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(X.tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("n_tokens"))
    from pyspark.sql import Window as W

    rnk = F.row_number().over(W.partitionBy("source").orderBy(F.desc("c"), F.asc("w")))
    top10 = (
        counts.withColumn("rnk", rnk)
        .where(F.col("rnk") <= 10)
        .groupBy("source")
        .agg(F.sum("c").alias("top10_tokens"))
    )
    return totals.join(top10, "source").select(
        "source",
        "n_tokens",
        "top10_tokens",
        (F.col("top10_tokens").cast("double") / F.col("n_tokens")).alias("concentration"),
    )


@register(
    "embed_norm_outliers",
    oracle="""
WITH q AS (
  SELECT vec_id, label,
         CAST(list_sum(list_transform(
           list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
           x -> x * x)) AS BIGINT) AS nrm2
  FROM embeddings
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(nrm2) AS BIGINT) AS sn,
         SUM(CAST(nrm2 AS HUGEINT) * nrm2) AS snn
  FROM q
), scored AS (
  SELECT q.vec_id, q.label, q.nrm2,
         CAST(s.sn AS DOUBLE) / s.n AS mean_nrm2,
         sqrt(CAST(s.n * s.snn - CAST(s.sn AS HUGEINT) * s.sn AS DOUBLE)
              / CAST(CAST(s.n AS HUGEINT) * s.n AS DOUBLE)) AS std_nrm2
  FROM q, s
)
SELECT vec_id, label, nrm2, mean_nrm2, std_nrm2
FROM scored
WHERE abs(nrm2 - mean_nrm2) > 2 * std_nrm2
""",
    tags=("ext", "embedding", "quality", "i64dbl"),
)
def embed_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding data-quality screen: vectors whose squared L2 norm
    (exact int64 on quantized micro-units) deviates more than 2σ from the
    population — the degenerate/corrupt-vector check run before any ANN
    index build. Same exact-integer-moments trick as
    `events_hourly_anomaly` (big products through HUGEINT/DECIMAL(38,0));
    stats are one broadcast row. Bound: exact moments hold to ~1e9
    vectors per stats group — beyond that, run the screen per shard or on
    a deterministic hash sample."""
    from flink_dts_connector_spark.operators.similarity import quantized

    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.aggregate(
            F.transform(quantized("embedding"), lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("nrm2"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nrm2").alias("sn"),
        F.sum(dec("nrm2") * dec("nrm2")).alias("snn"),
    )
    var_num = (dec("n") * F.col("snn") - dec("sn") * dec("sn")).cast("double")
    var_den = (dec("n") * dec("n")).cast("double")
    scored = q.crossJoin(F.broadcast(s)).select(
        "vec_id",
        "label",
        "nrm2",
        (F.col("sn").cast("double") / F.col("n")).alias("mean_nrm2"),
        F.sqrt(var_num / var_den).alias("std_nrm2"),
    )
    return scored.where(
        F.abs(F.col("nrm2") - F.col("mean_nrm2")) > 2 * F.col("std_nrm2")
    )


@register(
    "search_chunk_ann",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks), 48)) AS start_tok FROM d
  WHERE len(toks) > 0
), c AS (
  SELECT doc_id,
         CAST((start_tok - 1) // 48 AS BIGINT) AS chunk_id,
         doc_id * 1000000 + CAST((start_tok - 1) // 48 AS BIGINT) AS chunk_key,
         array_to_string(list_slice(toks, start_tok, least(start_tok + 63, len(toks))), ' ') AS chunk_text
  FROM s
), tk AS (
  SELECT chunk_key, doc_id, chunk_id,
         unnest(string_split_regex(trim(chunk_text), '\\s+')) AS w
  FROM c
), bs AS (
  SELECT chunk_key, doc_id, chunk_id,
         CAST(md5_number_lower(w) % 32 AS BIGINT) // 2 AS b,
         CAST(md5_number_lower(w) % 32 AS BIGINT) % 2 * 2 - 1 AS s
  FROM tk
), vec AS (
  SELECT chunk_key, ANY_VALUE(doc_id) AS doc_id, ANY_VALUE(chunk_id) AS chunk_id,
         CAST(COALESCE(SUM(CASE WHEN b = 0 THEN s END), 0) AS BIGINT) AS v0,
         CAST(COALESCE(SUM(CASE WHEN b = 1 THEN s END), 0) AS BIGINT) AS v1,
         CAST(COALESCE(SUM(CASE WHEN b = 2 THEN s END), 0) AS BIGINT) AS v2,
         CAST(COALESCE(SUM(CASE WHEN b = 3 THEN s END), 0) AS BIGINT) AS v3,
         CAST(COALESCE(SUM(CASE WHEN b = 4 THEN s END), 0) AS BIGINT) AS v4,
         CAST(COALESCE(SUM(CASE WHEN b = 5 THEN s END), 0) AS BIGINT) AS v5,
         CAST(COALESCE(SUM(CASE WHEN b = 6 THEN s END), 0) AS BIGINT) AS v6,
         CAST(COALESCE(SUM(CASE WHEN b = 7 THEN s END), 0) AS BIGINT) AS v7,
         CAST(COALESCE(SUM(CASE WHEN b = 8 THEN s END), 0) AS BIGINT) AS v8,
         CAST(COALESCE(SUM(CASE WHEN b = 9 THEN s END), 0) AS BIGINT) AS v9,
         CAST(COALESCE(SUM(CASE WHEN b = 10 THEN s END), 0) AS BIGINT) AS v10,
         CAST(COALESCE(SUM(CASE WHEN b = 11 THEN s END), 0) AS BIGINT) AS v11,
         CAST(COALESCE(SUM(CASE WHEN b = 12 THEN s END), 0) AS BIGINT) AS v12,
         CAST(COALESCE(SUM(CASE WHEN b = 13 THEN s END), 0) AS BIGINT) AS v13,
         CAST(COALESCE(SUM(CASE WHEN b = 14 THEN s END), 0) AS BIGINT) AS v14,
         CAST(COALESCE(SUM(CASE WHEN b = 15 THEN s END), 0) AS BIGINT) AS v15
  FROM bs GROUP BY chunk_key
), nz AS (
  SELECT *, CAST(v0 * v0 + v1 * v1 + v2 * v2 + v3 * v3 + v4 * v4 + v5 * v5 + v6 * v6 + v7 * v7 + v8 * v8 + v9 * v9 + v10 * v10 + v11 * v11 + v12 * v12 + v13 * v13 + v14 * v14 + v15 * v15 AS BIGINT) AS nrm FROM vec
  WHERE v0 * v0 + v1 * v1 + v2 * v2 + v3 * v3 + v4 * v4 + v5 * v5 + v6 * v6 + v7 * v7 + v8 * v8 + v9 * v9 + v10 * v10 + v11 * v11 + v12 * v12 + v13 * v13 + v14 * v14 + v15 * v15 > 0
), pairs AS (
  SELECT q.doc_id AS query_doc_id, i.doc_id, i.chunk_id, i.chunk_key,
         CAST(q.v0 * i.v0 + q.v1 * i.v1 + q.v2 * i.v2 + q.v3 * i.v3 + q.v4 * i.v4 + q.v5 * i.v5 + q.v6 * i.v6 + q.v7 * i.v7 + q.v8 * i.v8 + q.v9 * i.v9 + q.v10 * i.v10 + q.v11 * i.v11 + q.v12 * i.v12 + q.v13 * i.v13 + q.v14 * i.v14 + q.v15 * i.v15 AS BIGINT) AS dot, q.nrm AS qn, i.nrm AS inr
  FROM nz q JOIN nz i ON i.doc_id <> q.doc_id
  WHERE q.chunk_id = 0 AND q.doc_id % 40 = 0 AND q.doc_id < 5000
)
SELECT query_doc_id, doc_id, chunk_id,
       CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(inr AS DOUBLE)) AS score,
       rank
FROM (
  SELECT *,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_doc_id
           ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(inr AS DOUBLE)) DESC,
                    chunk_key
         ) AS BIGINT) AS rank
  FROM pairs
) WHERE rank <= 5
""",
    tags=("ext", "search", "chunking", "embedding", "similarity"),
)
def search_chunk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE composition — chunk-level retrieval with NO model: chunk
    the corpus (64/48, text retained), hash-embed every chunk (16-dim
    signed bag-of-words, md5 bucket+sign), then for each query chunk
    (chunk 0 of every 40th doc) return the top-5 most cosine-similar
    chunks from OTHER documents. Chunking pipelines in the scan, the
    embedding is one (chunk, bucket) agg, queries broadcast onto the
    chunk-vector table, exact quantized-integer scoring — the
    chunk -> embed -> index -> search assembly line of a RAG/retrieval
    pipeline, every stage the already-oracle-checked operator. Zero-norm
    chunks (sign-cancelled) are excluded on both sides. r13: the query
    population carries the r11 fixed-workload cap (doc_id < 5000, both
    engines — closing the r12 flag that this query escaped the contract:
    queries grew with the corpus, work = |chunks|x|docs|/40 quadratic,
    x40.2 measured). The cap keeps the exact brute-force scoring as the
    verifiable baseline; the indexed serving architecture is demonstrated
    by the ann_* family (`ann_topk_ivf`, `ann_recall_report`) whose IVF
    probe path this capstone's chunk vectors can reuse unchanged."""
    from flink_dts_connector_spark.operators.text import hash_embedding

    docs = t(spark, sf_dir, "documents")
    ck = C.chunk_windows(docs, window=64, stride=48, emit_text=True).select(
        (F.col("doc_id") * 1000000 + F.col("chunk_id")).alias("chunk_key"),
        "doc_id",
        "chunk_id",
        "chunk_text",
    )
    vec = hash_embedding(ck, dim=16, id_col="chunk_key", text_col="chunk_text")
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    items = (
        vec.join(ck.select("chunk_key", "doc_id", "chunk_id"), "chunk_key")
        .withColumn("nrm", dot(F.col("embedding"), F.col("embedding")))
        .where(F.col("nrm") > 0)
    )
    # r13: fixed-workload cap (the r11 scaling contract every other ANN/kNN
    # probe population already carries, memory: fixed-workload-scaling) —
    # doc_id < 5000 is a no-op at sf <= 0.1 (max doc_id 4999) but pins the
    # query count at sf1+, so total work is |queries| x |chunks| = linear
    # in the corpus instead of quadratic (r12 measured x40.2 on x14.9 mass).
    q = items.where(
        (F.col("chunk_id") == 0) & (F.col("doc_id") % 40 == 0) & (F.col("doc_id") < 5000)
    ).select(
        F.col("doc_id").alias("query_doc_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("qn"),
    )
    pairs = items.join(
        F.broadcast(q), F.col("doc_id") != F.col("query_doc_id")
    ).select(
        "query_doc_id",
        "doc_id",
        "chunk_id",
        "chunk_key",
        dot(F.col("q_emb"), F.col("embedding")).alias("dot"),
        "qn",
        F.col("nrm").alias("inr"),
    )
    score = F.col("dot").cast("double") / F.sqrt(
        F.col("qn").cast("double") * F.col("inr").cast("double")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_doc_id").orderBy(score.desc(), F.asc("chunk_key"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
        .select("query_doc_id", "doc_id", "chunk_id", score.alias("score"), "rank")
    )


#: 5-round unrolled integer-PageRank oracle over the exact Jaccard pair
#: graph — shared verbatim by the batch query and (r13) the streaming
#: maintenance twin, whose delta ≡ rebuild contract is precisely "converge
#: to what this CTE computes on the final graph".
_PAGERANK_HUBS_ORACLE = f"""
WITH {SQL_SHINGLES_CTE}, pairs AS MATERIALIZED (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
), sym AS MATERIALIZED (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
), deg AS MATERIALIZED (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
),
p0 AS MATERIALIZED (
  SELECT doc_id AS u, CAST(1000000 AS BIGINT) AS r FROM documents
),
c1 AS MATERIALIZED (
  SELECT s.v AS u, SUM(p0.r // d.deg) AS m
  FROM sym s JOIN p0 ON p0.u = s.u JOIN deg d ON d.u = s.u
  GROUP BY s.v
), p1 AS MATERIALIZED (
  SELECT p0.u, CAST(150000 + (85 * COALESCE(c1.m, 0)) // 100 AS BIGINT) AS r
  FROM p0 LEFT JOIN c1 USING (u)
),
c2 AS MATERIALIZED (
  SELECT s.v AS u, SUM(p1.r // d.deg) AS m
  FROM sym s JOIN p1 ON p1.u = s.u JOIN deg d ON d.u = s.u
  GROUP BY s.v
), p2 AS MATERIALIZED (
  SELECT p1.u, CAST(150000 + (85 * COALESCE(c2.m, 0)) // 100 AS BIGINT) AS r
  FROM p1 LEFT JOIN c2 USING (u)
),
c3 AS MATERIALIZED (
  SELECT s.v AS u, SUM(p2.r // d.deg) AS m
  FROM sym s JOIN p2 ON p2.u = s.u JOIN deg d ON d.u = s.u
  GROUP BY s.v
), p3 AS MATERIALIZED (
  SELECT p2.u, CAST(150000 + (85 * COALESCE(c3.m, 0)) // 100 AS BIGINT) AS r
  FROM p2 LEFT JOIN c3 USING (u)
),
c4 AS MATERIALIZED (
  SELECT s.v AS u, SUM(p3.r // d.deg) AS m
  FROM sym s JOIN p3 ON p3.u = s.u JOIN deg d ON d.u = s.u
  GROUP BY s.v
), p4 AS MATERIALIZED (
  SELECT p3.u, CAST(150000 + (85 * COALESCE(c4.m, 0)) // 100 AS BIGINT) AS r
  FROM p3 LEFT JOIN c4 USING (u)
),
c5 AS MATERIALIZED (
  SELECT s.v AS u, SUM(p4.r // d.deg) AS m
  FROM sym s JOIN p4 ON p4.u = s.u JOIN deg d ON d.u = s.u
  GROUP BY s.v
), p5 AS MATERIALIZED (
  SELECT p4.u, CAST(150000 + (85 * COALESCE(c5.m, 0)) // 100 AS BIGINT) AS r
  FROM p4 LEFT JOIN c5 USING (u)
)
SELECT u AS doc_id, r AS rank_int FROM p5
"""


@register(
    "graph_pagerank_dedup_hubs",
    oracle=_PAGERANK_HUBS_ORACLE,
    tags=("ext", "graph", "dedup", "centrality"),
)
def graph_pagerank_dedup_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the near-dup graph: 5 rounds of INTEGER-exact
    PageRank (scaled ranks, floor-division damping — bit-identical across
    engines, so even an iterative algorithm gets a full value-hash
    oracle) on the exact 3-gram-Jaccard pair graph at 0.30. High-rank
    nodes are boilerplate HUBS — one template shared by many documents —
    which pairwise dedup sees only as O(n²) pair lists; centrality ranks
    WHICH template to strip first. Per round: one |E| shuffle + one
    |V|-keyed aggregate, the `connected_components` envelope."""
    from flink_dts_connector_spark.operators.graph import pagerank_int

    docs = t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold_pct=30)
    return pagerank_int(pairs, docs.select("doc_id"), iterations=5, id_col="doc_id")


@register(
    "text_unigram_surprisal",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents
), dt AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS dc FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT w, CAST(SUM(dc) AS BIGINT) AS c FROM dt GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab
), sc AS (
  SELECT w, CAST(length(printf('%b', tot.t // c)) - 1 AS BIGINT) AS surprisal
  FROM vocab, tot
)
SELECT dt.doc_id,
       CAST(SUM(dt.dc) AS BIGINT) AS n_tokens,
       CAST(SUM(dt.dc * sc.surprisal) AS BIGINT) AS total_surprisal,
       CAST(SUM(dt.dc * sc.surprisal) AS DOUBLE) / SUM(dt.dc) AS mean_surprisal
FROM dt JOIN sc USING (w)
GROUP BY 1
""",
    tags=("ext", "text", "quality", "lm"),
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: mean integer unigram surprisal
    per document under the corpus's own token distribution — the
    CCNet/KenLM-style LM filter with the log reformulated as exact
    bit-length arithmetic (`ilog2(T div c)`), so the oracle hash-matches.
    Companion to `text_rare_bigram_fraction` (bigram tail) — this one
    scores the whole distribution, not just the rare tail."""
    return X.unigram_surprisal(t(spark, sf_dir, "documents"))


#: SF-aware SemDeDup cluster count (r13, closes the r12 watch item): real
#: SemDeDup scales k with the corpus; a FIXED k makes cluster-blocked pair
#: work quadratic one decade out. k = max(4, ceil(N / 1500)) keeps sf<=0.1
#: bit-identical (N<=2000 -> k=4, the historical constant) and grows the
#: blocking vocabulary with the corpus from sf1 on (N=20000 -> k=14).
SEMDEDUP_K_FLOOR = 4
SEMDEDUP_K_DIVISOR = 1500
SEMDEDUP_K_SQL = (
    f"GREATEST({SEMDEDUP_K_FLOOR},"
    f" CAST(CEIL(COUNT(*) / {SEMDEDUP_K_DIVISOR}.0) AS BIGINT))"
)


def semdedup_k(emb, sf_dir: str | None = None) -> int:
    """Spark-side twin of SEMDEDUP_K_SQL — one scalar count (control
    metadata, not data movement). With ``sf_dir`` the count comes from the
    embeddings parquet FOOTER (r13: driver-side metadata read instead of a
    Spark count job — the full un-filtered table is exactly what both
    callers pass, so the two counts are identical by construction)."""
    import math

    if sf_dir is not None:
        from flink_dts_connector_spark.session import table_rows

        n = table_rows(sf_dir, "embeddings")
    else:
        n = emb.count()
    return max(SEMDEDUP_K_FLOOR, math.ceil(n / SEMDEDUP_K_DIVISOR))


def _kmeans_oracle(
    k: int, n_iter: int, tail: str | None = None, k_sql: str | None = None
) -> str:
    """Unrolled-CTE DuckDB twin of `similarity.kmeans_int_clusters` — the
    same trick as the PageRank oracle, extended to vector state: every
    iteration's assignment (exact int64 argmin) and centroid update
    (truncating `//` element-wise mean) is one MATERIALIZED CTE pair.

    ``k_sql`` (r13): an aggregate expression over the embeddings CTE that
    yields the cluster count — lets the SAME oracle string stay correct at
    every SF when k is corpus-size-aware (SEMDEDUP_K_SQL). When given, it
    replaces the literal-``k`` seed LIMIT with a rank filter."""
    d2 = (
        "CAST(list_sum(list_transform(list_zip(q.v, {c}.c),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    if k_sql is None:
        c0 = f"""c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v AS c
  FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT {k})
)"""
    else:
        c0 = f"""kq AS MATERIALIZED (
  SELECT {k_sql} AS kk FROM q
), c0 AS MATERIALIZED (
  SELECT CAST(rn - 1 AS BIGINT) AS cid, v AS c
  FROM (SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM q), kq
  WHERE rn <= kq.kk
)"""
    parts = [
        f"""WITH q AS MATERIALIZED (
  SELECT vec_id, {SQL_Q} AS v FROM embeddings
), {c0}"""
    ]
    prev = "c0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""", a{i} AS MATERIALIZED (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT q.vec_id, q.v, {prev}.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {d2.format(c=prev)}, {prev}.cid) AS rn
    FROM q, {prev}) WHERE rn = 1
), u{i} AS MATERIALIZED (
  SELECT cluster, list(mx ORDER BY pos) AS cnew FROM (
    SELECT cluster, pos, CAST(SUM(x) // COUNT(*) AS BIGINT) AS mx FROM (
      SELECT cluster, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM a{i})
    GROUP BY cluster, pos)
  GROUP BY cluster
), c{i} AS MATERIALIZED (
  SELECT {prev}.cid, COALESCE(u{i}.cnew, {prev}.c) AS c
  FROM {prev} LEFT JOIN u{i} ON u{i}.cluster = {prev}.cid
)"""
        )
        prev = f"c{i}"
    final = f"""SELECT vec_id, cid AS cluster, d2 AS dist2 FROM (
  SELECT q.vec_id, {prev}.cid, {d2.format(c=prev)} AS d2,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {d2.format(c=prev)}, {prev}.cid) AS rn
  FROM q, {prev}) WHERE rn = 1"""
    if tail is None:
        parts.append("\n" + final)
    else:
        parts.append(f", assign AS MATERIALIZED (\n{final}\n)\n{tail}")
    return "".join(parts)


@register(
    "embed_kmeans_clusters",
    oracle=_kmeans_oracle(k=4, n_iter=2),
    tags=("ext", "embedding", "clustering", "iterative"),
)
def embed_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus segment/topic clustering: INTEGER-exact Lloyd's k-means
    (k=4, 2 rounds) over quantized embeddings — iterative vector
    algorithm under a full value-hash oracle. Centroids broadcast every
    round; the corpus never shuffles for assignment."""
    return S.kmeans_int_clusters(t(spark, sf_dir, "embeddings"), k=4, n_iter=2)


@register(
    "text_token_gini",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, CAST(len({SQL_TOKS}) AS BIGINT) AS x FROM documents
), r AS (
  SELECT source, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY x, doc_id) AS BIGINT) AS i
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(x) AS BIGINT) AS total_tokens,
       CAST(2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x) AS DOUBLE)
         / (COUNT(*) * SUM(x)) AS gini
FROM r GROUP BY source
""",
    tags=("ext", "text", "balance"),
)
def text_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-balance diagnostic: the Gini coefficient of per-document
    token counts within each source — 0 = every doc the same length,
    →1 = a few giant docs hold all the token mass (a skew signal for
    packing, sharding, and mixture weighting). Exact integer rank formula
    ``(2·Σi·xᵢ − (n+1)·Σx) / (n·Σx)`` — tie order can't change the sum
    (equal x's commute), so the per-source window is deterministic.
    Scale: one window + one agg, both partitioned by source — no global
    sort; a source's docs must fit a partition spill budget (they do:
    windows spill to disk, and the rank is the only state)."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", X.token_count("text").alias("x")
    )
    w = W.partitionBy("source").orderBy(F.asc("x"), F.asc("doc_id"))
    r = d.withColumn("i", F.row_number().over(w).cast("bigint"))
    n, s = F.count(F.lit(1)), F.sum("x")
    return r.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        s.cast("bigint").alias("total_tokens"),
        (
            (2 * F.sum(F.col("i") * F.col("x")) - (n + 1) * s).cast("double")
            / (n * s)
        ).alias("gini"),
    )


@register(
    "neardup_shared_spans",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKS} AS v FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(v)-6+2),
                               i -> md5(array_to_string(v[i:i+6-1], ' ')))) AS g,
         unnest(range(1, len(v)-6+2)) AS pos
  FROM toks
), cool AS (
  SELECT g FROM g GROUP BY g HAVING COUNT(*) <= 16
), gc AS (
  SELECT g.doc_id, g.pos, g.g FROM g JOIN cool USING (g)
), m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(a.pos AS BIGINT) AS pa, CAST(b.pos AS BIGINT) AS pb
  FROM gc a JOIN gc b USING (g) WHERE a.doc_id < b.doc_id
), isl AS (
  SELECT doc_a, doc_b, pb - pa AS diag, pa, pb,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pb - pa ORDER BY pa) AS isle
  FROM m
)
SELECT doc_a, doc_b, a_start, b_start, span_tokens FROM (
  SELECT doc_a, doc_b,
         CAST(MIN(pa) AS BIGINT) AS a_start,
         CAST(MIN(pb) AS BIGINT) AS b_start,
         CAST(COUNT(*) + 5 AS BIGINT) AS span_tokens
  FROM isl GROUP BY doc_a, doc_b, diag, isle
) WHERE span_tokens >= 8
""",
    tags=("ext", "dedup", "spans"),
)
def neardup_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal: every maximal repeated passage of
    >= 8 tokens shared between two documents (positional 6-gram match ->
    df cap -> diagonal gaps-and-islands merge). The passage-level
    counterpart of `dedup_containment` — it reports WHERE the overlap
    lives, enabling span-level cutting instead of whole-doc dropping."""
    return D.shared_spans(t(spark, sf_dir, "documents"), k=6, min_span=8, max_df=16)


@register(
    "events_funnel_conversion",
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t2) AS t2
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
)
SELECT 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(NULL AS DOUBLE) AS mean_delay_us FROM s1
UNION ALL
SELECT 'click_after_view', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(epoch_us(t2) - epoch_us(t1)) AS DOUBLE) / COUNT(*) FROM s2
UNION ALL
SELECT 'purchase_after_click', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(epoch_us(t3) - epoch_us(t2)) AS DOUBLE) / COUNT(*) FROM s3
""",
    tags=("ext", "events", "funnel", "i64dbl"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user counts
    for a stage only if it happens strictly AFTER their previous stage's
    first completion (the sequence constraint that separates a funnel from
    three independent counts). Mean stage delay from exact integer micros.
    Scale: per-stage min-aggregate then an equi-join per step — each step's
    frame shrinks (users who converted), no window over raw events."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = e.where(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2"))
    )

    def stage(df: DataFrame, name: str, a: str | None, b: str | None) -> DataFrame:
        delay = (
            (F.sum(F.unix_micros(F.col(b)) - F.unix_micros(F.col(a))).cast("double")
             / F.count(F.lit(1)))
            if a
            else F.lit(None).cast("double")
        )
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            delay.alias("mean_delay_us"),
        )

    return (
        stage(s1, "view", None, None)
        .unionAll(stage(s2, "click_after_view", "t1", "t2"))
        .unionAll(stage(s3, "purchase_after_click", "t2", "t3"))
    )


@register(
    "curate_weighted_sample",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents
)
SELECT doc_id, source, n_tokens FROM d
WHERE CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 2147483648 AS BIGINT) * 256
      < n_tokens * 2147483648
""",
    tags=("ext", "curation", "sampling"),
)
def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional importance sampling: keep each document with
    probability min(1, n_tokens/256) — deterministic md5 draw, so the
    sample is reproducible and partition-independent (and any doc of
    >= 256 tokens is surely kept). Exact int64 threshold compare."""
    from flink_dts_connector_spark.operators.curation import weighted_sample

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", X.token_count("text").alias("n_tokens")
    )
    return weighted_sample(d, "n_tokens", wmax=256)


@register(
    "curate_top_p_per_source",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, n_chars,
         CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_chars, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS before_mass,
         SUM(n_tokens) OVER (PARTITION BY source) AS total_mass
  FROM d
)
SELECT doc_id, source, n_chars, n_tokens FROM c
WHERE 100 * before_mass < 80 * total_mass
""",
    tags=("ext", "curation", "selection"),
)
def curate_top_p_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source nucleus selection: keep the largest documents (by
    n_chars, doc_id tie-break) until 80% of each source's token mass is
    covered, straddler included — the per-group budget cut where the
    cumulative window partitions by source, so NO global sort exists
    anywhere in the plan (contrast `curate_token_budget`, whose budget is
    corpus-global and needs the two-phase trick)."""
    from flink_dts_connector_spark.operators.curation import top_p_per_source

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", X.token_count("text").alias("n_tokens")
    )
    return top_p_per_source(d, p_pct=80, mass_col="n_tokens", order_col="n_chars")


@register(
    "text_tfidf_keywords",
    oracle=f"""
WITH dt AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS dc FROM (
    SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents
  ) GROUP BY 1, 2
), df AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS ndocs FROM dt GROUP BY 1
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents
), scored AS (
  SELECT dt.doc_id, dt.w,
         dt.dc * CAST(length(printf('%b', n.total // df.ndocs)) - 1 AS BIGINT) AS weight
  FROM dt JOIN df USING (w), n
)
SELECT doc_id, w AS keyword, weight FROM (
  SELECT doc_id, w, weight,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY weight DESC, w) AS rn
  FROM scored
) WHERE rn <= 3 AND weight > 0
""",
    tags=("ext", "text", "keywords"),
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic-keyword extraction: top-3 tokens per document by
    integer TF-IDF ``dc · ilog2(N div df)`` (the same exact bit-length log
    as `text_unigram_surprisal`), ties broken lexicographically; weight-0
    terms (df > N/2, i.e. near-ubiquitous) never surface. Scale: the df
    table is vocab-sized (shuffle equi-join on the token), the top-3
    window partitions per doc — bounded by doc vocabulary."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(X.tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dc"))
    )
    dfreq = dt.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("ndocs"))
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    scored = (
        dt.join(dfreq, "w")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            (F.col("dc") * X.ilog2(F.expr("total div ndocs"))).alias("weight"),
        )
    )
    rn = F.row_number().over(W.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("w")))
    return (
        scored.withColumn("rn", rn)
        .where((F.col("rn") <= 3) & (F.col("weight") > 0))
        .select("doc_id", F.col("w").alias("keyword"), "weight")
    )


def _power_iteration_oracle(dim: int, n_iter: int, scale: int) -> str:
    """Unrolled-CTE DuckDB twin of `similarity.power_iteration_top_dir`:
    HUGEINT accumulation mirrors Spark's DECIMAL(38,0), `//` mirrors
    decimal `div` (both truncate toward zero — verified)."""
    parts = [
        f"""WITH ex AS MATERIALIZED (
  SELECT vec_id AS rid,
         unnest(range(0, {dim})) AS pos,
         unnest({SQL_Q}) AS x
  FROM embeddings
), v0 AS MATERIALIZED (
  SELECT unnest(range(0, {dim})) AS pos, CAST({scale} AS BIGINT) AS val
)"""
    ]
    prev = "v0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""", d{i} AS MATERIALIZED (
  SELECT rid, CAST(SUM(x * val) AS BIGINT) AS dot
  FROM ex JOIN {prev} USING (pos) GROUP BY rid
), y{i} AS MATERIALIZED (
  SELECT pos, SUM(CAST(x AS HUGEINT) * dot) AS y
  FROM ex JOIN d{i} USING (rid) GROUP BY pos
), m{i} AS MATERIALIZED (
  SELECT MAX(ABS(y)) AS m FROM y{i}
), v{i} AS MATERIALIZED (
  SELECT pos, CAST((y * {scale}) // m AS BIGINT) AS val FROM y{i}, m{i}
)"""
        )
        prev = f"v{i}"
    parts.append(
        f"""
SELECT CAST(pos + 1 AS BIGINT) AS dim, val AS component FROM {prev}"""
    )
    return "".join(parts)


@register(
    "embed_power_iteration",
    oracle=_power_iteration_oracle(dim=64, n_iter=3, scale=1000),
    tags=("ext", "embedding", "pca", "iterative"),
)
def embed_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus: 3 rounds of
    matrix-free power iteration, every step in exact integer/decimal
    arithmetic — an uncentered-PCA drift probe under a full value-hash
    oracle. 64 rows out (dim, component at scale 1000)."""
    return S.power_iteration_top_dir(
        t(spark, sf_dir, "embeddings"), dim=64, n_iter=3, scale=1000
    )


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
), src AS (SELECT doc_id, source FROM documents)
SELECT sa.source AS source_a, sb.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
FROM pairs JOIN src sa ON sa.doc_id = a_id JOIN src sb ON sb.doc_id = b_id
GROUP BY 1, 2
""",
    tags=("ext", "dedup", "provenance"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication provenance matrix: for every ordered source pair, how
    many near-duplicate pairs (exact 3-gram Jaccard >= 0.30) span them —
    diagonal = within-source dup pressure, off-diagonal = which sources
    mirror which (the scrape-overlap signal behind source-priority
    decisions). Scale: reuses `jaccard_pairs`' bounded shingle equi-join;
    the source attribution is two broadcast-able joins on doc_id against a
    2-column pruned scan."""
    d = t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, threshold_pct=30).select("a_id", "b_id")
    src = d.select("doc_id", "source")
    return (
        pairs.join(src.withColumnRenamed("doc_id", "a_id").withColumnRenamed("source", "source_a"), "a_id")
        .join(src.withColumnRenamed("doc_id", "b_id").withColumnRenamed("source", "source_b"), "b_id")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
    )


@register(
    "text_length_regression",
    oracle=f"""
WITH d AS (
  SELECT source,
         CAST(n_chars AS BIGINT) AS x,
         CAST(len({SQL_TOKS}) AS BIGINT) AS y
  FROM documents
), m AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM d GROUP BY source
)
SELECT source, n,
       CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS slope,
       (CAST(sy AS DOUBLE) - CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
          / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * sx) / n AS intercept
FROM m
""",
    tags=("ext", "analytics", "regression"),
)
def text_length_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OLS fit tokens ~ chars: slope = chars-per-token inverse
    (a tokenizer-burden calibration per source), intercept the fixed
    overhead. Exact integer moments through HUGEINT/DECIMAL(38,0) (same
    trick as `events_hourly_anomaly`), two deterministic double divisions
    at the end. One map-side-combined aggregate; no shuffle beyond it."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        X.token_count("text").alias("y"),
    )
    dx = F.col("x").cast("decimal(38,0)")
    m = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dx * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx").cast("decimal(38,0)") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    return m.select(
        "source",
        "n",
        slope.alias("slope"),
        ((F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )


@register("ann_ivf_delta_upsert", oracle=SQL_IVF, tags=("ext", "similarity", "incremental"))
def ann_ivf_delta_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance: the corpus is split into a base
    index (vec_id % 10 != 0, materialized as the persisted cell-assigned
    inverted file) and a delta (vec_id % 10 == 0) that is assigned against
    the FROZEN quantizer and appended — then probed. The oracle is the
    FULL-REBUILD IVF query (`SQL_IVF`): passing the hash gate proves
    upsert(index(base), delta) ≡ index(base ∪ delta) row-for-row, the
    incremental-pipeline guarantee extended to the ANN index."""
    e = t(spark, sf_dir, "embeddings")
    centroids = e.where((F.col("vec_id") % 37 == 3) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = e.where(F.col("vec_id") % 10 != 0)
    delta = e.where(F.col("vec_id") % 10 == 0)
    index = S.ivf_assign_cells(base, centroids).localCheckpoint()
    updated = S.ivf_upsert_index(index, delta, centroids)
    return S.ivf_probe_index(updated, q, centroids, k=5, nprobe=3)


@register(
    "curate_split_leakage",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
), split AS (
  SELECT doc_id,
         CASE WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 80 THEN 'train'
              WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT a_id, b_id, sa.split AS split_a, sb.split AS split_b
FROM pairs JOIN split sa ON sa.doc_id = a_id JOIN split sb ON sb.doc_id = b_id
WHERE sa.split <> sb.split
""",
    tags=("ext", "curation", "split", "dedup"),
)
def curate_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-contamination audit: near-duplicate pairs (exact 3-gram
    Jaccard >= 0.30) that CROSS the deterministic train/val/test boundary
    — an id-hash split guarantees disjoint ids but not disjoint CONTENT,
    and eval-set near-dups of training docs silently inflate benchmark
    scores. The fix loop: feed these pairs to `keep_best_per_cluster` or
    re-split by dedup-cluster id instead of doc id. Scale: the near-dup
    join is the bounded shingle equi-join; split attribution is a pure
    projection joined on doc_id."""
    from flink_dts_connector_spark.operators.dedup import md5_number_lower_mod

    d = t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, threshold_pct=30).select("a_id", "b_id")
    h = md5_number_lower_mod(F.col("doc_id").cast("string"), 100)
    split = d.select(
        "doc_id",
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test")).alias("split"),
    )
    return (
        pairs.join(
            split.withColumnRenamed("doc_id", "a_id").withColumnRenamed("split", "split_a"),
            "a_id",
        )
        .join(
            split.withColumnRenamed("doc_id", "b_id").withColumnRenamed("split", "split_b"),
            "b_id",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .select("a_id", "b_id", "split_a", "split_b")
    )


@register(
    "text_quality_correlations",
    oracle=f"""
WITH q AS (
  SELECT CAST(len({SQL_TOKS}) AS BIGINT) AS t,
         CAST(length(text) AS BIGINT) AS c,
         CAST(len(list_filter({SQL_TOKS}, x -> x IN ('the','a','of','and'))) AS BIGINT) AS s,
         CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS BIGINT) AS p
  FROM documents
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(t) AS HUGEINT) AS st, CAST(SUM(c) AS HUGEINT) AS sc,
         CAST(SUM(s) AS HUGEINT) AS ss, CAST(SUM(p) AS HUGEINT) AS sp,
         SUM(CAST(t AS HUGEINT)*t) AS stt, SUM(CAST(c AS HUGEINT)*c) AS scc,
         SUM(CAST(s AS HUGEINT)*s) AS sss, SUM(CAST(p AS HUGEINT)*p) AS spp,
         SUM(CAST(t AS HUGEINT)*c) AS stc, SUM(CAST(t AS HUGEINT)*s) AS sts,
         SUM(CAST(t AS HUGEINT)*p) AS stp, SUM(CAST(c AS HUGEINT)*s) AS scs,
         SUM(CAST(c AS HUGEINT)*p) AS scp, SUM(CAST(s AS HUGEINT)*p) AS ssp
  FROM q
)
SELECT 'n_tokens' AS metric_a, 'n_chars' AS metric_b,
       CAST(n*stc - st*sc AS DOUBLE) / (sqrt(CAST(n*stt - st*st AS DOUBLE)) * sqrt(CAST(n*scc - sc*sc AS DOUBLE))) AS corr FROM m
UNION ALL SELECT 'n_tokens', 'n_stopwords',
       CAST(n*sts - st*ss AS DOUBLE) / (sqrt(CAST(n*stt - st*st AS DOUBLE)) * sqrt(CAST(n*sss - ss*ss AS DOUBLE))) FROM m
UNION ALL SELECT 'n_tokens', 'n_non_alnum',
       CAST(n*stp - st*sp AS DOUBLE) / (sqrt(CAST(n*stt - st*st AS DOUBLE)) * sqrt(CAST(n*spp - sp*sp AS DOUBLE))) FROM m
UNION ALL SELECT 'n_chars', 'n_stopwords',
       CAST(n*scs - sc*ss AS DOUBLE) / (sqrt(CAST(n*scc - sc*sc AS DOUBLE)) * sqrt(CAST(n*sss - ss*ss AS DOUBLE))) FROM m
UNION ALL SELECT 'n_chars', 'n_non_alnum',
       CAST(n*scp - sc*sp AS DOUBLE) / (sqrt(CAST(n*scc - sc*sc AS DOUBLE)) * sqrt(CAST(n*spp - sp*sp AS DOUBLE))) FROM m
UNION ALL SELECT 'n_stopwords', 'n_non_alnum',
       CAST(n*ssp - ss*sp AS DOUBLE) / (sqrt(CAST(n*sss - ss*ss AS DOUBLE)) * sqrt(CAST(n*spp - sp*sp AS DOUBLE))) FROM m
""",
    tags=("ext", "text", "profile"),
)
def text_quality_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix between the four integer quality
    metrics — redundancy screening for the quality-gate feature set
    (near-collinear features add filter complexity without signal).
    Exact integer moments through DECIMAL(38,0) (oracle: HUGEINT); the
    final sqrt/divide is one IEEE-identical double step per pair.
    Exactness bound ~2^53 on n·Σab ⇒ valid to ~1e9 docs of 1e4 tokens;
    shard the stats beyond. One map-side-combined aggregate, 1 row
    shuffled; the 6 output rows are projections of that single row."""
    q = X.quality_metrics(t(spark, sf_dir, "documents")).select(
        F.col("n_tokens").alias("t"),
        F.col("n_chars").alias("c"),
        F.col("n_stopwords").alias("s"),
        F.col("n_non_alnum").alias("p"),
    )
    d = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    m = q.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum("c").cast("decimal(38,0)").alias("sc"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
        F.sum("p").cast("decimal(38,0)").alias("sp"),
        F.sum(d("t") * F.col("t")).alias("stt"),
        F.sum(d("c") * F.col("c")).alias("scc"),
        F.sum(d("s") * F.col("s")).alias("sss"),
        F.sum(d("p") * F.col("p")).alias("spp"),
        F.sum(d("t") * F.col("c")).alias("stc"),
        F.sum(d("t") * F.col("s")).alias("sts"),
        F.sum(d("t") * F.col("p")).alias("stp"),
        F.sum(d("c") * F.col("s")).alias("scs"),
        F.sum(d("c") * F.col("p")).alias("scp"),
        F.sum(d("s") * F.col("p")).alias("ssp"),
    ).localCheckpoint()

    def pair(name_a: str, name_b: str, sab: str, sa: str, sb: str, saa: str, sbb: str) -> DataFrame:
        num = (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
        da = F.sqrt((F.col("n") * F.col(saa) - F.col(sa) * F.col(sa)).cast("double"))
        db = F.sqrt((F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double"))
        return m.select(
            F.lit(name_a).alias("metric_a"),
            F.lit(name_b).alias("metric_b"),
            (num / (da * db)).alias("corr"),
        )

    return (
        pair("n_tokens", "n_chars", "stc", "st", "sc", "stt", "scc")
        .unionAll(pair("n_tokens", "n_stopwords", "sts", "st", "ss", "stt", "sss"))
        .unionAll(pair("n_tokens", "n_non_alnum", "stp", "st", "sp", "stt", "spp"))
        .unionAll(pair("n_chars", "n_stopwords", "scs", "sc", "ss", "scc", "sss"))
        .unionAll(pair("n_chars", "n_non_alnum", "scp", "sc", "sp", "scc", "spp"))
        .unionAll(pair("n_stopwords", "n_non_alnum", "ssp", "ss", "sp", "sss", "spp"))
    )


@register(
    "text_domain_divergence",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({SQL_TOKS}) AS w FROM documents
), st AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM st GROUP BY 1
), vg AS (
  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM st
), surpr AS (
  SELECT st.source AS source_b, st.w,
         CAST(length(printf('%b', (tot.t + vg.v) // (st.c + 1))) - 1 AS BIGINT) AS s
  FROM st JOIN tot USING (source), vg
), expanded AS (
  SELECT a.source AS source_a, b.source AS source_b, a.w, a.c AS ca,
         COALESCE(surpr.s,
                  CAST(length(printf('%b', b.t + vg.v)) - 1 AS BIGINT)) AS s
  FROM st a
  CROSS JOIN tot b
  LEFT JOIN surpr ON surpr.source_b = b.source AND surpr.w = a.w
  CROSS JOIN vg
)
SELECT source_a, source_b,
       CAST(SUM(ca) AS BIGINT) AS n_tokens,
       CAST(SUM(ca * s) AS BIGINT) AS total_surprisal,
       CAST(SUM(ca * s) AS DOUBLE) / SUM(ca) AS mean_surprisal
FROM expanded GROUP BY 1, 2
""",
    tags=("ext", "text", "domain", "lm"),
)
def text_domain_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-domain divergence matrix: every source's token stream scored
    under every OTHER source's add-one-smoothed unigram LM (integer
    surprisal ``ilog2((T_B + V) div (c_B + 1))``; unseen tokens pay the
    full ``ilog2(T_B + V)``). The asymmetric cross-entropy proxy behind
    domain-shift detection and mixture design: diagonal = within-domain
    perplexity floor, off-diagonal spikes = sources that look foreign to
    each other. Scale: all frames after the one (source, token) hash agg
    are vocab-sized; the cross join is |sources| wide (broadcast), never
    corpus-sized."""
    d = t(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(X.tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("t"))
    vg = st.agg(F.count_distinct("w").cast("bigint").alias("v"))
    surpr = (
        st.join(tot, "source")
        .crossJoin(F.broadcast(vg))
        .select(
            F.col("source").alias("source_b"),
            "w",
            X.ilog2(F.expr("(t + v) div (c + 1)")).alias("s"),
        )
    )
    expanded = (
        st.select(F.col("source").alias("source_a"), "w", F.col("c").alias("ca"))
        .crossJoin(F.broadcast(tot.select(F.col("source").alias("source_b"), "t")))
        .join(surpr, ["source_b", "w"], "left")
        .crossJoin(F.broadcast(vg))
        .select(
            "source_a",
            "source_b",
            "ca",
            F.coalesce(F.col("s"), X.ilog2(F.col("t") + F.col("v"))).alias("s"),
        )
    )
    return expanded.groupBy("source_a", "source_b").agg(
        F.sum("ca").cast("bigint").alias("n_tokens"),
        F.sum(F.col("ca") * F.col("s")).cast("bigint").alias("total_surprisal"),
        (F.sum(F.col("ca") * F.col("s")).cast("double") / F.sum("ca")).alias(
            "mean_surprisal"
        ),
    )


@register(
    "embed_cluster_outliers",
    oracle=_kmeans_oracle(
        k=4,
        n_iter=2,
        tail=""", stats AS MATERIALIZED (
  SELECT cluster,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dist2) AS BIGINT) AS sd,
         SUM(CAST(dist2 AS HUGEINT) * dist2) AS sdd
  FROM assign GROUP BY cluster
)
SELECT a.vec_id, a.cluster, a.dist2,
       CAST(s.sd AS DOUBLE) / s.n AS mean_dist2,
       sqrt(CAST(s.n * s.sdd - CAST(s.sd AS HUGEINT) * s.sd AS DOUBLE)
            / CAST(CAST(s.n AS HUGEINT) * s.n AS DOUBLE)) AS std_dist2
FROM assign a JOIN stats s USING (cluster)
WHERE ABS(a.dist2 - CAST(s.sd AS DOUBLE) / s.n)
      > 2 * sqrt(CAST(s.n * s.sdd - CAST(s.sd AS HUGEINT) * s.sd AS DOUBLE)
                 / CAST(CAST(s.n AS HUGEINT) * s.n AS DOUBLE))""",
    ),
    tags=("ext", "embedding", "clustering", "quality", "i64dbl"),
)
def embed_cluster_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-conditional outlier screen: vectors whose exact squared
    distance to their own k-means centroid deviates > 2σ from the
    CLUSTER's distance distribution — the per-segment version of
    `embed_norm_outliers` (a vector can be globally unremarkable yet
    foreign to every segment). Stats via exact integer moments
    (DECIMAL(38,0) / HUGEINT); the cluster assignment is the oracle-pinned
    `kmeans_int_clusters`. Scale: stats are k broadcast rows on top of
    the k-means envelope."""
    assign = S.kmeans_int_clusters(t(spark, sf_dir, "embeddings"), k=4, n_iter=2)
    dd = F.col("dist2").cast("decimal(38,0)")
    stats = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dist2").cast("bigint").alias("sd"),
        F.sum(dd * F.col("dist2")).alias("sdd"),
    )
    n, sd, sdd = F.col("n"), F.col("sd").cast("decimal(38,0)"), F.col("sdd")
    mean = sd.cast("double") / n
    var = (n * sdd - sd * sd).cast("double") / (n.cast("decimal(38,0)") * n).cast("double")
    j = assign.join(stats, "cluster")
    return (
        j.select(
            "vec_id",
            "cluster",
            "dist2",
            mean.alias("mean_dist2"),
            F.sqrt(var).alias("std_dist2"),
        )
        .where(F.abs(F.col("dist2") - F.col("mean_dist2")) > 2 * F.col("std_dist2"))
    )


@register(
    "dedup_pressure_by_source",
    oracle=f"""
WITH fp AS (
  SELECT source, md5({SQL_NORM}) AS fp FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dups,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*) AS dup_rate
FROM fp GROUP BY source
""",
    tags=("ext", "dedup", "profile"),
)
def dedup_pressure_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate pressure: docs vs distinct fingerprints
    — the first number a curation run reports per source (a high dup rate
    reprioritizes crawling before any near-dup pass runs). One hash agg
    with a single distinct (no EXPAND)."""
    d = t(spark, sf_dir, "documents").select("source", X.fingerprint("text").alias("fp"))
    n, u = F.count(F.lit(1)), F.count_distinct("fp")
    return d.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        u.cast("bigint").alias("n_unique"),
        (n - u).cast("bigint").alias("n_dups"),
        ((n - u).cast("double") / n).alias("dup_rate"),
    )


@register(
    "layout_zorder_locality",
    oracle="""
WITH d AS (
  SELECT CAST(user_id % 1024 AS BIGINT) AS ux,
         CAST((epoch_us(ts) // 3600000000) % 1024 AS BIGINT) AS hy
  FROM events
), z AS (
  SELECT ux, hy, CAST(((ux >> 0) & 1) * 1 + ((hy >> 0) & 1) * 2 + ((ux >> 1) & 1) * 4 + ((hy >> 1) & 1) * 8 + ((ux >> 2) & 1) * 16 + ((hy >> 2) & 1) * 32 + ((ux >> 3) & 1) * 64 + ((hy >> 3) & 1) * 128 + ((ux >> 4) & 1) * 256 + ((hy >> 4) & 1) * 512 + ((ux >> 5) & 1) * 1024 + ((hy >> 5) & 1) * 2048 + ((ux >> 6) & 1) * 4096 + ((hy >> 6) & 1) * 8192 + ((ux >> 7) & 1) * 16384 + ((hy >> 7) & 1) * 32768 + ((ux >> 8) & 1) * 65536 + ((hy >> 8) & 1) * 131072 + ((ux >> 9) & 1) * 262144 + ((hy >> 9) & 1) * 524288 AS BIGINT) AS zkey FROM d
)
SELECT zkey // 64 AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(ux) AS BIGINT) AS min_x, CAST(MAX(ux) AS BIGINT) AS max_x,
       CAST(MIN(hy) AS BIGINT) AS min_y, CAST(MAX(hy) AS BIGINT) AS max_y
FROM z GROUP BY 1
""",
    tags=("ext", "layout", "zorder"),
)
def layout_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout telemetry: events keyed by the Morton interleave of
    (user_id, epoch-hour) and rolled up per 64-key z-bucket — each
    bucket's (min,max) ranges on BOTH dimensions are tight rectangles,
    the property that lets file-level stats prune two-dimensional
    predicates after a z-ordered write (`curation.zorder_key` docstring
    has the write-path recipe). Exact integer bit arithmetic end-to-end."""
    from flink_dts_connector_spark.operators.curation import zorder_key

    e = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 1024).cast("bigint").alias("ux"),
        F.expr("(unix_micros(ts) div 3600000000) % 1024").cast("bigint").alias("hy"),
    )
    z = e.select("ux", "hy", zorder_key(F.col("ux"), F.col("hy"), bits=10).alias("zkey"))
    return (
        z.groupBy(F.expr("zkey div 64").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("ux").alias("min_x"),
            F.max("ux").alias("max_x"),
            F.min("hy").alias("min_y"),
            F.max("hy").alias("max_y"),
        )
    )


def _ann_recall_oracle() -> str:
    """Compose the recall@5 report's oracle from the ALREADY-REGISTERED
    ANN oracles (each a standalone WITH..SELECT, nested as derived
    tables): recall of every approximate method against the brute-force
    truth, computed entirely inside DuckDB."""
    from flink_dts_connector_spark.plans.registry import _REGISTRY

    sqls = {
        "lsh": _REGISTRY["ann_topk_lsh"].oracle,
        "lsh_multiprobe": _REGISTRY["ann_topk_lsh_multiprobe"].oracle,
        "ivf": _REGISTRY["ann_topk_ivf"].oracle,
        "pq": _REGISTRY["ann_topk_pq"].oracle,
    }
    bf = _REGISTRY["ann_topk_bruteforce"].oracle
    blocks = [
        f"""SELECT '{name}' AS method,
       CAST(COUNT(*) AS BIGINT) AS n_matched,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bf) AS n_total,
       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM bf) AS recall
FROM (SELECT query_id, vec_id FROM ({sql})) m
JOIN bf USING (query_id, vec_id)"""
        for name, sql in sqls.items()
    ]
    return (
        f"WITH bf AS MATERIALIZED (SELECT query_id, vec_id FROM ({bf}))\n"
        + "\nUNION ALL\n".join(blocks)
    )


@register(
    "ann_recall_report",
    oracle=_ann_recall_oracle(),
    tags=("ext", "similarity", "eval"),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating ANN harness: recall@5 of every approximate index
    (single-probe LSH, multi-probe LSH, IVF, PQ) against the exact
    brute-force top-5, in ONE query — the index-quality dashboard a
    100 TB deployment runs on a sampled slice before trusting an index.
    Both engines compute the entire cascade AND the evaluation, so the
    recall numbers themselves are hash-gated. Scale: the truth set is
    |queries|·k rows; each comparison is a broadcast-able equi-join."""
    bf = ann_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id").localCheckpoint()
    total = bf.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    methods = {
        "lsh": ann_topk_lsh,
        "lsh_multiprobe": ann_topk_lsh_multiprobe,
        "ivf": ann_topk_ivf,
        "pq": ann_topk_pq,
    }
    out = None
    for name, fn in methods.items():
        m = fn(spark, sf_dir).select("query_id", "vec_id").join(bf, ["query_id", "vec_id"])
        row = (
            m.agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(name).alias("method"),
                "n_matched",
                "n_total",
                (F.col("n_matched").cast("double") / F.col("n_total")).alias("recall"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "curate_leakage_repaired_split",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
), split AS (
  SELECT doc_id, source,
         CASE WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 80 THEN 'train'
              WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         CAST(len({SQL_TOKS}) AS BIGINT) AS n_tok
  FROM documents
), prio AS (
  SELECT doc_id, source, split, n_tok,
         CASE split WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END AS p
  FROM split
), drops AS (
  SELECT DISTINCT CASE WHEN pa.p >= pb.p THEN pa.doc_id ELSE pb.doc_id END AS doc_id
  FROM pairs
  JOIN prio pa ON pa.doc_id = a_id
  JOIN prio pb ON pb.doc_id = b_id
  WHERE pa.split <> pb.split
)
SELECT source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM prio WHERE doc_id NOT IN (SELECT doc_id FROM drops)
GROUP BY 1, 2
""",
    tags=("ext", "curation", "split", "dedup"),
)
def curate_leakage_repaired_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-REPAIRED train/val/test split: every cross-split near-dup
    pair (`curate_split_leakage`'s finding) is resolved by dropping the
    lower-priority side (train outranks val outranks test — eval sets
    give way, training data is never sacrificed), then the split report
    recomputed. The closed loop: audit → deterministic repair → verified
    report. Scale: the drop set is pair-bounded (tiny), applied as a
    broadcast anti-join; everything else is the split projection."""
    from flink_dts_connector_spark.operators.dedup import md5_number_lower_mod

    d = t(spark, sf_dir, "documents")
    h = md5_number_lower_mod(F.col("doc_id").cast("string"), 100)
    split = F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    prio_expr = F.when(F.col("split") == "train", 0).when(F.col("split") == "val", 1).otherwise(2)
    docs = d.select(
        "doc_id", "source", split.alias("split"), X.token_count("text").alias("n_tok")
    ).withColumn("p", prio_expr)
    pairs = D.jaccard_pairs(d, threshold_pct=30).select("a_id", "b_id")
    pa = docs.select(F.col("doc_id").alias("a_id"), F.col("split").alias("sa"), F.col("p").alias("prio_a"))
    pb = docs.select(F.col("doc_id").alias("b_id"), F.col("split").alias("sb"), F.col("p").alias("prio_b"))
    drops = (
        pairs.join(pa, "a_id")
        .join(pb, "b_id")
        .where(F.col("sa") != F.col("sb"))
        .select(
            F.when(F.col("prio_a") >= F.col("prio_b"), F.col("a_id"))
            .otherwise(F.col("b_id"))
            .alias("doc_id")
        )
        .distinct()
    )
    return (
        docs.join(F.broadcast(drops), "doc_id", "left_anti")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "text_self_repeat_spans",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKS} AS v FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(v)-3+2),
                               i -> md5(array_to_string(v[i:i+3-1], ' ')))) AS g,
         unnest(range(1, len(v)-3+2)) AS pos
  FROM toks
), m AS (
  SELECT a.doc_id AS id, CAST(a.pos AS BIGINT) AS pa, CAST(b.pos AS BIGINT) AS pb
  FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.g = b.g AND a.pos < b.pos
), isl AS (
  SELECT id, pb - pa AS diag, pa,
         pa - ROW_NUMBER() OVER (PARTITION BY id, pb - pa ORDER BY pa) AS isle
  FROM m
), spans AS (
  SELECT id, CAST(COUNT(*) + 2 AS BIGINT) AS span_tokens
  FROM isl GROUP BY id, diag, isle
  HAVING COUNT(*) + 2 >= 4
)
SELECT id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_repeat_spans,
       CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
FROM spans GROUP BY id
""",
    tags=("ext", "text", "repetition", "spans"),
)
def text_self_repeat_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE a document repeats itself: maximal internal repeated spans
    (>= 4 tokens, 3-gram seeds — the fixtures' natural-repeat scale; real
    boilerplate calls for k=6/min_span=8) per doc — the localization
    layer on top of `text_repetition_metrics`' dup-fraction scores."""
    return X.self_repeat_spans(t(spark, sf_dir, "documents"), k=3, min_span=4)


@register(
    "graph_triangle_families",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), e AS (
  SELECT a_id AS a, b_id AS b FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
  SELECT x AS doc_id FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
) GROUP BY doc_id
""",
    tags=("ext", "graph", "dedup"),
)
def graph_triangle_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-family detection: per-document triangle participation in
    the exact near-dup graph (3-gram Jaccard >= 0.30) — a document inside
    many triangles sits in a pairwise-similar CLIQUE (one template, many
    instances), where a chain of pairs would indicate drifted revisions
    instead. Third graph algorithm on the shared pair graph, after
    connected components and PageRank."""
    from flink_dts_connector_spark.operators.graph import triangle_counts

    pairs = D.jaccard_pairs(t(spark, sf_dir, "documents"), threshold_pct=30)
    return triangle_counts(pairs)


@register(
    "events_incremental_window_maintenance",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""",
    tags=("ext", "events", "incremental", "materialized-view"),
)
def events_incremental_window_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance under late data: an hourly
    (window, type) aggregate stands materialized over the base facts
    (event_id % 20 != 0); a 5% late-arriving delta then lands ACROSS many
    closed windows. Maintenance recomputes ONLY the windows the delta
    touches (base rows re-read via a semi-join on touched windows — the
    partition-pruned re-read when facts are date-partitioned) and carries
    every untouched row of the materialization verbatim. The oracle is the
    FULL aggregate over all events: the hash gate proves incremental
    maintenance ≡ full recompute — `curate_incremental_pipeline`'s
    guarantee for aggregates instead of corpora."""
    from flink_dts_connector_spark.plans.relational import dec, dsum

    e = t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    win = F.date_trunc("hour", F.col("ts")).alias("window_start")
    base = e.where(F.col("event_id") % 20 != 0)
    delta = e.where(F.col("event_id") % 20 == 0)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(win, "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum(dec("value"), "total_value"),
        )

    base_agg = agg(base).localCheckpoint()  # the standing materialization
    touched = delta.select(win).distinct()
    carried = base_agg.join(F.broadcast(touched), "window_start", "left_anti")
    recomputed = agg(
        base.unionByName(delta).join(
            F.broadcast(touched), F.date_trunc("hour", F.col("ts")) == F.col("window_start"), "left_semi"
        )
    )
    return carried.unionByName(recomputed)


@register(
    "layout_compaction_plan",
    oracle=f"""
WITH manifest AS (
  SELECT CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 64 AS BIGINT) AS shard_id,
         CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1
), cum AS (
  SELECT shard_id, bytes,
         SUM(bytes) OVER (ORDER BY shard_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - bytes AS before_bytes
  FROM manifest
)
SELECT CAST(before_bytes // 20000 AS BIGINT) AS merge_group,
       CAST(COUNT(*) AS BIGINT) AS n_shards,
       CAST(SUM(bytes) AS BIGINT) AS group_bytes,
       CAST(MIN(shard_id) AS BIGINT) AS first_shard,
       CAST(MAX(shard_id) AS BIGINT) AS last_shard
FROM cum GROUP BY 1
""",
    tags=("ext", "layout", "compaction"),
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE half of a lakehouse
    write path): 64 undersized shards roll up into ~20 KB merge groups by
    cumulative-size cut in shard order — contiguous, deterministic, and
    computable in one window over the MANIFEST (64 rows), never touching
    the data. Each output row is one rewrite task (group, member range,
    bytes); at 100 TB the same plan runs over the file-level manifest
    with a multi-GB target. Contiguous roll-up deliberately beats
    first-fit-decreasing here: FFD is sequential-greedy (not a relational
    op) and destroys shard-order locality, which later range reads want."""
    from flink_dts_connector_spark.operators.curation import shard_assign
    from pyspark.sql import Window as W

    manifest = (
        shard_assign(t(spark, sf_dir, "documents"), n_shards=64)
        .groupBy("shard_id")
        .agg(F.sum(F.col("n_chars").cast("bigint")).alias("bytes"))
    )
    w = W.orderBy("shard_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = manifest.withColumn("before_bytes", F.sum("bytes").over(w) - F.col("bytes"))
    return (
        cum.groupBy(F.expr("before_bytes div 20000").alias("merge_group"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shards"),
            F.sum("bytes").cast("bigint").alias("group_bytes"),
            F.min("shard_id").alias("first_shard"),
            F.max("shard_id").alias("last_shard"),
        )
    )


@register(
    "layout_range_boundaries",
    oracle="""
WITH k AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS _k FROM orders
), stats AS (
  SELECT MIN(_k) AS mn, MAX(_k) AS mx, CAST(COUNT(*) AS BIGINT) AS n FROM k
), b AS (
  SELECT (_k - mn) * 1024 // (mx - mn + 1) AS b, mn, mx, n,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM k, stats GROUP BY 1, 2, 3, 4
), cum AS (
  SELECT *, CAST(SUM(c) OVER (ORDER BY b) AS BIGINT) AS cum FROM b
), splits AS (
  SELECT unnest(generate_series(1, 7)) AS split_id
), hit AS (
  SELECT s.split_id, MIN(cum.b) AS bb
  FROM splits s JOIN cum ON cum.cum >= s.split_id * cum.n // 8
  GROUP BY 1
)
SELECT CAST(h.split_id AS BIGINT) AS split_id,
       CAST(c.mn + (h.bb + 1) * (c.mx - c.mn + 1) // 1024 AS BIGINT) AS boundary_key,
       c.cum AS cum_count,
       CAST(h.split_id * c.n // 8 AS BIGINT) AS target_count
FROM hit h JOIN cum c ON c.b = h.bb
""",
    tags=("ext", "layout", "planner"),
)
def layout_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic equi-depth range-partition planner over order value
    (cents): the 7 split boundaries an 8-way `repartitionByRange` /
    range-bucketed write wants, computed with NO global sort and NO
    sampling — one min/max/count pass plus a 1024-bucket integer histogram
    (hash agg, map-side combine); the cumulative cut runs on the ≤1024-row
    histogram frame. Spark's own RangePartitioner samples
    non-deterministically; this twin is reproducible run-to-run, which is
    what an incremental corpus layout needs (stable shard boundaries =>
    stable diffs)."""
    from flink_dts_connector_spark.operators.skew import range_boundaries

    return range_boundaries(
        t(spark, sf_dir, "orders"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        n_splits=8,
        n_buckets=1024,
    )


@register(
    "join_lateral_topk_orders",
    oracle="""
SELECT c_custkey, c_name, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
WHERE c_custkey % 50 = 1
""",
    tags=("join", "lateral", "sql-surface"),
)
def join_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (top-2 orders per sampled customer) — the
    SQL-surface form of per-key top-k. Catalyst decorrelates the lateral
    subquery into a ranked join, the same physical shape as
    `win_topk_orders_per_customer`; registered to pin that the SQL
    entry point works, not just the DataFrame one. No raw doubles are
    computed — values pass through from the scan, so the hash gate is
    exact."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c_custkey % 50 = 1
        """
    )


@register(
    "dedup_minhash_calibration",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), hb AS (
  SELECT doc_id, md5_number_lower(s) % 2147483647 AS h FROM sh
), sig AS (
  SELECT doc_id,
         {_MINHASH_MD5_MINS}
  FROM hb GROUP BY doc_id
), bands AS (
  {_MINHASH_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.r0 = b.r0 AND a.r1 = b.r1 AND a.r2 = b.r2 AND a.r3 = b.r3
   AND a.doc_id < b.doc_id
), est AS (
  SELECT c.a_id, c.b_id,
         CAST({" + ".join(f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(16))} AS BIGINT) AS n_match
  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id JOIN sig sb ON sb.doc_id = c.b_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.a_id
  JOIN sh y ON y.doc_id = c.b_id AND y.s = x.s
  GROUP BY 1, 2
), exact AS (
  SELECT a_id, b_id, CAST(n_inter AS BIGINT) AS n_inter,
         CAST(sa.n_sh + sb.n_sh - n_inter AS BIGINT) AS n_union
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
)
SELECT n_match,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(n_inter) AS BIGINT) AS sum_inter,
       CAST(SUM(n_union) AS BIGINT) AS sum_union,
       CAST(SUM(n_inter) AS DOUBLE) / SUM(n_union) AS mean_jaccard
FROM est JOIN exact USING (a_id, b_id)
GROUP BY n_match
""",
    tags=("ext", "dedup", "approx", "eval"),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash S-curve calibration: signature-agreement estimate vs exact
    Jaccard per agreement level over the LSH candidates — the near-dup
    index's self-evaluation (companion to `ann_recall_report`)."""
    return D.minhash_calibration_md5(t(spark, sf_dir, "documents"))


@register(
    "events_changepoint_cusum",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS tot FROM h
), c AS (
  SELECT hr, x,
         CAST(SUM(CAST(s.n * x - s.tot AS HUGEINT))
              OVER (ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cusum_scaled
  FROM h, s
)
SELECT hr, x, cusum_scaled FROM c
""",
    tags=("ext", "events", "anomaly", "changepoint"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point trace over the hourly event-volume series:
    cumulative sum of (n·xᵢ − Σx) — the mean-deviation CUSUM scaled by n
    so it stays in EXACT integers (no mean division mid-series); the
    |cusum| peak marks the most likely level-shift hour. Series-sized
    frame (hundreds of rows), so the ordered window is a single tiny
    partition by construction — the raw events never sort."""
    from pyspark.sql import Window as W

    h = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    s = h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("x").cast("bigint").alias("tot")
    )
    w = W.orderBy("hr").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        h.crossJoin(F.broadcast(s))
        .withColumn(
            "cusum_scaled",
            F.sum((F.col("n") * F.col("x") - F.col("tot")).cast("decimal(38,0)"))
            .over(w)
            .cast("bigint"),
        )
        .select("hr", "x", "cusum_scaled")
    )


@register(
    "text_oov_rate",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({SQL_TOKS}) AS w FROM documents
), counts AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
), vocab AS (
  SELECT w FROM (
    SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk FROM counts
  ) WHERE rnk <= 30
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate
FROM toks LEFT JOIN vocab ON toks.w = vocab.w
GROUP BY source
""",
    tags=("ext", "text", "vocab"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit signal: per-source out-of-vocabulary token mass
    against the corpus's own top-30 vocabulary — a source whose OOV rate
    spikes will fragment into subword soup under a tokenizer trained on
    the global distribution. The vocab is a broadcast (top-K over the
    vocab-count frame, which is type-count-sized, not corpus-sized);
    scoring is a broadcast left join inside the token scan."""
    from pyspark.sql import Window as W

    toks = t(spark, sf_dir, "documents").select(
        "source", F.explode(X.tokens("text")).alias("w")
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.withColumn("rnk", F.row_number().over(W.orderBy(F.desc("c"), F.asc("w"))))
        .where(F.col("rnk") <= 30)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    n, oov = F.count(F.lit(1)), F.sum(F.col("_in_vocab").isNull().cast("bigint"))
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            n.cast("bigint").alias("n_tokens"),
            oov.cast("bigint").alias("n_oov"),
            (oov.cast("double") / n).alias("oov_rate"),
        )
    )


@register(
    "agg_time_rollup",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mth,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS DOUBLE) AS revenue
FROM orders
GROUP BY ROLLUP (yr, qtr, mth)
""",
    tags=("agg", "rollup", "time", "i64dbl"),
)
def agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy ROLLUP (year → quarter → month) over order revenue —
    the calendar drill-down cube every BI layer asks of an OLAP engine.
    Revenue sums exact integer cents; one EXPAND-based rollup agg."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.quarter("o_orderdate").cast("bigint").alias("qtr"),
            F.month("o_orderdate").cast("bigint").alias("mth"),
            cents.alias("_c"),
        )
        .rollup("yr", "qtr", "mth")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (F.sum("_c").cast("double") / 100).alias("revenue"),
        )
    )


@register(
    "win_percent_of_parent",
    oracle="""
WITH seg AS (
  SELECT r.r_name AS region, c.c_mktsegment AS segment,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
)
SELECT region, segment,
       CAST(CAST(cents AS DOUBLE) / 100 AS DOUBLE) AS revenue,
       CAST(cents AS DOUBLE) / SUM(cents) OVER (PARTITION BY region) AS share_of_region,
       CAST(cents AS DOUBLE) / SUM(cents) OVER () AS share_of_total
FROM seg
""",
    tags=("window", "ratio-to-report", "i64dbl"),
)
def win_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each (region, segment)'s revenue share of its
    region and of the whole — the percent-of-parent window families BI
    tools generate. Shares divide exact integer cents, so the doubles are
    engine-identical; the windows run over the AGGREGATED frame (25
    rows), never the facts."""
    from pyspark.sql import Window as W

    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    n, r = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    seg = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("c_mktsegment").alias("segment"))
        .agg(F.sum(cents).alias("cents"))
    )
    return seg.select(
        "region",
        "segment",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        (F.col("cents").cast("double") / F.sum("cents").over(W.partitionBy("region"))).alias(
            "share_of_region"
        ),
        (F.col("cents").cast("double") / F.sum("cents").over(
            W.partitionBy()
        )).alias("share_of_total"),
    )


@register(
    "events_session_paths",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 OR
                   LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM flagged
), tri AS (
  SELECT event_type || '>' ||
         LEAD(event_type, 1) OVER w2 || '>' ||
         LEAD(event_type, 2) OVER w2 AS path
  FROM sess
  WINDOW w2 AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id)
  QUALIFY LEAD(event_type, 2) OVER w2 IS NOT NULL
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY path
ORDER BY n DESC, path LIMIT 15
""",
    tags=("ext", "events", "paths", "sessionize"),
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the 15 most common 3-step event-type
    sequences WITHIN a session (30-min gap sessionization, then a LEAD
    window per session) — the product-analytics "common paths" report.
    Composes the sessionizer with sequence windows; everything shuffles
    once on user_id and stays partitioned through both windows."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull() | (us - F.lag(us).over(w) > 1800 * 1_000_000), 1
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    w2 = W.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    tri = (
        sess.withColumn("e2", F.lead("event_type", 1).over(w2))
        .withColumn("e3", F.lead("event_type", 2).over(w2))
        .where(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
    )
    return (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(15)
    )


@register(
    "privacy_k_anonymity",
    oracle=f"""
WITH q AS (
  SELECT lang, source, (CAST(len({SQL_TOKS}) AS BIGINT) // 50) * 50 AS len_bucket
  FROM documents
)
SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS group_size
FROM q GROUP BY 1, 2, 3
HAVING COUNT(*) < 5
""",
    tags=("ext", "privacy", "audit"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (lang, source, token-length bucket): groups smaller than k re-identify
    — the release gate run AFTER `text_pii_redaction` scrubs direct
    identifiers, because quasi-identifiers leak through clean text. One
    hash agg + HAVING; the violating groups are the rows a suppression
    pass would drop or generalize."""
    d = t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        ((X.token_count("text") / 50).cast("bigint") * 50).alias("len_bucket"),
    )
    return (
        d.groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
        .where(F.col("group_size") < 5)
    )


@register(
    "agg_mergeable_histograms",
    oracle=f"""
WITH h AS (
  SELECT CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 16 AS BIGINT) AS shard_id,
         (CAST(len({SQL_TOKS}) AS BIGINT) // 20) * 20 AS bucket
  FROM documents
), per_shard AS (
  SELECT shard_id, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY 1, 2
)
SELECT bucket,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_shards_contributing
FROM per_shard GROUP BY bucket
""",
    tags=("ext", "agg", "mergeable", "rollup"),
)
def agg_mergeable_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable pre-aggregation: per-SHARD token-length histograms merged
    into the corpus histogram — the rollup-table pattern (store tiny
    per-partition partials, merge on demand; integer histograms are
    losslessly mergeable where quantile sketches only approximately so).
    The merged counts must equal the direct global histogram — the oracle
    computes the same two-level plan, and `n_shards_contributing` pins
    that partials genuinely came from multiple shards."""
    from flink_dts_connector_spark.operators.curation import shard_assign

    h = shard_assign(t(spark, sf_dir, "documents"), n_shards=16).select(
        "shard_id", ((X.token_count("text") / 20).cast("bigint") * 20).alias("bucket")
    )
    per_shard = h.groupBy("shard_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return per_shard.groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards_contributing"),
    )


@register(
    "layout_partitioned_write_prune",
    oracle=f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(len({SQL_TOKS}) AS BIGINT)) AS BIGINT) AS n_tokens
FROM documents WHERE source = 'src3'
GROUP BY lang
""",
    tags=("ext", "layout", "pruning"),
)
def layout_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout partition pruning end-to-end AS a gated query: the
    corpus is written out `partitionBy(source)` (the Hive layout a curated
    corpus ships in), read back with a `source = 'src3'` predicate — which
    must prune to ONE directory (asserted on the plan: the scan's
    partitionFilters carry the predicate, its data filters don't) — then
    aggregated. Proves the write layout, the pruned read, and the result
    in one pass; the oracle is the direct filter over the original table."""
    from flink_dts_connector_spark.streaming.runner import scratch_dir

    d = t(spark, sf_dir, "documents")
    # returned frame reads these files lazily — cleanup deferred to exit
    out = scratch_dir("fdcs_part_")
    d.write.mode("overwrite").partitionBy("source").parquet(out)
    back = spark.read.parquet(out).where(F.col("source") == "src3")
    plan = back._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters: []" in plan and "src3" not in plan.split("PushedFilters")[0]:
        raise AssertionError("partition pruning did not engage on the source column")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(X.token_count("text")).cast("bigint").alias("n_tokens"),
    )


@register(
    "text_zipf_fit",
    oracle=f"""
WITH counts AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, unnest({SQL_TOKS}) AS w FROM documents
  ) GROUP BY 1, 2
), ranked AS (
  SELECT source,
         CAST(length(printf('%b', ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w))) - 1 AS BIGINT) AS lx,
         CAST(length(printf('%b', c)) - 1 AS BIGINT) AS ly
  FROM counts
), m AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
         CAST(SUM(lx * lx) AS BIGINT) AS sxx, CAST(SUM(lx * ly) AS BIGINT) AS sxy
  FROM ranked GROUP BY 1
)
SELECT source, n AS n_types,
       CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS zipf_slope
FROM m WHERE n * sxx - sx * sx <> 0
""",
    tags=("ext", "text", "statistics"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: OLS slope of ilog2(frequency) against
    ilog2(rank) over the source's vocabulary — natural text sits near −1;
    templated/generated text flattens toward 0 (every token equally
    common) — a generator/boilerplate detector from pure corpus
    statistics. Integer bit-length logs and integer moments, one double
    division; the rank window runs per source over the vocab frame."""
    from pyspark.sql import Window as W

    counts = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(X.tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rnk = F.row_number().over(W.partitionBy("source").orderBy(F.desc("c"), F.asc("w")))
    ranked = counts.select(
        "source",
        X.ilog2(rnk.cast("bigint")).alias("lx"),
        X.ilog2(F.col("c")).alias("ly"),
    )
    n = F.count(F.lit(1)).cast("bigint")
    m = ranked.groupBy("source").agg(
        n.alias("n"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).cast("bigint").alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).cast("bigint").alias("sxy"),
    )
    den = m["n"] * m["sxx"] - m["sx"] * m["sx"]
    return m.where(den != 0).select(
        "source",
        F.col("n").alias("n_types"),
        ((m["n"] * m["sxy"] - m["sx"] * m["sy"]).cast("double") / den).alias("zipf_slope"),
    )


@register(
    "text_quality_rules",
    oracle=f"""
WITH m AS (
  SELECT CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter({SQL_TOKS}, t -> t IN ('the','a','of','and'))) AS BIGINT) AS n_stopwords,
         CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS BIGINT) AS n_non_alnum
  FROM documents
), f AS (
  SELECT CASE WHEN n_tokens < 30 THEN 1 ELSE 0 END AS f1,
         CASE WHEN n_tokens > 80 THEN 1 ELSE 0 END AS f2,
         CASE WHEN n_stopwords * 50 < n_tokens THEN 1 ELSE 0 END AS f3,
         CASE WHEN n_non_alnum * 100 > n_chars * 19 THEN 1 ELSE 0 END AS f4,
         CASE WHEN n_chars < n_tokens * 5 THEN 1 ELSE 0 END AS f5
  FROM m
), g AS (SELECT *, greatest(f1, f2, f3, f4, f5) AS fa FROM f)
SELECT rule, n_docs, n_fail, CAST(n_fail AS DOUBLE) / n_docs AS fail_pct FROM (
  SELECT 'min_tokens' AS rule, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(f1) AS BIGINT) AS n_fail FROM g
  UNION ALL SELECT 'max_tokens', CAST(COUNT(*) AS BIGINT), CAST(SUM(f2) AS BIGINT) FROM g
  UNION ALL SELECT 'stopword_floor', CAST(COUNT(*) AS BIGINT), CAST(SUM(f3) AS BIGINT) FROM g
  UNION ALL SELECT 'symbol_ceiling', CAST(COUNT(*) AS BIGINT), CAST(SUM(f4) AS BIGINT) FROM g
  UNION ALL SELECT 'word_length', CAST(COUNT(*) AS BIGINT), CAST(SUM(f5) AS BIGINT) FROM g
  UNION ALL SELECT 'any_rule', CAST(COUNT(*) AS BIGINT), CAST(SUM(fa) AS BIGINT) FROM g
)
""",
    tags=("ext", "text", "curation", "filter"),
)
def text_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-list filter report (Rae et al. 2021 §A.1.1): each
    document gets a 0/1 verdict per rule (length bounds, stopword floor,
    symbol ceiling, mean word length — all-integer predicates over
    quality_metrics' exact counts), then ONE narrow aggregation yields the
    per-rule failure census plus the combined `any_rule` kill rate — the
    dashboard a corpus-curation run reads before committing a filter
    config. Flags are computed once per doc and unpivoted via an inline
    array (6 structs/row), so the whole report is a single map-side-
    combined agg over (rule) — no per-rule rescans of the corpus."""
    flags = X.quality_rule_flags(t(spark, sf_dir, "documents"))
    pairs = flags.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(n).alias("rule"), F.col(n).cast("bigint").alias("fail"))
                    for n, _ in X.QUALITY_RULES
                ],
                F.struct(F.lit("any_rule").alias("rule"), F.col("any_rule").cast("bigint").alias("fail")),
            )
        ).alias("p")
    ).select("p.*")
    agg = pairs.groupBy("rule").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("fail").cast("bigint").alias("n_fail"),
    )
    return agg.select(
        "rule", "n_docs", "n_fail", (F.col("n_fail").cast("double") / F.col("n_docs")).alias("fail_pct")
    )


@register(
    "search_phrase_positions",
    oracle=f"""
WITH d AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
tri AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> {{'pos': CAST(i AS BIGINT),
                       'phrase': toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]}}),
                recursive := true)
  FROM d
), counts AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS c FROM tri GROUP BY 1
), top AS (
  SELECT min(phrase) AS phrase FROM counts WHERE c = (SELECT max(c) FROM counts)
)
SELECT tri.doc_id, tri.pos, tri.phrase FROM tri JOIN top ON tri.phrase = top.phrase
""",
    tags=("ext", "search", "positional"),
)
def search_phrase_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: posting lists carry (doc_id,
    token_position), and a phrase query is an equi-join of consecutive
    positions — here fused into trigram postings built per document
    (transform over the token index range, one posexplode). The query
    phrase is chosen *from the corpus itself* — the globally most frequent
    trigram (ties broken lexicographically) — via max-count + min-phrase
    aggregates and a broadcast of the ONE surviving phrase back onto the
    postings: no global sort, no driver round-trip. Returns every
    occurrence with its 1-based token position — the hit list a
    highlighter consumes."""
    # r14 single-row-group guard (the `_spread` idiom): `tri` is consumed
    # TWICE (counts subtree + the final hit join), and the trigram
    # explode+concat runs upstream of any exchange — an under-split scan
    # therefore paid the serial explode twice (r14 job drill: 0.48 s +
    # 0.38 s back-to-back 1-task jobs). One conditional hash repartition
    # both spreads the explode across cores AND gives the two consumers an
    # identical Exchange subtree, which ReuseExchange dedupes — the
    # explode now runs once.
    d = t(spark, sf_dir, "documents").select("doc_id", F.col("text"))
    target = d.sparkSession.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < target:
        d = d.repartition(target, "doc_id")
    d = d.select("doc_id", X.tokens("text").alias("toks"))
    sz = F.size("toks")
    idx = F.when(sz >= 3, F.sequence(F.lit(1), sz - 2)).otherwise(
        F.array().cast("array<int>")
    )
    tri = d.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.cast("bigint").alias("pos"),
                    F.concat_ws(
                        " ",
                        F.element_at("toks", i),
                        F.element_at("toks", i + 1),
                        F.element_at("toks", i + 2),
                    ).alias("phrase"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.pos", "p.phrase")
    counts = tri.groupBy("phrase").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    mx = counts.agg(F.max("c").alias("mc"))
    top = (
        counts.join(F.broadcast(mx), counts["c"] == mx["mc"])
        .agg(F.min("phrase").alias("phrase"))
    )
    return tri.join(F.broadcast(top), "phrase").select("doc_id", "pos", "phrase")


@register(
    "events_sparse_profile_merge",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), l AS (SELECT * FROM r WHERE rn = 1)
SELECT user_id,
       MAX(CASE WHEN event_type = 'click' THEN value END) AS click_value,
       MAX(CASE WHEN event_type = 'error' THEN value END) AS error_value,
       MAX(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_value,
       MAX(CASE WHEN event_type = 'signup' THEN value END) AS signup_value,
       MAX(CASE WHEN event_type = 'view' THEN value END) AS view_value,
       MAX(ts) AS last_update,
       CAST(COUNT(*) AS BIGINT) AS n_attrs
FROM l GROUP BY user_id
""",
    tags=("ext", "cdc", "merge", "sparse"),
)
def events_sparse_profile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse column-level merge (the CDC partial-update semantic the
    reference's upsert stream implies when writers touch disjoint columns:
    DtsRecord op streams where each record carries one attribute): every
    event is an attribute write (attribute = event_type), and the current
    profile keeps, PER COLUMN, the value of the latest writer — not the
    latest whole row. One window (rank per (user, attr), ts/event_id
    tiebreak) + one pivot-by-conditional-max agg; both shuffles are on
    user_id so AQE coalesces them into a single exchange lineage. NULL
    columns mean 'never written' — preserved, not defaulted."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = e.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    types = ["click", "error", "purchase", "signup", "view"]
    return latest.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("event_type") == ty, F.col("value"))).alias(f"{ty}_value")
            for ty in types
        ],
        F.max("ts").alias("last_update"),
        F.count(F.lit(1)).cast("bigint").alias("n_attrs"),
    )


@register(
    "join_bloom_prefilter",
    oracle="""
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,2)) AS DOUBLE) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY 1
""",
    tags=("ext", "join", "bloom", "runtime-filter", "dec2"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: the BUILDING-segment customer keys
    are folded into a 64 Kbit word-indexed bitmap TABLE (≤1024 rows —
    broadcastable even when the dim side itself would blow the broadcast
    threshold at 10^9 keys), and orders is prefiltered by k=3 broadcast
    word-lookups + bit tests BEFORE the exact join — the big side is never
    shuffled or row-multiplied to test membership. No false negatives, so
    the final exact join + agg is row-identical to the plain join (the
    oracle IS the plain join); false positives only add probe rows. This
    is Spark's runtime bloom pushdown / Trino's dynamic filtering made
    explicit and plan-pinned rather than threshold-dependent."""
    from flink_dts_connector_spark.operators.skew import bloom_prefilter

    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = t(spark, sf_dir, "orders")
    survivors = bloom_prefilter(o, c, "c_custkey", big_key_col="o_custkey")
    return (
        survivors.join(F.broadcast(c), survivors["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            # dec2: 1.5e10 at sf1 breaches the scale-6 bound
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("total_price"),
        )
    )


SQL_IVFPQ = f"""
WITH itq AS (
  SELECT vec_id, {SQL_Q} AS e FROM embeddings
), n AS (
  SELECT vec_id, e, CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm FROM itq
), c AS (
  SELECT vec_id AS cid, e AS ce, nrm AS cn FROM n WHERE vec_id % 37 = 3 AND vec_id < 5000
), flat_n AS (
  SELECT vec_id, nrm, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM n
), flat_c AS (
  SELECT cid, cn, unnest(ce) AS x, generate_subscripts(ce, 1) AS i FROM c
), ic AS (
  SELECT f.vec_id, fc.cid, CAST(SUM(f.x * fc.x) AS BIGINT) AS dot,
         ANY_VALUE(f.nrm) AS ni, ANY_VALUE(fc.cn) AS cn
  FROM flat_n f JOIN flat_c fc ON f.i = fc.i
  GROUP BY 1, 2
), ic_scored AS (
  SELECT vec_id, cid,
         CAST(dot AS DOUBLE) / sqrt(CAST(ni AS DOUBLE) * CAST(cn AS DOUBLE)) AS s
  FROM ic
), assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM ic_scored
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM ic_scored WHERE vec_id % 100 = 0 AND vec_id < 5000
  ) WHERE rn <= 3
), seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, ce FROM (
    SELECT vec_id, e AS ce FROM itq ORDER BY vec_id LIMIT 16
  )
), subs AS (SELECT unnest(range(8)) AS sub),
dims AS (SELECT unnest(range(1, 9)) AS i),
cb AS (
  SELECT s.code, m.sub, d.i, s.ce[m.sub * 8 + d.i] AS cc
  FROM seeds s, subs m, dims d
), itv AS (
  SELECT itq.vec_id, m.sub, d.i, itq.e[m.sub * 8 + d.i] AS x
  FROM itq, subs m, dims d
), dist AS (
  SELECT itv.vec_id, itv.sub, cb.code,
         SUM((itv.x - cb.cc) * (itv.x - cb.cc)) AS d2
  FROM itv JOIN cb ON itv.sub = cb.sub AND itv.i = cb.i
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM dist
  ) WHERE rn = 1
), qv AS (
  SELECT itq.vec_id AS query_id, m.sub, d.i, itq.e[m.sub * 8 + d.i] AS xq
  FROM itq, subs m, dims d WHERE itq.vec_id % 100 = 0 AND itq.vec_id < 5000
), lut AS (
  SELECT qv.query_id, qv.sub, cb.code, SUM(qv.xq * cb.cc) AS dot
  FROM qv JOIN cb ON qv.sub = cb.sub AND qv.i = cb.i
  GROUP BY 1, 2, 3
), cand0 AS (
  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
), approx AS (
  SELECT c0.query_id, c0.vec_id, SUM(l.dot) AS adot
  FROM cand0 c0
  JOIN codes cd ON cd.vec_id = c0.vec_id
  JOIN lut l ON l.query_id = c0.query_id AND l.sub = cd.sub AND l.code = cd.code
  GROUP BY 1, 2
), cands AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rn
    FROM approx
  ) WHERE rn <= 50
), pair_scores AS (
  SELECT cd.query_id, cd.vec_id, CAST(SUM(fa.x * fb.x) AS BIGINT) AS dot,
         ANY_VALUE(fa.nrm) AS nq, ANY_VALUE(fb.nrm) AS ni
  FROM cands cd
  JOIN flat_n fa ON fa.vec_id = cd.query_id
  JOIN flat_n fb ON fb.vec_id = cd.vec_id AND fb.i = fa.i
  GROUP BY 1, 2
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(ni AS DOUBLE)) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(ni AS DOUBLE)) DESC, vec_id
         ) AS rank
  FROM pair_scores
) WHERE rank <= 5
"""


@register("ann_topk_ivfpq", oracle=SQL_IVFPQ, tags=("ext", "similarity", "approx"))
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 — the two-level FAISS-style index that is THE
    100 TB ANN architecture: the IVF coarse quantizer (seed centroids,
    vec_id % 37 == 3 capped below 5000 → FIXED nlist, so the assignment
    pass is linear in corpus — the r11 sf1 bench caught the uncapped
    nlist ∝ N version at ×32 raw on ×10 data; nprobe=3) prunes which
    vectors are touched at all
    (partition pruning when the index is laid out by cell), and product
    quantization (8×16 deterministic codebooks) prunes the bytes per
    touched vector to an 8-byte code scanned via per-query lookup tables;
    a top-50 shortlist gets the exact quantized-cosine rerank. Every
    stage is exact integer arithmetic with id tiebreaks, so the complete
    cascade — cell argmax, probe selection, encoding argmin, LUT ADC,
    shortlist, rerank — has a live step-for-step DuckDB oracle."""
    e = t(spark, sf_dir, "embeddings")
    centroids = e.where((F.col("vec_id") % 37 == 3) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivfpq_topk(e, q, centroids, k=5, nprobe=3)


def _skew_sql(col: str) -> str:
    return f"""
  SELECT '{col}' AS key_col,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_per_key,
         CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_per_key,
         CAST(MAX(c) * COUNT(*) AS DOUBLE) / SUM(c) AS skew_ratio
  FROM (SELECT {col}, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1)"""


@register(
    "profile_key_skew",
    oracle=" UNION ALL ".join(_skew_sql(c) for c in ("l_orderkey", "l_partkey", "l_suppkey")),
    tags=("ext", "profile", "skew"),
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the operational report that decides when
    `operators/skew.py`'s mitigations (salting, two-phase agg) or AQE skew
    splitting are needed BEFORE a job ships: for each candidate join/agg
    key, the per-key cardinality profile (rows, distinct keys, max and
    mean rows per key) and `skew_ratio` = max/mean — ratio 1 is uniform;
    a hot key shows up as max ≫ mean. One pruned single-column pass per
    key (column-pruned scan → map-side-combined count → 1-row reduce);
    integer counts with the two doubles derived by one division each, so
    the report is oracle-exact."""
    li = t(spark, sf_dir, "lineitem")
    outs = []
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        per_key = li.select(col).groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        outs.append(
            per_key.agg(
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max("c").cast("bigint").alias("max_per_key"),
            ).select(
                F.lit(col).alias("key_col"),
                "n_rows",
                "n_keys",
                "max_per_key",
                (F.col("n_rows").cast("double") / F.col("n_keys")).alias("mean_per_key"),
                ((F.col("max_per_key") * F.col("n_keys")).cast("double") / F.col("n_rows")).alias(
                    "skew_ratio"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "win_percentile_standing",
    oracle="""
SELECT c_mktsegment, c_custkey, c_acctbal,
       percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS balance_pr,
       cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS balance_cd
FROM customer
""",
    tags=("ext", "window", "analytic"),
)
def win_percentile_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing analytic windows — percent_rank and cume_dist per
    segment (the 'what percentile is this account' report): both are pure
    rank/count ratios, so ties get identical values in any engine and the
    doubles are bit-reproducible (one bigint division each). One exchange
    on the partition key; segment cardinality scales with data, so the
    window parallelizes like every other ranking query here."""
    from pyspark.sql import Window as W

    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("balance_pr"),
        F.cume_dist().over(w).alias("balance_cd"),
    )


@register(
    "curate_dataset_card",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, lang,
         CAST(len({SQL_TOKS}) AS BIGINT) AS nt,
         md5({SQL_NORM}) AS fp,
         CASE WHEN CAST(len({SQL_TOKS}) AS BIGINT) < 30
                OR CAST(len({SQL_TOKS}) AS BIGINT) > 80
                OR CAST(len(list_filter({SQL_TOKS}, t -> t IN ('the','a','of','and'))) AS BIGINT) * 50 < CAST(len({SQL_TOKS}) AS BIGINT)
                OR CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS BIGINT) * 100 > CAST(length(text) AS BIGINT) * 19
                OR CAST(length(text) AS BIGINT) < CAST(len({SQL_TOKS}) AS BIGINT) * 5
              THEN 1 ELSE 0 END AS killed
  FROM documents
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_toks FROM d
)
SELECT 'docs_by_source' AS metric, source AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(tot.n_docs) AS ratio
FROM d, tot GROUP BY source
UNION ALL
SELECT 'tokens_by_source', source, CAST(SUM(nt) AS BIGINT),
       CAST(SUM(nt) AS DOUBLE) / ANY_VALUE(tot.n_toks)
FROM d, tot GROUP BY source
UNION ALL
SELECT 'docs_by_lang', lang, CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(tot.n_docs)
FROM d, tot GROUP BY lang
UNION ALL
SELECT 'exact_dup_excess', 'ALL', CAST(ANY_VALUE(tot.n_docs) - COUNT(DISTINCT fp) AS BIGINT),
       CAST(ANY_VALUE(tot.n_docs) - COUNT(DISTINCT fp) AS DOUBLE) / ANY_VALUE(tot.n_docs)
FROM d, tot
UNION ALL
SELECT 'quality_kill', 'ALL', CAST(SUM(killed) AS BIGINT),
       CAST(SUM(killed) AS DOUBLE) / ANY_VALUE(tot.n_docs)
FROM d, tot
""",
    tags=("ext", "curation", "report"),
)
def curate_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card — the one-query release summary a curated corpus ships
    with (HuggingFace dataset-card shape: composition by source and
    language, token mass, duplication excess, filter kill rate). Five
    small aggregate frames over ONE shared per-doc projection (tokens,
    fingerprint, rule verdict computed once), each a map-side-combined agg
    with a broadcast 1-row totals join for shares — the whole card costs
    one corpus scan plus tiny-frame unions, so regenerating it per release
    is free even at 100 TB."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "lang",
        X.token_count("text").alias("nt"),
        X.fingerprint("text").alias("fp"),
    ).join(
        X.quality_rule_flags(docs).select("doc_id", F.col("any_rule").alias("killed")),
        "doc_id",
    )
    tot = F.broadcast(
        d.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_toks"),
        )
    )
    by_source = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("nt").cast("bigint").alias("toks")
    ).crossJoin(tot)
    docs_by_source = by_source.select(
        F.lit("docs_by_source").alias("metric"),
        F.col("source").alias("dim"),
        F.col("n"),
        (F.col("n").cast("double") / F.col("n_docs")).alias("ratio"),
    )
    tokens_by_source = by_source.select(
        F.lit("tokens_by_source").alias("metric"),
        F.col("source").alias("dim"),
        F.col("toks").alias("n"),
        (F.col("toks").cast("double") / F.col("n_toks")).alias("ratio"),
    )
    docs_by_lang = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(tot)
        .select(
            F.lit("docs_by_lang").alias("metric"),
            F.col("lang").alias("dim"),
            F.col("n"),
            (F.col("n").cast("double") / F.col("n_docs")).alias("ratio"),
        )
    )
    dup = (
        d.agg(F.count_distinct("fp").cast("bigint").alias("n_fp"))
        .crossJoin(tot)
        .select(
            F.lit("exact_dup_excess").alias("metric"),
            F.lit("ALL").alias("dim"),
            (F.col("n_docs") - F.col("n_fp")).cast("bigint").alias("n"),
            ((F.col("n_docs") - F.col("n_fp")).cast("double") / F.col("n_docs")).alias("ratio"),
        )
    )
    kill = (
        d.agg(F.sum("killed").cast("bigint").alias("n_kill"))
        .crossJoin(tot)
        .select(
            F.lit("quality_kill").alias("metric"),
            F.lit("ALL").alias("dim"),
            F.col("n_kill").alias("n"),
            (F.col("n_kill").cast("double") / F.col("n_docs")).alias("ratio"),
        )
    )
    out = docs_by_source
    for frame in (tokens_by_source, docs_by_lang, dup, kill):
        out = out.unionByName(frame)
    return out


@register(
    "events_dau_stickiness",
    oracle="""
WITH ud AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events
), days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
  GROUP BY d.day
)
SELECT dau.day, dau.dau, wau.wau, CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
""",
    tags=("ext", "events", "analytics"),
)
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day-WAU stickiness — the engagement ratio every
    product-analytics stack reports. Exact rolling DISTINCT cannot ride a
    window frame, so WAU is computed as a range join of the deduped
    (user, day) frame against the (bounded, broadcastable) day list —
    per-day distinct users over [d−6, d]. The expensive reduction
    (events → distinct (user, day)) happens ONCE and is the only
    corpus-sized shuffle; the day side is calendar-bounded (30 rows here,
    ~365/year at any scale), so the range join's fan-out is ≤7× the
    deduped frame, never the raw event mass."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    u, d = ud.alias("u"), days.alias("d")
    wau = (
        u.join(
            F.broadcast(d),
            (F.col("u.day") <= F.col("d.day"))
            & (F.col("u.day") >= F.date_sub(F.col("d.day"), 6)),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("u.user_id").cast("bigint").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day", "dau", "wau", (F.col("dau").cast("double") / F.col("wau")).alias("stickiness")
    )


@register(
    "events_seasonal_baseline",
    oracle="""
WITH hc AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(hour(ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT day, hr, n,
       CAST(SUM(n) OVER w AS DOUBLE) / NULLIF(COUNT(n) OVER w, 0) AS baseline,
       n - CAST(SUM(n) OVER w AS DOUBLE) / NULLIF(COUNT(n) OVER w, 0) AS residual
FROM hc
WINDOW w AS (PARTITION BY hr ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
""",
    tags=("ext", "events", "timeseries", "forecast"),
)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline — the hour-of-day expanding mean
    every monitoring stack compares live traffic against: for each
    (day, hour) the baseline is the mean count of the SAME hour over all
    PRIOR days only (first day NULL — a true forecast never sees its own
    observation), residual = actual − baseline. Integer hour counts with
    one explicit sum/count window division (not avg()), so the doubles
    are bit-identical across engines; one hash agg then a per-hour window
    over day-grained rows (24 partitions of ~365 rows/year at any data
    scale — the window frame is calendar-bounded, never event-bounded)."""
    from pyspark.sql import Window as W

    hc = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.to_date("ts").alias("day"), F.hour("ts").cast("bigint").alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = W.partitionBy("hr").orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    psum = F.sum("n").over(w)
    pcnt = F.count("n").over(w)
    baseline = F.when(pcnt > 0, psum.cast("double") / pcnt)
    return hc.select(
        "day",
        "hr",
        "n",
        baseline.alias("baseline"),
        (F.col("n") - baseline).alias("residual"),
    )


@register(
    "graph_cooccurrence_similarity",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, event_type FROM events
), tc AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM ud GROUP BY 1
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_both,
       CAST(p.n_both AS DOUBLE) / (ca.c + cb.c - p.n_both) AS jaccard
FROM pairs p
JOIN tc ca ON ca.event_type = p.type_a
JOIN tc cb ON cb.event_type = p.type_b
""",
    tags=("ext", "graph", "similarity", "cooccurrence"),
)
def graph_cooccurrence_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite co-occurrence projection — the item-item similarity every
    recommender bootstrap computes: project the user↔event-type bipartite
    graph onto the type side, scoring each type pair by the Jaccard of
    their user sets (|A∩B| / |A∪B|, exact integers + one division). The
    reduction to distinct (user, item) happens ONCE and is the only
    user-volume shuffle; the self-join is keyed on user with per-user
    item lists bounded by the item vocabulary, so the pair blow-up is
    O(users · k²) for k items per user — never |events|². Item-side
    frames (counts, pairs) are vocabulary-sized and broadcastable."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select("user_id", "event_type").distinct()
    tc = ud.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a, b = ud.alias("a"), ud.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ca = F.broadcast(tc.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca")))
    cb = F.broadcast(tc.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb")))
    return (
        pairs.join(ca, "type_a")
        .join(cb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            (F.col("n_both").cast("double") / (F.col("ca") + F.col("cb") - F.col("n_both"))).alias(
                "jaccard"
            ),
        )
    )


@register(
    "events_gap_fill_locf",
    oracle="""
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS h, ts, event_id, value
  FROM events WHERE user_id % 97 = 0
), hourly AS (
  SELECT user_id, h, value AS v, n_events FROM (
    SELECT user_id, h, value,
           CAST(COUNT(*) OVER (PARTITION BY user_id, h) AS BIGINT) AS n_events,
           ROW_NUMBER() OVER (PARTITION BY user_id, h ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
), span AS (
  SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM ev GROUP BY 1
), timeline AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour FROM span
), j AS (
  SELECT t.user_id, t.hour, COALESCE(hh.n_events, 0) AS n_events, hh.v
  FROM timeline t LEFT JOIN hourly hh ON hh.user_id = t.user_id AND hh.h = t.hour
)
SELECT user_id, hour, n_events,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       n_events = 0 AS is_gap
FROM j
""",
    tags=("ext", "events", "timeseries"),
)
def events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with last-observation-carried-forward: each
    audited user's activity becomes a dense hourly frame (`sequence` +
    explode over the per-user span — no calendar table to maintain), empty
    hours join NULL and are filled by `last(value, ignorenulls=True)` over
    the per-user ordered window. The hour's representative value is its
    LAST observation (`max_by` on (ts, event_id) — deterministic, no float
    aggregation, so the carried value is bit-exact). The densify-then-fill
    shape every downstream forecaster/feature-store export needs; the
    window partitions by user, so at 100 TB it's per-key bounded state,
    never a global sort."""
    ev = t(spark, sf_dir, "events").where(F.col("user_id") % 97 == 0).select(
        "user_id",
        F.date_trunc("hour", "ts").alias("h"),
        "ts",
        "event_id",
        "value",
    )
    hourly = ev.groupBy("user_id", "h").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    span = ev.groupBy("user_id").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    timeline = span.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    j = timeline.join(
        hourly,
        (timeline["user_id"] == hourly["user_id"]) & (timeline["hour"] == hourly["h"]),
        "left",
    ).select(
        timeline["user_id"],
        "hour",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        "v",
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("hour").rowsBetween(W.unboundedPreceding, 0)
    return j.select(
        "user_id",
        "hour",
        "n_events",
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        (F.col("n_events") == 0).alias("is_gap"),
    )


@register(
    "events_disorder_profile",
    oracle="""
WITH arr AS (
  SELECT CAST(event_id % 4 AS INT) AS part, ts,
         MAX(ts) OVER (PARTITION BY event_id % 4 ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax
  FROM events
), d AS (
  SELECT part, CAST(datediff('millisecond', ts, rmax) AS BIGINT) AS disorder_ms FROM arr
)
SELECT part,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(disorder_ms) AS BIGINT) AS max_disorder_ms,
       CAST(SUM(CASE WHEN disorder_ms > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
       CAST(SUM(CASE WHEN disorder_ms > 600000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_10min
FROM d GROUP BY part
""",
    tags=("ext", "events", "streaming-ops"),
)
def events_disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit — the measurement that PICKS a watermark
    delay instead of guessing one: per (simulated) source partition, in
    ARRIVAL order (event_id — the generator's arrival proxy), how far
    behind the running max event time does each record land? Reports max
    disorder plus how many records a 10-minute watermark (the engine's
    streaming default) would have dropped. The running max is a per-
    partition prefix window — at 100 TB run it on an arrival-ordered
    sample slice per partition, never a global sort (the frame is already
    the source's arrival order, so no re-sort happens on ingest)."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        (F.col("event_id") % 4).cast("int").alias("part"), "ts", "event_id"
    )
    w = W.partitionBy("part").orderBy("event_id").rowsBetween(W.unboundedPreceding, 0)
    d = ev.select(
        "part",
        (F.unix_millis(F.max("ts").over(w)) - F.unix_millis("ts")).alias("disorder_ms"),
    )
    return d.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("disorder_ms").cast("bigint").alias("max_disorder_ms"),
        F.sum((F.col("disorder_ms") > 0).cast("bigint")).alias("n_out_of_order"),
        F.sum((F.col("disorder_ms") > 600000).cast("bigint")).alias("n_over_10min"),
    )


@register(
    "layout_reshard_plan",
    oracle="""
WITH k AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS key FROM orders
), h AS (
  SELECT key, CAST(md5_number_lower(key) % 2147483647 AS BIGINT) AS hmod FROM k
), rv AS (
  SELECT key,
         (SELECT s FROM (
            SELECT s, CAST(md5_number_lower(key || '#' || CAST(s AS VARCHAR)) % 2147483647 AS BIGINT) AS w
            FROM (SELECT unnest(generate_series(0, 7)) AS s)
          ) ORDER BY w DESC, s LIMIT 1) AS own8,
         (SELECT s FROM (
            SELECT s, CAST(md5_number_lower(key || '#' || CAST(s AS VARCHAR)) % 2147483647 AS BIGINT) AS w
            FROM (SELECT unnest(generate_series(0, 8)) AS s)
          ) ORDER BY w DESC, s LIMIT 1) AS own9
  FROM k
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(CASE WHEN h.hmod % 8 <> h.hmod % 9 THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod,
         CAST(SUM(CASE WHEN rv.own8 <> rv.own9 THEN 1 ELSE 0 END) AS BIGINT) AS moved_rendezvous
  FROM h JOIN rv USING (key)
)
SELECT n_keys, moved_mod, moved_rendezvous,
       CAST(moved_mod AS DOUBLE) / n_keys AS moved_mod_frac,
       CAST(moved_rendezvous AS DOUBLE) / n_keys AS moved_rendezvous_frac
FROM agg
""",
    tags=("ext", "layout", "planner"),
)
def layout_reshard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshard-movement planner, 8 → 9 shards: how many keys physically
    move under naive mod placement (answer: almost all — mod placement is
    a full rewrite) versus rendezvous (highest-random-weight) hashing
    (answer: ~1/9 — only keys the NEW shard wins move, the provable
    minimum). Owner = argmax over shards of md5(key # shard), a pure
    column expression — per key it's a max over a literal 8/9-element
    array, no join, no shuffle beyond the final count. The operational
    pre-flight for growing a bucketed/sharded 100 TB layout: run this,
    read the rewrite fraction off the report, pick the placement scheme."""
    from flink_dts_connector_spark.operators.dedup import md5_number_lower_mod

    KMV_P = (1 << 31) - 1
    k = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("key")
    )

    # rendezvous owner, declaratively: array_max over struct(w, -shard) —
    # lexicographic struct max = (max weight, tie -> smallest shard id)
    def owner_col(n_shards: int):
        pairs = F.array(
            *[
                F.struct(
                    md5_number_lower_mod(
                        F.concat(F.col("key"), F.lit(f"#{s}")), KMV_P
                    ).alias("w"),
                    F.lit(-s).alias("ns"),
                )
                for s in range(n_shards)
            ]
        )
        return (F.array_max(pairs)["ns"] * -1).cast("bigint")

    hmod = md5_number_lower_mod(F.col("key"), KMV_P)
    d = k.select(
        (hmod % 8 != hmod % 9).cast("bigint").alias("mv_mod"),
        (owner_col(8) != owner_col(9)).cast("bigint").alias("mv_rv"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("mv_mod").cast("bigint").alias("moved_mod"),
        F.sum("mv_rv").cast("bigint").alias("moved_rendezvous"),
        (F.sum("mv_mod").cast("double") / F.count(F.lit(1))).alias("moved_mod_frac"),
        (F.sum("mv_rv").cast("double") / F.count(F.lit(1))).alias(
            "moved_rendezvous_frac"
        ),
    )


@register(
    "proj_udtf_chunk_explode",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks), 48)) AS start_tok FROM d
  WHERE len(toks) > 0
)
SELECT doc_id,
       CAST((start_tok - 1) // 48 AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, start_tok, least(start_tok + 63, len(toks)))) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, start_tok, least(start_tok + 63, len(toks))), ' ')) AS chunk_md5
FROM s
""",
    tags=("ext", "udtf", "api-surface", "chunking"),
)
def proj_udtf_chunk_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 `udtf` + LATERAL) — the table-function
    extensibility point of SURVEY.md §2.6, demonstrated on document
    chunking (window 64 / stride 48) and hash-gated against the DECLARATIVE
    chunker's SQL (`curate_chunk_windows` lineage): the UDTF yields chunk
    rows in Python, while token counting and md5 stay JVM-side on the
    emitted rows. API-parity coverage — the declarative chunker remains the
    hot path (this plan contains a Python eval by construction), so this
    query is registry-gated but bench-excluded."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id bigint, chunk_text string")
    class Chunker:
        def eval(self, text: str, window: int, stride: int):
            toks = text.strip().split()
            if not toks:
                return
            cid = 0
            for start in range(0, len(toks), stride):
                yield cid, " ".join(toks[start : start + window])
                cid += 1

    spark.udtf.register("fdcs_chunker", Chunker)
    t(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    out = spark.sql(
        "SELECT d.doc_id, c.chunk_id, c.chunk_text "
        "FROM _udtf_docs d, LATERAL fdcs_chunker(d.text, 64, 48) c"
    )
    return out.select(
        "doc_id",
        "chunk_id",
        F.size(F.split("chunk_text", r"\s+")).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.encode("chunk_text", "UTF-8")).alias("chunk_md5"),
    )


@register(
    "events_cuped_adjustment",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(user_id % 2 AS BIGINT) AS variant,
         CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
  FROM events GROUP BY 1
), pool AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM per_user
), th AS (
  SELECT n, CAST(sx AS DOUBLE) / n AS xbar,
         CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS theta
  FROM pool
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(x) AS DOUBLE) / COUNT(*) / 100 AS mean_pre,
       CAST(SUM(y) AS DOUBLE) / COUNT(*) / 100 AS mean_post,
       (CAST(SUM(y) AS DOUBLE) / COUNT(*)
        - th.theta * (CAST(SUM(x) AS DOUBLE) / COUNT(*) - th.xbar)) / 100 AS mean_post_adj,
       th.theta AS theta
FROM per_user, th
GROUP BY variant, th.theta, th.xbar
""",
    tags=("ext", "events", "experimentation"),
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout: variant = user_id parity,
    covariate = each user's PRE-period spend (days 1-15, exact cents),
    outcome = post-period spend. theta = pooled cov(x,y)/var(x) from exact
    integer moments (int64 holds n*Sxy with ~7x headroom at sf0.1 — at a
    larger corpus drop the quantization a decimal place, same note as the
    registry-wide magnitude constraint); the adjustment is applied to the
    GROUP MEANS by linearity (mean_adj = ybar - theta*(xbar_g - xbar_pool)),
    so no per-user float accumulates and the whole readout is bit-exact.
    One groupBy(user) pass + one tiny moment frame — the experimentation-
    platform query at any scale."""
    ev = t(spark, sf_dir, "events")
    vq = F.expr("CAST(round(value * 100) AS BIGINT)")
    pre = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(pre, vq)), F.lit(0)).cast("bigint").alias("x"),
        F.coalesce(F.sum(F.when(~pre, vq)), F.lit(0)).cast("bigint").alias("y"),
    ).select((F.col("user_id") % 2).cast("bigint").alias("variant"), "x", "y")
    pool = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    ).select(
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("theta"),
    )
    g = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("gx"),
        F.sum("y").cast("bigint").alias("gy"),
    )
    return g.crossJoin(F.broadcast(pool)).select(
        "variant",
        "n_users",
        (F.col("gx").cast("double") / F.col("n_users") / 100).alias("mean_pre"),
        (F.col("gy").cast("double") / F.col("n_users") / 100).alias("mean_post"),
        (
            (
                F.col("gy").cast("double") / F.col("n_users")
                - F.col("theta")
                * (F.col("gx").cast("double") / F.col("n_users") - F.col("xbar"))
            )
            / 100
        ).alias("mean_post_adj"),
        F.col("theta").alias("theta"),
    )


@register(
    "events_pattern_regex",
    oracle="""
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
), pats AS (
  SELECT * FROM (VALUES
    ('view_then_purchase',        'v.*p'),
    ('purchase_no_prior_error',   '^[^e]*p'),
    ('error_recovery_purchase',   'e[^e]*p'),
    ('signup_first_touch',        '^s')
  ) AS t(pattern_name, pat)
)
SELECT p.pattern_name,
       CAST(SUM(CASE WHEN regexp_matches(s.seq, p.pat) THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN regexp_matches(s.seq, p.pat) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS match_frac
FROM seqs s CROSS JOIN pats p
GROUP BY p.pattern_name
""",
    tags=("ext", "events", "cep"),
)
def events_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-CEP over event sequences — MATCH_RECOGNIZE-lite (the Flink
    CEP capability the reference's host engine advertises, re-expressed
    relationally): each user's history becomes one compact symbol string
    (first letter of each event type, ordered by (ts, event_id) — a total
    order, so the string is deterministic), and patterns like
    "error then recovery then purchase" are plain regular expressions
    evaluated JVM-side. The per-user state is bounded by per-user history
    (same disclosure as sessionization); patterns broadcast. The regex
    class used (literals, classes, anchors, star) evaluates identically in
    Java regex and RE2/DuckDB."""
    ev = t(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.expr("substring(event_type, 1, 1)").alias("i"),
            ).alias("st"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("st")), lambda s: s["i"]), ""
            ).alias("seq")
        )
    )
    pats = spark.createDataFrame(
        [
            ("view_then_purchase", "v.*p"),
            ("purchase_no_prior_error", "^[^e]*p"),
            ("error_recovery_purchase", "e[^e]*p"),
            ("signup_first_touch", "^s"),
        ],
        "pattern_name string, pat string",
    )
    return (
        seqs.crossJoin(F.broadcast(pats))
        .groupBy("pattern_name")
        .agg(
            F.sum(F.expr("CASE WHEN regexp_like(seq, pat) THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_matched"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            (
                F.sum(F.expr("CASE WHEN regexp_like(seq, pat) THEN 1 ELSE 0 END")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("match_frac"),
        )
    )



@register(
    "curate_waterfill_quotas",
    oracle=f"""
WITH per AS (
  SELECT source AS g, CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS m FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(m) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(m) * 40 // 100 AS BIGINT) AS b
  FROM per
), ranked AS (
  SELECT g, m, t, n, b,
         CAST(ROW_NUMBER() OVER (ORDER BY m, g) AS BIGINT) AS k,
         CAST(SUM(m) OVER (ORDER BY m, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix
  FROM per, tot
), sat AS (
  SELECT MAX(k) AS kstar, arg_max(prefix, k) AS pstar
  FROM ranked WHERE prefix + (n - k) * m <= b
), lvl AS (
  SELECT COALESCE(s.kstar, 0) AS kstar,
         CASE WHEN t.n > COALESCE(s.kstar, 0)
              THEN (t.b - COALESCE(s.pstar, 0)) // (t.n - COALESCE(s.kstar, 0)) END AS lvl
  FROM tot t, sat s
)
SELECT r.g AS source, r.m AS available,
       CAST(CASE WHEN r.k <= l.kstar THEN r.m ELSE LEAST(r.m, l.lvl) END AS BIGINT) AS quota,
       (CASE WHEN r.k <= l.kstar THEN r.m ELSE LEAST(r.m, l.lvl) END) = r.m AS saturated
FROM ranked r, lvl l
""",
    tags=("ext", "curation", "mixing"),
)
def curate_waterfill_quotas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources (budget = 40%
    of corpus mass): every source keeps up to a common level L — small
    sources fully (saturated), large sources clipped — with L the exact
    integer waterline that spends the budget. The fair-share answer to
    "cap the big crawls, keep the small curated sets whole" when the caps
    must sum to a global budget. Every window runs on the |sources|-row
    frame, never the corpus; one corpus scan for the masses."""
    from flink_dts_connector_spark.operators.curation import waterfill_quotas
    from flink_dts_connector_spark.operators.text import token_count

    d = t(spark, sf_dir, "documents").select(
        "source", token_count("text").alias("n_tokens")
    )
    return waterfill_quotas(d, budget_pct=40, group_col="source", weight_col="n_tokens")


@register(
    "text_robust_outliers",
    oracle=f"""
WITH d AS (
  SELECT source, CAST(len({SQL_TOKS}) AS BIGINT) AS n FROM documents
), med AS (
  SELECT source, CAST(quantile_disc(n, 0.5) AS BIGINT) AS median_tokens FROM d GROUP BY 1
), dd AS (
  SELECT d.source, d.n, m.median_tokens, abs(d.n - m.median_tokens) AS ad
  FROM d JOIN med m USING (source)
), mad AS (
  SELECT source, CAST(quantile_disc(ad, 0.5) AS BIGINT) AS mad_tokens,
         ANY_VALUE(median_tokens) AS median_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM dd GROUP BY 1
)
SELECT dd.source, ANY_VALUE(mad.n_docs) AS n_docs,
       ANY_VALUE(mad.median_tokens) AS median_tokens,
       ANY_VALUE(mad.mad_tokens) AS mad_tokens,
       CAST(SUM(CASE WHEN dd.ad > 5 * mad.mad_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dd JOIN mad USING (source)
GROUP BY dd.source
""",
    tags=("ext", "text", "quality", "robust-stats"),
)
def text_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length outlier screen — median/MAD instead of
    mean/σ, so a handful of garbage documents cannot drag the threshold
    toward themselves (the failure mode of the 2σ screens). Medians use
    the Greenwald-Khanna sketch at accuracy above the group size (exact
    discrete quantile — the `text_token_quantiles` contract, DuckDB
    `quantile_disc` as live oracle); flags docs beyond 5 MADs. Two
    grouped-sketch aggregations + one broadcast-back join, all integers."""
    from flink_dts_connector_spark.operators.text import token_count

    d = t(spark, sf_dir, "documents").select(
        "source", token_count("text").alias("n")
    )
    med = d.groupBy("source").agg(
        F.expr("approx_percentile(n, 0.5D, 1000000)").cast("bigint").alias("median_tokens")
    )
    dd = d.join(F.broadcast(med), "source").withColumn(
        "ad", F.abs(F.col("n") - F.col("median_tokens"))
    )
    mad = dd.groupBy("source").agg(
        F.expr("approx_percentile(ad, 0.5D, 1000000)").cast("bigint").alias("mad_tokens"),
        F.any_value("median_tokens").alias("median_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return (
        dd.join(F.broadcast(mad.select("source", "mad_tokens")), "source")
        .groupBy("source")
        .agg(
            F.sum((F.col("ad") > 5 * F.col("mad_tokens")).cast("bigint")).alias(
                "n_outliers"
            )
        )
        .join(mad, "source")
        .select("source", "n_docs", "median_tokens", "mad_tokens", "n_outliers")
    )


@register(
    "multimodal_phash_neardup",
    oracle="""
WITH inp AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -doc_id - 1,
         substr(text, 1, strpos(text, 'a') - 1) || 'b' || substr(text, strpos(text, 'a') + 1)
  FROM documents WHERE doc_id % 10 = 0 AND strpos(text, 'a') > 0
), sig AS (
  SELECT doc_id, CAST(SUM((ss % 2) * (CAST(1 AS BIGINT) << s)) AS BIGINT) AS sig
  FROM (
    SELECT doc_id, s,
           COALESCE(list_sum(list_transform(string_split(
             substr(text,
                    (s * length(text)) // 48 + 1,
                    ((s + 1) * length(text)) // 48 - (s * length(text)) // 48),
             ''), c -> ord(c))), 0) AS ss
    FROM inp, (SELECT unnest(generate_series(0, 47)) AS s)
  )
  GROUP BY doc_id
), banded AS (
  SELECT doc_id, sig, b, (sig >> (16 * b)) & 65535 AS key
  FROM sig, (SELECT unnest(generate_series(0, 2)) AS b)
), cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b2.doc_id AS b_id, a.sig AS sa, b2.sig AS sb
  FROM banded a JOIN banded b2
    ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id
)
SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 6
""",
    tags=("ext", "multimodal", "dedup", "approx"),
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over opaque media payloads: a 48-bit
    stripe-parity signature (bit = parity of one byte-stripe's sum — a
    LOCALITY hash: a local edit flips only the stripes it touches, unlike
    an avalanche digest), 3×16-bit band join for candidates, exact
    popcount verify at hamming ≤ 6. The multimodal twin of SimHash: same
    band-bounded quadratic envelope, but computed on the payload BYTES, so
    it works on any binary column regardless of modality (the fixture's
    payloads are the ASCII text bytes, which is what lets DuckDB mirror
    the byte sums with ord())."""
    docs = t(spark, sf_dir, "documents")
    # the fixture has no raw-byte duplicates at small SFs, so the probe set
    # adds a deterministically EDITED twin of every 10th payload (replace
    # the first 'a' with 'b' — same length, odd byte delta => exactly one
    # stripe parity flips); the query must find each twin at hamming 1,
    # plus the genuine byte-identical dups at 0 where the SF has them.
    # Twin ids live in the NEGATIVE id space (-doc_id - 1): disjoint from
    # real doc_ids (which are >= 0) at every scale factor, so no collision
    # no matter how large `documents` grows.
    edited = docs.where(
        (F.col("doc_id") % 10 == 0) & (F.instr("text", "a") > 0)
    ).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.expr(
            "concat(substring(text, 1, instr(text, 'a') - 1), 'b',"
            " substring(text, instr(text, 'a') + 1))"
        ).alias("text"),
    )
    inp = docs.select("doc_id", "text").unionByName(edited)
    media = M.attach_media(inp, rows=table_rows(sf_dir, "documents"))
    # payload bytes back to the byte-per-char view the stripe hash slices
    decoded = media.select(
        "doc_id", F.decode(F.col("media"), "UTF-8").alias("text")
    )
    return M.phash_neardup_pairs(decoded, max_distance=6)


@register(
    "events_markov_transitions",
    oracle="""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS f,
         event_type AS t2
  FROM events
), c AS (
  SELECT f AS from_type, t2 AS to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE f IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
FROM c
""",
    tags=("ext", "events", "analytics", "markov"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of user behavior, trained in one pass:
    consecutive event pairs per user (lag over the per-user (ts, event_id)
    total order) aggregate into the |types|² transition matrix with
    row-normalized probabilities (integer counts, one double division —
    order-insensitive). The behavioral prior behind next-event prediction
    and anomalous-session scoring; at 100 TB the lag window is per-user
    bounded state and the matrix frame is tiny."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("f", F.lag("event_type").over(w)).where(
        F.col("f").isNotNull()
    )
    c = pairs.groupBy(
        F.col("f").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = W.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt).cast("double")).alias("p"),
    )


@register(
    "text_token_burstiness",
    oracle=f"""
WITH dt AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS dc FROM (
    SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents
  ) GROUP BY 1, 2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), top AS (
  SELECT w, CAST(SUM(dc) AS BIGINT) AS mass,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dc * dc) AS BIGINT) AS ssq
  FROM dt GROUP BY 1 ORDER BY mass DESC, w LIMIT 20
)
SELECT w AS token, mass, n_docs,
       (CAST(ssq AS DOUBLE) / n - (CAST(mass AS DOUBLE) / n) * (CAST(mass AS DOUBLE) / n))
         / (CAST(mass AS DOUBLE) / n) AS vmr
FROM top, tot
""",
    tags=("ext", "text", "quality"),
)
def text_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (variance-to-mean ratio over per-document counts,
    zeros included): function words disperse evenly (VMR ≈ 1, Poisson-ish)
    while topical/boilerplate tokens clump (VMR >> 1) — a corpus-
    linguistics signal that separates template spam from ordinary prose
    where plain frequency cannot. Exact integer moments (mass, doc count,
    sum of squares) for the 20 heaviest tokens; the VMR is a handful of
    double ops on exact inputs, identical across engines."""
    from flink_dts_connector_spark.operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    dt = (
        docs.select("doc_id", F.explode(tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dc"))
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    top = (
        dt.groupBy("w")
        .agg(
            F.sum("dc").cast("bigint").alias("mass"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("dc") * F.col("dc")).cast("bigint").alias("ssq"),
        )
        .orderBy(F.desc("mass"), F.asc("w"))
        .limit(20)
    )
    m = F.col("mass").cast("double") / F.col("n")
    return top.crossJoin(F.broadcast(tot)).select(
        F.col("w").alias("token"),
        "mass",
        "n_docs",
        ((F.col("ssq").cast("double") / F.col("n") - m * m) / m).alias("vmr"),
    )


@register(
    "events_rfm_segmentation",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         date_diff('second', MAX(ts), (SELECT MAX(ts) FROM events)) AS recency_s,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS monetary_cents
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id, monetary_cents,
         ntile(5) OVER (ORDER BY recency_s, user_id) AS r_q,
         ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_q,
         ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS m_q
  FROM per_user
)
SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q, CAST(m_q AS BIGINT) AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(monetary_cents) AS BIGINT) AS segment_monetary_cents
FROM scored GROUP BY 1, 2, 3
""",
    tags=("ext", "events", "analytics", "segmentation"),
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic CRM audience cube: per-user aggregates (exact seconds-since-
    last-touch, event count, purchase cents), quintile scores via ntile
    over (metric, user_id) total orders (deterministic under ties in both
    engines), rolled up to segment counts and monetary mass. The ntile
    windows run on the per-USER frame (one row per user — aggregates,
    orders of magnitude smaller than the event log); at extreme user
    counts swap in `skew.range_boundaries` histogram buckets for the
    sort-free variant."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr("CAST(round(value * 100) AS BIGINT)"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            "frequency",
            "monetary_cents",
            (F.unix_timestamp("mx") - F.unix_timestamp("last_ts")).alias("recency_s"),
        )
    )
    scored = per_user.select(
        "user_id",
        "monetary_cents",
        F.ntile(5).over(W.orderBy("recency_s", "user_id")).cast("bigint").alias("r_q"),
        F.ntile(5)
        .over(W.orderBy(F.desc("frequency"), F.asc("user_id")))
        .cast("bigint")
        .alias("f_q"),
        F.ntile(5)
        .over(W.orderBy(F.desc("monetary_cents"), F.asc("user_id")))
        .cast("bigint")
        .alias("m_q"),
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("monetary_cents").cast("bigint").alias("segment_monetary_cents"),
    )


@register(
    "multimodal_bmp_features",
    oracle="""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, xs.x, ys.y
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(SUM((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((2 * doc_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((5 * doc_id + x + 11 * y) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, w, h
""",
    tags=("ext", "multimodal", "codec"),
)
def multimodal_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media codec end-to-end, dependency-free: every document gets a
    genuine 24-bit BI_RGB BMP payload (deterministic pixels derived from
    doc_id — real files, any viewer opens them), and `decode_bmp_features`
    parses header + bottom-up padded rows with pure byte arithmetic
    (numpy over Arrow batches) into per-channel pixel sums. The oracle
    reproduces the sums in closed form from the pixel formula — so header
    layout, row padding, bottom-up flip, and BGR channel order are all
    verified bit-exactly. This closes the multimodal family's "decode is
    stubbed" gap for one real format (jpeg/png/gif have since joined the
    sample-exact tier, mp3/mp4 the container tier)."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_bmp_media(docs, rows=table_rows(sf_dir, "documents"))
    return M.decode_bmp_features(media)


@register(
    "audit_referential_integrity",
    oracle="""
SELECT 'lineitem_orphan_orderkey' AS check_name,
       CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_violations,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_checked
UNION ALL
SELECT 'orders_orphan_custkey',
       CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'customer_orphan_nationkey',
       CAST((SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
             (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT)
UNION ALL
SELECT 'orders_pk_duplicates',
       CAST((SELECT COALESCE(SUM(c - 1), 0) FROM
             (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) WHERE c > 1) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'lineitem_pk_duplicates',
       CAST((SELECT COALESCE(SUM(c - 1), 0) FROM
             (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber) WHERE c > 1) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
UNION ALL
SELECT 'orders_null_pk',
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'lineitem_negative_qty',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
""",
    tags=("ext", "audit", "data-quality"),
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over the warehouse: referential
    integrity (fk orphans via LEFT ANTI joins — true dims broadcast,
    fact-fact pk sets shuffle on the key), primary-key uniqueness (surplus
    copies via one hash agg per key), null-pk and domain-range checks.
    One report row per expectation: (check_name, n_violations, n_checked)
    — the pre-flight a 100 TB pipeline runs before training-data jobs
    consume a new drop. Every check is a single scan + one agg/anti-join;
    nothing quadratic, nothing collected."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")

    def report(name: str, viol, checked) -> DataFrame:
        return viol.crossJoin(checked).select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("bigint").alias("n_violations"),
            F.col("c").cast("bigint").alias("n_checked"),
        )

    def cnt(df) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("c"))

    # fact-fact anti join shuffles on the key (orders' pk set is NOT
    # broadcastable at scale — it grows with the fact table; a bloom
    # prefilter like join_bloom_prefilter is the cheap screen when the
    # violation rate is known to be ~0); true dims broadcast below
    orphan_li = cnt(
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
    ).withColumnRenamed("c", "v")
    orphan_o = cnt(
        o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")
    ).withColumnRenamed("c", "v")
    orphan_c = cnt(
        c.join(F.broadcast(n.select("n_nationkey")), c.c_nationkey == n.n_nationkey, "left_anti")
    ).withColumnRenamed("c", "v")
    dup_o = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") > 1)
        .agg(F.coalesce(F.sum(F.col("k") - 1), F.lit(0)).alias("v"))
    )
    dup_li = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") > 1)
        .agg(F.coalesce(F.sum(F.col("k") - 1), F.lit(0)).alias("v"))
    )
    null_o = cnt(o.where(F.col("o_orderkey").isNull())).withColumnRenamed("c", "v")
    neg_li = cnt(li.where(F.col("l_quantity") <= 0)).withColumnRenamed("c", "v")

    out = None
    for name, viol, checked in (
        ("lineitem_orphan_orderkey", orphan_li, cnt(li)),
        ("orders_orphan_custkey", orphan_o, cnt(o)),
        ("customer_orphan_nationkey", orphan_c, cnt(c)),
        ("orders_pk_duplicates", dup_o, cnt(o)),
        ("lineitem_pk_duplicates", dup_li, cnt(li)),
        ("orders_null_pk", null_o, cnt(o)),
        ("lineitem_negative_qty", neg_li, cnt(li)),
    ):
        row = report(name, viol, checked)
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


@register(
    "events_touch_attribution",
    oracle="""
WITH conv AS (
  SELECT user_id, MIN(ts) AS conv_ts FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
), touches AS (
  SELECT e.user_id, e.event_type AS channel, e.ts, e.event_id
  FROM events e JOIN conv USING (user_id)
  WHERE e.ts < conv.conv_ts AND e.event_type IN ('view', 'click')
), ranked AS (
  SELECT user_id, channel,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rf,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rl,
         COUNT(*) OVER (PARTITION BY user_id) AS n_touches
  FROM touches
)
SELECT channel,
       CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first_touch,
       CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last_touch,
       CAST(SUM(1000000 // n_touches) AS BIGINT) AS linear_credit_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_touches_total
FROM ranked GROUP BY channel
""",
    tags=("ext", "events", "attribution"),
)
def events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution: each user's FIRST purchase is
    the conversion; every prior view/click is a touch. Three credit models
    in one pass — first-touch, last-touch, and linear credit as an EXACT
    integer (1e6 // n_touches ppm per touch, truncation identical in both
    engines; no float split). Plan: one window partition per user over the
    touch set (high-cardinality key — parallelism scales with users), the
    conversion frame joins on user_id. The report marketing/growth
    pipelines bolt onto event streams; deterministic ties via (ts,
    event_id)."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touches = (
        ev.join(conv, "user_id")
        .where((F.col("ts") < F.col("conv_ts")) & F.col("event_type").isin("view", "click"))
        .select("user_id", F.col("event_type").alias("channel"), "ts", "event_id")
    )
    wf = W.partitionBy("user_id").orderBy("ts", "event_id")
    wl = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = touches.select(
        "user_id",
        "channel",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("n_touches"),
    )
    return ranked.groupBy("channel").agg(
        F.sum((F.col("rf") == 1).cast("bigint")).alias("n_first_touch"),
        F.sum((F.col("rl") == 1).cast("bigint")).alias("n_last_touch"),
        F.sum(F.expr("1000000 div n_touches")).cast("bigint").alias("linear_credit_ppm"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches_total"),
    )


def _session_gap_arm_sql(gap_s: int) -> str:
    return f"""
  SELECT CAST({gap_s} AS BIGINT) AS gap_seconds,
         CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(n) AS BIGINT) AS n_events,
         CAST(SUM(n) * 1000 // COUNT(*) AS BIGINT) AS events_per_session_milli,
         CAST(MAX(n) AS BIGINT) AS max_session_events,
         CAST(MAX(span_s) AS BIGINT) AS max_session_span_s
  FROM (
    SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(datediff('second', MIN(ts), MAX(ts)) AS BIGINT) AS span_s
    FROM (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR datediff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > {gap_s}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    ) GROUP BY user_id, sid
  )
"""


@register(
    "events_session_gap_sweep",
    oracle=" UNION ALL ".join(_session_gap_arm_sql(g) for g in (600, 1800, 3600)),
    tags=("ext", "events", "calibration"),
)
def events_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization gap calibration — the parameter study run before
    fixing a session definition: the same lag/cumsum session assignment at
    gaps of 10/30/60 minutes, reporting session counts, events-per-session
    (exact milli-units), and worst-case session size/span per gap. One
    window pass per arm over the per-user frame (high-cardinality
    partition key — scales with users); joins the self-evaluating family
    (CMS width sweep, ANN recall report, MinHash calibration)."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    out = None
    for gap_s in (600, 1800, 3600):
        prev = F.lag("ts").over(order)
        is_new = (
            prev.isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(prev) > gap_s)
        ).cast("bigint")
        sid = F.sum(is_new).over(order.rowsBetween(W.unboundedPreceding, 0))
        sessions = (
            ev.withColumn("sid", sid)
            .groupBy("user_id", "sid")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
                .cast("bigint")
                .alias("span_s"),
            )
        )
        row = sessions.agg(
            F.lit(gap_s).cast("bigint").alias("gap_seconds"),
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.expr("sum(n) * 1000 div count(1)").cast("bigint").alias(
                "events_per_session_milli"
            ),
            F.max("n").cast("bigint").alias("max_session_events"),
            F.max("span_s").cast("bigint").alias("max_session_span_s"),
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


@register(
    "ann_topk_filtered",
    oracle=SQL_ANN_BASE.format(bucket="label", bucket_cond="AND fq.qb = fi.ib"),
    tags=("ext", "similarity", "filtered-search"),
)
def ann_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-FILTERED nearest-neighbor search: top-5 within the query's
    own label only ("nearest in my category" — the retrieval shape RAG and
    recommendation filters actually run). Strategy is PRE-filter: the
    label predicate becomes the candidate-join key, so the exact scorer
    touches only same-label pairs — unlike post-filtering a global top-k,
    which silently starves queries whose neighbors are cross-label (the
    recall trap this query's design dodges; at scale the same shape rides
    the IVF cells WITHIN each label partition). Exact integer scoring,
    full oracle."""
    from flink_dts_connector_spark.operators.similarity import (
        cosine_q,
        dot_q,
        norm_sq_q,
        quantized,
    )
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("_ql"),
        quantized("embedding").alias("_qe"),
    ).withColumn("_qn", norm_sq_q("_qe"))
    it = e.select(
        "vec_id", F.col("label").alias("_il"), quantized("embedding").alias("_ie")
    ).withColumn("_in", norm_sq_q("_ie"))
    scored = (
        it.join(F.broadcast(q), F.col("_il") == F.col("_ql"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_q(dot_q("_qe", "_ie"), F.col("_qn"), F.col("_in")).alias(
                "score"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).where(
        F.col("rank") <= 5
    )


@register(
    "events_periodicity_profile",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * c) AS BIGINT) AS ssq,
         CAST(COUNT(*) AS BIGINT) AS n_active_hours
  FROM hourly GROUP BY 1
), peak AS (
  SELECT event_type, h AS peak_hour, c AS peak_n
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c DESC, h) AS r
    FROM hourly
  ) WHERE r = 1
)
SELECT t.event_type, t.n, p.peak_hour, p.peak_n, t.n_active_hours,
       CAST(t.ssq * 1000000 // (t.n * t.n) AS BIGINT) AS hhi_ppm
FROM tot t JOIN peak p USING (event_type)
""",
    tags=("ext", "events", "profiling"),
)
def events_periodicity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal periodicity profile per event type: hour-of-day activity
    histogram reduced to peak hour, active-hour count, and an exact
    integer Herfindahl concentration index (Σ share² in ppm — 41667 ppm =
    perfectly uniform over 24 hours, 1e6 = single-hour burst). One hash
    agg on (type, hour) then a 24-row-per-type reduction — the
    load-shaping statistic capacity planning reads before sizing
    streaming-ingest partitions for the daily peak."""
    from pyspark.sql import Window as W

    hourly = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.hour("ts").cast("bigint").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = hourly.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ssq"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_hours"),
    )
    w = W.partitionBy("event_type").orderBy(F.desc("c"), F.asc("h"))
    peak = (
        hourly.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("event_type", F.col("h").alias("peak_hour"), F.col("c").alias("peak_n"))
    )
    return tot.join(peak, "event_type").select(
        "event_type",
        "n",
        "peak_hour",
        "peak_n",
        "n_active_hours",
        F.expr("ssq * 1000000 div (n * n)").cast("bigint").alias("hhi_ppm"),
    )


@register(
    "events_autocorrelation",
    oracle="""
WITH span AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1 FROM events
), cal AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span
), types AS (SELECT DISTINCT event_type FROM events),
raw AS (
  SELECT event_type, date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), dense AS (
  SELECT t.event_type, cal.h, COALESCE(r.c, 0) AS c
  FROM types t CROSS JOIN cal
  LEFT JOIN raw r ON r.event_type = t.event_type AND r.h = cal.h
), tot AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM dense GROUP BY 1
), dev AS (
  SELECT d.event_type, d.h, t.n, (t.n * d.c - t.s) AS dv
  FROM dense d JOIN tot t USING (event_type)
), lagged AS (
  SELECT event_type, n, dv,
         LAG(dv, 1) OVER (PARTITION BY event_type ORDER BY h) AS dv1,
         LAG(dv, 24) OVER (PARTITION BY event_type ORDER BY h) AS dv24
  FROM dev
), sums AS (
  SELECT event_type, ANY_VALUE(n) AS n_hours,
         SUM(CAST(dv AS HUGEINT) * dv) AS den,
         SUM(CASE WHEN dv1 IS NOT NULL THEN CAST(dv AS HUGEINT) * dv1 ELSE CAST(0 AS HUGEINT) END) AS num1,
         SUM(CASE WHEN dv24 IS NOT NULL THEN CAST(dv AS HUGEINT) * dv24 ELSE CAST(0 AS HUGEINT) END) AS num24
  FROM lagged GROUP BY event_type
)
SELECT event_type, lag, n_hours,
       CAST(CASE WHEN num < 0 THEN -((CAST(1000000 AS HUGEINT) * (-num)) // den)
                 ELSE (CAST(1000000 AS HUGEINT) * num) // den END AS BIGINT) AS acf_ppm
FROM (
  SELECT event_type, 1 AS lag, n_hours, num1 AS num, den FROM sums
  UNION ALL
  SELECT event_type, 24 AS lag, n_hours, num24 AS num, den FROM sums
) WHERE den > 0
""",
    tags=("ext", "events", "timeseries"),
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer autocorrelation of the hourly event-count series per
    event type, at lag 1 (short-term momentum) and lag 24 (diurnal
    seasonality). The calendar is densified so silent hours count as zero,
    and the mean never materializes as a float: deviations are n-scaled
    (``n*c - S`` = n·(c − mean)) BIGINTs, and their products/sums are
    carried in DECIMAL(38,0) (DuckDB HUGEINT) — dv² squares past int64
    once hours×rate passes ~3e9 — so acf = num/den is rendered as a
    truncated-toward-zero signed ppm ratio, bit-identical under any
    partitioning and safe at large scale factors. One hash agg on
    (type, hour) + one window pass; the calendar frame is |hours|×|types|
    rows, never the raw events. The seasonality statistic that justifies
    `events_seasonal_baseline`'s same-hour-prior model."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    cal = span.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    types = ev.select("event_type").distinct()
    raw = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dense = (
        types.crossJoin(F.broadcast(cal))
        .join(raw, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce("c", F.lit(0)).cast("bigint").alias("c"))
    )
    tot = dense.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    dev = dense.join(tot, "event_type").select(
        "event_type", "h", "n", (F.col("n") * F.col("c") - F.col("s")).alias("dv")
    )
    w = W.partitionBy("event_type").orderBy("h")
    lagged = dev.select(
        "event_type",
        "n",
        "dv",
        F.lag("dv", 1).over(w).alias("dv1"),
        F.lag("dv", 24).over(w).alias("dv24"),
    )
    dvd = F.col("dv").cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    sums = lagged.groupBy("event_type").agg(
        F.first("n").alias("n_hours"),
        F.sum(dvd * F.col("dv")).cast("decimal(38,0)").alias("den"),
        F.sum(
            F.when(F.col("dv1").isNotNull(), dvd * F.col("dv1")).otherwise(zero)
        )
        .cast("decimal(38,0)")
        .alias("num1"),
        F.sum(
            F.when(F.col("dv24").isNotNull(), dvd * F.col("dv24")).otherwise(zero)
        )
        .cast("decimal(38,0)")
        .alias("num24"),
    )
    both = sums.selectExpr(
        "event_type", "1 AS lag", "n_hours", "num1 AS num", "den"
    ).unionByName(
        sums.selectExpr("event_type", "24 AS lag", "n_hours", "num24 AS num", "den")
    )
    return both.where(F.col("den") > 0).select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        "n_hours",
        F.expr(
            "CAST(CASE WHEN num < 0 THEN -((1000000 * (-num)) div den)"
            " ELSE (1000000 * num) div den END AS BIGINT)"
        ).alias("acf_ppm"),
    )


@register(
    "text_source_lang_independence",
    oracle="""
WITH cells AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
), rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
contrib AS (
  SELECT cells.source, cells.lang,
         CAST((CAST(cells.o AS HUGEINT) * n.n - CAST(rt.r AS HUGEINT) * ct.c)
              * (CAST(cells.o AS HUGEINT) * n.n - CAST(rt.r AS HUGEINT) * ct.c)
              * 1000000
              // (CAST(rt.r AS HUGEINT) * ct.c * n.n) AS BIGINT) AS chi2_ppm
  FROM cells JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN n
)
SELECT source, CAST(SUM(chi2_ppm) AS BIGINT) AS chi2_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM contrib GROUP BY source
""",
    tags=("ext", "text", "stats"),
)
def text_source_lang_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test between document source and
    language, reported per source (summing the rows reproduces the global
    statistic; dof = (|sources|-1)(|langs|-1)). Exact integer arithmetic:
    the per-cell contribution (O·N − R·C)² / (R·C·N) is computed on
    DECIMAL(38,0) (the cross term O·N squares past int64 once the corpus
    passes ~3M docs) and truncated to ppm — both engines render the same
    BIGINT. One hash agg on (source, lang); everything downstream runs on
    the |sources|×|langs| cell frame. The contamination check that flags a
    source whose language mix diverges from the corpus (high chi2_ppm =
    scraper drift / mislabeled pipeline)."""
    docs = t(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rt = cells.groupBy("source").agg(F.sum("o").cast("bigint").alias("r"))
    ct = cells.groupBy("lang").agg(F.sum("o").cast("bigint").alias("c"))
    n = cells.agg(F.sum("o").cast("bigint").alias("n"))
    contrib = (
        cells.join(F.broadcast(rt), "source")
        .join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "lang",
            F.expr(
                "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
                " * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
                " * 1000000"
                " div (CAST(r AS DECIMAL(38,0)) * c * n) AS BIGINT)"
            ).alias("chi2_ppm"),
        )
    )
    return contrib.groupBy("source").agg(
        F.sum("chi2_ppm").cast("bigint").alias("chi2_ppm"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )


@register(
    "sketch_shard_topk_bound",
    oracle=f"""
WITH tok AS (
  SELECT doc_id % 8 AS shard, unnest({SQL_TOKS}) AS token FROM documents
), shard_counts AS (
  SELECT shard, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
), ranked AS (
  SELECT shard, token, c,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY c DESC, token) AS r
  FROM shard_counts
), kept AS (SELECT shard, token, c FROM ranked WHERE r <= 32),
tails AS (
  SELECT shard, CAST(COALESCE(MAX(CASE WHEN r = 33 THEN c END), 0) AS BIGINT) AS tail
  FROM ranked GROUP BY shard
), tail_total AS (SELECT CAST(SUM(tail) AS BIGINT) AS all_tails FROM tails),
est AS (
  SELECT k.token,
         CAST(SUM(k.c) AS BIGINT) AS est_lo,
         CAST(SUM(k.c) + tt.all_tails - SUM(t.tail) AS BIGINT) AS est_hi
  FROM kept k JOIN tails t USING (shard) CROSS JOIN tail_total tt
  GROUP BY k.token, tt.all_tails
), exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok GROUP BY 1
), top AS (
  SELECT e.token, e.est_lo, e.est_hi, x.exact_n,
         ROW_NUMBER() OVER (ORDER BY e.est_lo DESC, e.token) AS rk
  FROM est e JOIN exact x USING (token)
)
SELECT token, CAST(rk AS BIGINT) AS rk, est_lo, est_hi, exact_n,
       (est_lo <= exact_n AND exact_n <= est_hi) AS bound_holds
FROM top WHERE rk <= 20
""",
    tags=("ext", "sketch"),
)
def sketch_shard_topk_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable heavy-hitter summary (the Misra-Gries /
    SpaceSaving role, made order-independent): each of 8 shards keeps only
    its exact top-32 tokens (ties broken by token, so the summary is a
    pure function of the multiset, not of arrival order) plus one tail
    bound — the shard's 33rd-largest count, the most any dropped token
    could have held there. Merging the summaries gives every candidate a
    certified interval: est_lo = sum of kept counts, est_hi = est_lo +
    the tail bounds of the shards that dropped it. The report is
    self-evaluating — exact counts and a bound_holds verdict ride along.
    At 100 TB only the per-shard (token, count) top lists ever move
    (8×32 rows here, S×m in general); the full token frequency table is
    never shuffled to one place. Unlike the CMS heavy-hitter probe
    (one-sided overcount), this summary certifies an UNDERcount floor —
    the two sketches bracket the truth from opposite sides."""
    from pyspark.sql import Window as W
    from flink_dts_connector_spark.operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 8).alias("shard"), F.explode(tokens("text")).alias("token")
    )
    shard_counts = tok.groupBy("shard", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = W.partitionBy("shard").orderBy(F.desc("c"), F.asc("token"))
    ranked = shard_counts.withColumn("r", F.row_number().over(w))
    kept = ranked.where(F.col("r") <= 32).select("shard", "token", "c")
    tails = ranked.groupBy("shard").agg(
        F.coalesce(F.max(F.when(F.col("r") == 33, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("tail")
    )
    tail_total = tails.agg(F.sum("tail").cast("bigint").alias("all_tails"))
    est = (
        kept.join(F.broadcast(tails), "shard")
        .crossJoin(F.broadcast(tail_total))
        .groupBy("token", "all_tails")
        .agg(
            F.sum("c").cast("bigint").alias("est_lo"),
            (F.sum("c") + F.first("all_tails") - F.sum("tail")).cast("bigint").alias("est_hi"),
        )
    )
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    top = (
        est.join(exact, "token")
        .withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("est_lo"), F.asc("token")))
        )
        .where(F.col("rk") <= 20)
    )
    return top.select(
        "token",
        F.col("rk").cast("bigint").alias("rk"),
        "est_lo",
        "est_hi",
        "exact_n",
        ((F.col("est_lo") <= F.col("exact_n")) & (F.col("exact_n") <= F.col("est_hi"))).alias(
            "bound_holds"
        ),
    )


@register(
    "layout_zone_map_effect",
    oracle="""
WITH sharded AS (
  SELECT o_orderkey, o_orderdate, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_orderkey % 16 AS BIGINT) AS shard_nat,
         CAST(NTILE(16) OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT) AS shard_dat
  FROM orders
), pred AS (
  SELECT TIMESTAMP '1998-03-08 00:00:00' AS lo, TIMESTAMP '1998-03-15 00:00:00' AS hi
), layouts AS (
  SELECT 'natural' AS layout, shard_nat AS shard, o_orderdate, cents FROM sharded
  UNION ALL
  SELECT 'date_clustered' AS layout, shard_dat AS shard, o_orderdate, cents FROM sharded
), zones AS (
  SELECT layout, shard, MIN(o_orderdate) AS zmin, MAX(o_orderdate) AS zmax,
         CAST(COUNT(*) AS BIGINT) AS zrows
  FROM layouts GROUP BY 1, 2
), verdict AS (
  SELECT z.*, (z.zmin < p.hi AND z.zmax >= p.lo) AS must_read
  FROM zones z CROSS JOIN pred p
), matched AS (
  SELECT l.layout,
         CAST(SUM(CASE WHEN l.o_orderdate >= p.lo AND l.o_orderdate < p.hi THEN 1 ELSE 0 END) AS BIGINT) AS rows_matched,
         CAST(SUM(CASE WHEN l.o_orderdate >= p.lo AND l.o_orderdate < p.hi THEN l.cents ELSE 0 END) AS BIGINT) AS cents_matched
  FROM layouts l CROSS JOIN pred p GROUP BY 1
)
SELECT v.layout,
       CAST(COUNT(*) AS BIGINT) AS shards_total,
       CAST(SUM(CASE WHEN v.must_read THEN 1 ELSE 0 END) AS BIGINT) AS shards_read,
       CAST(SUM(CASE WHEN v.must_read THEN v.zrows ELSE 0 END) AS BIGINT) AS rows_scanned,
       ANY_VALUE(m.rows_matched) AS rows_matched,
       ANY_VALUE(m.cents_matched) AS cents_matched,
       CAST(SUM(CASE WHEN v.must_read THEN v.zrows ELSE 0 END) * 1000000
            // SUM(v.zrows) AS BIGINT) AS scan_fraction_ppm
FROM verdict v JOIN matched m USING (layout)
GROUP BY v.layout
""",
    tags=("ext", "layout"),
)
def layout_zone_map_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) file-skipping effectiveness study: the
    same orders table laid out two ways — 'natural' ingest order (shard =
    orderkey mod 16) vs 'date_clustered' (16 equal date-ranked shards) —
    each shard carrying a (min, max) o_orderdate zone. A one-week predicate
    must read a shard iff its zone overlaps the week. The report gives,
    per layout, shards read, rows scanned, scan fraction (ppm), and the
    matched row/cents totals (identical across layouts — skipping never
    changes the answer, only the I/O). The point the judge of a 100 TB
    layout needs: zone maps are worthless under hash placement
    (scan_fraction ≈ 1e6) and near-optimal under clustering (≈ week/span)
    — the measured argument for `curate_zorder_layout`'s sort keys.
    Mirrors parquet row-group pruning semantics declaratively. Scale
    note: ntile is a global window here for fixture-scale exactness; at
    scale the 16 date cuts come from `layout_range_boundaries`
    (histogram cut, no global sort)."""
    from pyspark.sql import Window as W

    lo = F.lit("1998-03-08 00:00:00").cast("timestamp")
    hi = F.lit("1998-03-15 00:00:00").cast("timestamp")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    sharded = orders.select(
        "o_orderdate",
        "cents",
        (F.col("o_orderkey") % 16).cast("bigint").alias("shard_nat"),
        (
            F.ntile(16).over(W.orderBy("o_orderdate", "o_orderkey")) - 1
        )
        .cast("bigint")
        .alias("shard_dat"),
    )
    layouts = sharded.select(
        F.lit("natural").alias("layout"),
        F.col("shard_nat").alias("shard"),
        "o_orderdate",
        "cents",
    ).unionByName(
        sharded.select(
            F.lit("date_clustered").alias("layout"),
            F.col("shard_dat").alias("shard"),
            "o_orderdate",
            "cents",
        )
    )
    zones = layouts.groupBy("layout", "shard").agg(
        F.min("o_orderdate").alias("zmin"),
        F.max("o_orderdate").alias("zmax"),
        F.count(F.lit(1)).cast("bigint").alias("zrows"),
    )
    verdict = zones.withColumn("must_read", (F.col("zmin") < hi) & (F.col("zmax") >= lo))
    in_pred = (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    matched = layouts.groupBy("layout").agg(
        F.sum(F.when(in_pred, 1).otherwise(0)).cast("bigint").alias("rows_matched"),
        F.sum(F.when(in_pred, F.col("cents")).otherwise(0)).cast("bigint").alias("cents_matched"),
    )
    return (
        verdict.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shards_total"),
            F.sum(F.when(F.col("must_read"), 1).otherwise(0)).cast("bigint").alias("shards_read"),
            F.sum(F.when(F.col("must_read"), F.col("zrows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("zrows").cast("bigint").alias("all_rows"),
        )
        .join(F.broadcast(matched), "layout")
        .select(
            "layout",
            "shards_total",
            "shards_read",
            "rows_scanned",
            "rows_matched",
            "cents_matched",
            F.expr("rows_scanned * 1000000 div all_rows").cast("bigint").alias("scan_fraction_ppm"),
        )
    )


@register(
    "graph_bfs_blast_radius",
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || LEAD(w,1) OVER (PARTITION BY doc_id ORDER BY i)
           || ' ' || LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
  FROM toks
  QUALIFY LEAD(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
), edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
), seed AS (
  SELECT u AS s FROM (
    SELECT u, COUNT(*) AS deg FROM edges GROUP BY u ORDER BY deg DESC, u LIMIT 1
  )
),
reach(id, d) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT e.v, r.d + 1 FROM reach r JOIN edges e ON e.u = r.id WHERE r.d < 6
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(d) AS INT) AS hops
FROM reach GROUP BY id
""",
    tags=("ext", "graph"),
)
def graph_bfs_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius BFS: shortest hop distance from a deterministic seed
    (the highest-degree hub of the near-dup graph, ties by min id — the
    audit's worst case) to every document reachable
    within 6 hops of ≥0.30-Jaccard near-dup edges. The Spark side is
    frontier-expansion BFS (per-round join of only the NEW frontier,
    anti-join of the settled set, localCheckpoint lineage truncation); the
    oracle is a DuckDB recursive CTE with (id, d) state — a second
    end-to-end check of an ITERATIVE distributed traversal, complementary
    to `dedup_components` (which proves membership but not distance). The
    audit question it answers: if THIS document is contaminated, how far
    does transitive near-duplication carry the contamination?"""
    from flink_dts_connector_spark.operators.graph import bfs_hops

    pairs = D.jaccard_pairs(t(spark, sf_dir, "documents"), threshold_pct=30)
    out = bfs_hops(pairs)
    return out.select(F.col("id").cast("bigint").alias("doc_id"), F.col("hops").cast("int"))


SEASONAL_DECOMP_ORACLE = """
WITH span AS (
  SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS d0,
         CAST(MAX(date_trunc('day', ts)) AS DATE) AS d1 FROM events
), cal AS (
  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
), raw AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), dense AS (
  SELECT cal.day, COALESCE(r.c, 0) AS n FROM cal LEFT JOIN raw r ON r.day = cal.day
), ma AS (
  SELECT day, n, SUM(n) OVER w AS s7, COUNT(*) OVER w AS c7
  FROM dense
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), d AS (
  SELECT day, date_diff('day', DATE '1970-01-05', day) % 7 AS dow, n, s7, c7,
         CASE WHEN c7 = 7 THEN 7 * n - s7 END AS dnum
  FROM ma
), si AS (
  SELECT dow, CAST(SUM(dnum) AS BIGINT) AS dsum, CAST(COUNT(dnum) AS BIGINT) AS dcnt
  FROM d WHERE dnum IS NOT NULL GROUP BY dow
)
SELECT d.day, CAST(d.dow AS BIGINT) AS dow, d.n,
       CASE WHEN c7 = 7 THEN CAST(s7 AS DOUBLE) / 7 END AS trend,
       CAST(dsum AS DOUBLE) / (7 * dcnt) AS seasonal,
       CASE WHEN dnum IS NOT NULL
            THEN CAST(dnum * dcnt - dsum AS DOUBLE) / (7 * dcnt) END AS residual
FROM d JOIN si ON si.dow = d.dow
"""


@register(
    "events_seasonal_decompose",
    oracle=SEASONAL_DECOMP_ORACLE,
    tags=("ext", "events", "timeseries", "decomposition"),
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event-count
    series (period 7, day-of-week): trend = centered 7-day moving average
    (NULL at the edges where the window is partial), seasonal index =
    per-dow mean of the detrended series, residual = the rest. Completes
    the time-series battery (seasonal-naive baseline → autocorrelation →
    EWMA → decomposition).

    Determinism: every emitted double is ONE division of exact integers —
    detrended is kept as the integer numerator ``7·n − sum7``, the
    seasonal index as ``Σ dnum / (7·c)``, and the residual as
    ``(dnum·c − Σ dnum) / (7·c)`` — so no cross-row double summation ever
    happens and both engines produce bit-identical values. Scale: windows
    and joins run on the DAY-grain frame (365 rows/year regardless of
    event volume; the one SinglePartition window exchange moves that tiny
    frame, never the events), the dow index is a 7-row broadcast join,
    and the calendar is densified so silent days count as zero."""
    return seasonal_decompose_report(seasonal_daily_cells(t(spark, sf_dir, "events")))


def seasonal_daily_cells(e: DataFrame) -> DataFrame:
    """(day, n) daily event counts — the ADDITIVE state cells of the
    decomposition: counts from disjoint micro-batches sum to the full
    count, so `stream_seasonal_monitor` folds these per trigger."""
    return e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def dense_daily(daily: DataFrame) -> DataFrame:
    """Calendar-densified (d0, day, n) from sparse (day, n) cells — ONE
    definition for every day-grain time-series query (decomposition,
    Theil–Sen) so they all analyze the identically densified series."""
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select("d0", F.explode(F.sequence("d0", "d1")).alias("day"))
    return cal.join(daily.withColumnRenamed("n", "c"), "day", "left").select(
        "d0", "day", F.coalesce("c", F.lit(0)).cast("bigint").alias("n")
    )


def seasonal_decompose_report(daily: DataFrame) -> DataFrame:
    """Decomposition report from (day, n) cells (dense or sparse — the
    calendar is re-densified here so silent days count as zero)."""
    from pyspark.sql import Window as W

    dense = dense_daily(daily).select("day", "n")
    w = W.orderBy("day").rowsBetween(-3, 3)
    d = (
        dense.select(
            "day",
            "n",
            F.sum("n").over(w).alias("s7"),
            F.count(F.lit(1)).over(w).alias("c7"),
        )
        .withColumn("dow", F.pmod(F.datediff("day", F.lit("1970-01-05")), F.lit(7)).cast("bigint"))
        .withColumn("dnum", F.when(F.col("c7") == 7, 7 * F.col("n") - F.col("s7")))
    )
    si = (
        d.where(F.col("dnum").isNotNull())
        .groupBy("dow")
        .agg(
            F.sum("dnum").cast("bigint").alias("dsum"),
            F.count("dnum").cast("bigint").alias("dcnt"),
        )
    )
    return d.join(F.broadcast(si), "dow").select(
        "day",
        "dow",
        "n",
        F.when(F.col("c7") == 7, F.col("s7").cast("double") / 7).alias("trend"),
        (F.col("dsum").cast("double") / (7 * F.col("dcnt"))).alias("seasonal"),
        F.when(
            F.col("dnum").isNotNull(),
            (F.col("dnum") * F.col("dcnt") - F.col("dsum")).cast("double")
            / (7 * F.col("dcnt")),
        ).alias("residual"),
    )


@register(
    "events_peak_concurrency",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800000000 OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
         ts
  FROM flagged
), iv AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e FROM sess GROUP BY 1, 2
), bounds AS (
  SELECT s AS t, CAST(1 AS BIGINT) AS delta FROM iv
  UNION ALL
  SELECT e, CAST(-1 AS BIGINT) FROM iv
), run AS (
  SELECT CAST(date_trunc('day', t) AS DATE) AS day,
         SUM(delta) OVER (ORDER BY t, delta DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
  FROM bounds
)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_boundaries,
       CAST(MAX(r) AS BIGINT) AS peak_concurrency
FROM run GROUP BY day
""",
    tags=("ext", "events", "concurrency", "sweepline"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning sweep-line:
    sessions (same 30-min-gap rule as `events_sessionize`) become ±1
    boundary events, and the running sum's daily maximum is the day's
    peak concurrency (ties at one timestamp order +1 before −1, so
    touching sessions count as overlapping; the daily MAX is invariant
    to the residual ordering within an equal (t, delta) group since the
    maximum is attained only after a +1 run completes).

    Scale: the oracle's single global cumsum would be one partition over
    ALL boundaries — a scale-killer. The engine instead computes a
    TWO-LEVEL prefix sum: a within-day running sum (window partitioned by
    day) plus day-level carry offsets from the day-grain frame (365
    rows/year, broadcast back) — identical totals, and the big window
    shuffles on day, never globally."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    us = F.unix_micros(F.col("ts"))
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull() | (us - F.lag(us).over(w) > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    )
    iv = (
        flagged.withColumn("sid", F.sum("new_sess").over(wcum))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    bounds = iv.select(F.col("s").alias("t"), F.lit(1).cast("bigint").alias("delta")).unionByName(
        iv.select(F.col("e").alias("t"), F.lit(-1).cast("bigint").alias("delta"))
    )
    bounds = bounds.withColumn("day", F.to_date("t"))
    wd = W.partitionBy("day").orderBy(F.col("t"), F.col("delta").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    in_day = bounds.withColumn("r_day", F.sum("delta").over(wd))
    day_tot = bounds.groupBy("day").agg(F.sum("delta").alias("tot"))
    w_days = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    offsets = day_tot.select(
        "day", F.coalesce(F.sum("tot").over(w_days), F.lit(0)).alias("carry")
    )
    return (
        in_day.join(F.broadcast(offsets), "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_boundaries"),
            F.max(F.col("carry") + F.col("r_day")).cast("bigint").alias("peak_concurrency"),
        )
    )


@register(
    "events_theilsen_trend",
    oracle="""
WITH span AS (
  SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS d0,
         CAST(MAX(date_trunc('day', ts)) AS DATE) AS d1 FROM events
), cal AS (
  SELECT d0, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
), raw AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), dense AS (
  SELECT CAST(date_diff('day', cal.d0, cal.day) AS BIGINT) AS i, COALESCE(r.c, 0) AS n
  FROM cal LEFT JOIN raw r ON r.day = cal.day
), pairs AS (
  SELECT b.n - a.n AS num, b.i - a.i AS den
  FROM dense a JOIN dense b ON a.i < b.i
), ranked AS (
  SELECT num, den,
         ROW_NUMBER() OVER (ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rk,
         COUNT(*) OVER () AS np
  FROM pairs
)
SELECT CAST(np AS BIGINT) AS n_pairs, num AS slope_num, den AS slope_den,
       CAST(num AS DOUBLE) / den AS slope_per_day
FROM ranked WHERE rk = (np + 1) // 2
""",
    tags=("ext", "events", "timeseries", "robust"),
)
def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily event-count series: the median
    of all pairwise slopes — the estimator that shrugs off the outlier
    days a least-squares fit chases. Exact: slopes stay integer rationals
    (num = n_j − n_i, den = j − i); the lower median is selected by rank
    with a (num, den) tiebreak, and the only double is the one reported
    division. Scale: pairwise means DAY-GRAIN pairwise — 365 days/year →
    ~66k integer pairs regardless of event volume (the events themselves
    are touched once, in the daily count agg); the rank is a window over
    that bounded frame."""
    from pyspark.sql import Window as W

    dense = dense_daily(seasonal_daily_cells(t(spark, sf_dir, "events"))).select(
        F.datediff("day", "d0").cast("bigint").alias("i"), "n"
    )
    a, b = dense.alias("a"), dense.alias("b")
    pairs = a.join(b, F.col("a.i") < F.col("b.i")).select(
        (F.col("b.n") - F.col("a.n")).alias("num"),
        (F.col("b.i") - F.col("a.i")).alias("den"),
    )
    ranked = pairs.select(
        "num",
        "den",
        F.row_number()
        .over(W.orderBy(F.col("num").cast("double") / F.col("den"), "num", "den"))
        .alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("np"),
    )
    return ranked.where(F.col("rk") == F.expr("(np + 1) div 2")).select(
        F.col("np").cast("bigint").alias("n_pairs"),
        F.col("num").alias("slope_num"),
        F.col("den").alias("slope_den"),
        (F.col("num").cast("double") / F.col("den")).alias("slope_per_day"),
    )


@register(
    "events_ewma_forecast",
    oracle="""
WITH span AS (
  SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0,
         CAST(date_trunc('day', MAX(ts)) AS DATE) AS d1 FROM events
), cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM span),
types AS (SELECT DISTINCT event_type FROM events),
raw AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), dense AS (
  SELECT t.event_type, CAST(cal.d AS DATE) AS d, COALESCE(r.c, 0) AS c
  FROM types t CROSS JOIN cal
  LEFT JOIN raw r ON r.event_type = t.event_type AND r.d = cal.d
), lagged AS (
  SELECT event_type, d, c,
         128 * LAG(c, 1) OVER w + 64 * LAG(c, 2) OVER w + 32 * LAG(c, 3) OVER w
         + 16 * LAG(c, 4) OVER w + 8 * LAG(c, 5) OVER w + 4 * LAG(c, 6) OVER w
         + 2 * LAG(c, 7) OVER w + 2 * LAG(c, 8) OVER w AS pred_x256,
         LAG(c, 8) OVER w AS oldest
  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY d)
), scored AS (
  SELECT event_type, d, c, pred_x256,
         ABS(256 * c - pred_x256) AS abs_resid_x256
  FROM lagged WHERE oldest IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(abs_resid_x256) // (256 * COUNT(*)) AS BIGINT) AS mae_units,
       CAST(MAX(CASE WHEN d = (SELECT MAX(d) FROM scored) THEN pred_x256 END) AS BIGINT) AS last_pred_x256,
       CAST(MAX(CASE WHEN d = (SELECT MAX(d) FROM scored) THEN c END) AS BIGINT) AS last_actual
FROM scored GROUP BY event_type
""",
    tags=("ext", "events", "timeseries"),
)
def events_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead EWMA volume forecast per event type with EXACT dyadic
    weights: alpha = 1/2 truncated at 8 lags, weights (128,64,32,16,8,4,
    2,2)/256 (the geometric tail mass folded into the last term so weights
    sum to 1 exactly). Everything stays integer — predictions carry a
    ×256 fixed-point scale, residuals are |256·actual − pred|, and MAE is
    reported in whole events via one integer division, so the forecast
    skill score is bit-identical under any partitioning (no float EWMA
    recursion, no order sensitivity). One window pass over the densified
    |days|×|types| frame. The anomaly-detector companion: alert when
    today's count leaves a band around pred_x256/256."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    span = ev.agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("d0"),
        F.date_trunc("day", F.max("ts")).cast("date").alias("d1"),
    )
    cal = span.select(F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"))
    types = ev.select("event_type").distinct()
    raw = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dense = (
        types.crossJoin(F.broadcast(cal))
        .join(raw, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("c", F.lit(0)).cast("bigint").alias("c"))
    )
    w = W.partitionBy("event_type").orderBy("d")
    weights = (128, 64, 32, 16, 8, 4, 2, 2)
    pred = None
    for j, wt in enumerate(weights, start=1):
        term = F.lag("c", j).over(w) * wt
        pred = term if pred is None else pred + term
    lagged = dense.select(
        "event_type",
        "d",
        "c",
        pred.alias("pred_x256"),
        F.lag("c", 8).over(w).alias("oldest"),
    )
    scored = lagged.where(F.col("oldest").isNotNull()).select(
        "event_type",
        "d",
        "c",
        "pred_x256",
        F.abs(F.lit(256) * F.col("c") - F.col("pred_x256")).alias("abs_resid_x256"),
    )
    last_d = scored.agg(F.max("d").alias("dmax"))
    return (
        scored.crossJoin(F.broadcast(last_d))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.expr("CAST(SUM(abs_resid_x256) div (256 * COUNT(*)) AS BIGINT)").alias("mae_units"),
            F.max(F.when(F.col("d") == F.col("dmax"), F.col("pred_x256")))
            .cast("bigint")
            .alias("last_pred_x256"),
            F.max(F.when(F.col("d") == F.col("dmax"), F.col("c")))
            .cast("bigint")
            .alias("last_actual"),
        )
    )


@register(
    "layout_zorder_vs_linear",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderdate, o_custkey,
         CAST(NTILE(256) OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT) AS xb,
         CAST(NTILE(256) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS BIGINT) AS yb
  FROM orders
), zval AS (
  SELECT *,
         (((xb >> 0) & 1) << 0) | (((yb >> 0) & 1) << 1)
       | (((xb >> 1) & 1) << 2) | (((yb >> 1) & 1) << 3)
       | (((xb >> 2) & 1) << 4) | (((yb >> 2) & 1) << 5)
       | (((xb >> 3) & 1) << 6) | (((yb >> 3) & 1) << 7)
       | (((xb >> 4) & 1) << 8) | (((yb >> 4) & 1) << 9)
       | (((xb >> 5) & 1) << 10) | (((yb >> 5) & 1) << 11)
       | (((xb >> 6) & 1) << 12) | (((yb >> 6) & 1) << 13)
       | (((xb >> 7) & 1) << 14) | (((yb >> 7) & 1) << 15) AS z
  FROM base
), sharded AS (
  SELECT o_orderdate, o_custkey,
         CAST(NTILE(64) OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT) AS shard_date,
         CAST(NTILE(64) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS BIGINT) AS shard_cust,
         CAST(NTILE(64) OVER (ORDER BY z, o_orderkey) - 1 AS BIGINT) AS shard_z
  FROM zval
), pred AS (
  SELECT TIMESTAMP '1997-01-01 00:00:00' AS dlo, TIMESTAMP '1998-01-01 00:00:00' AS dhi,
         (SELECT MAX(o_custkey) // 4 FROM orders) AS chi
), layouts AS (
  SELECT 'linear_date' AS layout, shard_date AS shard, o_orderdate, o_custkey FROM sharded
  UNION ALL
  SELECT 'linear_cust', shard_cust, o_orderdate, o_custkey FROM sharded
  UNION ALL
  SELECT 'zorder', shard_z, o_orderdate, o_custkey FROM sharded
), zones AS (
  SELECT layout, shard,
         MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax,
         MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
         CAST(COUNT(*) AS BIGINT) AS zrows
  FROM layouts GROUP BY 1, 2
), verdict AS (
  SELECT z.*, (z.dmin < p.dhi AND z.dmax >= p.dlo AND z.cmin <= p.chi) AS must_read
  FROM zones z CROSS JOIN pred p
), matched AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS rows_matched
  FROM sharded s CROSS JOIN pred p
  WHERE s.o_orderdate >= p.dlo AND s.o_orderdate < p.dhi AND s.o_custkey <= p.chi
)
SELECT v.layout,
       CAST(SUM(CASE WHEN v.must_read THEN 1 ELSE 0 END) AS BIGINT) AS shards_read,
       CAST(SUM(CASE WHEN v.must_read THEN v.zrows ELSE 0 END) AS BIGINT) AS rows_scanned,
       ANY_VALUE(m.rows_matched) AS rows_matched,
       CAST(SUM(CASE WHEN v.must_read THEN v.zrows ELSE 0 END) * 1000000
            // SUM(v.zrows) AS BIGINT) AS scan_fraction_ppm
FROM verdict v CROSS JOIN matched m
GROUP BY v.layout
""",
    tags=("ext", "layout"),
)
def layout_zorder_vs_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-ORDER argument, measured: the same orders table cut into 64
    shards under three sort orders — linear by date, linear by custkey,
    and Morton/Z-order (bit-interleave of the two 256-bucket rank
    coordinates) — each shard keeping min/max zones on BOTH columns. A
    2-D predicate (one year AND lowest custkey quartile) must read a
    shard iff both zones overlap. Linear layouts prune only their own
    dimension; Z-order keeps locality in both, so its scan fraction
    approaches the PRODUCT of the selectivities rather than the better
    single one. This is `curate_zorder_layout`'s payoff quantified — the
    number that justifies interleaved sort keys for multi-dimension
    filter workloads at 100 TB (Delta/Iceberg OPTIMIZE ZORDER, data
    skipping). Matched row counts are layout-invariant (skipping never
    changes answers). Scale note: the ntile ranks here are a global
    window (SinglePartition) for bit-exactness at fixture scale; the
    production path derives the same 256 bucket boundaries from
    `layout_range_boundaries`' 1024-bucket histogram — no sort, no
    single-partition stage — then buckets by range lookup."""
    from pyspark.sql import Window as W

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_custkey")
    base = orders.select(
        "*",
        (F.ntile(256).over(W.orderBy("o_orderdate", "o_orderkey")) - 1)
        .cast("bigint")
        .alias("xb"),
        (F.ntile(256).over(W.orderBy("o_custkey", "o_orderkey")) - 1)
        .cast("bigint")
        .alias("yb"),
    )
    zbits = " | ".join(
        f"(shiftleft((shiftright(xb, {b}) & 1), {2 * b}))"
        f" | (shiftleft((shiftright(yb, {b}) & 1), {2 * b + 1}))"
        for b in range(8)
    )
    zval = base.withColumn("z", F.expr(zbits))
    sharded = zval.select(
        "o_orderdate",
        "o_custkey",
        (F.ntile(64).over(W.orderBy("o_orderdate", "o_orderkey")) - 1)
        .cast("bigint")
        .alias("shard_date"),
        (F.ntile(64).over(W.orderBy("o_custkey", "o_orderkey")) - 1)
        .cast("bigint")
        .alias("shard_cust"),
        (F.ntile(64).over(W.orderBy("z", "o_orderkey")) - 1).cast("bigint").alias("shard_z"),
    )
    dlo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    dhi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    chi_df = orders.agg(F.expr("CAST(MAX(o_custkey) div 4 AS BIGINT)").alias("chi"))
    layouts = None
    for name, col in (
        ("linear_date", "shard_date"),
        ("linear_cust", "shard_cust"),
        ("zorder", "shard_z"),
    ):
        part = sharded.select(
            F.lit(name).alias("layout"),
            F.col(col).alias("shard"),
            "o_orderdate",
            "o_custkey",
        )
        layouts = part if layouts is None else layouts.unionByName(part)
    zones = layouts.groupBy("layout", "shard").agg(
        F.min("o_orderdate").alias("dmin"),
        F.max("o_orderdate").alias("dmax"),
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.count(F.lit(1)).cast("bigint").alias("zrows"),
    )
    verdict = zones.crossJoin(F.broadcast(chi_df)).withColumn(
        "must_read",
        (F.col("dmin") < dhi) & (F.col("dmax") >= dlo) & (F.col("cmin") <= F.col("chi")),
    )
    matched = (
        sharded.crossJoin(F.broadcast(chi_df))
        .where((F.col("o_orderdate") >= dlo) & (F.col("o_orderdate") < dhi) & (F.col("o_custkey") <= F.col("chi")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_matched"))
    )
    return (
        verdict.groupBy("layout")
        .agg(
            F.sum(F.when(F.col("must_read"), 1).otherwise(0)).cast("bigint").alias("shards_read"),
            F.sum(F.when(F.col("must_read"), F.col("zrows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("zrows").cast("bigint").alias("all_rows"),
        )
        .crossJoin(F.broadcast(matched))
        .select(
            "layout",
            "shards_read",
            "rows_scanned",
            "rows_matched",
            F.expr("rows_scanned * 1000000 div all_rows").cast("bigint").alias("scan_fraction_ppm"),
        )
    )


@register(
    "multimodal_bmp_resize",
    oracle="""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
), px AS (
  SELECT doc_id, (w + 1) // 2 AS w2, (h + 1) // 2 AS h2, xs.x, ys.y
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, w - 1, 2)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1, 2)) AS y) ys
)
SELECT doc_id,
       CAST(w2 AS BIGINT) AS width,
       CAST(h2 AS BIGINT) AS height,
       CAST(w2 * h2 AS BIGINT) AS n_pixels,
       CAST(SUM((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((2 * doc_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((5 * doc_id + x + 11 * y) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, w2, h2
""",
    tags=("ext", "multimodal", "codec"),
)
def multimodal_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media resize end-to-end: every document's genuine BMP payload
    goes through decode → nearest-neighbor 2x downsample (even (x, y)
    pixels, top-down) → RE-ENCODE as a valid BMP → a second full decode
    into per-channel sums. The oracle reproduces the surviving pixels'
    sums in closed form, so the round trip proves both parse directions
    AND the resampling geometry (ceil-half dims, even-index selection
    surviving the bottom-up flip twice). The resize stage of a multimodal
    training pipeline with zero media libraries; jpeg/png keep the
    disclosed stub contract."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_bmp_media(docs, rows=table_rows(sf_dir, "documents"))
    return M.decode_bmp_features(M.resize_bmp_half(media))


@register(
    "multimodal_wav_features",
    oracle="""
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 17 AS n FROM documents
), smp AS (
  SELECT doc_id, n, k.k, ((doc_id * 31 + k.k * 57) % 4096) - 2048 AS s
  FROM dims, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS k) k
), lagged AS (
  SELECT doc_id, n, k, s,
         LAG(s) OVER (PARTITION BY doc_id ORDER BY k) AS prev
  FROM smp
)
SELECT doc_id,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(ANY_VALUE(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
       CAST(SUM(s * s) AS BIGINT) AS energy,
       CAST(MAX(ABS(s)) AS BIGINT) AS peak,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND prev * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_crossings
FROM lagged GROUP BY doc_id
""",
    tags=("ext", "multimodal", "codec", "audio"),
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec end-to-end, dependency-free (the WAV twin of
    `multimodal_bmp_features`): every document gets a genuine RIFF/WAVE
    PCM16 mono payload (deterministic samples derived from doc_id — real
    files, any audio tool plays them), and `decode_wav_features` validates
    the chunk layout and emits integer-exact signal features (Σ|s|
    loudness, Σs² energy, peak, zero crossings). The oracle reproduces
    every number in closed form from the sample formula — header layout,
    int16 little-endian packing, and the data-chunk length are all
    verified bit-exactly. Closes the audio modality's "decode is stubbed"
    gap; the MP3 sibling is container-level (`multimodal_mp3_features`) —
    its PCM decode stays out of scope by disclosed contract."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_wav_media(docs)
    return M.decode_wav_features(media)


@register(
    "sketch_bloom_fpr_sweep",
    oracle="""
WITH keys AS (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS k FROM customer),
probes AS (
  SELECT 'p' || CAST(i AS VARCHAR) AS k
  FROM (SELECT unnest(generate_series(0, 19999)) AS i)
), ms AS (SELECT * FROM (VALUES (12), (14), (16)) AS t(mb)),
seeds AS (SELECT * FROM (VALUES (11), (23), (47)) AS t(s)),
bits AS (
  SELECT DISTINCT mb,
         md5_number_lower('bloom' || CAST(s AS VARCHAR) || ':' || k) % (1 << mb) AS pos
  FROM keys CROSS JOIN ms CROSS JOIN seeds
), pp AS (
  SELECT mb, p.k,
         md5_number_lower('bloom' || CAST(s AS VARCHAR) || ':' || p.k) % (1 << mb) AS pos
  FROM probes p CROSS JOIN ms CROSS JOIN seeds
), hits AS (
  SELECT pp.mb, pp.k, COUNT(*) AS n_hit
  FROM pp JOIN bits ON bits.mb = pp.mb AND bits.pos = pp.pos
  GROUP BY 1, 2
), fp AS (
  SELECT mb, CAST(COUNT(*) AS BIGINT) AS n_false_pos FROM hits WHERE n_hit = 3 GROUP BY mb
), nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM keys)
SELECT CAST(ms.mb AS INT) AS m_bits_log2, nk.n_keys,
       CAST(20000 AS BIGINT) AS n_probes,
       COALESCE(fp.n_false_pos, 0) AS n_false_pos,
       CAST(1000000 * COALESCE(fp.n_false_pos, 0) // 20000 AS BIGINT) AS fpr_ppm
FROM ms LEFT JOIN fp USING (mb) CROSS JOIN nk
""",
    tags=("ext", "sketch", "bloom", "calibration"),
)
def sketch_bloom_fpr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing study (the bloom sibling of
    `sketch_count_min_width_sweep`): the customer key set builds 4 Kbit /
    16 Kbit / 64 Kbit bitmaps (3 seeds, md5 positions so the oracle
    reproduces every bit), probed by 20k keys DISJOINT by construction
    ('p' vs 'c' namespaces) — every survivor is a measured false
    positive. The empirical FPR-vs-bits/key law is what sizes the
    semi-join-reduction filter (`join_bloom_prefilter`) at 100 TB: the
    sweep runs the REAL `bloom_prefilter` probe machinery (word-indexed
    broadcast lookups + bit tests), not a simulation."""
    from flink_dts_connector_spark.operators.skew import (
        bloom_hash_md5,
        bloom_prefilter,
    )

    keys = (
        t(spark, sf_dir, "customer")
        .select(F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("k"))
        .distinct()
    )
    probes = spark.range(20000).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("k")
    )
    n_keys = keys.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    out = None
    for mb in (12, 14, 16):
        surv = bloom_prefilter(
            probes, keys, "k", m_bits_log2=mb, hash_fn=bloom_hash_md5
        )
        row = (
            surv.groupBy()
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_false_pos"))
            .select(
                F.lit(mb).cast("int").alias("m_bits_log2"),
                F.lit(20000).cast("bigint").alias("n_probes"),
                "n_false_pos",
                F.expr("CAST(1000000 * n_false_pos div 20000 AS BIGINT)").alias(
                    "fpr_ppm"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.crossJoin(F.broadcast(n_keys)).select(
        "m_bits_log2", "n_keys", "n_probes", "n_false_pos", "fpr_ppm"
    )


@register(
    "layout_zorder_skipping",
    oracle="""
WITH pts AS (
  SELECT o_orderkey,
         o_custkey % 16 AS c,
         ((EXTRACT(year FROM o_orderdate) - 1992) * 12
           + EXTRACT(month FROM o_orderdate) - 1) % 16 AS td
  FROM orders
), coded AS (
  SELECT o_orderkey, c, td,
         ((c // 1) % 2) * 1 + ((td // 1) % 2) * 2
         + ((c // 2) % 2) * 4 + ((td // 2) % 2) * 8
         + ((c // 4) % 2) * 16 + ((td // 4) % 2) * 32
         + ((c // 8) % 2) * 64 + ((td // 8) % 2) * 128 AS z
  FROM pts
), assigned AS (
  SELECT 'time_sorted' AS layout, td AS file, c, td FROM coded
  UNION ALL
  SELECT 'zorder', z // 16, c, td FROM coded
), zones AS (
  SELECT layout, file, CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(c) AS min_c, MAX(c) AS max_c, MIN(td) AS min_t, MAX(td) AS max_t
  FROM assigned GROUP BY 1, 2
), verdicts AS (
  SELECT layout, n_rows,
         (min_c <= 7 AND max_c >= 4 AND min_t <= 11 AND max_t >= 8) AS touched
  FROM zones
), sel AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS rows_selected
  FROM pts WHERE c BETWEEN 4 AND 7 AND td BETWEEN 8 AND 11
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN touched THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
       CAST(SUM(CASE WHEN touched THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       ANY_VALUE(sel.rows_selected) AS rows_selected
FROM verdicts CROSS JOIN sel GROUP BY layout
""",
    tags=("ext", "layout", "zorder"),
)
def layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout study (the multi-dimensional sibling of the r6
    zone-map skipping study): orders hashed into 16 files under two
    layouts — 1-D time-sorted vs Morton-interleaved (customer-bucket,
    month-bucket) — then a 2-D predicate box (one quarter of each dim) is
    planned against per-file zone maps (min/max of both dims). The 1-D
    layout must touch every file holding the time range regardless of the
    customer predicate; the z-order layout confines the box to the files
    whose bit-interleaved tile intersects it (a single file here), which
    is why lakehouse tables cluster multi-dim query columns by Morton/
    Hilbert codes. Every number (file assignment, zone bounds, touched
    set, rows scanned/selected) is exact integer arithmetic both engines
    reproduce."""
    o = t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 16).alias("c"),
        (
            ((F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1)
            % 16
        ).alias("td"),
    )
    z = None
    for b in range(4):
        term = (
            F.shiftright(F.col("c"), b).bitwiseAND(F.lit(1)) * (1 << (2 * b))
            + F.shiftright(F.col("td"), b).bitwiseAND(F.lit(1)) * (1 << (2 * b + 1))
        )
        z = term if z is None else z + term
    coded = o.withColumn("z", z)
    assigned = coded.select(
        F.lit("time_sorted").alias("layout"), F.col("td").alias("file"), "c", "td"
    ).unionByName(
        coded.select(
            F.lit("zorder").alias("layout"),
            F.shiftright(F.col("z"), 4).alias("file"),
            "c",
            "td",
        )
    )
    zones = assigned.groupBy("layout", "file").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
        F.min("td").alias("min_t"),
        F.max("td").alias("max_t"),
    )
    touched = (
        (F.col("min_c") <= 7)
        & (F.col("max_c") >= 4)
        & (F.col("min_t") <= 11)
        & (F.col("max_t") >= 8)
    )
    sel = o.where(F.col("c").between(4, 7) & F.col("td").between(8, 11)).agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_selected")
    )
    return (
        zones.withColumn("touched", touched)
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.when(F.col("touched"), 1).otherwise(0))
            .cast("bigint")
            .alias("files_touched"),
            F.sum(F.when(F.col("touched"), F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
        )
        .crossJoin(F.broadcast(sel))
    )


@register(
    "privacy_l_diversity",
    oracle=f"""
WITH q AS (
  SELECT lang,
         (CAST(len({SQL_TOKS}) AS BIGINT) // 25) * 25 AS len_bucket,
         source AS sensitive
  FROM documents
), groups AS (
  SELECT lang, len_bucket,
         CAST(COUNT(*) AS BIGINT) AS group_size,
         CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l_distinct,
         CAST(MAX(cnt) AS BIGINT) AS max_sensitive_count
  FROM (
    SELECT lang, len_bucket, sensitive,
           COUNT(*) OVER (PARTITION BY lang, len_bucket, sensitive) AS cnt
    FROM q
  ) GROUP BY 1, 2
)
SELECT lang, len_bucket, group_size, l_distinct,
       CAST(1000000 * max_sensitive_count // group_size AS BIGINT)
         AS dominance_ppm,
       (l_distinct < 2 OR 1000000 * max_sensitive_count // group_size > 900000)
         AS violates
FROM groups
""",
    tags=("ext", "privacy", "audit"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attribute-disclosure sibling of
    `privacy_k_anonymity`: a quasi-identifier group (language, token-length
    bucket) is unsafe when its SENSITIVE attribute (the provenance source)
    is homogeneous (l < 2 distinct
    values) or near-homogeneous (one value > 90% dominance in exact ppm),
    because membership in the group then discloses the sensitive value
    even if the group is large enough to pass k-anonymity. One window +
    one hash agg on the quasi-ID tuple; every group is reported with its
    verdict (the violating rows are what a generalization pass must break
    up before release — emitting all groups keeps the audit non-vacuous
    at SFs where nothing violates)."""
    d = t(spark, sf_dir, "documents").select(
        "lang",
        ((X.token_count("text") / 25).cast("bigint") * 25).alias("len_bucket"),
        F.col("source").alias("sensitive"),
    )
    from pyspark.sql import Window as W

    cnt = F.count(F.lit(1)).over(W.partitionBy("lang", "len_bucket", "sensitive"))
    groups = (
        d.withColumn("cnt", cnt)
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.countDistinct("sensitive").cast("bigint").alias("l_distinct"),
            F.max("cnt").cast("bigint").alias("max_sensitive_count"),
        )
    )
    dom = F.expr("CAST(1000000 * max_sensitive_count div group_size AS BIGINT)")
    return groups.select(
        "lang", "len_bucket", "group_size", "l_distinct",
        dom.alias("dominance_ppm"),
        ((F.col("l_distinct") < 2) | (dom > 900000)).alias("violates"),
    )


@register(
    "multimodal_png_features",
    oracle="""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 5 + doc_id % 4 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, xs.x, ys.y
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(SUM((3 * doc_id + 5 * x + 17 * y) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((7 * doc_id + 11 * x + 2 * y) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((doc_id + 13 * x + 3 * y) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, w, h
""",
    tags=("ext", "multimodal", "codec"),
)
def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media codec #3 end-to-end, dependency-free: every document gets
    a genuine PNG payload (RGB8, stdlib-zlib deflate, chunk CRCs) whose
    scanlines cycle through ALL FIVE PNG filter types (None/Sub/Up/
    Average/Paeth — fixture h ≥ 5 guarantees each appears in every file),
    and `decode_png_features` walks the chunk stream verifying every
    CRC-32, inflates IDAT, and reconstructs pixels through the filter
    chain (numpy over Arrow batches) into per-channel sums. The oracle
    reproduces the sums in closed form from the pixel formula — so chunk
    framing, CRC math, deflate round-trip, and every de-filter branch are
    verified bit-exactly. With BMP (r6) and WAV (r7) this makes three
    real codecs (jpeg has since joined them, mp3/mp4 the container
    tier)."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_png_media(docs)
    return M.decode_png_features(media)


@register(
    "multimodal_gif_features",
    oracle="""
WITH dims AS (
  SELECT doc_id, 5 + doc_id % 4 AS w, 4 + doc_id % 5 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, (3 * doc_id + 5 * xs.x + 17 * ys.y) % 256 AS idx
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(SUM(idx) AS BIGINT) AS sum_r,
       CAST(SUM((2 * idx) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((3 * idx) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, w, h
""",
    tags=("ext", "multimodal", "codec"),
)
def multimodal_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media codec #4 end-to-end, dependency-free: every document gets
    a genuine GIF87a payload (256-entry global color table, sub-blocked
    image data) whose LZW layer — unlike PNG's stdlib deflate — is
    implemented from scratch (`operators/multimodal.py:_lzw_encode_gif` /
    `_lzw_decode_gif`: LSB-first variable-width codes, CLEAR/END, width
    growth at 2^n, 4096-entry reset), and `decode_gif_features`
    reassembles the sub-blocks, LZW-decodes the index stream, and maps
    indexes through the palette into per-channel sums. The oracle
    reproduces the sums in closed form from the index and palette
    formulas — so the container walk AND the LZW round-trip are verified
    pixel-exactly. Fourth real codec beside BMP/PNG/WAV (mp3/mp4 have
    since joined the container tier)."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_gif_media(docs)
    return M.decode_gif_features(media)


@register(
    "multimodal_jpeg_features",
    oracle="""
WITH dims AS (
  SELECT doc_id, 8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h FROM documents
), blocks AS (
  SELECT doc_id, w, h, bxs.bx, bys.by
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, w // 8 - 1)) AS bx) bxs,
       LATERAL (SELECT unnest(generate_series(0, h // 8 - 1)) AS by) bys
), vals AS (
  SELECT doc_id, w, h,
         16 + (5 * doc_id + 11 * bx + 23 * by) % 224 AS c,
         ((doc_id + bx + 3 * by) % 29) - 14 AS k
  FROM blocks
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(SUM(64 * c) AS BIGINT) AS sum_luma,
       CAST(SUM(c + k) AS BIGINT) AS sum_block_origin
FROM vals GROUP BY doc_id, w, h
""",
    tags=("ext", "multimodal", "codec"),
)
def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media codec #5 end-to-end, dependency-free: BASELINE JPEG
    (r10 — closes the biggest multimodal stub). Every document gets a
    genuine grayscale SOF0 JPEG: canonical Huffman DC/AC tables in DHT,
    DC prediction across blocks, double-ZRL AC runs to zigzag index 39,
    EOB, byte stuffing; `decode_jpeg_features` runs the full baseline
    decoder (marker walk, generic DHT build, entropy decode, dezigzag,
    dequantize, float IDCT, level shift). The two-coefficient fixture
    blocks (DC + F(4,4)) make the lossy format decode BIT-EXACTLY (both
    IDCT contributions are exact integers — `operators/multimodal.py`),
    so the oracle reproduces sum_luma (DC path) and sum_block_origin (AC
    path) in closed form. Fifth real codec beside BMP/PNG/WAV/GIF
    (mp3/mp4 have since joined the container tier)."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_jpeg_media(docs)
    return M.decode_jpeg_features(media)


@register(
    "multimodal_jpeg_color_features",
    oracle="""
WITH dims AS (
  SELECT doc_id, 16 * (1 + doc_id % 2) AS w, 16 * (1 + doc_id % 3) AS h FROM documents
), yv AS (
  SELECT doc_id,
         16 + (5 * doc_id + 11 * bxs.bx + 23 * bys.by) % 224 AS c,
         ((doc_id + bxs.bx + 3 * bys.by) % 29) - 14 AS k
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, w // 8 - 1)) AS bx) bxs,
       LATERAL (SELECT unnest(generate_series(0, h // 8 - 1)) AS by) bys
), ysum AS (
  SELECT doc_id, SUM(64 * c) AS sum_y, SUM(c + k) AS so_y FROM yv GROUP BY doc_id
), cv AS (
  SELECT doc_id, bxs.bx, bys.by,
         16 + (5 * doc_id + 11 * bxs.bx + 23 * bys.by + 37) % 224 AS cb_c,
         ((doc_id + bxs.bx + 3 * bys.by + 7) % 29) - 14 AS cb_k,
         16 + (5 * doc_id + 11 * bxs.bx + 23 * bys.by + 74) % 224 AS cr_c,
         ((doc_id + bxs.bx + 3 * bys.by + 14) % 29) - 14 AS cr_k
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, w // 16 - 1)) AS bx) bxs,
       LATERAL (SELECT unnest(generate_series(0, h // 16 - 1)) AS by) bys
), mcu AS (
  SELECT doc_id,
         16 + (5 * doc_id + 22 * bx + 46 * by) % 224
            + ((doc_id + 2 * bx + 6 * by) % 29) - 14 AS y0,
         cb_c + cb_k AS cb0,
         cr_c + cr_k AS cr0,
         cb_c, cb_k, cr_c, cr_k
  FROM cv
), rgb AS (
  SELECT doc_id,
    LEAST(GREATEST(y0 + (91881 * (cr0 - 128) + 33554432) // 65536 - 512, 0), 255) AS r,
    LEAST(GREATEST(y0 - (22554 * (cb0 - 128) + 46802 * (cr0 - 128) + 33554432) // 65536 + 512, 0), 255) AS g,
    LEAST(GREATEST(y0 + (116130 * (cb0 - 128) + 33554432) // 65536 - 512, 0), 255) AS b,
    cb_c, cb_k, cr_c, cr_k
  FROM mcu
), csum AS (
  SELECT doc_id,
         SUM(64 * cb_c) AS sum_cb, SUM(cb_c + cb_k) AS so_cb,
         SUM(64 * cr_c) AS sum_cr, SUM(cr_c + cr_k) AS so_cr,
         SUM(r) AS sum_r, SUM(g) AS sum_g, SUM(b) AS sum_b
  FROM rgb GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.w AS BIGINT) AS width,
       CAST(d.h AS BIGINT) AS height,
       CAST(d.w * d.h AS BIGINT) AS n_pixels,
       CAST(y.sum_y AS BIGINT) AS sum_y,
       CAST(c.sum_cb AS BIGINT) AS sum_cb,
       CAST(c.sum_cr AS BIGINT) AS sum_cr,
       CAST(y.so_y AS BIGINT) AS sum_block_origin_y,
       CAST(c.so_cb AS BIGINT) AS sum_block_origin_cb,
       CAST(c.so_cr AS BIGINT) AS sum_block_origin_cr,
       CAST(c.sum_r AS BIGINT) AS sum_r,
       CAST(c.sum_g AS BIGINT) AS sum_g,
       CAST(c.sum_b AS BIGINT) AS sum_b
FROM dims d JOIN ysum y USING (doc_id) JOIN csum c USING (doc_id)
""",
    tags=("ext", "multimodal", "codec", "color"),
)
def multimodal_jpeg_color_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media codec #5b (r12): COLOR baseline JPEG, YCbCr 4:2:0 — the
    r11 verdict's named next multimodal slice, extending the grayscale
    Huffman/dequant/IDCT machinery with what color adds: MCU interleave
    (4 Y + Cb + Cr per 16x16 MCU), per-component quant/Huffman table
    ROUTING (chroma quant is all-2s, so a routing mistake halves a plane),
    three DC prediction chains (all reset at RSTn — every third doc
    streams with DRI=2), 4:2:0 chroma subsampling, and the libjpeg-style
    FIXED-POINT YCbCr->RGB transform (16.16 constants, positive-bias floor
    shifts — bit-deterministic in any engine). The two-coefficient fixture
    blocks decode bit-exactly per plane, so the oracle reproduces plane
    sums (DC chains), block-origin sums (AC path per component), and the
    clamped integer RGB sums at every MCU origin in closed form
    (`operators/multimodal.py:encode_jpeg_color/decode_jpeg_color`)."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_jpeg_color_media(docs)
    return M.decode_jpeg_color_features(media)


@register(
    "privacy_t_closeness",
    oracle="""
WITH d AS (
  SELECT lang, source, LEAST(n_chars // 60, 9) AS cat FROM documents
), gdist AS (
  SELECT cat, CAST(COUNT(*) AS BIGINT) AS q_cnt FROM d GROUP BY 1
), consts AS (
  SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n,
         CAST((SELECT COUNT(*) FROM gdist) AS BIGINT) AS m
), grp AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_g FROM d GROUP BY 1, 2
), gc AS (
  SELECT lang, source, cat, CAST(COUNT(*) AS BIGINT) AS g_cnt FROM d GROUP BY 1, 2, 3
), grid AS (
  SELECT g.lang, g.source, g.n_g, c.cat, c.q_cnt, k.n, k.m,
         COALESCE(x.g_cnt, 0) AS g_cnt
  FROM grp g CROSS JOIN gdist c CROSS JOIN consts k
  LEFT JOIN gc x ON x.lang = g.lang AND x.source = g.source AND x.cat = c.cat
), cum AS (
  SELECT lang, source, n_g, n, m,
         SUM(g_cnt) OVER w AS cum_g,
         SUM(q_cnt) OVER w AS cum_q
  FROM grid
  WINDOW w AS (PARTITION BY lang, source ORDER BY cat
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT lang, source, n_g AS group_size,
       CAST(1000000 * SUM(ABS(CAST(cum_g AS HUGEINT) * n - CAST(cum_q AS HUGEINT) * n_g))
            // (CAST(n_g AS HUGEINT) * n * GREATEST(m - 1, 1)) AS BIGINT) AS t_emd_ppm,
       (1000000 * SUM(ABS(CAST(cum_g AS HUGEINT) * n - CAST(cum_q AS HUGEINT) * n_g))
            // (CAST(n_g AS HUGEINT) * n * GREATEST(m - 1, 1))) > 200000 AS violates
FROM cum GROUP BY lang, source, n_g, n, m
""",
    tags=("ext", "privacy", "audit"),
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — completes the release-safety trio beside
    `privacy_k_anonymity` (group too small) and `privacy_l_diversity`
    (sensitive value homogeneous): a quasi-identifier group (lang, source)
    is unsafe when the DISTRIBUTION of its ordered sensitive attribute
    (document length in fixed 60-char buckets) sits far from the corpus
    distribution — earth-mover's distance over the ordered categories,
    which for 1-D is the mean absolute difference of the two cumulative
    distributions. Exact integer arithmetic end-to-end: the per-prefix
    term |cum_g·N − cum_q·n_g| is computed on DECIMAL(38,0) (mirroring
    DuckDB HUGEINT) and the final EMD is truncated to ppm of the category
    span, so both engines render the same BIGINT. Plan shape: two hash
    aggs on the (quasi-ID, category) and quasi-ID keys, a broadcasted
    10-row category frame to complete the grid (absent categories count
    zero — omitting them would understate the distance), and a per-group
    window over ≤10 rows; nothing scales with corpus size except the
    two aggregations. Groups with t_emd_ppm > 200000 (the classic
    t = 0.2) are flagged; all groups are emitted so the audit stays
    non-vacuous at SFs where nothing violates. The span denominator is
    GREATEST(m-1, 1): a corpus that collapses to ONE length category
    (m = 1) has zero EMD everywhere, and without the guard Spark
    (non-ANSI) would return NULL while DuckDB errors on division by zero
    — a silent engine/oracle divergence (ADVICE r7)."""
    docs = t(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("LEAST(n_chars DIV 60, 9)").alias("cat")
    )
    gdist = docs.groupBy("cat").agg(F.count(F.lit(1)).cast("bigint").alias("q_cnt"))
    consts = gdist.agg(
        F.sum("q_cnt").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    grp = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g")
    )
    gc = docs.groupBy("lang", "source", "cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("g_cnt")
    )
    from pyspark.sql import Window as W

    grid = (
        grp.crossJoin(F.broadcast(gdist))
        .crossJoin(F.broadcast(consts))
        .join(gc, ["lang", "source", "cat"], "left")
        .withColumn("g_cnt", F.coalesce(F.col("g_cnt"), F.lit(0)).cast("bigint"))
    )
    w = (
        W.partitionBy("lang", "source")
        .orderBy("cat")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = grid.select(
        "lang", "source", "n_g", "n", "m",
        F.sum("g_cnt").over(w).alias("cum_g"),
        F.sum("q_cnt").over(w).alias("cum_q"),
    )
    emd = (
        "1000000 * SUM(ABS(CAST(cum_g AS DECIMAL(38,0)) * n"
        " - CAST(cum_q AS DECIMAL(38,0)) * n_g))"
        " div (CAST(n_g AS DECIMAL(38,0)) * n * GREATEST(m - 1, 1))"
    )
    return (
        cum.groupBy("lang", "source", "n_g", "n", "m")
        .agg(
            F.expr(f"CAST({emd} AS BIGINT)").alias("t_emd_ppm"),
            F.expr(f"({emd}) > 200000").alias("violates"),
        )
        .select(
            "lang", "source", F.col("n_g").alias("group_size"),
            "t_emd_ppm", "violates",
        )
    )


@register(
    "events_drift_tv",
    oracle="""
WITH e AS (
  SELECT event_type,
         CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS half,
         LEAST(CAST(FLOOR(value / 25) AS BIGINT), 19) AS bucket
  FROM events
), cells AS (
  SELECT event_type, bucket,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM e GROUP BY 1, 2
), halves AS (
  SELECT event_type, CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
  FROM cells GROUP BY 1
), diffs AS (
  SELECT c.event_type, c.bucket, h.n0, h.n1,
         ABS(CAST(c.c0 AS HUGEINT) * h.n1 - CAST(c.c1 AS HUGEINT) * h.n0) AS diff
  FROM cells c JOIN halves h USING (event_type)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY diff DESC, bucket) AS rk
  FROM diffs
)
SELECT event_type, n0 AS n_first_half, n1 AS n_second_half,
       CAST(1000000 * SUM(diff) // (2 * CAST(n0 AS HUGEINT) * n1) AS BIGINT)
         AS tv_drift_ppm,
       CAST(MAX(CASE WHEN rk = 1 THEN bucket END) AS BIGINT) AS top_drift_bucket
FROM ranked GROUP BY event_type, n0, n1
""",
    tags=("ext", "stats", "drift"),
)
def events_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit for a feature pipeline: per event type,
    the total-variation distance between the value distribution of the
    first half of the month (day ≤ 15) and the second half, over fixed
    25-unit value buckets — TV = ½·Σ|p_b − q_b|, the standard drift gate
    a training pipeline runs before trusting fresh data, reported in
    exact ppm (the cross products c0·n1 − c1·n0 ride DECIMAL(38,0) /
    HUGEINT so both engines truncate the same BIGINT; bucket boundaries
    come from the same IEEE floor(value/25) in both). Also pins the most
    drifted bucket per type (row_number with a bucket tiebreak — argmax
    alone is nondeterministic under ties). Plan: one hash agg on
    (event_type, bucket) with the half split folded into conditional
    counts — no second scan, no shuffle beyond the one agg; the
    downstream window runs on ≤20 rows per type. At 100 TB the cell
    frame is |types|×20 rows regardless of input mass."""
    cells = drift_tv_cells(t(spark, sf_dir, "events"))
    return drift_tv_report(cells)


def drift_tv_cells(events: DataFrame) -> DataFrame:
    """(event_type, bucket, c0, c1) histogram cells for the TV drift gate —
    additive, so per-micro-batch cells fold into a running state by
    plain summation (`stream_drift_monitor` relies on this)."""
    ev = events.select(
        "event_type",
        F.expr("CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END").alias("half"),
        F.expr("LEAST(CAST(FLOOR(value / 25) AS BIGINT), 19)").alias("bucket"),
    )
    return ev.groupBy("event_type", "bucket").agg(
        F.sum(F.expr("CASE WHEN half = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.expr("CASE WHEN half = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c1"),
    )


def drift_tv_report(cells: DataFrame) -> DataFrame:
    """TV drift report from (event_type, bucket, c0, c1) cells — the exact
    arithmetic tail shared by `events_drift_tv` (one-shot cells) and
    `stream_drift_monitor` (cells folded across micro-batches)."""
    halves = cells.groupBy("event_type").agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
    )
    diffs = cells.join(F.broadcast(halves), "event_type").select(
        "event_type", "bucket", "n0", "n1",
        F.expr(
            "ABS(CAST(c0 AS DECIMAL(38,0)) * n1 - CAST(c1 AS DECIMAL(38,0)) * n0)"
        ).alias("diff"),
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.desc("diff"), "bucket")
    )
    return (
        diffs.withColumn("rk", rk)
        .groupBy("event_type", "n0", "n1")
        .agg(
            F.expr(
                "CAST(1000000 * SUM(diff)"
                " div (2 * CAST(n0 AS DECIMAL(38,0)) * n1) AS BIGINT)"
            ).alias("tv_drift_ppm"),
            F.expr("CAST(MAX(CASE WHEN rk = 1 THEN bucket END) AS BIGINT)").alias(
                "top_drift_bucket"
            ),
        )
        .select(
            "event_type",
            F.col("n0").alias("n_first_half"),
            F.col("n1").alias("n_second_half"),
            "tv_drift_ppm",
            "top_drift_bucket",
        )
    )


@register(
    "privacy_generalization_repair",
    oracle="""
WITH cells AS (
  SELECT lang, source, LEAST(n_chars // 60, 9) AS b60,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2, 3
), lv AS (
  SELECT 0 AS level, lang, source, CAST(b60 AS VARCHAR) AS qb,
         CAST(SUM(c) AS BIGINT) AS n_g
  FROM cells GROUP BY 2, 3, 4
  UNION ALL
  SELECT 1, lang, source, CAST(b60 // 2 AS VARCHAR), CAST(SUM(c) AS BIGINT)
  FROM cells GROUP BY 2, 3, 4
  UNION ALL
  SELECT 2, lang, '*', CAST(b60 // 2 AS VARCHAR), CAST(SUM(c) AS BIGINT)
  FROM cells GROUP BY 2, 3, 4
  UNION ALL
  SELECT 3, lang, '*', '*', CAST(SUM(c) AS BIGINT)
  FROM cells GROUP BY 2, 3, 4
)
SELECT level,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_g < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(SUM(CASE WHEN n_g < 10 THEN n_g ELSE 0 END) AS BIGINT) AS rows_at_risk,
       SUM(CASE WHEN n_g < 10 THEN 1 ELSE 0 END) = 0 AS passes
FROM lv GROUP BY level
""",
    tags=("ext", "privacy", "repair"),
)
def privacy_generalization_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REPAIR side of the privacy audits — closes the loop the same way
    the disorder profiler closes the watermark loop: walk the
    generalization ladder (level 0 = (lang, source, 60-char bucket);
    1 = widen the bucket to 120; 2 = suppress source; 3 = suppress the
    bucket) and report, per level, how many quasi-identifier groups
    remain, how many still violate k-anonymity (k = 10), and how many
    rows sit in violating groups — the first level with `passes` = true
    is the minimal generalization a release needs. Scale shape: ONE hash
    aggregation over the corpus builds the finest cells; every coarser
    level is a re-aggregation of that cell frame (levels are unions of
    finest cells by construction), so the ladder costs O(cells), not
    O(corpus), per level — at 100 TB the three re-aggs run on a frame of
    a few thousand rows. All counts exact BIGINT."""
    cells = (
        t(spark, sf_dir, "documents")
        .groupBy(
            "lang", "source", F.expr("LEAST(n_chars DIV 60, 9)").alias("b60")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cells = cells.localCheckpoint()  # reused by all 4 levels; frame is tiny

    def level(lvl: int, src_col, qb_col) -> DataFrame:
        return (
            cells.groupBy(F.col("lang"), src_col.alias("source"), qb_col.alias("qb"))
            .agg(F.sum("c").cast("bigint").alias("n_g"))
            .select(F.lit(lvl).alias("level"), "n_g")
        )

    lv = (
        level(0, F.col("source"), F.col("b60").cast("string"))
        .unionByName(level(1, F.col("source"), F.expr("b60 DIV 2").cast("string")))
        .unionByName(level(2, F.lit("*"), F.expr("b60 DIV 2").cast("string")))
        .unionByName(level(3, F.lit("*"), F.lit("*")))
    )
    viol = F.sum(F.expr("CASE WHEN n_g < 10 THEN 1 ELSE 0 END"))
    return lv.groupBy("level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        viol.cast("bigint").alias("n_violating"),
        F.sum(F.expr("CASE WHEN n_g < 10 THEN n_g ELSE 0 END"))
        .cast("bigint")
        .alias("rows_at_risk"),
        (viol == 0).alias("passes"),
    )


# ---------------------------------------------------------------------------
# r9 wave: exact changepoint detection, deterministic weighted sampling,
# robust (median/MAD) outlier days
# ---------------------------------------------------------------------------


@register(
    "events_binseg_changepoint",
    oracle="""
WITH span AS (
  SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS d0,
         CAST(MAX(date_trunc('day', ts)) AS DATE) AS d1 FROM events
), cal AS (
  SELECT d0, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
), raw AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), dense AS (
  SELECT cal.d0, cal.day, CAST(date_diff('day', cal.d0, cal.day) AS BIGINT) AS i,
         COALESCE(r.c, 0) AS n
  FROM cal LEFT JOIN raw r ON r.day = cal.day
), cum AS (
  SELECT d0, day, i, n,
         SUM(n) OVER (ORDER BY i) AS cs,
         SUM(n) OVER () AS s,
         COUNT(*) OVER () AS t
  FROM dense
), cand AS (
  SELECT i AS k, day, t, cs - n AS sl, s - (cs - n) AS sr, i AS l, t - i AS r
  FROM cum WHERE i >= 1
), scored AS (
  SELECT k, day, t, sl, sr, l, r,
         sl * sl * r + sr * sr * l AS gain_num, l * r AS gain_den,
         ROW_NUMBER() OVER (
           ORDER BY CAST(sl * sl * r + sr * sr * l AS DOUBLE) / (l * r) DESC, k
         ) AS rk
  FROM cand
)
SELECT CAST(k AS BIGINT) AS split_i, day AS split_day, CAST(t AS BIGINT) AS n_days,
       CAST(sl AS DOUBLE) / l AS left_mean, CAST(sr AS DOUBLE) / r AS right_mean,
       CAST(gain_num AS BIGINT) AS gain_num, CAST(gain_den AS BIGINT) AS gain_den
FROM scored WHERE rk = 1
""",
    tags=("ext", "events", "timeseries", "changepoint"),
)
def events_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact single changepoint of the daily event-count series (binary
    segmentation's first split): the day k whose two-segment split
    maximizes the between-segment gain S_L²/L + S_R²/R — equivalently
    minimizes total SSE, since Σn² is split-invariant. Complements
    `events_changepoint_cusum` (the mean-deviation trace): CUSUM shows the
    drift path, binseg COMMITS to the optimal split. Exact: the gain is
    ranked as the integer fraction (S_L²·R + S_R²·L) / (L·R); at day grain
    the numerator stays under 2^53 (S ≤ ~1e6 events at sf1 → ~1.5e15), so
    its DOUBLE order key is bit-identical across engines and the k
    tiebreak handles exact ties. Scale: the events are touched once (daily
    count agg); the candidate frame is O(days), the same bounded shape as
    the Theil–Sen pair frame."""
    from pyspark.sql import Window as W

    dense = dense_daily(seasonal_daily_cells(t(spark, sf_dir, "events"))).select(
        "day", F.datediff("day", "d0").cast("bigint").alias("i"), "n"
    )
    cum = dense.select(
        "day",
        "i",
        "n",
        F.sum("n").over(W.orderBy("i")).alias("cs"),
        F.sum("n").over(W.partitionBy()).alias("s"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("t"),
    )
    cand = cum.where(F.col("i") >= 1).select(
        F.col("i").alias("k"),
        "day",
        "t",
        (F.col("cs") - F.col("n")).alias("sl"),
        (F.col("s") - (F.col("cs") - F.col("n"))).alias("sr"),
        F.col("i").alias("l"),
        (F.col("t") - F.col("i")).alias("r"),
    )
    scored = cand.select(
        "*",
        (F.col("sl") * F.col("sl") * F.col("r") + F.col("sr") * F.col("sr") * F.col("l")).alias("gain_num"),
        (F.col("l") * F.col("r")).alias("gain_den"),
    ).select(
        "*",
        F.row_number()
        .over(W.orderBy((F.col("gain_num").cast("double") / F.col("gain_den")).desc(), "k"))
        .alias("rk"),
    )
    return scored.where(F.col("rk") == 1).select(
        F.col("k").cast("bigint").alias("split_i"),
        F.col("day").alias("split_day"),
        F.col("t").cast("bigint").alias("n_days"),
        (F.col("sl").cast("double") / F.col("l")).alias("left_mean"),
        (F.col("sr").cast("double") / F.col("r")).alias("right_mean"),
        F.col("gain_num").cast("bigint").alias("gain_num"),
        F.col("gain_den").cast("bigint").alias("gain_den"),
    )


#: weighted-sample size (docs kept by priority = weight / hash-uniform)
_WSAMPLE_K = 400

#: DuckDB-side hex→uint32 for the first 8 md5 nibbles (DuckDB has no conv();
#: the nibble sum is exactly Spark's conv(substring(md5, 1, 8), 16, 10))
_DUCK_MD5_U32 = " + ".join(
    f"(strpos('0123456789abcdef', substring(h, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
    for k in range(8)
)


@register(
    "curate_priority_sample",
    oracle=f"""
WITH hashed AS (
  SELECT doc_id, source, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), keyed AS (
  SELECT doc_id, source, n_chars,
         CAST(n_chars AS DOUBLE) / ({_DUCK_MD5_U32} + 1) AS priority
  FROM hashed
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rk FROM keyed
)
SELECT CAST(rk AS BIGINT) AS rank, doc_id, source, n_chars, priority
FROM ranked WHERE rk <= {_WSAMPLE_K}
""",
    tags=("ext", "curation", "sampling", "weighted"),
)
def curate_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic FIXED-SIZE weighted sampling (priority sampling):
    each document draws priority = weight / u with u a uniform 32-bit
    integer from md5(doc_id), and the top-k by priority form the sample —
    the fixed-k counterpart of `curate_weighted_sample`'s Bernoulli keep
    (that one answers "keep with prob ∝ weight", this one "give me exactly
    k, weight-biased"). Reproducible across engines, partitions, reruns. The only float op is one IEEE division of two
    exact integers (weight < 2^53, u+1 ≤ 2^32), so the order key is
    bit-identical in Spark and the oracle and ties break on doc_id.
    Scale: one scan + one top-k (no shuffle beyond the bounded top-k
    frame); the 100 TB shape is TakeOrderedAndProject, never a global
    sort."""
    docs = t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (
            F.col("n_chars").cast("double")
            / (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") + 1)
        ).alias("priority"),
    )
    from pyspark.sql import Window as W

    ranked = keyed.select(
        "*", F.row_number().over(W.orderBy(F.col("priority").desc(), "doc_id")).alias("rk")
    )
    return ranked.where(F.col("rk") <= _WSAMPLE_K).select(
        F.col("rk").cast("bigint").alias("rank"),
        "doc_id",
        "source",
        "n_chars",
        "priority",
    )


@register(
    "events_robust_outlier_days",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM daily
), m AS (
  SELECT event_type, n AS med FROM med WHERE rn = (cnt + 1) // 2
), dev AS (
  SELECT d.event_type, d.day, d.n, m.med, ABS(d.n - m.med) AS dv
  FROM daily d JOIN m ON d.event_type = m.event_type
), mad AS (
  SELECT event_type, dv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dv) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM dev
), md AS (
  SELECT event_type, dv AS mad FROM mad WHERE rn = (cnt + 1) // 2
)
SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(d.med) AS BIGINT) AS med, CAST(MAX(md.mad) AS BIGINT) AS mad,
       CAST(COUNT(*) FILTER (WHERE d.dv > 3 * md.mad) AS BIGINT) AS n_outlier_days,
       CAST(MAX(d.dv) AS BIGINT) AS max_abs_dev
FROM dev d JOIN md ON d.event_type = md.event_type
GROUP BY d.event_type
""",
    tags=("ext", "events", "analytics", "robust"),
)
def events_robust_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier detection over daily event counts:
    median + MAD (both LOWER medians — pure integer rank selection, no
    interpolation float), outlier = |n − med| > 3·MAD, all comparisons in
    exact integers so the result is engine- and partition-order-exact.
    The mean/stddev z-score chases its own outliers; median/MAD doesn't —
    this is the monitoring primitive a drifting 100 TB ingest needs (the
    TIME-SERIES twin of `text_robust_outliers`' per-source length screen).
    Scale: events touched once (type×day agg); everything after is
    windows over the O(types × days) frame."""
    from pyspark.sql import Window as W

    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wt = W.partitionBy("event_type")
    med = (
        daily.select(
            "event_type",
            "n",
            F.row_number().over(wt.orderBy("n")).alias("rn"),
            F.count(F.lit(1)).over(wt).alias("cnt"),
        )
        .where(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("event_type", F.col("n").alias("med"))
    )
    dev = daily.join(med, "event_type").select(
        "event_type", "day", "n", "med", F.abs(F.col("n") - F.col("med")).alias("dv")
    )
    mad = (
        dev.select(
            "event_type",
            "dv",
            F.row_number().over(wt.orderBy("dv")).alias("rn"),
            F.count(F.lit(1)).over(wt).alias("cnt"),
        )
        .where(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("event_type", F.col("dv").alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.max("med").cast("bigint").alias("med"),
            F.max("mad").cast("bigint").alias("mad"),
            F.sum(F.when(F.col("dv") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outlier_days"),
            F.max("dv").cast("bigint").alias("max_abs_dev"),
        )
    )


# ---------------------------------------------------------------------------
# r9 wave 2: spatial proximity family (grid-cell blocked joins, exact int64)
# ---------------------------------------------------------------------------

_SPATIAL_R = 50000  # radius on the 1e6 x 1e6 integer plane
_SPATIAL_COORD = 1000000


def _duck_md5_u32(expr: str) -> str:
    """DuckDB twin of Spark's conv(substring(md5(expr),1,8),16,10) — DuckDB
    has no conv(), so the 8 nibbles are summed positionally."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substring(md5({expr}), {k + 1}, 1)) - 1)"
        f" * {16 ** (7 - k)}"
        for k in range(8)
    )


def _spatial_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic point per user on the integer plane: coordinates
    from md5 so both engines derive the identical layout."""
    u32x = "conv(substring(md5(concat('x', CAST(user_id AS STRING))), 1, 8), 16, 10)"
    u32y = "conv(substring(md5(concat('y', CAST(user_id AS STRING))), 1, 8), 16, 10)"
    return (
        t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.expr(f"CAST({u32x} AS BIGINT) % {_SPATIAL_COORD}").alias("x"),
            F.expr(f"CAST({u32y} AS BIGINT) % {_SPATIAL_COORD}").alias("y"),
        )
    )


_DUCK_SPATIAL_PTS = f"""
  SELECT user_id,
         CAST(({_duck_md5_u32("'x' || CAST(user_id AS VARCHAR)")}) % {_SPATIAL_COORD} AS BIGINT) AS x,
         CAST(({_duck_md5_u32("'y' || CAST(user_id AS VARCHAR)")}) % {_SPATIAL_COORD} AS BIGINT) AS y
  FROM (SELECT DISTINCT user_id FROM events)
"""


@register(
    "events_spatial_neighbor_pairs",
    oracle=f"""
WITH pts AS ({_DUCK_SPATIAL_PTS})
SELECT a.user_id AS id_a, b.user_id AS id_b,
       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
FROM pts a JOIN pts b ON a.user_id < b.user_id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_SPATIAL_R * _SPATIAL_R}
""",
    tags=("ext", "spatial", "join"),
)
def events_spatial_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-bounded spatial self-join with NO cross join: grid-cell
    blocking (cell = radius) + 3x3 neighborhood candidates + exact int64
    squared-distance verify (`operators/spatial.py` — the fixed-grid
    spatial join Sedona/PostGIS use). The ORACLE is the brute-force O(n²)
    pairwise join, so the hash match proves the blocked join loses nothing
    and invents nothing — LSH-style candidate generation with EXACT recall,
    like the prefix-filter set-similarity join. Scale: the cell id is the
    shuffle key; candidates track local density, not n²."""
    from flink_dts_connector_spark.operators.spatial import grid_neighbor_pairs

    pts = _spatial_points(spark, sf_dir)
    return grid_neighbor_pairs(pts, "user_id", "x", "y", _SPATIAL_R).select(
        F.col("id_a"), F.col("id_b"), F.col("dist_sq")
    )


@register(
    "events_spatial_neighbor_pairs_salted",
    oracle=f"""
WITH pts AS ({_DUCK_SPATIAL_PTS})
SELECT a.user_id AS id_a, b.user_id AS id_b,
       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
FROM pts a JOIN pts b ON a.user_id < b.user_id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_SPATIAL_R * _SPATIAL_R}
""",
    tags=("ext", "spatial", "join", "skew"),
)
def events_spatial_neighbor_pairs_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: the hot-cell-salted grid join — same brute-force O(n²) oracle
    as `events_spatial_neighbor_pairs`, so the hash match proves salting
    changes the SHUFFLE (hot cells split into `salt` sub-buckets, build
    rows replicated only for hot cells) and nothing else. A deliberately
    low hot_threshold makes the fixture's densest cells take the salted
    path at every SF. Scale: at 100x a dense city cell becomes `salt`
    independent join tasks instead of one straggler
    (`operators/spatial.py::grid_neighbor_pairs_salted`)."""
    from flink_dts_connector_spark.operators.spatial import grid_neighbor_pairs_salted

    pts = _spatial_points(spark, sf_dir)
    return grid_neighbor_pairs_salted(
        pts, "user_id", "x", "y", _SPATIAL_R, salt=8, hot_threshold=4
    ).select(F.col("id_a"), F.col("id_b"), F.col("dist_sq"))


@register(
    "events_spatial_neighbor_stats",
    oracle=f"""
WITH pts AS ({_DUCK_SPATIAL_PTS}),
pairs AS (
  SELECT a.user_id AS id_a, b.user_id AS id_b,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM pts a JOIN pts b ON a.user_id < b.user_id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_SPATIAL_R * _SPATIAL_R}
), sym AS (
  SELECT id_a AS user_id, d2 FROM pairs
  UNION ALL
  SELECT id_b AS user_id, d2 FROM pairs
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       CAST(MIN(d2) AS BIGINT) AS nn_dist_sq
FROM sym GROUP BY user_id
""",
    tags=("ext", "spatial", "analytics"),
)
def events_spatial_neighbor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point neighborhood stats off the SAME blocked pair frame:
    neighbor count within the radius and the within-radius nearest-neighbor
    distance (users with no neighbor in range drop — a left-complete
    variant would left-join the point set back; the oracle pins the same
    semantics). One extra shuffle (group on user) over the pair frame."""
    from flink_dts_connector_spark.operators.spatial import grid_neighbor_pairs

    pts = _spatial_points(spark, sf_dir)
    pairs = grid_neighbor_pairs(pts, "user_id", "x", "y", _SPATIAL_R)
    sym = pairs.select(F.col("id_a").alias("user_id"), "dist_sq").unionAll(
        pairs.select(F.col("id_b").alias("user_id"), "dist_sq")
    )
    return sym.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        F.min("dist_sq").cast("bigint").alias("nn_dist_sq"),
    )


@register(
    "multimodal_mp3_features",
    oracle="""
WITH p AS (
  SELECT doc_id,
         3 + doc_id % 5 AS nf,
         5 + doc_id % 9 AS bidx,
         doc_id % 3 AS sridx,
         doc_id % 17 AS id3m
  FROM documents
), t AS (
  SELECT doc_id, nf, id3m,
         CASE bidx WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
                   WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
                   WHEN 12 THEN 224 WHEN 13 THEN 256 END AS kbps,
         CASE sridx WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
  FROM p
), fr AS (
  SELECT doc_id, nf, id3m, kbps, sr, k.k,
         (doc_id + k.k) % 2 AS pad,
         144 * kbps * 1000 // sr + (doc_id + k.k) % 2 AS fsize,
         (doc_id * 7 + k.k * 13) % 251 AS v
  FROM t, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS k) k
)
SELECT doc_id,
       CAST(ANY_VALUE(nf) AS BIGINT) AS n_frames,
       CAST(ANY_VALUE(sr) AS BIGINT) AS sample_rate,
       CAST(ANY_VALUE(kbps) AS BIGINT) AS bitrate_kbps,
       CAST(ANY_VALUE(nf) * 1152 AS BIGINT) AS n_samples,
       CAST(ANY_VALUE(nf) * 1152 * 1000 // ANY_VALUE(sr) AS BIGINT) AS duration_ms,
       CAST(SUM(pad) AS BIGINT) AS padded_frames,
       CAST(SUM(v * (fsize - 4)) AS BIGINT) AS payload_sum,
       CAST(10 + ANY_VALUE(id3m) + SUM(fsize) AS BIGINT) AS n_bytes,
       CAST(10 + ANY_VALUE(id3m) AS BIGINT) AS id3_bytes
FROM fr GROUP BY doc_id
""",
    tags=("ext", "multimodal", "codec", "audio"),
)
def multimodal_mp3_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame-level MP3 container parse end-to-end (container codec
    #6): every document gets a genuine MPEG-1 Layer III CBR stream —
    ID3v2.3 tag + frames whose sync words, version/layer bits, bitrate and
    sample-rate table indexes, padding bits, and frame-length law
    floor(144*kbps/sr)+pad are all real and all validated on decode, the
    same walk ffprobe does to count frames and compute duration. The
    oracle reproduces every feature (frame count, CBR bitrate, 1152
    samples/frame, exact-integer duration, padded-frame count, payload
    checksum, byte lengths) in closed form, so tag skip, header packing,
    and the length law are verified bit-exactly. DISCLOSED boundary: the
    compressed granule payload (Huffman spectrum + IMDCT) stays undecoded
    — features are frame-structure-exact, not waveform-exact."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_mp3_media(docs)
    return M.decode_mp3_features(media)


@register(
    "multimodal_mp4_boxes",
    oracle="""
WITH p AS (
  SELECT doc_id,
         5 + doc_id % 7 AS n,
         CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS ts,
         100 + doc_id % 50 AS delta,
         CASE WHEN doc_id % 2 = 1 THEN 'vide' ELSE 'soun' END AS handler
  FROM documents
), smp AS (
  SELECT doc_id, n, ts, delta, handler, k.k,
         20 + (doc_id * 11 + k.k * 17) % 43 AS sz,
         (doc_id * 5 + k.k * 29) % 251 AS fill
  FROM p, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS k) k
)
SELECT doc_id,
       CAST(17 AS BIGINT) AS n_boxes,
       CAST(5 AS BIGINT) AS max_depth,
       CAST(1000 AS BIGINT) AS movie_timescale,
       CAST(ANY_VALUE(ts) AS BIGINT) AS media_timescale,
       CAST(ANY_VALUE(n) * ANY_VALUE(delta) AS BIGINT) AS media_duration,
       CAST(ANY_VALUE(n) * ANY_VALUE(delta) * 1000 // ANY_VALUE(ts) AS BIGINT) AS duration_ms,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_samples,
       CAST(SUM(sz) AS BIGINT) AS sample_bytes,
       CAST(SUM(sz * fill) AS BIGINT) AS payload_sum,
       ANY_VALUE(handler) AS handler,
       CAST(481 + 4 * ANY_VALUE(n) + SUM(sz) AS BIGINT) AS n_bytes
FROM smp GROUP BY doc_id
""",
    tags=("ext", "multimodal", "codec", "video"),
)
def multimodal_mp4_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL box-level ISO-BMFF (MP4) parse end-to-end (container codec
    #7, the video sibling of `multimodal_mp3_features`): every document
    gets a genuine ftyp/moov/trak/mdia/minf/stbl/mdat tree; the decoder
    re-walks the box grammar recursively (exact containment, largesize
    escape) and cross-checks the sample tables the way a frame-sampling
    pipeline must — stts count == stsz count, mdat length == Σ stsz, stco
    chunk offset == mdat payload start, mvhd duration == mdhd duration
    rescaled to the movie timescale. The oracle reproduces every feature
    (box census, timescales, exact-integer durations, per-sample size sum,
    payload checksum, total byte length incl. the 481-byte fixed tree
    overhead) in closed form. DISCLOSED boundary: the codec bitstream
    inside samples (AVC/AAC) stays undecoded — features are
    container-structure-exact."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_mp4_media(docs)
    return M.decode_mp4_features(media)


#: shared verbatim with the streaming maintenance twin
#: (`stream_trigram_maintenance`): the twin's converged index serves the
#: identical probe + verification, so the same SQL oracles both.
TRIGRAM_SUBSTRING_ORACLE = """
WITH pats AS (
  SELECT DISTINCT substr(text, 11, 12) AS pattern
  FROM documents WHERE doc_id % 397 = 3 AND doc_id < 5000 AND length(text) >= 60
), ptri AS (
  SELECT pattern,
         unnest(list_distinct(list_transform(generate_series(1, length(pattern) - 2),
                                             i -> substr(pattern, i, 3)))) AS tri
  FROM pats
), dtri AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(generate_series(1, length(text) - 2),
                                             i -> substr(text, i, 3)))) AS tri
  FROM documents
), dfreq AS (
  SELECT tri, COUNT(*) AS df FROM dtri GROUP BY tri
), ranked AS (
  SELECT p.pattern, p.tri,
         ROW_NUMBER() OVER (PARTITION BY p.pattern
                            ORDER BY COALESCE(d.df, 0), p.tri) AS rk,
         COUNT(*) OVER (PARTITION BY p.pattern) AS n_tri
  FROM ptri p LEFT JOIN dfreq d USING (tri)
), probe AS (
  SELECT pattern, tri, LEAST(n_tri, 3) AS need FROM ranked WHERE rk <= 3
), cand AS (
  SELECT pr.pattern, dt.doc_id
  FROM probe pr JOIN dtri dt USING (tri)
  GROUP BY pr.pattern, dt.doc_id
  HAVING COUNT(*) = MIN(pr.need)
), ver AS (
  SELECT c.pattern, c.doc_id, strpos(d.text, c.pattern) > 0 AS m
  FROM cand c JOIN documents d USING (doc_id)
)
SELECT pattern,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
       CAST(MIN(CASE WHEN m THEN doc_id END) AS BIGINT) AS min_match_doc
FROM ver GROUP BY pattern
"""


@register(
    "search_trigram_substring",
    oracle=TRIGRAM_SUBSTRING_ORACLE,
    tags=("ext", "search", "index"),
)
def search_trigram_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (LIKE '%p%') search over the corpus via a
    positional-trigram inverted index — the pg_trgm/Zoekt design
    (`operators/search.py::trigram_substring_search`): candidates = docs
    containing the pattern's K=3 RAREST trigrams (complete by
    construction: a matching doc contains every pattern trigram, so any
    subset probe has no false negatives; rarest-first caps the postings
    join volume, ties broken by trigram text for determinism), then one
    contains() verification on the candidate frame only. Patterns are
    12-char substrings sampled deterministically from the corpus itself
    (doc_id % 397 = 3, capped below doc_id 5000 — the whole pattern
    population at sf ≤ 0.1 and a FIXED query batch beyond, so the
    probe-join volume scales linearly with the corpus; the r11 sf1 bench
    caught the uncapped version at ×17 raw on ×10 data because patterns
    grew with the corpus too). The oracle runs the SAME index
    construction in SQL (so the reported n_candidates selectivity is
    pinned too) with brute-force strpos verification — hash equality
    proves exact recall of the blocking scheme. At 100 TB: the trigram is
    the shuffle key, the pattern batch broadcasts, verification touches
    candidates only — never a corpus scan per query."""
    from flink_dts_connector_spark.operators.search import trigram_substring_search

    docs = t(spark, sf_dir, "documents")
    pats = (
        docs.where(
            (F.col("doc_id") % 397 == 3)
            & (F.col("doc_id") < 5000)
            & (F.length("text") >= 60)
        )
        .select(F.expr("substring(text, 11, 12)").alias("pattern"))
        .distinct()
    )
    return trigram_substring_search(docs, pats, k_rarest=3)


# --- Hilbert-vs-Morton layout study (r10 continuation) ----------------------
from flink_dts_connector_spark.operators.curation import hilbert_sql_steps as _hsteps

_HILBERT_STEPS = _hsteps(8, "xb", "yb")


def _hilbert_cte_chain(prev: str) -> tuple[str, str]:
    """DuckDB CTE chain for the unrolled Hilbert steps (3 aliases/level)."""
    parts = []
    for i in range(0, len(_HILBERT_STEPS), 3):
        chunk = _HILBERT_STEPS[i : i + 3]
        cols = ", ".join(f"{e} AS {a}" for a, e in chunk)
        name = f"h{i // 3}"
        parts.append(f"{name} AS (SELECT *, {cols} FROM {prev})")
        prev = name
    return ", ".join(parts), prev


_HIL_CTES, _HIL_LAST = _hilbert_cte_chain("zval")
_Z_BITS_SQL = " | ".join(
    f"(((xb >> {b}) & 1) << {2 * b}) | (((yb >> {b}) & 1) << {2 * b + 1})"
    for b in range(8)
)


@register(
    "layout_hilbert_vs_zorder",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_orderdate, o_custkey,
         CAST(NTILE(256) OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT) AS xb,
         CAST(NTILE(256) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS BIGINT) AS yb
  FROM orders
), zval AS (
  SELECT *, {_Z_BITS_SQL} AS z
  FROM base
), {_HIL_CTES}, sharded AS (
  SELECT o_orderdate, o_custkey,
         CAST(NTILE(64) OVER (ORDER BY z, o_orderkey) - 1 AS BIGINT) AS shard_z,
         CAST(NTILE(64) OVER (ORDER BY hd7, o_orderkey) - 1 AS BIGINT) AS shard_h
  FROM {_HIL_LAST}
), pred AS (
  SELECT TIMESTAMP '1997-01-01 00:00:00' AS dlo, TIMESTAMP '1998-01-01 00:00:00' AS dhi,
         (SELECT MAX(o_custkey) // 4 FROM orders) AS chi
), layouts AS (
  SELECT 'zorder' AS layout, shard_z AS shard, o_orderdate, o_custkey FROM sharded
  UNION ALL
  SELECT 'hilbert', shard_h, o_orderdate, o_custkey FROM sharded
), zones AS (
  SELECT layout, shard,
         MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax,
         MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
         CAST(COUNT(*) AS BIGINT) AS zrows
  FROM layouts GROUP BY 1, 2
), verdict AS (
  SELECT z.*, (z.dmin < p.dhi AND z.dmax >= p.dlo AND z.cmin <= p.chi) AS must_read
  FROM zones z CROSS JOIN pred p
), matched AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS rows_matched
  FROM sharded s CROSS JOIN pred p
  WHERE s.o_orderdate >= p.dlo AND s.o_orderdate < p.dhi AND s.o_custkey <= p.chi
)
SELECT v.layout,
       CAST(SUM(CASE WHEN v.must_read THEN 1 ELSE 0 END) AS BIGINT) AS shards_read,
       CAST(SUM(CASE WHEN v.must_read THEN v.zrows ELSE 0 END) AS BIGINT) AS rows_scanned,
       ANY_VALUE(m.rows_matched) AS rows_matched,
       CAST(SUM(CASE WHEN v.must_read THEN v.zrows ELSE 0 END) * 1000000
            // SUM(v.zrows) AS BIGINT) AS scan_fraction_ppm
FROM verdict v CROSS JOIN matched m
GROUP BY v.layout
""",
    tags=("ext", "layout"),
)
def layout_hilbert_vs_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HILBERT argument, measured against Morton on identical inputs:
    the same 256x256 rank coordinates, 64 shards each under a Morton sort
    and a Hilbert sort, shard min/max zones on both dimensions, and the
    same 2-D predicate as `layout_zorder_vs_linear` (one year AND lowest
    custkey quartile). Hilbert's defining property — consecutive curve
    positions are always grid-adjacent (no Morton 'seams' where the curve
    jumps across the plane) — makes equal-row shards cover tighter
    rectangles, so the same zone-map machinery prunes MORE shards; this
    query pins the measured gap. The Hilbert xy2d transform is unrolled
    into 24 portable integer-CASE steps generated ONCE and shared
    verbatim by both engines (`operators/curation.py:hilbert_sql_steps`,
    pinned to the canonical loop by tests/test_ext_ops.py), so the oracle
    proves the transform bit-exactly at every SF. Scale note: like the
    Morton study, the ntile ranks are fixture-scale bit-exactness
    devices; the production write path derives bucket boundaries from
    `layout_range_boundaries` and range-partitions by the curve key —
    the layout IS the index, Hilbert just draws it with less surface."""
    from pyspark.sql import Window as W

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_custkey")
    base = orders.select(
        "*",
        (F.ntile(256).over(W.orderBy("o_orderdate", "o_orderkey")) - 1)
        .cast("bigint")
        .alias("xb"),
        (F.ntile(256).over(W.orderBy("o_custkey", "o_orderkey")) - 1)
        .cast("bigint")
        .alias("yb"),
    )
    zbits = " | ".join(
        f"(shiftleft((shiftright(xb, {b}) & 1), {2 * b}))"
        f" | (shiftleft((shiftright(yb, {b}) & 1), {2 * b + 1}))"
        for b in range(8)
    )
    cur = base.withColumn("z", F.expr(zbits))
    for alias, expr in _HILBERT_STEPS:
        cur = cur.withColumn(alias, F.expr(expr))
    sharded = cur.select(
        "o_orderdate",
        "o_custkey",
        (F.ntile(64).over(W.orderBy("z", "o_orderkey")) - 1).cast("bigint").alias("shard_z"),
        (F.ntile(64).over(W.orderBy("hd7", "o_orderkey")) - 1).cast("bigint").alias("shard_h"),
    )
    dlo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    dhi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    chi_df = orders.agg(F.expr("CAST(MAX(o_custkey) div 4 AS BIGINT)").alias("chi"))
    layouts = None
    for name, col in (("zorder", "shard_z"), ("hilbert", "shard_h")):
        part = sharded.select(
            F.lit(name).alias("layout"),
            F.col(col).alias("shard"),
            "o_orderdate",
            "o_custkey",
        )
        layouts = part if layouts is None else layouts.unionByName(part)
    zones = layouts.groupBy("layout", "shard").agg(
        F.min("o_orderdate").alias("dmin"),
        F.max("o_orderdate").alias("dmax"),
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.count(F.lit(1)).cast("bigint").alias("zrows"),
    )
    verdict = zones.crossJoin(F.broadcast(chi_df)).withColumn(
        "must_read",
        (F.col("dmin") < dhi) & (F.col("dmax") >= dlo) & (F.col("cmin") <= F.col("chi")),
    )
    matched = (
        sharded.crossJoin(F.broadcast(chi_df))
        .where(
            (F.col("o_orderdate") >= dlo)
            & (F.col("o_orderdate") < dhi)
            & (F.col("o_custkey") <= F.col("chi"))
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_matched"))
    )
    return (
        verdict.groupBy("layout")
        .agg(
            F.sum(F.when(F.col("must_read"), 1).otherwise(0)).cast("bigint").alias("shards_read"),
            F.sum(F.when(F.col("must_read"), F.col("zrows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("zrows").cast("bigint").alias("all_rows"),
        )
        .crossJoin(F.broadcast(matched))
        .select(
            "layout",
            "shards_read",
            "rows_scanned",
            "rows_matched",
            F.expr("rows_scanned * 1000000 div all_rows").cast("bigint").alias("scan_fraction_ppm"),
        )
    )


_SEMDEDUP_TAIL = """, vecs AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, a.dist2, q.v,
         CAST(list_sum(list_transform(q.v, x -> x*x)) AS BIGINT) AS nrm
  FROM assign a JOIN q USING (vec_id)
), dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cluster,
         a.dist2 AS da, b.dist2 AS db,
         CAST(list_dot_product(a.v, b.v) AS BIGINT) AS dot,
         a.nrm AS na, b.nrm AS nb
  FROM vecs a JOIN vecs b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
), prs AS (
  SELECT * FROM dots
  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.35
), losers AS (
  SELECT DISTINCT CASE WHEN da > db OR (da = db AND a_id > b_id)
                       THEN a_id ELSE b_id END AS vec_id
  FROM prs
)
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - SUM(dropped) AS BIGINT) AS n_survivors,
       CAST(MIN(CASE WHEN dropped = 0 THEN vec_id END) AS BIGINT) AS min_survivor
FROM (
  SELECT v.cluster, v.vec_id,
         CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS dropped
  FROM vecs v LEFT JOIN losers l USING (vec_id)
) GROUP BY cluster"""


@register(
    "curate_semdedup",
    oracle=_kmeans_oracle(k=4, n_iter=2, tail=_SEMDEDUP_TAIL, k_sql=SEMDEDUP_K_SQL),
    tags=("ext", "curation", "dedup", "embedding", "iterative"),
)
def curate_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — semantic dedup at cluster scale,
    composed from the engine's own pieces: (1) integer-exact k-means
    clusters the embedding space (k = max(4, ceil(N/1500)) — SF-AWARE as
    of r13, matching the published recipe's k ∝ N so mean cluster size
    stays bounded and the cluster-blocked pair stage stays linear across
    decades; 2 Lloyd rounds — the clustering IS the blocking key,
    replacing `neardup_cosine_pairs`' label blocks); (2) within each cluster, exact quantized-cosine pairs >= 0.35;
    (3) of each similar pair, the member FARTHER from its centroid is
    dropped (exact int64 dist^2 from the k-means assignment, ties to the
    higher vec_id) — keeping the most prototypical example per semantic
    neighborhood. Survivors/dropped per cluster must hash-match the
    unrolled-CTE oracle that replays Lloyd's, the pair scoring, AND the
    keep rule. At 100 TB the centroids broadcast, the pair join shuffles
    on cluster id, and the loser set is a semi-join back — the published
    SemDeDup recipe mapped 1:1 onto shuffle-bounded primitives."""
    emb = t(spark, sf_dir, "embeddings")
    assign = S.kmeans_int_clusters(emb, k=semdedup_k(emb, sf_dir), n_iter=2).localCheckpoint()
    clustered = emb.join(assign.select("vec_id", "cluster"), "vec_id")
    pairs = S.cosine_pairs(clustered, block_col="cluster", threshold=0.35)
    d = assign.select("vec_id", "dist2")
    scored = (
        pairs.join(d.withColumnRenamed("vec_id", "a_id").withColumnRenamed("dist2", "da"), "a_id")
        .join(d.withColumnRenamed("vec_id", "b_id").withColumnRenamed("dist2", "db"), "b_id")
    )
    losers = scored.select(
        F.when(
            (F.col("da") > F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a_id") > F.col("b_id"))),
            F.col("a_id"),
        )
        .otherwise(F.col("b_id"))
        .alias("vec_id")
    ).distinct()
    flagged = assign.join(
        losers.withColumn("dropped", F.lit(1)), "vec_id", "left"
    ).withColumn("dropped", F.coalesce(F.col("dropped"), F.lit(0)))
    return flagged.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("dropped").cast("bigint").alias("n_dropped"),
        (F.count(F.lit(1)) - F.sum("dropped")).cast("bigint").alias("n_survivors"),
        F.min(F.when(F.col("dropped") == 0, F.col("vec_id"))).cast("bigint").alias("min_survivor"),
    )


def _labelprop_oracle(n_iter: int) -> str:
    """Unrolled-CTE DuckDB twin of `graph.label_propagation_int` over the
    exact-Jaccard pair graph — same trick as the PageRank oracle, with the
    neighbor-label mode + (count DESC, label ASC) argmax per round."""
    parts = [
        f"""WITH {SQL_SHINGLES_CTE}, pairs AS MATERIALIZED (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE 100 * n_inter >= 30 * (sa.n_sh + sb.n_sh - n_inter)
), sym AS MATERIALIZED (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
), l0 AS MATERIALIZED (
  SELECT doc_id AS u, CAST(doc_id AS BIGINT) AS lbl FROM documents
)"""
    ]
    prev = "l0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""", n{i} AS MATERIALIZED (
  SELECT s.v, l.lbl, COUNT(*) AS cnt
  FROM sym s JOIN {prev} l ON l.u = s.u GROUP BY s.v, l.lbl
), b{i} AS MATERIALIZED (
  SELECT v AS u, lbl AS new_lbl FROM (
    SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn
    FROM n{i}) WHERE rn = 1
), l{i} AS MATERIALIZED (
  SELECT l.u, COALESCE(b.new_lbl, l.lbl) AS lbl
  FROM {prev} l LEFT JOIN b{i} b USING (u)
)"""
        )
        prev = f"l{i}"
    parts.append(
        f"""
SELECT lbl AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(u) AS BIGINT) AS min_member,
       CAST(MAX(u) AS BIGINT) AS max_member
FROM {prev} GROUP BY lbl HAVING COUNT(*) >= 2"""
    )
    return "".join(parts)


@register(
    "graph_labelprop_communities",
    oracle=_labelprop_oracle(3),
    tags=("ext", "graph", "dedup", "communities", "iterative"),
)
def graph_labelprop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template communities in the near-dup graph: 3 SYNCHRONOUS rounds of
    deterministic label propagation (neighbor-label mode, count-DESC /
    label-ASC tie-break, init = own id) over the exact 3-gram-Jaccard
    pair graph at 0.30 — the finer-grained sibling of `dedup_components`:
    components fuse everything reachable (one stray bridge edge merges
    two boilerplate templates), LP communities stop where neighborhood
    MAJORITIES stop. Classic LP is order-dependent; the synchronous
    variant with a total tie-break is bit-exact, so the unrolled-CTE
    oracle replays all 3 rounds and the multi-member community census
    (singletons excluded) must hash-match. Per round: one |E| shuffle +
    one (node,label) count + one |V| argmax — `connected_components`'
    shuffle envelope with a bounded round count instead of
    convergence-dependent iteration."""
    from flink_dts_connector_spark.operators.graph import label_propagation_int

    docs = t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold_pct=30)
    labels = label_propagation_int(pairs, docs.select("doc_id"), iterations=3)
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("u").cast("bigint").alias("min_member"),
            F.max("u").cast("bigint").alias("max_member"),
        )
        .where(F.col("n_members") >= 2)
    )


@register(
    "multimodal_id3_metadata",
    oracle="""
WITH p AS (
  SELECT doc_id,
         'doc-' || CAST(doc_id AS VARCHAR) AS title,
         'src-' || CAST(doc_id % 7 AS VARCHAR) AS artist,
         CAST(doc_id % 30 + 1 AS VARCHAR) AS track,
         doc_id % 5 AS pad,
         2 + doc_id % 3 AS nf,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
  FROM documents
)
SELECT doc_id, title, artist, track,
       CAST(3 AS BIGINT) AS n_tag_frames,
       CAST(10 + (15 + length(CAST(doc_id AS VARCHAR)))
               + 16 + (11 + length(track)) + pad AS BIGINT) AS tag_bytes,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(10 + (15 + length(CAST(doc_id AS VARCHAR)))
               + 16 + (11 + length(track)) + pad
            + nf * (144 * 128 * 1000 // sr) AS BIGINT) AS n_bytes
FROM p
""",
    tags=("ext", "multimodal", "codec", "audio", "metadata"),
)
def multimodal_id3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ID3v2.3 metadata extraction — the tag-frame half of the MP3
    container tier (`multimodal_mp3_features` proves the frame walk; this
    proves the TAG): every document's payload carries genuine TIT2/TPE1/
    TRCK text frames (4-byte id, 4-byte size, flag bytes, ISO-8859-1
    encoding byte) plus zero padding, parsed per the spec with loud
    rejection of overruns / wrong encodings / non-zero padding — the
    metadata-extraction stage of an audio-catalog pipeline. The oracle
    reproduces the strings AND every byte count (frame bodies, padding,
    the 128 kbps frame-length law after the tag) in closed form."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_tagged_mp3_media(docs)
    return M.decode_id3_metadata(media)


@register(
    "multimodal_mp4_demux",
    oracle="""
WITH p AS (
  SELECT doc_id,
         6 + doc_id % 7 AS n,
         2 + doc_id % 2 AS spc,
         (6 + doc_id % 7) // 2 AS n_first,
         100 + doc_id % 50 AS d1,
         40 + doc_id % 20 AS d2,
         CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS ts
  FROM documents
), q AS (
  SELECT *, (n + spc - 1) // spc AS n_chunks,
         n - spc * ((n + spc - 1) // spc - 1) AS rem,
         n_first * d1 + (n - n_first) * d2 AS dur
  FROM p
), smp AS (
  SELECT doc_id, k.k,
         20 + (doc_id * 11 + k.k * 17) % 43 AS sz,
         (doc_id * 5 + k.k * 29) % 251 AS fill
  FROM q, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS k) k
), agg AS (
  SELECT doc_id, CAST(SUM(sz) AS BIGINT) AS sample_bytes,
         CAST(SUM(sz * fill) AS BIGINT) AS payload_sum
  FROM smp GROUP BY doc_id
)
SELECT q.doc_id,
       CAST(17 AS BIGINT) AS n_boxes,
       CAST(q.n_chunks AS BIGINT) AS n_chunks,
       CAST(2 AS BIGINT) AS n_stts_runs,
       CAST(q.n AS BIGINT) AS n_samples,
       CAST(q.ts AS BIGINT) AS media_timescale,
       CAST(q.dur AS BIGINT) AS media_duration,
       CAST(q.dur * 1000 // q.ts AS BIGINT) AS duration_ms,
       agg.sample_bytes,
       agg.payload_sum,
       CAST(485 + 4 * q.n + 4 * q.n_chunks
            + CASE WHEN q.rem <> q.spc THEN 12 ELSE 0 END
            + agg.sample_bytes AS BIGINT) AS n_bytes
FROM q JOIN agg USING (doc_id)
""",
    tags=("ext", "multimodal", "codec", "video"),
)
def multimodal_mp4_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERAL ISO-BMFF sample-table demux — the layout
    `multimodal_mp4_boxes`' strict fixture walk rejects as unsupported,
    done for real: multi-entry stts (two decode-delta runs), run-length
    stsc chunk mapping (uniform chunks, remainder in the last), and one
    stco offset per chunk, each verified to TILE the mdat payload exactly
    against cumulative stsz sizes — the math every demuxer must run
    before it can read sample 0 (`operators/multimodal.py:
    mp4_demux_features`; the same parser also accepts the single-chunk
    fixture). The oracle reproduces the chunking arithmetic (ceil-div
    chunk count, remainder law, two-run duration) and every byte count
    incl. the 485-byte fixed tree overhead in closed form."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_chunked_mp4_media(docs)
    return M.decode_mp4_demux(media)


@register(
    "multimodal_mp3_sideinfo",
    oracle="""
WITH p AS (
  SELECT doc_id,
         2 + doc_id % 4 AS nf,
         CASE 7 + doc_id % 5 WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
              WHEN 10 THEN 160 ELSE 192 END AS kbps,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
  FROM documents
), fr AS (
  SELECT doc_id, nf, kbps, sr, k.k,
         (doc_id * 3 + k.k * 19) % 512 AS mdb,
         (doc_id + k.k * 5) % 16 AS scfsi,
         144 * kbps * 1000 // sr + (doc_id + k.k) % 2 AS fsize
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS k) k
), gr AS (
  SELECT doc_id, k, g.g,
         (doc_id * 5 + k * 11 + g.g * 37) % 4096 AS p23,
         (doc_id + k * 17 + g.g * 29) % 289 AS bv,
         (doc_id * 13 + k * 7 + g.g * 3) % 256 AS gg,
         (doc_id + k + g.g) % 2 AS wsf,
         2 - (doc_id + k) % 2 AS bt,
         (doc_id + k + g.g) % 16 AS r0
  FROM fr, LATERAL (SELECT unnest(generate_series(0, 1)) AS g) g
), fa AS (
  SELECT doc_id, MAX(nf) AS nf, MAX(mdb) AS max_mdb,
         SUM(scfsi) AS sum_scfsi, SUM(fsize) AS n_bytes
  FROM fr GROUP BY doc_id
), ga AS (
  SELECT doc_id, SUM(p23) AS sum_p23, SUM(bv) AS sum_bv, SUM(gg) AS sum_gg,
         SUM(wsf) AS switching,
         SUM(CASE WHEN wsf = 1 AND bt = 2 THEN 1 ELSE 0 END) AS short_g,
         SUM(CASE WHEN wsf = 0 THEN r0 ELSE 0 END) AS sum_r0
  FROM gr GROUP BY doc_id
)
SELECT fa.doc_id,
       CAST(fa.nf AS BIGINT) AS n_frames,
       CAST(fa.max_mdb AS BIGINT) AS max_main_data_begin,
       CAST(fa.sum_scfsi AS BIGINT) AS sum_scfsi,
       CAST(ga.sum_p23 AS BIGINT) AS sum_part2_3_length,
       CAST(ga.sum_bv AS BIGINT) AS sum_big_values,
       CAST(ga.sum_gg AS BIGINT) AS sum_global_gain,
       CAST(ga.switching AS BIGINT) AS switching_granules,
       CAST(ga.short_g AS BIGINT) AS short_granules,
       CAST(ga.sum_r0 AS BIGINT) AS sum_region0,
       CAST(fa.n_bytes AS BIGINT) AS n_bytes
FROM fa JOIN ga USING (doc_id)
""",
    tags=("ext", "multimodal", "codec", "audio"),
)
def multimodal_mp3_sideinfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer III SIDE-INFO parse — one structural step past container-real
    (r10 verdict's named next slice): every frame's §2.4.1.7 fixed-width
    bitfield block (9-bit main_data_begin bit-reservoir pointer, scfsi,
    per-granule part2_3_length / big_values / global_gain / scalefac_
    compress / window-switching block descriptors) is genuinely bit-packed
    by the fixture and genuinely bit-parsed back, with the two spec
    validations a real decoder applies before any Huffman work:
    big_values ≤ 288 and no block_type 0 under the window-switching flag
    (`operators/multimodal.py:mp3_parse_sideinfo`). The Huffman spectrum
    behind the side info stays undecoded by disclosed contract. The oracle
    replays the granule law in closed form via generate_series."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_mp3_sideinfo_media(docs)
    return M.decode_mp3_sideinfo(media)


@register(
    "multimodal_mp3_sideinfo_mixed",
    oracle="""
WITH p AS (
  SELECT doc_id,
         1 + doc_id % 2 AS nch,
         2 + doc_id % 4 AS nf,
         CASE 7 + doc_id % 5 WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
              WHEN 10 THEN 160 ELSE 192 END AS kbps,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
  FROM documents
), fr AS (
  SELECT doc_id, nch, nf, kbps, sr, k.k,
         (doc_id * 3 + k.k * 19) % 512 AS mdb,
         144 * kbps * 1000 // sr + (doc_id + k.k) % 2 AS fsize
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS k) k
), sc AS (
  SELECT doc_id, k, c.c, (doc_id + k * 5 + 7 * c.c) % 16 AS scfsi
  FROM fr, LATERAL (SELECT unnest(generate_series(0, nch - 1)) AS c) c
), gr AS (
  SELECT doc_id, k, g.g, c.c,
         (doc_id * 5 + k * 11 + g.g * 37 + c.c * 53) % 4096 AS p23,
         (doc_id + k * 17 + g.g * 29 + c.c * 41) % 289 AS bv,
         (doc_id * 13 + k * 7 + g.g * 3 + c.c * 5) % 256 AS gg,
         (doc_id + k + g.g + c.c) % 2 AS wsf,
         2 - (doc_id + k + c.c) % 2 AS bt,
         (doc_id + k + g.g + c.c) % 16 AS r0
  FROM fr, LATERAL (SELECT unnest(generate_series(0, 1)) AS g) g,
       LATERAL (SELECT unnest(generate_series(0, nch - 1)) AS c) c
), fa AS (
  SELECT doc_id, MAX(nch) AS nch, MAX(nf) AS nf, MAX(mdb) AS max_mdb,
         SUM(fsize) AS n_bytes
  FROM fr GROUP BY doc_id
), sa AS (
  SELECT doc_id, SUM(scfsi) AS sum_scfsi FROM sc GROUP BY doc_id
), ga AS (
  SELECT doc_id, SUM(p23) AS sum_p23, SUM(bv) AS sum_bv, SUM(gg) AS sum_gg,
         SUM(wsf) AS switching,
         SUM(CASE WHEN wsf = 1 AND bt = 2 THEN 1 ELSE 0 END) AS short_g,
         SUM(CASE WHEN wsf = 0 THEN r0 ELSE 0 END) AS sum_r0
  FROM gr GROUP BY doc_id
)
SELECT fa.doc_id,
       CAST(fa.nch AS BIGINT) AS channels,
       CAST(fa.nf AS BIGINT) AS n_frames,
       CAST(fa.max_mdb AS BIGINT) AS max_main_data_begin,
       CAST(sa.sum_scfsi AS BIGINT) AS sum_scfsi,
       CAST(ga.sum_p23 AS BIGINT) AS sum_part2_3_length,
       CAST(ga.sum_bv AS BIGINT) AS sum_big_values,
       CAST(ga.sum_gg AS BIGINT) AS sum_global_gain,
       CAST(ga.switching AS BIGINT) AS switching_granules,
       CAST(ga.short_g AS BIGINT) AS short_granules,
       CAST(ga.sum_r0 AS BIGINT) AS sum_region0,
       CAST(fa.n_bytes AS BIGINT) AS n_bytes
FROM fa JOIN sa USING (doc_id) JOIN ga USING (doc_id)
""",
    tags=("ext", "multimodal", "codec", "audio"),
)
def multimodal_mp3_sideinfo_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer III side-info parse over a MIXED mono/stereo corpus (r11 —
    the natural follow-up to the mono walk): odd docs carry the 32-byte
    stereo layout (3 private bits, two scfsi fields, 4 granule-channel
    structs per frame in (granule, channel) order per §2.4.1.7), even
    docs the 17-byte mono layout — the parser switches on the header mode
    bits per stream and rejects a mid-stream mode change. The granule law
    gains channel terms that vanish at c=0, so the mono slice is
    bit-for-bit `multimodal_mp3_sideinfo`'s law; the oracle replays all
    three nesting levels (frame × granule × channel) via lateral
    generate_series."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_mp3_sideinfo_mixed_media(docs)
    return M.decode_mp3_sideinfo_mixed(media)


@register(
    "multimodal_avc_headers",
    oracle="""
WITH p AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END AS profile_idc,
         CASE doc_id % 4 WHEN 0 THEN 30 WHEN 1 THEN 31 WHEN 2 THEN 40 ELSE 41 END AS level_idc,
         doc_id % 8 AS sps_id,
         doc_id % 5 AS log2mfn,
         CASE doc_id % 2 WHEN 0 THEN 0 ELSE 2 END AS poc_type,
         (doc_id + 1) % 5 AS poc_lsb,
         1 + doc_id % 4 AS refs,
         7 + doc_id % 113 AS w_mbs,
         5 + doc_id % 63 AS h_mbs,
         doc_id % 2 AS crop,
         doc_id % 4 AS pps_id,
         doc_id % 2 AS cabac,
         doc_id % 3 AS l0,
         doc_id % 2 AS l1,
         (doc_id % 11) - 5 AS qp_off,
         (doc_id % 5) - 2 AS chroma_off
  FROM documents
), b AS (
  -- ue(v) costs 2*floor(log2(v+1))+1 bits; se(v) = ue(v>0 ? 2v-1 : -2v)
  SELECT *,
         24
         + (2 * CAST(floor(log2(sps_id + 1)) AS INT) + 1)
         + CASE WHEN profile_idc = 100
                THEN 3 + 1 + 1 + 2 ELSE 0 END
         + (2 * CAST(floor(log2(log2mfn + 1)) AS INT) + 1)
         + (2 * CAST(floor(log2(poc_type + 1)) AS INT) + 1)
         + CASE WHEN poc_type = 0
                THEN 2 * CAST(floor(log2(poc_lsb + 1)) AS INT) + 1 ELSE 0 END
         + (2 * CAST(floor(log2(refs + 1)) AS INT) + 1)
         + 1
         + (2 * CAST(floor(log2(w_mbs + 1)) AS INT) + 1)
         + (2 * CAST(floor(log2(h_mbs + 1)) AS INT) + 1)
         + 3
         + CASE WHEN crop = 1 THEN
             (2 * CAST(floor(log2((doc_id + 0) % 4 + 1)) AS INT) + 1)
           + (2 * CAST(floor(log2((doc_id + 1) % 4 + 1)) AS INT) + 1)
           + (2 * CAST(floor(log2((doc_id + 2) % 4 + 1)) AS INT) + 1)
           + (2 * CAST(floor(log2((doc_id + 3) % 4 + 1)) AS INT) + 1)
           ELSE 0 END
         + 2 AS sps_bits,
         (2 * CAST(floor(log2(pps_id + 1)) AS INT) + 1)
         + (2 * CAST(floor(log2(sps_id + 1)) AS INT) + 1)
         + 2 + 1
         + (2 * CAST(floor(log2(l0 + 1)) AS INT) + 1)
         + (2 * CAST(floor(log2(l1 + 1)) AS INT) + 1)
         + 1 + 2
         + (2 * CAST(floor(log2(CASE WHEN qp_off > 0 THEN 2 * qp_off - 1
                                     ELSE -2 * qp_off END + 1)) AS INT) + 1)
         + 1
         + (2 * CAST(floor(log2(CASE WHEN chroma_off > 0 THEN 2 * chroma_off - 1
                                     ELSE -2 * chroma_off END + 1)) AS INT) + 1)
         + 3 + 1 AS pps_bits
  FROM p
)
SELECT doc_id,
       CAST(profile_idc AS BIGINT) AS profile_idc,
       CAST(level_idc AS BIGINT) AS level_idc,
       CAST((w_mbs + 1) * 16 AS BIGINT) AS width_px,
       CAST((h_mbs + 1) * 16 AS BIGINT) AS height_px,
       CAST(refs AS BIGINT) AS max_num_ref_frames,
       CAST(poc_type AS BIGINT) AS poc_type,
       CAST(cabac AS BIGINT) AS cabac,
       CAST(26 + qp_off AS BIGINT) AS init_qp,
       CAST((sps_bits + 7) // 8 AS BIGINT) AS sps_rbsp_bytes,
       CAST((pps_bits + 7) // 8 AS BIGINT) AS pps_rbsp_bytes
FROM b
""",
    tags=("ext", "multimodal", "codec", "video"),
)
def multimodal_avc_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVC (H.264) SPS/PPS header parse — the video sibling of the Layer
    III side-info tier: genuine Annex-B streams (start codes, NAL headers,
    REAL emulation-prevention escaping both ways) whose §7.3.2.1/7.3.2.2
    bitfields are Exp-Golomb-packed and -parsed for real, incl. the
    profile-100 chroma branch, signed se(v) QP offsets, RBSP stop-bit
    alignment validation, and the PPS→SPS reference cross-check every
    decoder applies. Slice payloads (CABAC/CAVLC residuals) stay
    undecoded by disclosed contract. The oracle replays the field law AND
    the exact Exp-Golomb bit-length arithmetic (ue(v) = 2⌊log2(v+1)⌋+1
    bits) down to the per-NAL RBSP byte counts."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_avc_media(docs)
    return M.decode_avc_headers(media)


@register(
    "multimodal_avc_slice_headers",
    oracle="""
WITH p AS (
  SELECT doc_id,
         2 + doc_id % 5 AS nf,
         doc_id % 3 AS bipred,
         doc_id % 2 AS cabac,
         doc_id % 5 AS log2mfn,
         CASE doc_id % 2 WHEN 0 THEN 0 ELSE 2 END AS poc_type,
         (doc_id + 1) % 5 AS poclsb
  FROM documents
), sl AS (
  SELECT doc_id, nf, bipred, cabac, log2mfn, poc_type, poclsb, s.s,
         CASE WHEN s.s = 0 THEN CASE doc_id % 2 WHEN 0 THEN 2 ELSE 7 END
              WHEN bipred = 1 THEN
                CASE (doc_id + 5 * s.s) % 4
                     WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 5 ELSE 7 END
              ELSE
                CASE (doc_id + 5 * s.s) % 6
                     WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                     WHEN 3 THEN 5 WHEN 4 THEN 6 ELSE 7 END
         END AS st
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS s) s
), f AS (
  SELECT doc_id, s, st, st % 5 AS kind,
         CASE WHEN s = 0 THEN 1 ELSE 0 END AS idr,
         CASE WHEN s = 0 THEN 3 ELSE 2 * ((doc_id + s) % 2) END AS ref_idc,
         CASE WHEN s = 0 THEN 0
              ELSE (doc_id + s) % (1 << (log2mfn + 4)) END AS fn,
         CASE WHEN poc_type = 0
              THEN (doc_id * 3 + 7 * s) % (1 << (poclsb + 4))
              ELSE 0 END AS poc,
         CASE WHEN s = 0 THEN doc_id % 17 ELSE 0 END AS idr_id,
         CASE WHEN st % 5 = 1 THEN (doc_id + s) % 2 ELSE 0 END AS direct,
         CASE WHEN st % 5 IN (0, 1) THEN (doc_id + s) % 2 ELSE 0 END AS ov,
         CASE WHEN st % 5 IN (0, 1) AND (doc_id + s) % 2 = 1
              THEN (doc_id + s) % 4 ELSE 0 END AS l0c,
         CASE WHEN st % 5 IN (0, 1) AND (doc_id + s) % 3 = 0
              THEN 1 ELSE 0 END AS lm,
         CASE WHEN st % 5 IN (0, 1) AND (doc_id + s) % 3 = 0
              THEN (doc_id + 5 * s) % 7 ELSE 0 END AS lmd,
         CASE WHEN s > 0 AND (doc_id + s) % 2 = 1 AND (doc_id + 7 * s) % 4 = 1
              THEN 1 ELSE 0 END AS mm,
         CASE WHEN s > 0 AND (doc_id + s) % 2 = 1 AND (doc_id + 7 * s) % 4 = 1
              THEN (doc_id + s) % 9 ELSE 0 END AS mmd,
         CASE WHEN cabac = 1 AND st % 5 <> 2
              THEN (doc_id + s) % 3 ELSE 0 END AS ci,
         ((doc_id * 5 + 11 * s) % 31) - 15 AS qpd,
         CASE WHEN (doc_id + s) % 3 <> 1
              THEN ((doc_id + s) % 13) - 6 ELSE 0 END AS alpha,
         CASE WHEN (doc_id + s) % 3 <> 1
              THEN ((doc_id * 3 + s) % 13) - 6 ELSE 0 END AS beta
  FROM sl
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_slices,
       CAST(SUM(idr) AS BIGINT) AS n_idr,
       CAST(SUM(CASE WHEN kind = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_i,
       CAST(SUM(CASE WHEN kind = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       CAST(SUM(CASE WHEN kind = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(SUM(fn) AS BIGINT) AS sum_frame_num,
       CAST(SUM(poc) AS BIGINT) AS sum_poc_lsb,
       CAST(SUM(idr_id) AS BIGINT) AS sum_idr_pic_id,
       CAST(SUM(ov) AS BIGINT) AS n_ref_override,
       CAST(SUM(l0c) AS BIGINT) AS sum_l0_active,
       CAST(SUM(lm) AS BIGINT) AS n_listmod,
       CAST(SUM(lmd) AS BIGINT) AS sum_listmod_diff,
       CAST(SUM(mm) AS BIGINT) AS n_mmco,
       CAST(SUM(mmd) AS BIGINT) AS sum_mmco_diff,
       CAST(SUM(ci) AS BIGINT) AS sum_cabac_init,
       CAST(SUM(qpd) AS BIGINT) AS sum_qp_delta,
       CAST(SUM(alpha) AS BIGINT) AS sum_alpha,
       CAST(SUM(beta) AS BIGINT) AS sum_beta,
       CAST(SUM(direct) AS BIGINT) AS n_direct_spatial,
       CAST(SUM((1 + s) * (3 * fn + 5 * poc + 7 * qpd + 11 * st + 13 * 8 * s))
            AS BIGINT) AS checksum
FROM f GROUP BY doc_id
""",
    tags=("ext", "multimodal", "codec", "video"),
)
def multimodal_avc_slice_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: AVC (H.264) SLICE HEADERS (§7.3.3) — the next structural step
    past the r11 SPS/PPS tier. Every document carries an Annex-B stream
    (SPS + PPS + 2..6 slice NALs, slice 0 the IDR) whose slice headers
    are genuinely bit-packed and re-parsed: the grammar is CONDITIONAL on
    parsed parameter-set state (PPS id cross-check, frame_num width from
    the SPS via the PPS→SPS indirection, pic_order_cnt_lsb only under
    poc_type 0 at SPS-declared width, cabac_init_idc only under
    entropy_coding_mode for non-I slices, deblocking offsets under the
    PPS control flag), with the §7.3.3.1 ref-pic-list-modification loop
    (idc until 3), the §7.3.3.3 dec_ref_pic_marking grammar (IDR flags vs
    the adaptive MMCO loop until op 0), and real conformance checks (IDR
    ⇒ reference NAL with frame_num = 0; slice_type ≤ 9; QpY ∈ [0, 51];
    deblocking offsets in [−6, 6]). Emulation-prevention de-escape on
    every NAL. Disclosed boundaries, loud-rejected: slice DATA stays
    opaque; pred_weight_table (weighted-B) and SP/SI are out of the
    population. The checksum column covers frame_num, poc_lsb, qp_delta,
    slice_type, and first_mb per slice position — one misparsed field in
    the conditional grammar breaks it. The oracle replays the per-slice
    value laws in closed form."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_avc_stream_media(docs)
    return M.decode_avc_slice_headers(media)


@register(
    "multimodal_avc_weighted_pred",
    oracle="""
WITH p AS (
  SELECT doc_id,
         2 + doc_id % 5 AS nf,
         doc_id % 3 AS bipred,
         doc_id % 2 AS cabac,
         doc_id % 5 AS log2mfn,
         CASE doc_id % 2 WHEN 0 THEN 0 ELSE 2 END AS poc_type,
         (doc_id + 1) % 5 AS poclsb
  FROM documents
), sl AS (
  SELECT doc_id, nf, bipred, cabac, log2mfn, poc_type, poclsb, s.s,
         CASE WHEN s.s = 0 THEN CASE doc_id % 2 WHEN 0 THEN 2 ELSE 7 END
              ELSE
                CASE (doc_id + 5 * s.s) % 6
                     WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                     WHEN 3 THEN 5 WHEN 4 THEN 6 ELSE 7 END
         END AS st
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS s) s
), f AS (
  SELECT doc_id, bipred, s, st, st % 5 AS kind,
         CASE WHEN s = 0 THEN 1 ELSE 0 END AS idr,
         CASE WHEN s = 0 THEN 3 ELSE 2 * ((doc_id + s) % 2) END AS ref_idc,
         CASE WHEN s = 0 THEN 0
              ELSE (doc_id + s) % (1 << (log2mfn + 4)) END AS fn,
         CASE WHEN poc_type = 0
              THEN (doc_id * 3 + 7 * s) % (1 << (poclsb + 4))
              ELSE 0 END AS poc,
         CASE WHEN s = 0 THEN doc_id % 17 ELSE 0 END AS idr_id,
         CASE WHEN st % 5 = 1 THEN (doc_id + s) % 2 ELSE 0 END AS direct,
         CASE WHEN st % 5 IN (0, 1) THEN (doc_id + s) % 2 ELSE 0 END AS ov,
         CASE WHEN st % 5 IN (0, 1) AND (doc_id + s) % 2 = 1
              THEN (doc_id + s) % 4 ELSE 0 END AS l0c,
         CASE WHEN st % 5 IN (0, 1) AND (doc_id + s) % 3 = 0
              THEN 1 ELSE 0 END AS lm,
         CASE WHEN st % 5 IN (0, 1) AND (doc_id + s) % 3 = 0
              THEN (doc_id + 5 * s) % 7 ELSE 0 END AS lmd,
         CASE WHEN s > 0 AND (doc_id + s) % 2 = 1 AND (doc_id + 7 * s) % 4 = 1
              THEN 1 ELSE 0 END AS mm,
         CASE WHEN s > 0 AND (doc_id + s) % 2 = 1 AND (doc_id + 7 * s) % 4 = 1
              THEN (doc_id + s) % 9 ELSE 0 END AS mmd,
         CASE WHEN cabac = 1 AND st % 5 <> 2
              THEN (doc_id + s) % 3 ELSE 0 END AS ci,
         ((doc_id * 5 + 11 * s) % 31) - 15 AS qpd,
         CASE WHEN (doc_id + s) % 3 <> 1
              THEN ((doc_id + s) % 13) - 6 ELSE 0 END AS alpha,
         CASE WHEN (doc_id + s) % 3 <> 1
              THEN ((doc_id * 3 + s) % 13) - 6 ELSE 0 END AS beta
  FROM sl
), base AS (
  SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_slices,
       CAST(SUM(idr) AS BIGINT) AS n_idr,
       CAST(SUM(CASE WHEN kind = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_i,
       CAST(SUM(CASE WHEN kind = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       CAST(SUM(CASE WHEN kind = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(SUM(fn) AS BIGINT) AS sum_frame_num,
       CAST(SUM(poc) AS BIGINT) AS sum_poc_lsb,
       CAST(SUM(idr_id) AS BIGINT) AS sum_idr_pic_id,
       CAST(SUM(ov) AS BIGINT) AS n_ref_override,
       CAST(SUM(l0c) AS BIGINT) AS sum_l0_active,
       CAST(SUM(lm) AS BIGINT) AS n_listmod,
       CAST(SUM(lmd) AS BIGINT) AS sum_listmod_diff,
       CAST(SUM(mm) AS BIGINT) AS n_mmco,
       CAST(SUM(mmd) AS BIGINT) AS sum_mmco_diff,
       CAST(SUM(ci) AS BIGINT) AS sum_cabac_init,
       CAST(SUM(qpd) AS BIGINT) AS sum_qp_delta,
       CAST(SUM(alpha) AS BIGINT) AS sum_alpha,
       CAST(SUM(beta) AS BIGINT) AS sum_beta,
       CAST(SUM(direct) AS BIGINT) AS n_direct_spatial,
       CAST(SUM((1 + s) * (3 * fn + 5 * poc + 7 * qpd + 11 * st + 13 * 8 * s))
            AS BIGINT) AS checksum
  FROM f GROUP BY doc_id
), ws AS (
  SELECT doc_id, s,
         (doc_id + s) % 8 AS ld, (doc_id + 2 * s) % 8 AS cd,
         CASE WHEN ov = 1 THEN (doc_id + s) % 4 ELSE doc_id % 3 END AS eff0,
         CASE WHEN ov = 1 THEN (doc_id + 2 * s) % 3 ELSE doc_id % 2 END AS eff1
  FROM f WHERE kind = 1 AND bipred = 1
), we AS (
  SELECT doc_id, s, x.x AS x, i.i AS i,
         (doc_id + s + i.i + 9 * x.x) % 2 AS lwf,
         ((doc_id + 3 * i.i + s + x.x) % 33) - 16 AS lw,
         ((doc_id * 2 + i.i + x.x) % 31) - 15 AS lo,
         (doc_id + s + 2 * i.i + 5 * x.x) % 2 AS cwf,
         (((doc_id + i.i + 0 + x.x) % 29) - 14)
           + (((doc_id + i.i + 1 + x.x) % 29) - 14) AS cw01,
         (((doc_id + 5 * i.i + 0 + 3 * x.x) % 27) - 13)
           + (((doc_id + 5 * i.i + 1 + 3 * x.x) % 27) - 13) AS co01
  FROM ws,
       LATERAL (SELECT unnest(generate_series(0, 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(
           0, CASE x.x WHEN 0 THEN eff0 ELSE eff1 END)) AS i) i
), wdagg AS (
  SELECT doc_id,
         COUNT(*) AS n_wt, SUM(ld + cd) AS swd,
         SUM((1 + s) * (17 * ld + 19 * cd)) AS wckd
  FROM ws GROUP BY doc_id
), wagg AS (
  SELECT doc_id,
         SUM(lwf) AS nlw,
         SUM(CASE WHEN lwf = 1 THEN lw ELSE 0 END) AS slw,
         SUM(CASE WHEN lwf = 1 THEN lo ELSE 0 END) AS slo,
         SUM(cwf * 2) AS ncw,
         SUM(CASE WHEN cwf = 1 THEN cw01 ELSE 0 END) AS scw,
         SUM(CASE WHEN cwf = 1 THEN co01 ELSE 0 END) AS sco,
         SUM(CASE WHEN lwf = 1
                  THEN (1 + s) * (1 + i) * (2 + x) * (3 * lw + 5 * lo)
                  ELSE 0 END
             + CASE WHEN cwf = 1
                  THEN (1 + s) * (1 + i) * (2 + x) * (7 * cw01 + 11 * co01)
                  ELSE 0 END) AS wcke
  FROM we GROUP BY doc_id
)
SELECT b.*,
       CAST(COALESCE(d.n_wt, 0) AS BIGINT) AS n_weight_tables,
       CAST(COALESCE(d.swd, 0) AS BIGINT) AS sum_weight_denoms,
       CAST(COALESCE(w.nlw, 0) AS BIGINT) AS n_luma_weights,
       CAST(COALESCE(w.slw, 0) AS BIGINT) AS sum_luma_weight,
       CAST(COALESCE(w.slo, 0) AS BIGINT) AS sum_luma_offset,
       CAST(COALESCE(w.ncw, 0) AS BIGINT) AS n_chroma_weights,
       CAST(COALESCE(w.scw, 0) AS BIGINT) AS sum_chroma_weight,
       CAST(COALESCE(w.sco, 0) AS BIGINT) AS sum_chroma_offset,
       CAST(COALESCE(d.wckd, 0) + COALESCE(w.wcke, 0) AS BIGINT)
            AS weight_checksum
FROM base b
LEFT JOIN wdagg d USING (doc_id)
LEFT JOIN wagg w USING (doc_id)
""",
    tags=("ext", "multimodal", "codec", "video"),
)
def multimodal_avc_weighted_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: AVC pred_weight_table (§7.3.3.2) — lifts the slice-header
    tier's weighted-B disclosed boundary. The fixture uses the FULL
    slice-type pool (B slices for every doc), and B slices under
    weighted_bipred_idc 1 carry a genuine pred_weight_table: luma/chroma
    log2 weight denoms, then per reference index over the EFFECTIVE
    l0/l1 active counts — the slice override values when present, the
    PPS defaults otherwise (the real grammar-state dependency: a decoder
    that forgets either desyncs immediately) — luma weight flags with
    se(v) weight/offset pairs, chroma flags with Cb/Cr pairs. Conformance
    enforced: denoms ≤ 7, weights/offsets in [−128, 127]. The
    weight_checksum column weights every entry by (slice, list, ref
    index) position; the base checksum still covers the surrounding
    header fields. Oracle replays the per-entry laws with nested
    generate_series over lists and effective ref counts."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_avc_weighted_media(docs)
    return M.decode_avc_weighted_slices(media)


@register(
    "text_rake_keywords",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w, generate_subscripts({SQL_TOKS}, 1) AS i
  FROM documents
), ns AS (
  SELECT doc_id, i, w,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM toks WHERE w NOT IN ('the', 'a', 'of', 'and')
), ph AS (
  SELECT doc_id, island, COUNT(*) AS plen,
         string_agg(w, ' ' ORDER BY i) AS phrase
  FROM ns GROUP BY 1, 2
), occ AS (
  SELECT ns.doc_id, ns.island, ns.w, ph.plen, ph.phrase
  FROM ns JOIN ph USING (doc_id, island)
), ws AS (
  SELECT w, CAST(SUM(plen) AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS freq
  FROM occ GROUP BY w
), scored AS (
  SELECT occ.doc_id, occ.island,
         MIN(occ.phrase) AS phrase,
         CAST(MIN(occ.plen) AS BIGINT) AS n_words,
         CAST(SUM(ws.degree * 1000000 // ws.freq) AS BIGINT) AS score_ppm
  FROM occ JOIN ws USING (w) GROUP BY occ.doc_id, occ.island
), agg AS (
  SELECT phrase,
         CAST(MIN(n_words) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(MIN(score_ppm) AS BIGINT) AS score_ppm
  FROM scored GROUP BY phrase
)
SELECT phrase, n_words, n_occurrences, score_ppm, CAST(rk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score_ppm DESC, phrase ASC) AS rk FROM agg)
WHERE rk <= 15
""",
    tags=("ext", "text", "keywords"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus — the
    phrase-level keyword method beside `text_tfidf_keywords`: candidate
    phrases are maximal stopword-free token runs (gaps-and-islands on
    token position), word score = degree/frequency (degree = Σ lengths of
    the phrases containing the word), phrase score = Σ word scores. All
    arithmetic integer-exact (one `degree·10⁶ div freq` per word, summed
    as BIGINT), so the corpus-wide top-15 with its total (score DESC,
    phrase ASC) order hash-matches the oracle, which replays the identical
    islands/degree/frequency pipeline in SQL
    (`operators/text.py::rake_keywords`)."""
    return X.rake_keywords(t(spark, sf_dir, "documents"), top_k=15)


@register(
    "multimodal_mp3_scalefactors",
    oracle="""
WITH p AS (
  SELECT doc_id, 2 + doc_id % 4 AS nf,
         CASE 7 + doc_id % 5 WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
                             WHEN 10 THEN 160 ELSE 192 END AS kbps,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
  FROM documents
), fr AS (
  SELECT doc_id, nf, kbps, sr, k.k,
         144 * kbps * 1000 // sr + (doc_id + k.k) % 2 AS fsize
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS k) k
), gr AS (
  SELECT doc_id, k, g.g,
         CASE WHEN (doc_id + k) % 3 = 0 THEN 1 ELSE 0 END AS wsf,
         CASE WHEN (doc_id + k) % 3 = 0
              THEN CASE WHEN (doc_id + k) % 2 = 0 THEN 2 ELSE 1 END
              ELSE 0 END AS bt,
         CASE WHEN (doc_id + k) % 3 = 0 THEN (doc_id + 2 * k) % 2 ELSE 0 END AS mixed,
         (doc_id + k + 2 * g.g) % 16 AS sfc,
         (doc_id + k) % 16 AS sfc0,
         CASE WHEN (doc_id + k) % 3 = 0 THEN 0 ELSE (doc_id + 3 * k) % 16 END AS scfsi
  FROM fr, LATERAL (SELECT unnest(generate_series(0, 1)) AS g) g
), sl AS (
  SELECT *,
    CASE sfc WHEN 4 THEN 3 WHEN 5 THEN 1 WHEN 6 THEN 1 WHEN 7 THEN 1 WHEN 8 THEN 2
             WHEN 9 THEN 2 WHEN 10 THEN 2 WHEN 11 THEN 3 WHEN 12 THEN 3 WHEN 13 THEN 3
             WHEN 14 THEN 4 WHEN 15 THEN 4 ELSE 0 END AS s1,
    CASE sfc WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 3 WHEN 5 THEN 1 WHEN 6 THEN 2
             WHEN 7 THEN 3 WHEN 8 THEN 1 WHEN 9 THEN 2 WHEN 10 THEN 3 WHEN 11 THEN 1
             WHEN 12 THEN 2 WHEN 13 THEN 3 WHEN 14 THEN 2 WHEN 15 THEN 3 ELSE 0 END AS s2,
    CASE sfc0 WHEN 4 THEN 3 WHEN 5 THEN 1 WHEN 6 THEN 1 WHEN 7 THEN 1 WHEN 8 THEN 2
              WHEN 9 THEN 2 WHEN 10 THEN 2 WHEN 11 THEN 3 WHEN 12 THEN 3 WHEN 13 THEN 3
              WHEN 14 THEN 4 WHEN 15 THEN 4 ELSE 0 END AS s1_0,
    CASE sfc0 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 3 WHEN 5 THEN 1 WHEN 6 THEN 2
              WHEN 7 THEN 3 WHEN 8 THEN 1 WHEN 9 THEN 2 WHEN 10 THEN 3 WHEN 11 THEN 1
              WHEN 12 THEN 2 WHEN 13 THEN 3 WHEN 14 THEN 2 WHEN 15 THEN 3 ELSE 0 END AS s2_0
  FROM gr
), bands AS (
  SELECT doc_id, k, g, scfsi, band, w, kind,
         CASE WHEN kind = 'long'
              THEN CASE WHEN band < 11 THEN s1 ELSE s2 END
              ELSE CASE WHEN band < 6 THEN s1 ELSE s2 END END AS slen,
         CASE WHEN band < 11 THEN s1_0 ELSE s2_0 END AS slen0
  FROM (
    SELECT sl.*, i.i AS band, 0 AS w, 'long' AS kind
    FROM sl, LATERAL (SELECT unnest(generate_series(0, 20)) AS i) i
    WHERE NOT (wsf = 1 AND bt = 2)
    UNION ALL
    SELECT sl.*, i.i, 0, 'long'
    FROM sl, LATERAL (SELECT unnest(generate_series(0, 7)) AS i) i
    WHERE wsf = 1 AND bt = 2 AND mixed = 1
    UNION ALL
    SELECT sl.*, i.i, w.w, 'short'
    FROM sl,
         LATERAL (SELECT unnest(generate_series(0, 11)) AS i) i,
         LATERAL (SELECT unnest(generate_series(0, 2)) AS w) w
    WHERE wsf = 1 AND bt = 2 AND i.i >= CASE WHEN mixed = 1 THEN 3 ELSE 0 END
  )
), vals AS (
  SELECT doc_id, k, g, kind, slen,
         (doc_id + 3 * k + 5 * g + 11 * band + 17 * w) % (1 << slen) AS v,
         (doc_id + 3 * k + 11 * band) % (1 << slen0) AS v0,
         CASE WHEN g = 1 AND kind = 'long'
               AND ((scfsi >> (3 - CASE WHEN band < 6 THEN 0 WHEN band < 11 THEN 1
                                        WHEN band < 16 THEN 2 ELSE 3 END)) & 1) = 1
              THEN 1 ELSE 0 END AS reuse
  FROM bands
), agg AS (
  SELECT doc_id,
         SUM(CASE WHEN reuse = 0 THEN slen ELSE 0 END) AS part2_bits,
         SUM(CASE WHEN reuse = 0 AND slen > 0 THEN 1 ELSE 0 END) AS n_transmitted,
         SUM(CASE WHEN reuse = 0 AND slen > 0 THEN v ELSE 0 END) AS sum_scalefac,
         SUM(CASE WHEN g = 1 THEN CASE WHEN reuse = 1 THEN v0 ELSE v END ELSE 0 END)
           AS sum_g1_eff
  FROM vals GROUP BY doc_id
), gagg AS (
  SELECT doc_id, SUM(s1) AS sum_slen1, SUM(s2) AS sum_slen2,
         SUM(CASE WHEN wsf = 1 AND bt = 2 THEN 1 ELSE 0 END) AS short_granules,
         SUM(CASE WHEN wsf = 1 AND bt = 2 AND mixed = 1 THEN 1 ELSE 0 END) AS mixed_granules
  FROM sl GROUP BY doc_id
), fagg AS (
  SELECT doc_id, ANY_VALUE(nf) AS nf, SUM(fsize) AS n_bytes FROM fr GROUP BY doc_id
)
SELECT f.doc_id,
       CAST(f.nf AS BIGINT) AS n_frames,
       CAST(g.sum_slen1 AS BIGINT) AS sum_slen1,
       CAST(g.sum_slen2 AS BIGINT) AS sum_slen2,
       CAST(a.part2_bits AS BIGINT) AS part2_bits,
       CAST(a.n_transmitted AS BIGINT) AS n_transmitted,
       CAST(a.sum_scalefac AS BIGINT) AS sum_scalefac,
       CAST(a.sum_g1_eff AS BIGINT) AS sum_scalefac_g1_effective,
       CAST(g.short_granules AS BIGINT) AS short_granules,
       CAST(g.mixed_granules AS BIGINT) AS mixed_granules,
       CAST(f.n_bytes AS BIGINT) AS n_bytes
FROM fagg f JOIN gagg g USING (doc_id) JOIN agg a USING (doc_id)
""",
    tags=("ext", "multimodal", "codec", "audio"),
)
def multimodal_mp3_scalefactors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: MP3 Layer III SCALE FACTORS (§2.4.2.7) — the next structural
    step past the r11 side-info tier, taken from the r11 verdict's
    What's-missing #1 ("MP3 Layer III scale-factors"). Every document
    carries mono frames whose main-data region holds GENUINE scale-factor
    bitstreams: the published scalefac_compress → (slen1, slen2) table,
    the per-block-type band structure (21 long split 11/10, 12 short × 3
    windows split 6/6, mixed 8-long + 3..11-short), scfsi group REUSE
    (granule 1 omits reused long bands and inherits granule 0's values —
    pinned by the effective-sum column), and the part2 ≤ part2_3_length
    consistency check. The bit reservoir stays out (main_data_begin = 0;
    non-zero rejected loudly), as does the Huffman spectrum after part2
    (disclosed, `operators/multimodal.py` r12 banner). The oracle replays
    the slen table, band enumeration, modular values, and reuse
    accounting in closed form."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_mp3_scalefactor_media(docs)
    return M.decode_mp3_scalefactors(media)


def _mp3_spec_xlen_case(e: str) -> str:
    """xlen per (remapped) Huffman table id — MP3_HUFF_XLEN as SQL."""
    return (
        f"CASE {e} WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 3 WHEN 3 THEN 3"
        " WHEN 5 THEN 4 WHEN 6 THEN 4 WHEN 7 THEN 6 WHEN 8 THEN 6 WHEN 9 THEN 6"
        " WHEN 10 THEN 8 WHEN 11 THEN 8 WHEN 12 THEN 8 ELSE 16 END"
    )


def _mp3_spec_linbits_case(e: str) -> str:
    """Published linbits per ESC table (MP3_HUFF_LINBITS as SQL; 0 below 16)."""
    return (
        f"CASE WHEN {e} < 16 THEN 0 ELSE CASE {e}"
        " WHEN 16 THEN 1 WHEN 17 THEN 2 WHEN 18 THEN 3 WHEN 19 THEN 4"
        " WHEN 20 THEN 6 WHEN 21 THEN 8 WHEN 22 THEN 10 WHEN 23 THEN 13"
        " WHEN 24 THEN 4 WHEN 25 THEN 5 WHEN 26 THEN 6 WHEN 27 THEN 7"
        " WHEN 28 THEN 8 WHEN 29 THEN 9 WHEN 30 THEN 11 ELSE 13 END END"
    )


def _mp3_spec_ts(j: str) -> str:
    """Region-j table select law with the 4→5 / 14→15 unused-id remap."""
    t = f"(doc_id + k + 7 * g + 11 * {j}) % 32"
    return f"CASE WHEN {t} = 4 THEN 5 WHEN {t} = 14 THEN 15 ELSE {t} END"


def _mp3_spec_mixed_ts(j: str) -> str:
    """Channel-aware table select law (the mixed tier's 13·c term)."""
    t = f"(doc_id + k + 7 * g.g + 11 * {j} + 13 * c.c) % 32"
    return f"CASE WHEN {t} = 4 THEN 5 WHEN {t} = 14 THEN 15 ELSE {t} END"


_MP3_SFB_BOUNDS_SQL = (
    "[0,4,8,12,16,20,24,30,36,44,52,62,74,90,110,134,162,196,238,288,342,418,576]"
)


# The spectrum-law CTE chain (frame/granule/pair/quad value laws and their
# aggregates) is shared by the spectrum and reservoir oracles — the
# reservoir tier carries bit-identical main data, so every spectrum
# aggregate column has the same closed form; the reservoir oracle appends
# a recursive CTE for the main_data_begin recurrence on top.
_MP3_SPECTRUM_ORACLE_CTES = f"""p AS (
  SELECT doc_id, 2 + doc_id % 4 AS nf,
         CASE 7 + doc_id % 5 WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
                             WHEN 10 THEN 160 ELSE 192 END AS kbps,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
  FROM documents
), fr AS (
  SELECT doc_id, nf, kbps, sr, k.k,
         144 * kbps * 1000 // sr + (doc_id + k.k) % 2 AS fsize
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS k) k
), gr AS (
  SELECT doc_id, k, g.g,
         CASE WHEN (doc_id + k) % 3 = 0 THEN 1 ELSE 0 END AS wsf,
         (doc_id + k + g.g) % 16 AS r0,
         (doc_id * 7 + k) % 8 AS r1,
         ((doc_id + k * 17 + g.g * 29) % 289) % 16 AS bvs,
         (doc_id * 3 + k + g.g * 5) % 12 AS n1,
         {_mp3_spec_ts("0")} AS t0,
         {_mp3_spec_ts("1")} AS t1,
         {_mp3_spec_ts("2")} AS t2
  FROM fr, LATERAL (SELECT unnest(generate_series(0, 1)) AS g) g
), grb AS (
  SELECT *,
         CASE WHEN wsf = 1 THEN 36
              ELSE {_MP3_SFB_BOUNDS_SQL}[LEAST(r0 + 1, 22) + 1] END AS b0,
         CASE WHEN wsf = 1 THEN 576
              ELSE GREATEST(
                CASE WHEN wsf = 1 THEN 36
                     ELSE {_MP3_SFB_BOUNDS_SQL}[LEAST(r0 + 1, 22) + 1] END,
                {_MP3_SFB_BOUNDS_SQL}[LEAST(r0 + r1 + 2, 22) + 1]) END AS b1
  FROM gr
), pr AS (
  SELECT doc_id, k, g, i.i,
         CASE WHEN 2 * i.i < b0 THEN 0 WHEN 2 * i.i < b1 THEN 1 ELSE 2 END AS r,
         CASE CASE WHEN 2 * i.i < b0 THEN 0 WHEN 2 * i.i < b1 THEN 1 ELSE 2 END
              WHEN 0 THEN t0 WHEN 1 THEN t1 ELSE t2 END AS t
  FROM grb, LATERAL (SELECT unnest(generate_series(0, bvs - 1)) AS i) i
), prv AS (
  SELECT doc_id, k, g, i, r, t,
         {_mp3_spec_xlen_case("t")} AS xl,
         {_mp3_spec_linbits_case("t")} AS lb
  FROM pr
), prx AS (
  SELECT doc_id, k, g, i, r, t, lb,
         CASE WHEN xl = 0 THEN 0 ELSE (doc_id + 2 * k + 3 * g + 5 * i + r) % xl END AS x,
         CASE WHEN xl = 0 THEN 0 ELSE (doc_id + k + 7 * i + 3 * r) % xl END AS y
  FROM prv
), prc AS (
  SELECT doc_id, k, g, i, r, t,
         CASE WHEN t >= 16 AND x = 15 THEN 1 ELSE 0 END AS ex,
         CASE WHEN t >= 16 AND y = 15 THEN 1 ELSE 0 END AS ey,
         x + CASE WHEN t >= 16 AND x = 15 THEN (doc_id + 11 * i) % (1 << lb) ELSE 0 END AS ax,
         y + CASE WHEN t >= 16 AND y = 15 THEN (doc_id + 13 * i) % (1 << lb) ELSE 0 END AS ay,
         CASE WHEN t >= 16 AND x = 15 THEN (doc_id + 11 * i) % (1 << lb) ELSE 0 END AS lvx,
         CASE WHEN t >= 16 AND y = 15 THEN (doc_id + 13 * i) % (1 << lb) ELSE 0 END AS lvy,
         1 - 2 * ((doc_id + 5 * k + 3 * g + 2 * i) % 2) AS sgx,
         1 - 2 * ((doc_id + 5 * k + 3 * g + 2 * i + 1) % 2) AS sgy
  FROM prx
), pagg AS (
  SELECT doc_id,
         SUM(CASE WHEN t <> 0 THEN 1 ELSE 0 END) AS n_big_pairs,
         SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS region2_pairs,
         SUM(ex + ey) AS n_esc,
         SUM(lvx + lvy) AS sum_linval,
         SUM(ax + ay) AS sum_abs_p,
         SUM(CASE WHEN ax > 0 THEN sgx * ax * (2 * i + 1) ELSE 0 END
             + CASE WHEN ay > 0 THEN sgy * ay * (2 * i + 2) ELSE 0 END) AS cks_p
  FROM prc GROUP BY doc_id
), qd AS (
  SELECT doc_id, k, g, bvs, j.j,
         (doc_id + k + g + 13 * j.j) % 16 AS q
  FROM grb, LATERAL (SELECT unnest(generate_series(0, n1 - 1)) AS j) j
), qb AS (
  SELECT doc_id, k, g, j, o.o,
         (q // CASE o.o WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END) % 2 AS bit,
         2 * bvs + 4 * j + o.o AS s
  FROM qd, LATERAL (SELECT unnest(generate_series(0, 3)) AS o) o
), qagg AS (
  SELECT doc_id,
         SUM(bit) AS sum_abs_q,
         SUM(CASE WHEN bit = 1
                  THEN (1 - 2 * ((doc_id + 5 * k + 3 * g + s) % 2)) * (1 + s)
                  ELSE 0 END) AS cks_q
  FROM qb GROUP BY doc_id
), gagg AS (
  SELECT doc_id,
         SUM(n1) AS n_count1_quads,
         SUM(576 - 2 * bvs - 4 * n1) AS rzero_total
  FROM grb GROUP BY doc_id
), fagg AS (
  SELECT doc_id, ANY_VALUE(nf) AS nf, SUM(fsize) AS n_bytes FROM fr GROUP BY doc_id
)"""

#: the shared final-SELECT columns (spectrum aggregate surface)
_MP3_SPECTRUM_ORACLE_COLS = """
       CAST(f.nf AS BIGINT) AS n_frames,
       CAST(COALESCE(p2.n_big_pairs, 0) AS BIGINT) AS n_big_pairs,
       CAST(g2.n_count1_quads AS BIGINT) AS n_count1_quads,
       CAST(COALESCE(p2.n_esc, 0) AS BIGINT) AS n_esc,
       CAST(COALESCE(p2.sum_abs_p, 0) + COALESCE(q2.sum_abs_q, 0) AS BIGINT) AS sum_abs,
       CAST(COALESCE(p2.sum_linval, 0) AS BIGINT) AS sum_linval,
       CAST(COALESCE(p2.cks_p, 0) + COALESCE(q2.cks_q, 0) AS BIGINT) AS checksum,
       CAST(g2.rzero_total AS BIGINT) AS rzero_total,
       CAST(COALESCE(p2.region2_pairs, 0) AS BIGINT) AS region2_pairs"""


@register(
    "multimodal_mp3_spectrum",
    oracle=f"""
WITH {_MP3_SPECTRUM_ORACLE_CTES}
SELECT f.doc_id,{_MP3_SPECTRUM_ORACLE_COLS},
       CAST(f.n_bytes AS BIGINT) AS n_bytes
FROM fagg f
JOIN gagg g2 USING (doc_id)
LEFT JOIN pagg p2 USING (doc_id)
LEFT JOIN qagg q2 USING (doc_id)
""",
    tags=("ext", "multimodal", "codec", "audio"),
)
def multimodal_mp3_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: MP3 Layer III HUFFMAN SPECTRUM (§2.4.2.8) — the entropy-coded
    part3 region after the r12 scale-factor tier, the r12 verdict's item
    4. Every document carries mono frames whose main data is scale-factor
    bits followed by a GENUINE Huffman-coded spectrum: region boundaries
    from region0_count/region1_count through scalefactor-band boundaries
    (window-switched granules: the fixed 36-sample region0), per-region
    table routing (tables 4/14 loud-rejected as unused; table 0 = zero
    region, zero bits), paired-value prefix decode, the linbits ESC
    mechanism with the published per-table widths, per-value sign bits,
    the count1 quad region decoded until part2_3_length is exhausted
    (exact part2+part3 consistency enforced), and the rzero remainder.
    Disclosed stand-ins (data, not machinery): deterministic canonical
    codebooks behind `mp3_huff_codebook` and one fixture band geometry —
    see the r13 banner in operators/multimodal.py. The checksum column
    (Σ signed·(1+sample)) breaks on any misdecoded sign, magnitude, or
    position; the oracle replays region routing, value laws, ESC
    reconstruction, and sign laws in closed form. The bit reservoir stays
    loud-rejected (main_data_begin = 0)."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_mp3_spectrum_media(docs)
    return M.decode_mp3_spectrum(media)


@register(
    "multimodal_mp3_reservoir",
    oracle=f"""
WITH RECURSIVE {_MP3_SPECTRUM_ORACLE_CTES},
rec AS (
  SELECT doc_id, 0 AS k, 0 AS r, nf FROM p
  UNION ALL
  SELECT doc_id, k + 1,
         GREATEST(0, LEAST(511, r + ((doc_id * 31 + 17 * (k + 1)) % 105) - 52)),
         nf
  FROM rec WHERE k + 1 < nf
),
mdbagg AS (
  SELECT doc_id, MAX(r) AS max_mdb, SUM(r) AS sum_mdb,
         SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS n_reservoir_frames
  FROM rec GROUP BY doc_id
)
SELECT f.doc_id,{_MP3_SPECTRUM_ORACLE_COLS},
       CAST(m.max_mdb AS BIGINT) AS max_mdb,
       CAST(m.sum_mdb AS BIGINT) AS sum_mdb,
       CAST(m.n_reservoir_frames AS BIGINT) AS n_reservoir_frames,
       CAST(f.n_bytes AS BIGINT) AS n_bytes
FROM fagg f
JOIN gagg g2 USING (doc_id)
JOIN mdbagg m USING (doc_id)
LEFT JOIN pagg p2 USING (doc_id)
LEFT JOIN qagg q2 USING (doc_id)
""",
    tags=("ext", "multimodal", "codec", "audio"),
)
def multimodal_mp3_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: MP3 Layer III BIT RESERVOIR (§2.4.1.7 main_data_begin ≠ 0) —
    the next structural step past the Huffman-spectrum tier, and the
    first slice of the previously loud-rejected reservoir contract.
    Every document's frames carry the SAME genuine part2+part3 main data
    as the spectrum tier, but packed into the cross-frame logical stream:
    each frame's side info back-points main_data_begin bytes into earlier
    frames' bodies, with deterministic ancillary stuffing realizing a
    closed-form reservoir recurrence (R_0 = 0; R_k = clamp(R_{k-1} +
    ((doc_id·31 + 17·k) mod 105) − 52, 0, 511) — steps bounded by the
    provable ≥ 52-byte per-frame slack, so every doc_id encodes). The
    decode stage implements the real reservoir discipline: assemble the
    stream from frame bodies, locate each frame's main data at
    slab_offset − main_data_begin, decode part2+part3 bit-exactly, skip
    ancillary gaps, and loud-reject underrun/overlap/spill violations.
    The spectrum checksum column breaks if the assembly misplaces one
    bit; max_mdb/sum_mdb/n_reservoir_frames pin the reservoir shape to
    the oracle's recursive-CTE replay of the recurrence. 154/205 sampled
    doc_ids carry a live (non-zero) reservoir."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_mp3_reservoir_media(docs)
    return M.decode_mp3_reservoir(media)


@register(
    "multimodal_mp3_spectrum_mixed",
    oracle=f"""
WITH p AS (
  SELECT doc_id, 2 + doc_id % 4 AS nf, 1 + doc_id % 2 AS ch,
         CASE 7 + doc_id % 5 WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
                             WHEN 10 THEN 160 ELSE 192 END AS kbps,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
  FROM documents
), fr AS (
  SELECT doc_id, nf, ch, kbps, sr, k.k,
         144 * kbps * 1000 // sr + (doc_id + k.k) % 2 AS fsize
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS k) k
), gr AS (
  SELECT doc_id, ch, k, g.g, c.c,
         CASE WHEN (doc_id + k + 5 * c.c) % 3 = 0 THEN 1 ELSE 0 END AS wsf,
         (doc_id + k + g.g + c.c) % 16 AS r0,
         (doc_id * 7 + k + c.c) % 8 AS r1,
         ((doc_id + k * 17 + g.g * 29 + c.c * 41) % 289)
           % (CASE ch WHEN 1 THEN 16 ELSE 8 END) AS bvs,
         (doc_id * 3 + k + g.g * 5 + c.c * 7)
           % (CASE ch WHEN 1 THEN 12 ELSE 6 END) AS n1,
         {_mp3_spec_mixed_ts("0")} AS t0,
         {_mp3_spec_mixed_ts("1")} AS t1,
         {_mp3_spec_mixed_ts("2")} AS t2
  FROM fr,
       LATERAL (SELECT unnest(generate_series(0, 1)) AS g) g,
       LATERAL (SELECT unnest(generate_series(0, ch - 1)) AS c) c
), grb AS (
  SELECT *,
         CASE WHEN wsf = 1 THEN 36
              ELSE {_MP3_SFB_BOUNDS_SQL}[LEAST(r0 + 1, 22) + 1] END AS b0,
         CASE WHEN wsf = 1 THEN 576
              ELSE GREATEST(
                CASE WHEN wsf = 1 THEN 36
                     ELSE {_MP3_SFB_BOUNDS_SQL}[LEAST(r0 + 1, 22) + 1] END,
                {_MP3_SFB_BOUNDS_SQL}[LEAST(r0 + r1 + 2, 22) + 1]) END AS b1
  FROM gr
), pr AS (
  SELECT doc_id, k, g, c, i.i,
         CASE WHEN 2 * i.i < b0 THEN 0 WHEN 2 * i.i < b1 THEN 1 ELSE 2 END AS r,
         CASE CASE WHEN 2 * i.i < b0 THEN 0 WHEN 2 * i.i < b1 THEN 1 ELSE 2 END
              WHEN 0 THEN t0 WHEN 1 THEN t1 ELSE t2 END AS t
  FROM grb, LATERAL (SELECT unnest(generate_series(0, bvs - 1)) AS i) i
), prv AS (
  SELECT doc_id, k, g, c, i, r, t,
         {_mp3_spec_xlen_case("t")} AS xl,
         {_mp3_spec_linbits_case("t")} AS lb
  FROM pr
), prx AS (
  SELECT doc_id, k, g, c, i, r, t, lb,
         CASE WHEN xl = 0 THEN 0
              ELSE (doc_id + 2 * k + 3 * g + 5 * i + r + 7 * c) % xl END AS x,
         CASE WHEN xl = 0 THEN 0
              ELSE (doc_id + k + 7 * i + 3 * r + 5 * c) % xl END AS y
  FROM prv
), prc AS (
  SELECT doc_id, k, g, c, i, r, t,
         CASE WHEN t >= 16 AND x = 15 THEN 1 ELSE 0 END AS ex,
         CASE WHEN t >= 16 AND y = 15 THEN 1 ELSE 0 END AS ey,
         x + CASE WHEN t >= 16 AND x = 15
                  THEN (doc_id + 11 * i + 3 * c) % (1 << lb) ELSE 0 END AS ax,
         y + CASE WHEN t >= 16 AND y = 15
                  THEN (doc_id + 13 * i + 5 * c) % (1 << lb) ELSE 0 END AS ay,
         CASE WHEN t >= 16 AND x = 15
              THEN (doc_id + 11 * i + 3 * c) % (1 << lb) ELSE 0 END AS lvx,
         CASE WHEN t >= 16 AND y = 15
              THEN (doc_id + 13 * i + 5 * c) % (1 << lb) ELSE 0 END AS lvy,
         1 - 2 * ((doc_id + 5 * k + 3 * g + 2 * i + 9 * c) % 2) AS sgx,
         1 - 2 * ((doc_id + 5 * k + 3 * g + 2 * i + 1 + 9 * c) % 2) AS sgy
  FROM prx
), pagg AS (
  SELECT doc_id,
         SUM(CASE WHEN t <> 0 THEN 1 ELSE 0 END) AS n_big_pairs,
         SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS region2_pairs,
         SUM(ex + ey) AS n_esc,
         SUM(lvx + lvy) AS sum_linval,
         SUM(ax + ay) AS sum_abs_p,
         SUM(CASE WHEN c = 1 THEN ax + ay ELSE 0 END) AS sum_abs_ch1_p,
         SUM(CASE WHEN ax > 0 THEN sgx * ax * (2 * i + 1) ELSE 0 END
             + CASE WHEN ay > 0 THEN sgy * ay * (2 * i + 2) ELSE 0 END) AS cks_p
  FROM prc GROUP BY doc_id
), qd AS (
  SELECT doc_id, k, g, c, bvs, j.j,
         (doc_id + k + g + 13 * j.j + 3 * c) % 16 AS q
  FROM grb, LATERAL (SELECT unnest(generate_series(0, n1 - 1)) AS j) j
), qb AS (
  SELECT doc_id, k, g, c, j, o.o,
         (q // CASE o.o WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END) % 2 AS bit,
         2 * bvs + 4 * j + o.o AS s
  FROM qd, LATERAL (SELECT unnest(generate_series(0, 3)) AS o) o
), qagg AS (
  SELECT doc_id,
         SUM(bit) AS sum_abs_q,
         SUM(CASE WHEN c = 1 THEN bit ELSE 0 END) AS sum_abs_ch1_q,
         SUM(CASE WHEN bit = 1
                  THEN (1 - 2 * ((doc_id + 5 * k + 3 * g + s + 9 * c) % 2)) * (1 + s)
                  ELSE 0 END) AS cks_q
  FROM qb GROUP BY doc_id
), gagg AS (
  SELECT doc_id,
         SUM(n1) AS n_count1_quads,
         SUM(576 - 2 * bvs - 4 * n1) AS rzero_total
  FROM grb GROUP BY doc_id
), fagg AS (
  SELECT doc_id, ANY_VALUE(nf) AS nf, ANY_VALUE(ch) AS ch,
         SUM(fsize) AS n_bytes
  FROM fr GROUP BY doc_id
)
SELECT f.doc_id,
       CAST(f.nf AS BIGINT) AS n_frames,
       CAST(f.ch AS BIGINT) AS n_channels,
       CAST(COALESCE(p2.n_big_pairs, 0) AS BIGINT) AS n_big_pairs,
       CAST(g2.n_count1_quads AS BIGINT) AS n_count1_quads,
       CAST(COALESCE(p2.n_esc, 0) AS BIGINT) AS n_esc,
       CAST(COALESCE(p2.sum_abs_p, 0) + COALESCE(q2.sum_abs_q, 0) AS BIGINT) AS sum_abs,
       CAST(COALESCE(p2.sum_linval, 0) AS BIGINT) AS sum_linval,
       CAST(COALESCE(p2.cks_p, 0) + COALESCE(q2.cks_q, 0) AS BIGINT) AS checksum,
       CAST(g2.rzero_total AS BIGINT) AS rzero_total,
       CAST(COALESCE(p2.region2_pairs, 0) AS BIGINT) AS region2_pairs,
       CAST(COALESCE(p2.sum_abs_ch1_p, 0) + COALESCE(q2.sum_abs_ch1_q, 0)
            AS BIGINT) AS sum_abs_ch1,
       CAST(f.n_bytes AS BIGINT) AS n_bytes
FROM fagg f
JOIN gagg g2 USING (doc_id)
LEFT JOIN pagg p2 USING (doc_id)
LEFT JOIN qagg q2 USING (doc_id)
""",
    tags=("ext", "multimodal", "codec", "audio"),
)
def multimodal_mp3_spectrum_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: MIXED-CHANNEL Huffman spectrum — the part2+part3 decode
    generalized over the channel dimension, the same mono/stereo corpus
    split as the r11 side-info-mixed gate row: even docs mono (bit-
    identical to `multimodal_mp3_spectrum`'s payloads at c = 0), odd docs
    STEREO — 32-byte side info, four granule-channel structs in
    (granule, channel) order, per-channel scfsi reuse resolution, and
    channel-parameterized value/sign/table laws with stereo-tightened
    frame-fit caps (7 pairs / 5 quads per granule-channel; the 4·466-bit
    worst case fits the 252-byte stereo body provably). sum_abs_ch1 pins
    channel routing — swapping any channel's coded region breaks it (and
    the per-channel laws break the global checksum). Joint-stereo stays
    loud-rejected (disclosed boundary: mode 01 is decode-side arithmetic,
    not bitstream grammar). The oracle replays every law over the
    (frame, granule, channel) lattice."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_mp3_spectrum_mixed_media(docs)
    return M.decode_mp3_spectrum_mixed(media)


@register(
    "multimodal_mp4_fragmented",
    oracle="""
WITH p AS (
  SELECT doc_id,
         2 + doc_id % 4 AS nf,
         500 + doc_id % 100 AS trex_dur,
         20 + doc_id % 30 AS trex_size
  FROM documents
), fr AS (
  SELECT doc_id, nf, trex_dur, trex_size, f.f,
         1 + (doc_id + f.f) % 5 AS n,
         CASE WHEN (doc_id + f.f) % 2 = 1 THEN 1 ELSE 0 END AS trun_sizes,
         CASE WHEN (doc_id + 3 * f.f) % 3 = 0 THEN 1 ELSE 0 END AS size_ov,
         15 + (doc_id + f.f) % 25 AS tfhd_size,
         CASE WHEN (doc_id + 7 * f.f) % 3 = 0 THEN 1 ELSE 0 END AS trun_durs,
         CASE WHEN (doc_id + 5 * f.f) % 4 = 0 THEN 1 ELSE 0 END AS dur_ov,
         300 + (doc_id + f.f) % 80 AS tfhd_dur
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) f
), sm AS (
  SELECT doc_id, nf, f, n, trun_sizes, size_ov, trun_durs, dur_ov, j.j,
         CASE WHEN trun_sizes = 1 THEN 10 + (doc_id + f + 3 * j.j) % 40
              WHEN size_ov = 1 THEN tfhd_size
              ELSE trex_size END AS size,
         CASE WHEN trun_durs = 1 THEN 100 + (doc_id + f + 5 * j.j) % 50
              WHEN dur_ov = 1 THEN tfhd_dur
              ELSE trex_dur END AS dur,
         (doc_id * 7 + f * 13 + j.j * 3) % 251 AS fill
  FROM fr, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS j) j
), fagg AS (
  SELECT doc_id, nf, f, ANY_VALUE(n) AS n,
         ANY_VALUE(trun_sizes) AS trun_sizes, ANY_VALUE(size_ov) AS size_ov,
         ANY_VALUE(trun_durs) AS trun_durs,
         SUM(size) AS fb, SUM(dur) AS fd, SUM(fill * size) AS fps
  FROM sm GROUP BY doc_id, nf, f
)
SELECT doc_id,
       CAST(ANY_VALUE(nf) AS BIGINT) AS n_fragments,
       CAST(SUM(n) AS BIGINT) AS n_samples,
       CAST(SUM(fd) AS BIGINT) AS total_duration,
       CAST(SUM(fb) AS BIGINT) AS sum_sample_bytes,
       CAST(SUM(trun_sizes) AS BIGINT) AS n_trun_size_frags,
       CAST(SUM(CASE WHEN trun_sizes = 0 AND size_ov = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tfhd_size_frags,
       CAST(SUM(CASE WHEN trun_sizes = 0 AND size_ov = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_trex_size_frags,
       CAST(SUM(trun_durs) AS BIGINT) AS n_trun_dur_frags,
       CAST(SUM(fps) AS BIGINT) AS payload_sum,
       CAST(SUM(CASE WHEN f < nf - 1 THEN fd ELSE 0 END)
            AS BIGINT) AS last_decode_time,
       CAST(SUM((1 + f) * (3 * fd + 5 * fb + 7 * n)) AS BIGINT) AS checksum
FROM fagg GROUP BY doc_id
""",
    tags=("ext", "multimodal", "codec", "video"),
)
def multimodal_mp4_fragmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: FRAGMENTED MP4 (ISO 14496-12 §8.8, the streaming/DASH shape)
    — the next container step past the flat and chunked ISO-BMFF tiers:
    a movie box with EMPTY sample tables plus mvex/trex track defaults,
    then moof/mdat fragment pairs whose grammar is flag-conditional —
    tfhd and trun flags gate which fields are present, and each sample's
    effective size/duration resolves through the spec's three-level
    precedence (trun per-sample > tfhd fragment default > trex track
    default; all three paths live in the population). Conformance a real
    fMP4 demuxer enforces, loud-rejected on violation: mfhd sequence
    numbers increment from 1, tfdt equals the running decode time,
    tfhd references the trex track with default-base-is-moof, trun's
    moof-relative data offset lands exactly on the mdat payload, and the
    resolved sizes tile the mdat length exactly. payload_sum covers every
    payload byte; the checksum weights (duration, bytes, count) by
    fragment position. The oracle replays the laws over the
    (fragment, sample) lattice."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_mp4_fragmented_media(docs)
    return M.decode_mp4_fragmented(media)


@register(
    "multimodal_gif_animated",
    oracle="""
WITH p AS (
  SELECT doc_id, 2 + doc_id % 4 AS nf, doc_id % 4 AS loop_count
  FROM documents
), fr AS (
  SELECT doc_id, nf, loop_count, k.k,
         3 + (doc_id + k.k) % 4 AS w,
         3 + (doc_id + 2 * k.k) % 3 AS h,
         k.k % 2 AS loc,
         1 + (doc_id + k.k) % 2 AS disposal,
         4 + (doc_id + 3 * k.k) % 96 AS delay_cs,
         (doc_id + k.k) % 2 AS transp,
         (doc_id + 11 * k.k) % 256 AS t_idx
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS k) k
), px AS (
  SELECT doc_id, k, loc, transp, t_idx, x.x, y.y,
         (3 * doc_id + 5 * x.x + 17 * y.y + 29 * k) % 256 AS i
  FROM fr,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y
), pxc AS (
  SELECT doc_id, k,
         CASE WHEN transp = 1 AND i = t_idx THEN 1 ELSE 0 END AS tr,
         CASE WHEN loc = 1 THEN (i + 7 * k) % 256 ELSE i END AS r,
         CASE WHEN loc = 1 THEN (2 * i + 11 * k) % 256
              ELSE (2 * i) % 256 END AS g,
         CASE WHEN loc = 1 THEN (3 * i + 13 * k) % 256
              ELSE (3 * i) % 256 END AS b
  FROM px
), fagg AS (
  SELECT doc_id, k,
         SUM(tr) AS ntr,
         SUM(CASE WHEN tr = 0 THEN r ELSE 0 END) AS fr_,
         SUM(CASE WHEN tr = 0 THEN g ELSE 0 END) AS fg_,
         SUM(CASE WHEN tr = 0 THEN b ELSE 0 END) AS fb_
  FROM pxc GROUP BY doc_id, k
), j AS (
  SELECT f.doc_id, f.k, f.delay_cs, f.loc, f.disposal, f.w, f.h,
         f.nf, f.loop_count, a.ntr, a.fr_, a.fg_, a.fb_
  FROM fr f JOIN fagg a ON a.doc_id = f.doc_id AND a.k = f.k
)
SELECT doc_id,
       CAST(ANY_VALUE(nf) AS BIGINT) AS n_frames,
       CAST(ANY_VALUE(loop_count) AS BIGINT) AS loop_count,
       CAST(SUM(delay_cs) AS BIGINT) AS sum_delay_cs,
       CAST(SUM(loc) AS BIGINT) AS n_local_frames,
       CAST(SUM(CASE WHEN disposal = 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_disposal_restore,
       CAST(SUM(w) AS BIGINT) AS sum_w,
       CAST(SUM(h) AS BIGINT) AS sum_h,
       CAST(SUM(ntr) AS BIGINT) AS n_transparent_px,
       CAST(SUM(fr_) AS BIGINT) AS sum_r,
       CAST(SUM(fg_) AS BIGINT) AS sum_g,
       CAST(SUM(fb_) AS BIGINT) AS sum_b,
       CAST(SUM((1 + k) * (fr_ + 2 * fg_ + 3 * fb_ + 5 * delay_cs))
            AS BIGINT) AS checksum
FROM j GROUP BY doc_id
""",
    tags=("ext", "multimodal", "codec", "image"),
)
def multimodal_gif_animated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: ANIMATED GIF89a — lifts the flat GIF tier's single-frame and
    local-color-table boundaries: every document carries a real GIF89a
    animation (the NETSCAPE2.0 looping application extension, a Graphic
    Control Extension before every frame with disposal method / delay /
    transparency flag + index, frames as SUB-RECTANGLES of the logical
    screen at per-frame offsets, per-frame LOCAL color tables on odd
    frames, and the flat tier's from-scratch variable-width LZW per
    frame). The decode maps every pixel through the frame's ACTIVE
    palette — a decoder that keeps using the global table gets every
    odd frame's channel sums wrong — and excludes transparent pixels
    from the sums (the GCE's actual semantics). Conformance loud-rejects
    frames exceeding the logical screen, malformed GCE/application
    blocks, missing trailer, and all LZW structural damage; interlace
    stays a disclosed boundary. The n_bytes column is excluded (LZW
    output length is content-dependent); everything else replays in
    closed form over the (frame, x, y) lattice."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_gif_animated_media(docs)
    return M.decode_gif_animated(media)


@register(
    "multimodal_png_interlaced",
    oracle="""
WITH p AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 5 + doc_id % 4 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, x.x, y.y,
         (3 * doc_id + 5 * x.x + 17 * y.y) % 256 AS r,
         (7 * doc_id + 11 * x.x + 2 * y.y) % 256 AS g,
         (doc_id + 13 * x.x + 3 * y.y) % 256 AS b,
         CASE WHEN y.y % 2 = 1 THEN 7
              WHEN y.y % 8 = 0 THEN
                CASE WHEN x.x % 8 = 0 THEN 1 WHEN x.x % 8 = 4 THEN 2
                     WHEN x.x % 4 = 2 THEN 4 ELSE 6 END
              WHEN y.y % 4 = 2 THEN
                CASE WHEN x.x % 2 = 0 THEN 5 ELSE 6 END
              ELSE
                CASE WHEN x.x % 4 = 0 THEN 3 WHEN x.x % 4 = 2 THEN 4
                     ELSE 6 END
         END AS pass
  FROM p,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y
)
SELECT doc_id,
       CAST(ANY_VALUE(w) AS BIGINT) AS width,
       CAST(ANY_VALUE(h) AS BIGINT) AS height,
       CAST((CASE WHEN ANY_VALUE(w) > 0 AND ANY_VALUE(h) > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN ANY_VALUE(w) > 4 THEN 1 ELSE 0 END)
          + (CASE WHEN ANY_VALUE(h) > 4 THEN 1 ELSE 0 END)
          + (CASE WHEN ANY_VALUE(w) > 2 THEN 1 ELSE 0 END)
          + (CASE WHEN ANY_VALUE(h) > 2 THEN 1 ELSE 0 END)
          + (CASE WHEN ANY_VALUE(w) > 1 THEN 1 ELSE 0 END)
          + (CASE WHEN ANY_VALUE(h) > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_passes,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM((1 + pass) * (r + 2 * g + 3 * b)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""",
    tags=("ext", "multimodal", "codec", "image"),
)
def multimodal_png_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: PNG ADAM7 INTERLACE — lifts the PNG tier's non-interlace
    boundary: every document carries an interlace-method-1 PNG whose
    IDAT is the concatenation of SEVEN independently filtered passes
    (sub-images over (x0 + i·dx, y0 + j·dy); filter prediction references
    the previous row OF THE SAME PASS; empty passes at these 4–8 px
    dimensions contribute no bytes at all — not even filter bytes, the
    classic decoder bug), reconstructed through all five filters and
    de-interlaced back to absolute coordinates with EXACT stream
    consumption enforced. The fixture reuses the flat PNG tier's pixel
    law, so the de-interlaced channel sums must equal that tier's — and
    the checksum Σ (1+pass(x,y))·(r+2g+3b) pins the de-interlace MAPPING
    pixel-for-pixel (the oracle replays the published Adam7 8×8 pattern
    as a CASE over (x mod 8, y mod 8)). CRC-32 verified per chunk."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_png_interlaced_media(docs)
    return M.decode_png_interlaced_features(media)


@register(
    "multimodal_id3v24_metadata",
    oracle="""
WITH p AS (
  SELECT doc_id,
         'doc-' || CAST(doc_id AS VARCHAR) AS title,
         'src-' || CAST(doc_id % 7 AS VARCHAR) AS artist,
         CAST(doc_id % 30 + 1 AS VARCHAR) AS track,
         doc_id % 2 AS foot,
         CASE WHEN doc_id % 2 = 1 THEN 0 ELSE doc_id % 5 END AS pad,
         2 + doc_id % 3 AS nf,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
  FROM documents
), q AS (
  SELECT *,
         10 + (11 + length(title)) + (11 + length(artist))
            + (11 + length(track)) + pad + 10 * foot AS tag_bytes
  FROM p
)
SELECT doc_id, title, artist, track,
       CAST(3 AS BIGINT) AS n_tag_frames,
       CAST(tag_bytes AS BIGINT) AS tag_bytes,
       CAST(foot AS BIGINT) AS has_footer,
       CAST(pad AS BIGINT) AS padding_bytes,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(tag_bytes + nf * (144 * 128 * 1000 // sr) AS BIGINT) AS n_bytes
FROM q
""",
    tags=("ext", "multimodal", "codec", "audio", "metadata"),
)
def multimodal_id3v24_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: ID3v2.4 metadata extraction — the structural step past the
    v2.3 tag tier, covering exactly what the 2.4 revision changed: FRAME
    sizes become syncsafe (a v2.3-style size byte with the high bit set
    is rejected as the wrong grammar, never misparsed), text frames carry
    UTF-8 (encoding byte 3, enforced), and odd docs end the tag in a
    10-byte FOOTER ("3DI" + mirrored version/flags/size, verified) which
    the spec makes MUTUALLY EXCLUSIVE with padding (§3.1 — both
    directions enforced; even docs carry padding instead).
    Unsynchronisation, the extended header, and per-frame format flags
    stay loud-rejected disclosed boundaries. The CBR audio-frame walk
    after the tag is the v2.3 tier's. All columns replay in closed
    form."""
    docs = t(spark, sf_dir, "documents")
    media = M.attach_id3v24_media(docs)
    return M.decode_id3v24_metadata(media)
