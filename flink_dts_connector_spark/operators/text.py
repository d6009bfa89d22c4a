"""Text-analysis operators for large-scale training-data pipelines
(SURVEY.md §2.7 — EXT surface mandated by BASELINE.json; absent from the
reference, which has no text processing).

All hot-path operators are built-in column expressions (split / transform /
filter / md5 / regexp) — JVM-side, codegen'd, zero Python. Each is designed
to be mirrorable in ANSI SQL so the DuckDB oracle can check it exactly:
integer counting + one final double division, never float accumulation.

Scale: every operator is a narrow per-row projection — no shuffle, no state;
at 100 TB they pipeline inside the parquet scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_dts_connector_spark.session import spread

#: Marker stopwords for ratio/langid heuristics (tiny on purpose: the same
#: list must be inlined in oracle SQL).
STOPWORDS = ("the", "a", "of", "and")

#: language marker words for the n-gram/stopword langid heuristic, checked
#: in a fixed priority order (deterministic tie-break).
LANG_MARKERS = (
    ("de", ("der", "die", "und")),
    ("fr", ("le", "la", "et")),
    ("es", ("el", "los", "y")),
)


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the generator single-spaces its text)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("bigint")


#: BPE-ish pre-tokenization pattern (GPT-2-style split, simplified to the
#: subset that Java regex and RE2 treat identically — no lookarounds):
#: contractions, letter runs, digit runs, single non-alnum symbols.
BPE_ISH_PATTERN = "'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def bpe_ish_tokens(text: Column | str) -> Column:
    """Subword-ish tokenization by regex (the cheap LLM-token-count proxy:
    splits punctuation and digit runs off words like a BPE pre-tokenizer
    would, without a merges table). Engine-portable: the pattern avoids
    every Java-regex/RE2 divergence, so DuckDB's regexp_extract_all is an
    exact oracle."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column | str) -> Column:
    return F.size(bpe_ish_tokens(text)).cast("bigint")


def kgram_sketch(text: Column | str, k: int = 16, bottom: int = 4) -> Column:
    """Bottom-``bottom`` document sketch over character k-grams: md5 every
    k-char window of the normalized text, keep the lexicographically
    smallest ``bottom`` 8-hex prefixes. A winnowing-style containment
    sketch — two documents sharing long runs of text share small-hash
    k-grams with high probability, so sketch overlap estimates containment
    (the rolling-hash fingerprint family, engine-exact via md5)."""
    norm = normalized(text)
    n = F.length(norm)
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.substring(F.md5(F.encode(F.substring(norm, i, k), "UTF-8")), 1, 8),
    )
    return F.slice(F.array_sort(F.array_distinct(hashes)), 1, bottom)


def kgram_sketch_by_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "sketch",
    k: int = 16,
    bottom: int = 4,
    spread: bool = True,
) -> DataFrame:
    """(id, sketch) frame computing `kgram_sketch` the codegen way: explode
    window start positions, substring+md5 each window inside whole-stage
    codegen, grouped bottom-``bottom`` via partial `collect_set` — measured
    15× the higher-order-function expression at sf0.1 (the lambda runs one
    interpreter call per window; see SCALING.md). Bit-equal to
    `kgram_sketch` including the short/empty-text windows (pinned in
    tests/test_ext_ops.py). The exploded (id, text, pos) rows never
    shuffle — only the 8-hex window hashes do, with map-side distinct.

    ``spread`` is the same single-row-group guard as dedup's `_shingled`."""
    narrow = df.select(
        F.col(id_col).alias("id"),
        normalized(F.coalesce(F.col(text_col), F.lit(""))).alias("__t"),
    )
    if spread:
        narrow = narrow.repartition(
            narrow.sparkSession.sparkContext.defaultParallelism, "id"
        )
    n = F.length("__t")
    ex = narrow.select(
        "id",
        "__t",
        F.explode(F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))).alias("__i"),
    )
    h8 = F.substring(
        F.md5(F.encode(F.substring(F.col("__t"), F.col("__i"), F.lit(k)), "UTF-8")), 1, 8
    )
    return (
        ex.select("id", h8.alias("__h"))
        .groupBy("id")
        .agg(F.slice(F.array_sort(F.collect_set("__h")), 1, bottom).alias(out_col))
        .withColumnRenamed("id", id_col)
    )


def normalized(text: Column | str) -> Column:
    """Dedup-normalization: lowercase + whitespace collapse + trim."""
    text = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (The rolling-hash variant is `shingles` + xxhash64 in dedup.py.)"""
    return F.md5(F.encode(normalized(text), "UTF-8"))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingle array — the unit for near-dup Jaccard.

    Documents shorter than n words yield an empty array (sequence(0, neg)
    is empty), matching the SQL oracle's LEAD-based construction."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    arr = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.array_distinct(F.when(F.size(toks) >= n, arr).otherwise(F.array()))


def ngrams_all(text: Column | str, n: int) -> Column:
    """ALL word n-grams in order (multiplicities kept — unlike `shingles`,
    which is the distinct set). The unit for repetition metrics and
    decontamination, where duplicate grams are the signal."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    arr = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.when(F.size(toks) >= n, arr).otherwise(F.array())


def add_ngrams(
    df: DataFrame,
    text_col: str,
    out_col: str,
    n: int = 3,
    distinct: bool = False,
    spread_by: str | None = None,
) -> DataFrame:
    """Attach the word-n-gram array of ``text_col`` as ``out_col`` using
    Spark ML's ``NGram`` transformer — a compiled Scala sliding window.
    Bit-identical to `shingles` (``distinct=True``) / `ngrams_all`
    (``distinct=False``): same whitespace tokenization, " " join, empty
    array for docs shorter than ``n`` words, first-occurrence order under
    ``array_distinct`` (pinned by tests/test_ext_ops.py). Exists because
    array higher-order functions evaluate their lambda in the interpreter
    per element — measured ~9× slower than NGram on the shingling hot path
    (see SCALING.md).

    ``spread_by``: optionally hash-repartition the input by this column to
    ``defaultParallelism`` first. Guards the single-row-group-parquet case
    (one scan task) by shuffling COMPACT pre-explode rows once; downstream
    groupBy on the same key reuses the hash partitioning. r14: the
    repartition is now CONDITIONAL on the input being under-split (fewer
    partitions than cores, the `_spread` idiom) — a well-split 100 TB scan
    passes through instead of collapsing thousands of scan partitions down
    to the core count, so the exchange exists only where the input was the
    bottleneck."""
    from pyspark.ml.feature import NGram

    toks_col, raw_col = f"__{out_col}_toks", f"__{out_col}_raw"
    if spread_by is not None:
        df = spread(df, spread_by)
    # tokens(null) would NPE inside NGram's Scala UDF; '' tokenizes to [""]
    # which n-grams (n>1) to [] — same result the expression path gives null.
    staged = df.withColumn(
        toks_col, tokens(F.coalesce(F.col(text_col), F.lit("")))
    )
    out = NGram(n=n, inputCol=toks_col, outputCol=raw_col).transform(staged)
    gram = F.array_distinct(F.col(raw_col)) if distinct else F.col(raw_col)
    return out.withColumn(out_col, gram).drop(toks_col, raw_col)


def repetition_metrics(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals — the standard
    LLM-corpus filters for degenerate/boilerplate text (Rae et al. 2021
    §A1.1): duplicate-token fraction, most-frequent-2-gram fraction, and
    duplicate-5-gram fraction. Exact integer counts + one double division
    each (oracle-exact).

    Token and 5-gram stats are narrow array expressions (no shuffle,
    pipelined in the scan); the top-2-gram multiplicity needs a per-(doc,
    gram) count, done as explode → two-level hash agg keyed by ``id_col``
    (map-side combine; at 100 TB this is one shuffle of (doc, gram, count)
    partials, not raw grams)."""
    toks = tokens(text_col)
    g5 = F.col("__g5")
    n_tok = F.size(toks).cast("bigint")
    nd_tok = F.size(F.array_distinct(toks)).cast("bigint")
    n_g5 = F.size(g5).cast("bigint")
    nd_g5 = F.size(F.array_distinct(g5)).cast("bigint")
    narrow = add_ngrams(df, text_col, "__g5", 5, spread_by=id_col).select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        nd_tok.alias("n_distinct_tokens"),
        F.when(n_tok > 0, (n_tok - nd_tok).cast("double") / n_tok).alias("dup_token_frac"),
        n_g5.alias("n_5grams"),
        nd_g5.alias("n_distinct_5grams"),
        F.when(n_g5 > 0, (n_g5 - nd_g5).cast("double") / n_g5).alias("dup_5gram_frac"),
    )
    g2 = add_ngrams(
        df.select(F.col(id_col), F.col(text_col)), text_col, "__g2", 2, spread_by=id_col
    ).select(F.col(id_col), F.explode("__g2").alias("g"))
    per_gram = g2.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    top = per_gram.groupBy(id_col).agg(
        F.max("c").alias("top_2gram_count"), F.sum("c").alias("n_2grams")
    )
    joined = narrow.join(top, id_col, "left")
    return joined.select(
        id_col,
        "n_tokens",
        "n_distinct_tokens",
        "dup_token_frac",
        "n_5grams",
        "n_distinct_5grams",
        "dup_5gram_frac",
        F.coalesce(F.col("n_2grams"), F.lit(0)).cast("bigint").alias("n_2grams"),
        F.coalesce(F.col("top_2gram_count"), F.lit(0)).cast("bigint").alias("top_2gram_count"),
        F.when(
            F.col("n_2grams") > 0, F.col("top_2gram_count").cast("double") / F.col("n_2grams")
        ).alias("top_2gram_frac"),
    )


def hash_embedding(
    df: DataFrame,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing document embeddings (the "hashing trick",
    Weinberger et al. 2009): a ``dim``-wide signed bag-of-words vector
    with bucket = md5-hash(token) mod dim and sign from the next hash bit
    — the model-free document representation corpus pipelines use for
    cheap clustering/near-dup blocking before any learned embedding
    exists. Integer counts end-to-end, md5-based hashing, so DuckDB
    mirrors it exactly (`md5_number_lower(t) % ...`).

    Plan: explode → one hash agg keyed by (doc, bucket) partials folded
    map-side → pivot-free array assembly via ``dim`` conditional sums per
    doc. No corpus shuffle beyond the one (doc, bucket) agg."""
    from flink_dts_connector_spark.operators.dedup import md5_number_lower_mod

    # r14 single-row-group guard (the `_spread` idiom): the explode + md5
    # per token runs BEFORE the (doc, bucket) agg's exchange, so an
    # under-split input serializes the whole corpus hash on one core (the
    # r14 job drill caught text_hash_embedding spending 0.75 s in a 1-task
    # job here). Repartition the compact (id, text) rows once, only when
    # the input has fewer partitions than cores; a well-split scan passes
    # through untouched.
    narrow = spread(df.select(F.col(id_col), F.col(text_col).alias("__txt")), id_col)
    ex = narrow.select(
        F.col(id_col), F.explode(tokens("__txt")).alias("__t")
    ).select(
        id_col,
        md5_number_lower_mod(F.col("__t"), 2 * dim).alias("__hb"),
    )
    # bucket = h div 2, sign = ±1 from the low bit (balanced hash kernel)
    bucketed = ex.select(
        id_col,
        F.expr("__hb div 2").alias("__b"),
        (F.col("__hb") % 2 * 2 - 1).cast("bigint").alias("__s"),
    )
    agg = bucketed.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("__b") == j, F.col("__s")).otherwise(F.lit(0))).alias(
                f"__v{j}"
            )
            for j in range(dim)
        ]
    )
    out = df.select(id_col).join(agg, id_col, "left")
    return out.select(
        id_col,
        F.array(
            *[F.coalesce(F.col(f"__v{j}"), F.lit(0)).cast("bigint") for j in range(dim)]
        ).alias("embedding"),
    )


def rare_bigram_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max: int = 2,
) -> DataFrame:
    """Self-trained LM-style quality signal: the fraction of a document's
    bigram POSITIONS whose bigram occurs ≤ ``rare_max`` times in the whole
    corpus. High rare-fraction ⇒ text statistically unlike the corpus
    (gibberish, OCR noise, wrong language) — the CCNet/KenLM perplexity
    filter's role, reformulated in pure integer counts so the DuckDB oracle
    is exact (no transcendental log-prob whose last ulp could diverge
    across engines).

    Plan: one corpus-wide bigram count (hash agg with map-side combine),
    one equi-join of exploded grams against that vocab table (shuffle keyed
    by gram both sides — co-located), one per-doc re-agg. The "model" IS
    the vocab count table; at 100 TB persist it once and reuse it as the
    scoring side for every new snapshot."""
    g2 = add_ngrams(
        df.select(F.col(id_col), F.col(text_col)), text_col, "__g2", 2, spread_by=id_col
    ).select(F.col(id_col), F.explode("__g2").alias("g"))
    vocab = g2.groupBy("g").agg(F.count(F.lit(1)).alias("corpus_c"))
    scored = g2.join(vocab, "g").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum((F.col("corpus_c") <= rare_max).cast("bigint")).alias("n_rare"),
    )
    base = df.select(id_col)
    out = base.join(scored, id_col, "left")
    n_bg = F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint")
    n_rare = F.coalesce(F.col("n_rare"), F.lit(0)).cast("bigint")
    return out.select(
        id_col,
        n_bg.alias("n_bigrams"),
        n_rare.alias("n_rare"),
        F.when(n_bg > 0, n_rare.cast("double") / n_bg).alias("rare_frac"),
    )


def ilog2(x: Column) -> Column:
    """Exact integer floor(log2(x)) for x >= 1: bit-length minus one, via
    base-2 string conversion — no float rounding at exact powers of two,
    bit-identical across engines (DuckDB twin: length(printf('%b', x)) - 1)."""
    return (F.length(F.conv(x.cast("string"), 10, 2)) - 1).cast("bigint")


def unigram_surprisal(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unigram-LM perplexity proxy: score every document by the mean
    integer surprisal of its tokens under the corpus's own unigram
    distribution — ``surprisal(w) = ilog2(T div c_w)`` where ``c_w`` is the
    corpus frequency of ``w`` and ``T`` the total token count. Rare-token-
    heavy documents (gibberish, OCR noise, wrong language) score high; the
    classic KenLM-perplexity quality filter reformulated in pure integer
    arithmetic so a SQL oracle can check it bit-for-bit (no transcendental
    log whose last ulp could diverge across engines).

    Plan: explode once, pre-aggregate to distinct (doc, token, count) so
    the vocab join touches type-level rows, not the raw token mass; the
    vocab count table is the "model" (one hash agg, map-side combine), the
    grand total one broadcast row. At 100 TB: persist the vocab table once
    per snapshot and reuse it as the scoring side; the join is a shuffle
    equi-join on the token (a heavy-tailed vocab does NOT broadcast —
    billions of types at web scale)."""
    dt = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dc"))
    )
    vocab = dt.groupBy("w").agg(F.sum("dc").cast("bigint").alias("c"))
    total = vocab.agg(F.sum("c").cast("bigint").alias("t"))
    scored_vocab = vocab.join(F.broadcast(total)).select(
        "w", ilog2(F.expr("t div c")).alias("surprisal")
    )
    return (
        dt.join(scored_vocab, "w")
        .groupBy(id_col)
        .agg(
            F.sum("dc").cast("bigint").alias("n_tokens"),
            F.sum(F.col("dc") * F.col("surprisal")).cast("bigint").alias("total_surprisal"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "total_surprisal",
            (F.col("total_surprisal").cast("double") / F.col("n_tokens")).alias(
                "mean_surprisal"
            ),
        )
    )


def stopword_count(text: Column | str, words: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(text)
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("bigint")


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: exact integer counts + one double
    division each (oracle-exact). Mirrors common LLM-corpus filters
    (length, mean token length, stopword ratio, non-alnum ratio)."""
    toks = token_count(text_col)
    chars = F.length(F.col(text_col)).cast("bigint")
    stops = stopword_count(text_col)
    non_alnum = (
        chars - F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z0-9]", ""))
    ).cast("bigint")
    return df.select(
        "doc_id",
        toks.alias("n_tokens"),
        chars.alias("n_chars"),
        stops.alias("n_stopwords"),
        non_alnum.alias("n_non_alnum"),
        (chars.cast("double") / toks).alias("chars_per_token"),
        (stops.cast("double") / toks).alias("stopword_ratio"),
        (non_alnum.cast("double") / chars).alias("non_alnum_ratio"),
    )


#: Gopher-style corpus filter rules: (name, flag) where flag is an all-integer
#: predicate over the quality_metrics counts — integer comparisons (cross-
#: multiplied ratios) keep the verdicts bit-identical to the SQL oracle with
#: no double rounding in the rule itself. Thresholds sit inside the measured
#: spread of the synthetic corpus so every rule splits non-vacuously.
QUALITY_RULES: tuple[tuple[str, str], ...] = (
    ("min_tokens", "n_tokens < 30"),            # too short to train on
    ("max_tokens", "n_tokens > 80"),            # suspiciously long for the corpus
    ("stopword_floor", "n_stopwords * 50 < n_tokens"),   # stopword ratio < 2%
    ("symbol_ceiling", "n_non_alnum * 100 > n_chars * 19"),  # non-alnum > 19%
    ("word_length", "n_chars < n_tokens * 5"),  # mean chars/token < 5
)


def quality_rule_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document boolean verdicts for each Gopher-style filter rule
    (Rae et al. 2021 §A.1.1's rule-list shape: length bounds, symbol
    ratio, stopword floor, mean word length), as 0/1 ints, plus
    ``any_rule`` = fails at least one. Built on quality_metrics' exact
    integer counts; each rule is a pure integer comparison so the Spark
    and DuckDB verdicts agree exactly."""
    m = quality_metrics(df, text_col)
    flags = [F.expr(cond).cast("int").alias(name) for name, cond in QUALITY_RULES]
    out = m.select("doc_id", *flags)
    return out.withColumn(
        "any_rule", F.greatest(*[F.col(n) for n, _ in QUALITY_RULES]).alias("any_rule")
    )


def langid_heuristic(text: Column | str) -> Column:
    """Marker-stopword language guess with fixed priority order.

    A real langid model is out of scope (no ML libs in the image); this is
    the deterministic n-gram-heuristic pattern: count marker hits per
    language, first language (in declared order) with ≥2 hits wins, else
    'en'. Expressible identically in SQL for the oracle."""
    toks = tokens(text)
    guess = F.lit("en")
    # build right-to-left so earlier entries take priority
    for lang, markers in reversed(LANG_MARKERS):
        hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
        guess = F.when(hits >= 2, F.lit(lang)).otherwise(guess)
    return guess


#: PII redaction patterns — the Java-regex ∩ RE2 subset (no lookarounds, no
#: boundary classes) so Spark and any RE2 engine (DuckDB oracle) replace
#: identically. Order matters: email first (an email contains dot-runs an
#: aggressive IP pattern could nibble).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}", "<PHONE>"),
)


def pii_counts(text: Column | str) -> list[Column]:
    """One bigint count per PII pattern (email/ipv4/phone), aliased
    ``n_<name>``. Counted BEFORE redaction, on the raw text."""
    text = F.col(text) if isinstance(text, str) else text
    return [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("bigint").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


def redact_pii(text: Column | str) -> Column:
    """Chained regexp_replace over `PII_PATTERNS` — the standard corpus
    PII-scrub (emails/IPs/phones → typed placeholders). Pure JVM regex,
    pipelined in the scan; order is fixed so the output is deterministic."""
    out = F.col(text) if isinstance(text, str) else text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def self_repeat_spans(
    df: DataFrame,
    k: int = 6,
    min_span: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-document repeat localization: maximal spans of >= ``min_span``
    tokens that occur (at least) twice WITHIN the same document — the
    positional counterpart of `repetition_metrics` (which only scores HOW
    repetitive a doc is, not WHERE), enabling span-level trimming of
    internal boilerplate. Same machinery as `dedup.shared_spans`, with the
    k-gram match join restricted to the document itself (pa < pb) and the
    diagonal = the repeat distance. Per-doc aggregate out: number of
    repeated spans and the longest one. Scale: the self-join is per-doc
    (equi-join on (id, gram)); windows partition by (id, diagonal)."""
    from flink_dts_connector_spark.operators.dedup import positional_grams
    from pyspark.sql import Window as W

    g = positional_grams(df, k, id_col, text_col)
    a, b = g.alias("a"), g.alias("b")
    m = a.join(
        b, (F.col("a.id") == F.col("b.id")) & (F.col("a.g") == F.col("b.g")) & (F.col("a.pos") < F.col("b.pos"))
    ).select(
        F.col("a.id").alias("id"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    w = W.partitionBy("id", "diag").orderBy("pa")
    isl = m.select("id", (F.col("pb") - F.col("pa")).alias("diag"), "pa").withColumn(
        "isle", F.col("pa") - F.row_number().over(w)
    )
    spans = (
        isl.groupBy("id", "diag", "isle")
        .agg((F.count(F.lit(1)) + (k - 1)).cast("bigint").alias("span_tokens"))
        .where(F.col("span_tokens") >= min_span)
    )
    return (
        spans.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_repeat_spans"),
            F.max("span_tokens").alias("max_span_tokens"),
        )
    )


def rake_keywords(
    df: DataFrame,
    top_k: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = STOPWORDS,
) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction, Rose et al. 2010) at
    corpus scale — the phrase-level sibling of `tfidf_keywords`: candidate
    phrases are the maximal stopword-free token runs (gaps-and-islands on
    token position), each word scores degree/frequency where degree sums
    the lengths of every phrase the word occurs in, and a phrase scores
    the sum of its words' scores. Exactness: the division is one integer
    ``degree * 10^6 div freq`` per word (score_ppm), summed as BIGINTs, so
    ranking is bit-deterministic and the (score DESC, phrase ASC) top-k is
    total. Scale: one explode + three keyed aggregates — the word-stat
    frame is vocabulary-sized, phrase grouping shuffles on the phrase
    text; nothing is per-document iterative."""
    from pyspark.sql import Window as W

    # r14 single-row-group guard (the `_spread` idiom): the posexplode of
    # every token runs inside the scan task, upstream of the first
    # (doc_id) window exchange — an under-split input serializes it on one
    # core. Spread the compact (id, text) rows once, only when the input
    # has fewer partitions than cores; hash-partitioning by doc_id means
    # the island window right below reuses the partitioning.
    narrow = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__txt")), "doc_id"
    )
    toks = narrow.select(
        "doc_id",
        F.posexplode(tokens("__txt")).alias("i", "w"),
    )
    ns = toks.where(~F.col("w").isin(*stopwords)).withColumn(
        "island",
        F.col("i") - F.row_number().over(W.partitionBy("doc_id").orderBy("i")),
    )
    ph = ns.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("plen"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))), lambda s: s["w"]
            ),
            " ",
        ).alias("phrase"),
    )
    occ = ns.join(ph, ["doc_id", "island"])
    ws = occ.groupBy("w").agg(
        F.sum("plen").cast("bigint").alias("degree"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
    )
    scored = (
        occ.join(ws, "w")
        .groupBy("doc_id", "island")
        .agg(
            F.min("phrase").alias("phrase"),
            F.min("plen").cast("bigint").alias("n_words"),
            F.sum(F.expr("degree * 1000000 div freq")).cast("bigint").alias("score_ppm"),
        )
    )
    agg = scored.groupBy("phrase").agg(
        F.min("n_words").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("score_ppm").cast("bigint").alias("score_ppm"),
    )
    w_rank = W.orderBy(F.col("score_ppm").desc(), F.col("phrase").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rank") <= top_k)
        .select("phrase", "n_words", "n_occurrences", "score_ppm", "rank")
    )
