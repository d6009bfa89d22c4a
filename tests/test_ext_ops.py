"""Ground-truth checks for the approximate EXT operators (no SQL oracle
exists for xxhash/FNV-based ops, so we verify against in-engine exact
computation and structural invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_dts_connector_spark.operators import dedup as D
from flink_dts_connector_spark.operators import similarity as S
from flink_dts_connector_spark.session import load_table


def test_minhash_lsh_finds_exact_duplicates(spark, sf_dir):
    """Identical documents produce identical signatures → every band
    collides → the pair MUST be reported (LSH guarantee at j=1)."""
    docs = load_table(spark, sf_dir, "documents").limit(20)
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    both = docs.unionByName(dup)
    pairs = D.minhash_lsh_dedup_pairs(both, threshold_pct=90)
    found = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    expected = {(r["doc_id"], r["doc_id"] + 100000) for r in docs.collect()}
    assert expected <= found, f"missing exact-dup pairs: {sorted(expected - found)[:5]}"


def test_minhash_lsh_verified_pairs_subset_of_exact(spark, sf_dir):
    """LSH output is exact-verified, so it must be a SUBSET of the exact
    Jaccard pairs at the same threshold (LSH may only lose candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    lsh = {
        (r["a_id"], r["b_id"])
        for r in D.minhash_lsh_dedup_pairs(docs, threshold_pct=30).collect()
    }
    exact = {
        (r["a_id"], r["b_id"]) for r in D.jaccard_pairs(docs, threshold_pct=30).collect()
    }
    assert lsh <= exact


def test_simhash_invariants(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    sig = D.simhash64(docs).collect()
    assert len({r["doc_id"] for r in sig}) == len(sig)
    # determinism: second run identical
    sig2 = D.simhash64(docs).collect()
    assert {(r["doc_id"], r["simhash"]) for r in sig} == {
        (r["doc_id"], r["simhash"]) for r in sig2
    }
    # identical text → distance 0 pair must be found by the banded search
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    pairs = D.simhash_neardup_pairs(docs.unionByName(dup), max_distance=0)
    found = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    expected = {(r["doc_id"], r["doc_id"] + 100000) for r in docs.collect()}
    assert expected <= found


def test_simhash_impls_agree(spark, sf_dir):
    """All three signature implementations share token hashes and must
    agree bit-for-bit — including the empty-text → 0 convention."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    empty = spark.createDataFrame(
        [(999001, ""), (999002, "   ")], "doc_id long, text string"
    )
    docs = docs.select("doc_id", "text").unionByName(empty)
    sigs = {
        impl: {(r["doc_id"], r["simhash"]) for r in D.simhash64(docs, impl=impl).collect()}
        for impl in ("jvm", "pandas", "agg")
    }
    assert sigs["jvm"] == sigs["pandas"] == sigs["agg"]
    assert (999001, 0) in sigs["jvm"] and (999002, 0) in sigs["jvm"]


def test_lsh_ann_subset_and_selfbucket(spark, sf_dir):
    """Every LSH-ANN hit must carry the same score brute force assigns it
    (same scorer), and hits are confined to the query's bucket."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in S.brute_force_topk(e, q, k=500).collect()
    }
    for r in S.lsh_topk(e, q, k=5).collect():
        assert (r["query_id"], r["vec_id"]) in bf
        assert bf[(r["query_id"], r["vec_id"])] == r["score"]  # bit-identical


def test_exact_dedup_keeps_one_per_content(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    out = D.dedup_exact(docs.unionByName(dup))
    assert out.count() == docs.count()
    # survivors are the min ids (originals)
    assert out.where(F.col("doc_id") > 100000).count() == 0


def test_decode_media_rejects_unknown_codec(spark, sf_dir):
    """Real codecs are stubbed: the decode stage must fail loudly, not
    fake-decode them."""
    import pytest

    from flink_dts_connector_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").limit(5)
    media = M.attach_media(docs).withColumn(
        "meta",
        F.struct(
            F.lit("jpeg").alias("codec"),
            F.col("meta.n_bytes"),
            F.col("meta.width"),
            F.col("meta.height"),
            F.col("meta.duration_ms"),
        ),
    )
    with pytest.raises(Exception, match="NotImplementedError|external decoders"):
        M.decode_media(media).collect()


def test_ivf_ann_scores_exact_and_recall(spark, sf_dir):
    """IVF hits carry brute-force-identical scores, and nprobe=3 over ~13
    cells recalls a reasonable share of the true top-5."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = e.where(F.col("vec_id") % 37 == 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    bf_all = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in S.brute_force_topk(e, q, k=1000).collect()
    }
    bf_top5 = {}
    for r in S.brute_force_topk(e, q, k=5).collect():
        bf_top5.setdefault(r["query_id"], set()).add(r["vec_id"])
    ivf = S.ivf_topk(e, q, centroids, k=5, nprobe=3).collect()
    assert len(ivf) > 0
    hits = 0
    total = 0
    for r in ivf:
        assert bf_all[(r["query_id"], r["vec_id"])] == r["score"]  # bit-identical scorer
    for qid, true5 in bf_top5.items():
        got = {r["vec_id"] for r in ivf if r["query_id"] == qid}
        hits += len(got & true5)
        total += len(true5)
    assert hits / total >= 0.3, f"IVF recall {hits}/{total} too low"


def test_lsh_multiprobe_recall_beats_single_probe(spark, sf_dir):
    """Multi-probe (own + Hamming-1 buckets) must (a) superset single-probe's
    result pairs (every single-probe candidate is also a multi-probe
    candidate, and top-5 can only improve), (b) carry brute-force-identical
    scores, and (c) strictly improve recall vs the exact top-5 on this
    fixture — the point of probing neighbor buckets."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = S.brute_force_topk(e, q, k=5).collect()
    bf_scores = {(r["query_id"], r["vec_id"]): r["score"] for r in bf}
    true5: dict = {}
    for r in bf:
        true5.setdefault(r["query_id"], set()).add(r["vec_id"])
    single = S.lsh_topk(e, q, k=5).collect()
    multi = S.lsh_multiprobe_topk(e, q, k=5).collect()
    for r in multi:
        if (r["query_id"], r["vec_id"]) in bf_scores:  # scorer is bit-identical
            assert bf_scores[(r["query_id"], r["vec_id"])] == r["score"]

    def recall(rows):
        hits = sum(
            1 for r in rows if r["vec_id"] in true5.get(r["query_id"], set())
        )
        return hits / sum(len(v) for v in true5.values())

    r1, r7 = recall(single), recall(multi)
    assert r7 > r1, f"multi-probe recall {r7:.3f} not above single-probe {r1:.3f}"


def test_connected_components_synthetic(spark):
    """Chain + star + isolated pair: labels converge to the min id of each
    component, sizes come back right, diameter > 1 exercised."""
    from flink_dts_connector_spark.operators.graph import connected_components, dedup_clusters

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),       # chain 1-2-3-4 (diameter 3)
         (10, 11), (10, 12), (10, 13), # star centered on 10
         (20, 21)],                    # pair
        "a_id long, b_id long",
    )
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}
    sizes = {
        (r["doc_id"], r["component"], r["n_members"]) for r in dedup_clusters(edges).collect()
    }
    assert (4, 1, 4) in sizes and (13, 10, 4) in sizes and (21, 20, 2) in sizes
    # non-convergence must raise, not return wrong clusters
    import pytest

    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=1)


def test_kmeans_centroids_deterministic_and_better(spark, sf_dir):
    """Lloyd's training must (a) return exactly k centroids, (b) reproduce
    bit-identical centroids on rerun (quantized updates), and (c) improve
    the mean best-cosine objective over the untrained init."""
    e = load_table(spark, sf_dir, "embeddings")

    def objective(cent):
        c = cent.select("centroid_id", S.quantized("embedding").alias("_ce")).withColumn(
            "_cn", S.norm_sq_q("_ce")
        )
        it = e.select("vec_id", S.quantized("embedding").alias("_ie")).withColumn(
            "_in", S.norm_sq_q("_ie")
        )
        sc = it.crossJoin(F.broadcast(c)).select(
            "vec_id",
            S.cosine_q(S.dot_q("_ie", "_ce"), F.col("_in"), F.col("_cn")).alias("s"),
        )
        return sc.groupBy("vec_id").agg(F.max("s").alias("b")).agg(F.avg("b")).first()[0]

    trained = S.kmeans_centroids(e, k=8, n_iter=3)
    rows = trained.collect()
    assert len(rows) == 8
    again = {(r["centroid_id"], tuple(r["embedding"])) for r in S.kmeans_centroids(e, k=8, n_iter=3).collect()}
    assert {(r["centroid_id"], tuple(r["embedding"])) for r in rows} == again
    init = S.kmeans_centroids(e, k=8, n_iter=0)
    assert objective(trained) > objective(init)


def test_deterministic_sample_boundaries(spark, sf_dir):
    """pct=100 keeps everything (the 8-hex threshold can't encode 2^32 —
    the ADVICE-flagged bug kept ~6% instead), pct=0 keeps nothing, and
    samples nest (pct=5 ⊆ pct=20)."""
    from flink_dts_connector_spark.operators import curation as C

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    assert C.deterministic_sample(docs, 100).count() == n
    assert C.deterministic_sample(docs, 0).count() == 0
    ids5 = {r["doc_id"] for r in C.deterministic_sample(docs, 5).select("doc_id").collect()}
    ids20 = {r["doc_id"] for r in C.deterministic_sample(docs, 20).select("doc_id").collect()}
    assert ids5 <= ids20
    assert 0 < len(ids5) < len(ids20) < n


def test_hot_shingle_cap_preserves_threshold_pairs(spark, sf_dir):
    """The document-frequency cap (MMDS boilerplate guard) must be BINDING
    on the fixtures (some shingles actually dropped) yet leave the
    threshold-level pair set unchanged: near-dup pairs share many rare
    shingles, so losing hot ones only trims the candidate fan-out. Reported
    (n_inter, n_union) stay exact because verification uses full sets."""
    from flink_dts_connector_spark.operators.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(shingles("text", 3)).alias("s"))
    df_counts = ex.groupBy("s").count()
    max_df = 4
    n_hot = df_counts.where(F.col("count") > max_df).count()
    assert n_hot > 0, "cap not binding on this fixture — lower max_df"
    kept = D.drop_hot_shingles(ex, max_df)
    assert kept.count() == ex.count() - df_counts.where(
        F.col("count") > max_df
    ).agg(F.sum("count")).first()[0]

    base = {
        (r["a_id"], r["b_id"], r["n_inter"], r["n_union"])
        for r in D.jaccard_pairs(docs, threshold_pct=50).collect()
    }
    capped = {
        (r["a_id"], r["b_id"], r["n_inter"], r["n_union"])
        for r in D.jaccard_pairs(docs, threshold_pct=50, max_df=max_df).collect()
    }
    assert capped == base

    # LSH with the cap: still exact-verified (subset of exact@50), and the
    # cap must not collapse recall vs the uncapped LSH run
    lsh = {(r["a_id"], r["b_id"]) for r in D.minhash_lsh_dedup_pairs(docs, 50).collect()}
    lsh_capped = {
        (r["a_id"], r["b_id"])
        for r in D.minhash_lsh_dedup_pairs(docs, 50, max_df=max_df).collect()
    }
    exact50 = {(a, b) for a, b, *_ in base}
    assert lsh_capped <= exact50
    assert len(lsh_capped) >= int(0.8 * len(lsh))


def test_decontaminate_semantics(spark, sf_dir):
    """Every probe document with ≥n tokens contaminates itself (shares its
    own n-grams), survivors ∪ hits partition the corpus, and survivors
    share NO n-gram with the probe set."""
    from flink_dts_connector_spark.operators import curation as C
    from flink_dts_connector_spark.operators.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 37 == 0)
    hits = {r["doc_id"] for r in C.contaminated_ids(docs, probe, n=7).collect()}
    surv = {r["doc_id"] for r in C.decontaminate(docs, probe, n=7).select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    probe_long = {
        r["doc_id"]
        for r in probe.select("doc_id", F.size(shingles("text", 7)).alias("k")).collect()
        if r["k"] > 0
    }
    assert probe_long <= hits
    assert hits | surv == all_ids and not (hits & surv)
    # survivors truly share no 7-gram with the probe
    pg = probe.select(F.explode(shingles("text", 7)).alias("g")).distinct()
    sg = (
        docs.join(spark.createDataFrame([(i,) for i in surv], ["doc_id"]), "doc_id")
        .select(F.explode(shingles("text", 7)).alias("g"))
        .distinct()
    )
    assert sg.join(pg, "g").count() == 0


def test_minhash_explode_min_equals_array_signature(spark, sf_dir):
    """The pipeline computes signature mins by explode + grouped MIN (the
    codegen'd shape); `minhash_signature` is the array-level spec of the
    same affine-permutation family. Pin them bit-equal so the fast path
    can never drift from the spec."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    sh = D._shingled(docs, "doc_id", "text", 3, spread=False).where(F.size("sh") > 0)
    spec_sig = sh.select(
        "id", *[s.alias(f"mh{i}") for i, s in enumerate(D.minhash_signature(F.col("sh"), 8))]
    )
    base = sh.select("id", F.explode("sh").alias("s")).withColumn(
        "h", F.pmod(F.xxhash64("s", F.lit(42)), F.lit(D._P))
    )
    fast_sig = base.groupBy("id").agg(
        *[
            F.min((F.lit(2 * i + 1) * F.col("h") + F.lit(1000003 * (i + 1))) % F.lit(D._P)).alias(
                f"mh{i}"
            )
            for i in range(8)
        ]
    )
    cols = ["id"] + [f"mh{i}" for i in range(8)]
    assert sorted(map(tuple, spec_sig.select(*cols).collect())) == sorted(
        map(tuple, fast_sig.select(*cols).collect())
    )


def test_kgram_sketch_by_id_equals_expression(spark, sf_dir):
    """The codegen explode/substring/md5 sketch path must match the
    `kgram_sketch` array-expression spec bit-for-bit, including short and
    empty texts (windows shorter than k)."""
    from flink_dts_connector_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents").limit(100)
    edge = spark.createDataFrame(
        [(900001, ""), (900002, "short"), (900003, "exactly sixteen!")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    spec = {
        r["doc_id"]: r["sk"]
        for r in both.select("doc_id", X.kgram_sketch("text").alias("sk")).collect()
    }
    fast = {
        r["doc_id"]: r["sketch"]
        for r in X.kgram_sketch_by_id(both, "doc_id", "text").collect()
    }
    assert spec == fast


def test_token_budget_equals_global_window(spark, sf_dir):
    """The two-phase bucket plan must select EXACTLY the set the naive
    global-window formulation selects, including the mid-bucket cut."""
    from pyspark.sql import Window

    from flink_dts_connector_spark.operators import text as X
    from flink_dts_connector_spark.operators.curation import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    toks = X.token_count("text")
    scored = docs.select(
        "doc_id",
        # coarse score: many ties per bucket → boundary bucket holds
        # several docs, exercising the intra-bucket window split
        (toks / 20).cast("bigint").alias("score"),
        toks.alias("n_tokens"),
    )
    for pct in (0, 37, 60, 100):
        got = {
            r["doc_id"] for r in token_budget_select(scored, pct, "score", "n_tokens").collect()
        }
        w = Window.orderBy(F.col("score").desc(), "doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        total = scored.groupBy().agg(F.sum("n_tokens")).collect()[0][0]
        budget = (total * pct) // 100
        naive = {
            r["doc_id"]
            for r in scored.withColumn(
                "_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
            )
            .where(F.col("_before") < F.lit(budget))
            .collect()
        }
        assert got == naive, f"pct={pct}: two-phase != global window"


def test_mixture_resample_quotas(spark, sf_dir):
    """Kept counts must be exactly floor(w_g · avail_b / w_b) with the
    binding group kept whole; unknown groups dropped; selection nested in
    the hash order (deterministic)."""
    from flink_dts_connector_spark.operators.curation import mixture_resample

    docs = load_table(spark, sf_dir, "documents")
    weights = {"src0": 5, "src1": 3, "src2": 2}
    avail = {
        r["source"]: r["c"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()
        if r["source"] in weights
    }
    b_src = min(avail, key=lambda s: (avail[s] / weights[s], avail[s], weights[s]))
    expect = {
        s: (weights[s] * avail[b_src]) // weights[b_src] for s in weights
    }
    out = mixture_resample(docs, weights)
    got = {
        r["source"]: r["c"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == expect
    assert got[b_src] == avail[b_src], "binding group must be kept whole"
    # determinism: rerun identical
    again = {r["doc_id"] for r in mixture_resample(docs, weights).collect()}
    assert again == {r["doc_id"] for r in out.collect()}


def test_shard_assign_stable_and_in_range(spark, sf_dir):
    """Shard ids ∈ [0, n); assignment independent of partition layout."""
    from flink_dts_connector_spark.operators.curation import shard_assign

    docs = load_table(spark, sf_dir, "documents")
    a = {(r["doc_id"], r["shard_id"]) for r in shard_assign(docs, 16).collect()}
    b = {
        (r["doc_id"], r["shard_id"])
        for r in shard_assign(docs.repartition(13), 16).collect()
    }
    assert a == b
    assert all(0 <= s < 16 for _, s in a)


def test_keep_best_per_cluster_argmax(spark):
    """Survivor must be the max-quality member (ties → min id), one row
    per component, n_members preserved."""
    from flink_dts_connector_spark.operators.graph import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3), (10, 10, 2), (11, 10, 2)],
        "doc_id long, component long, n_members long",
    )
    quality = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4)], "doc_id long, q long"
    )
    rows = {
        r["component"]: (r["keep_id"], r["keep_quality"], r["n_members"])
        for r in keep_best_per_cluster(clusters, quality, "q").collect()
    }
    assert rows == {1: (2, 9, 3), 10: (10, 4, 2)}


def test_ivf_cells_as_partition_pruning(spark, sf_dir, tmp_path):
    """The IVF 100 TB story made concrete: materialize vectors PARTITIONED
    BY their coarse-quantizer cell, then probe a query's nprobe cells and
    assert the parquet scan reads ONLY those partitions (partition filters
    present, non-probed cell directories untouched) — index-as-layout, no
    index structure needed."""
    import os
    import re

    from flink_dts_connector_spark.operators.similarity import ivf_assign_cells

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = ivf_assign_cells(emb, cents)
    out = str(tmp_path / "ivf")
    assigned.write.partitionBy("cell").parquet(out)

    cells = [r["cell"] for r in assigned.select("cell").distinct().limit(2).collect()]
    probed = spark.read.parquet(out).where(F.col("cell").isin(cells))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:800]
    # physical proof: the scan's selected partition count equals nprobe
    n_cells_total = len([d for d in os.listdir(out) if d.startswith("cell=")])
    assert n_cells_total > len(cells)
    got = {r["cell"] for r in probed.select("cell").distinct().collect()}
    assert got == set(cells)


def test_snapshot_diff_classification(spark):
    """I/U/D classification + unchanged rows dropped, on a synthetic pair."""
    from flink_dts_connector_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma CHANGED"), (4, "delta")], "doc_id long, text string"
    )
    got = {(r["doc_id"], r["op"]) for r in snapshot_diff(old, new).collect()}
    assert got == {(1, "D"), (3, "U"), (4, "I")}


def test_incremental_pipeline_equals_full_rebuild(spark):
    """incremental_pipeline_update over the snapshot delta must equal the
    full pipeline rebuilt from scratch on the new snapshot ROW-FOR-ROW at
    sf0.01 (doc-level kept set, before any manifest aggregation) — and the
    recompute region must be a strict subset of the corpus (it really is
    incremental, not a disguised rebuild)."""
    from flink_dts_connector_spark.operators import curation as C
    from flink_dts_connector_spark.operators import dedup as DD
    from flink_dts_connector_spark.operators import text as X

    sf01 = "/root/testdata/sf0.01"
    docs = load_table(spark, sf01, "documents")
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

    def gate(d):
        return d.where((toks >= 20) & (non_alnum * 10 < chars * 3)).select(
            "doc_id", "text", "n_chars"
        )

    prior_kept = C.decontaminate(DD.dedup_exact(gate(old)), probe, n=7)
    incr = C.incremental_pipeline_update(prior_kept, old, new, probe, gate, ngram_n=7)
    full = C.decontaminate(DD.dedup_exact(gate(new)), probe, n=7)
    got = {(r["doc_id"], r["text"], r["n_chars"]) for r in incr.collect()}
    want = {(r["doc_id"], r["text"], r["n_chars"]) for r in full.collect()}
    assert got == want

    # incrementality: the delta touches a strict minority of the corpus
    n_docs = new.count()
    diff = C.snapshot_diff(old, new)
    assert 0 < diff.count() < n_docs // 2


def test_minhash_probe_equals_full_restricted_to_delta(spark, sf_dir):
    """The incremental band-index probe must return EXACTLY the full-corpus
    md5-LSH pair set restricted to pairs touching the delta — same
    candidates, same exact-Jaccard verdicts — while recomputing no corpus
    signature (the index side is the materialized state)."""
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.where(F.col("doc_id") % 13 == 0)
    old = docs.where(F.col("doc_id") % 13 != 0)
    index = D.minhash_band_index_md5(old)
    corpus_sh = D._shingled(old, "doc_id", "text", 3)
    probe = {
        (r["a_id"], r["b_id"], r["n_inter"], r["n_union"])
        for r in D.minhash_lsh_probe_md5(delta, index, corpus_sh, 50).collect()
    }
    full = {
        (r["a_id"], r["b_id"], r["n_inter"], r["n_union"])
        for r in D.minhash_lsh_dedup_pairs_md5(docs, 50).collect()
        if r["a_id"] % 13 == 0 or r["b_id"] % 13 == 0
    }
    assert probe == full


def test_pq_ann_scores_exact_and_recall(spark, sf_dir):
    """PQ hits carry brute-force-identical rerank scores (exact quantized
    scorer on the shortlist), and the ADC shortlist at top_r=50 recalls a
    solid share of the true top-5."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf_all = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in S.brute_force_topk(e, q, k=1000).collect()
    }
    bf_top5: dict = {}
    for r in S.brute_force_topk(e, q, k=5).collect():
        bf_top5.setdefault(r["query_id"], set()).add(r["vec_id"])
    pq = S.pq_topk(e, q, k=5).collect()
    assert len(pq) > 0
    for r in pq:
        assert bf_all[(r["query_id"], r["vec_id"])] == r["score"]
    hits = sum(
        1 for r in pq if r["vec_id"] in bf_top5.get(r["query_id"], set())
    )
    total = sum(len(v) for v in bf_top5.values())
    assert hits / total >= 0.4, f"PQ recall {hits}/{total} too low"


def test_containment_orientation_and_superset_of_jaccard(spark, sf_dir):
    """Containment ≥ Jaccard for every pair, so the Jaccard-0.60 pair set
    must be a subset of containment-0.60 pairs (as unordered pairs); and the
    orientation invariant holds: contained doc's shingle set is never larger
    than the container's."""
    docs = load_table(spark, sf_dir, "documents")
    cont = D.containment_pairs(docs, threshold_pct=60).collect()
    jac = D.jaccard_pairs(docs, threshold_pct=60).collect()
    cont_pairs = {frozenset((r["contained_id"], r["container_id"])) for r in cont}
    jac_pairs = {frozenset((r["a_id"], r["b_id"])) for r in jac}
    assert jac_pairs <= cont_pairs
    # a full-duplicate doc pair must orient smaller-id-as-contained
    dup = docs.limit(5).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    both = docs.limit(5).unionByName(dup)
    rows = D.containment_pairs(both, threshold_pct=90).collect()
    for r in rows:
        assert r["contained_id"] < r["container_id"]
        assert abs(r["containment"] - 1.0) < 1e-12


def test_prefix_filter_pairs_equals_exact_join(spark, sf_dir):
    """Prefix filtering is EXACT-recall by construction (the lemma in
    `prefix_filter_pairs`' docstring): at the same threshold its output
    must be row-identical to the full shingle self-join — at 0.60 and at
    the looser 0.30 where candidate pruning does the least work."""
    docs = load_table(spark, sf_dir, "documents")
    for t in (60, 30):
        exact = {
            (r["a_id"], r["b_id"], r["n_inter"], r["n_union"])
            for r in D.jaccard_pairs(docs, threshold_pct=t).collect()
        }
        pf = {
            (r["a_id"], r["b_id"], r["n_inter"], r["n_union"])
            for r in D.prefix_filter_pairs(docs, threshold_pct=t).collect()
        }
        assert pf == exact and len(exact) > 0, f"t={t}: {len(pf)} vs {len(exact)}"


def test_prefix_filter_prunes_candidates(spark, sf_dir):
    """The point of the prefix: the candidate pair set fed to verification
    must be strictly smaller than the full shingle-join's candidate set
    (docs sharing ANY shingle)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D._shingled(docs, "doc_id", "text", 3)
    ex = sh.select("id", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    full_cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
        .count()
    )
    # re-derive the prefix candidate count with the operator's own pieces
    shn = sh.withColumn("n_sh", F.size("sh").cast("bigint"))
    exn = shn.select("id", "n_sh", F.explode("sh").alias("s"))
    dfs = exn.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    plen = (
        F.col("n_sh")
        - F.floor((F.lit(60) * F.col("n_sh") + F.lit(99)) / F.lit(100))
        + F.lit(1)
    )
    pref = (
        exn.join(dfs, "s")
        .groupBy("id")
        .agg(
            F.first("n_sh").alias("n_sh"),
            F.array_sort(F.collect_list(F.struct("df", "s"))).alias("toks"),
        )
        .select("id", "n_sh", F.explode(F.slice("toks", F.lit(1), plen)).alias("tok"))
        .select("id", "n_sh", F.col("tok.s").alias("s"))
    )
    pa = pref.select(F.col("id").alias("a_id"), F.col("n_sh").alias("n_a"), "s")
    pb = pref.select(F.col("id").alias("b_id"), F.col("n_sh").alias("n_b"), "s")
    pf_cand = (
        pa.join(pb, "s")
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.lit(100) * F.col("n_a") >= F.lit(60) * F.col("n_b"))
            & (F.lit(100) * F.col("n_b") >= F.lit(60) * F.col("n_a"))
        )
        .select("a_id", "b_id")
        .distinct()
        .count()
    )
    assert pf_cand < full_cand, (pf_cand, full_cand)


def test_chunk_windows_cover_every_token(spark, sf_dir):
    """Chunking invariants: chunk k starts at 1+48k; consecutive chunks
    overlap by 16 tokens (window 64, stride 48); the union of [start,
    start+len) covers 1..n_tokens with no gap; every doc yields ≥1 chunk."""
    from flink_dts_connector_spark.operators.curation import chunk_windows
    from flink_dts_connector_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_windows(docs, window=64, stride=48).collect()
    n_tok = {r["doc_id"]: r["n"] for r in docs.select("doc_id", token_count("text").alias("n")).collect()}
    by_doc: dict = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_tok)  # every doc chunked (all have ≥1 token)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        for k, r in enumerate(rows):
            assert r["chunk_id"] == k
            assert r["start_tok"] == 1 + 48 * k
            assert r["n_chunk_tokens"] == min(64, n_tok[doc_id] - r["start_tok"] + 1)
        last = rows[-1]
        assert last["start_tok"] + last["n_chunk_tokens"] - 1 == n_tok[doc_id]


def test_rare_bigram_fraction_bounds_and_total(spark, sf_dir):
    """Per-doc invariants: 0 ≤ n_rare ≤ n_bigrams; n_bigrams = n_tokens−1
    for docs with ≥2 tokens; a corpus made of one doc repeated 3× has zero
    rare bigrams at rare_max=2... but 3 occurrences > 2 → rare only if ≤2:
    exactly zero rare positions."""
    from flink_dts_connector_spark.operators.text import rare_bigram_metrics, token_count

    docs = load_table(spark, sf_dir, "documents")
    out = rare_bigram_metrics(docs, rare_max=2)
    toks = docs.select("doc_id", token_count("text").alias("n_tok"))
    j = out.join(toks, "doc_id").collect()
    for r in j:
        assert 0 <= r["n_rare"] <= r["n_bigrams"]
        expected = max(0, r["n_tok"] - 1)
        assert r["n_bigrams"] == expected
    one = docs.limit(1)
    tripled = one.unionByName(
        one.select((F.col("doc_id") + 1).alias("doc_id"), "text", "lang", "source", "n_chars")
    ).unionByName(
        one.select((F.col("doc_id") + 2).alias("doc_id"), "text", "lang", "source", "n_chars")
    )
    rows = rare_bigram_metrics(tripled, rare_max=2).collect()
    assert all(r["n_rare"] == 0 for r in rows), rows


def test_bm25_scores_match_pure_python(spark, sf_dir):
    """BM25 engine output equals a from-scratch Python reimplementation of
    the rational-idf formula on the same corpus (independent of the SQL
    oracle, which shares no code with this either)."""
    import math
    from collections import Counter

    from flink_dts_connector_spark.operators.search import bm25_topk

    docs = load_table(spark, sf_dir, "documents").limit(200)
    rows = docs.select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].strip().split() for r in rows}
    N = len(toks)
    SD = sum(len(t) for t in toks.values())
    df = Counter()
    for t in toks.values():
        df.update(set(t))
    stop = {"the", "a", "of", "and"}
    cand = sorted(
        ((-df[w], w) for w in df if len(w) >= 4 and w not in stop)
    )[:8]
    queries: dict = {}
    for rnk, (_negdf, w) in enumerate(cand, start=1):
        queries.setdefault((rnk - 1) // 2, []).append(w)
    expect = {}
    for qid, terms in queries.items():
        scores = {}
        for did, t in toks.items():
            tf_map = Counter(t)
            s6 = 0
            hit = False
            for w in terms:
                tf = tf_map.get(w, 0)
                if tf == 0:
                    continue
                hit = True
                tfc = min(tf, 1000)
                idf6 = ((N - df[w]) * 1000000) // N
                avgdl3 = (SD * 1000) // N
                num = float(idf6 * tfc * 22 * avgdl3)
                den = float(10 * tfc * avgdl3 + 3 * avgdl3 + 9 * len(t) * 1000)
                s6 += math.floor(num / den * 1000000.0)
            if hit:
                scores[did] = s6
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        for rank, (did, s6) in enumerate(top, start=1):
            expect[(qid, did)] = (s6, rank)
    got = {
        (r["query_id"], r["doc_id"]): (r["score6"], r["rank"])
        for r in bm25_topk(docs, k=10).collect()
    }
    assert got == expect


def test_minhash_probe_handles_update_delta(spark, sf_dir):
    """An UPDATE delta (ids already present in the index) must behave as if
    the index had been built without those ids: stale bands generate no
    candidates, verification uses only the NEW text, and no candidate pair
    fans out into duplicate rows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    updated = docs.where(F.col("doc_id") % 13 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" updated tail"))
    )
    unchanged = docs.where(F.col("doc_id") % 13 != 0)
    new_corpus = unchanged.unionByName(updated)
    # index/store built over the FULL old corpus — delta ids overlap it
    index = D.minhash_band_index_md5(docs)
    corpus_sh = D._shingled(docs, "doc_id", "text", 3)
    out = D.minhash_lsh_probe_md5(updated, index, corpus_sh, 50).collect()
    pairs = [(r["a_id"], r["b_id"]) for r in out]
    assert len(pairs) == len(set(pairs)), "candidate fan-out duplicated pairs"
    probe = {(r["a_id"], r["b_id"], r["n_inter"], r["n_union"]) for r in out}
    full = {
        (r["a_id"], r["b_id"], r["n_inter"], r["n_union"])
        for r in D.minhash_lsh_dedup_pairs_md5(new_corpus, 50).collect()
        if r["a_id"] % 13 == 0 or r["b_id"] % 13 == 0
    }
    assert probe == full


def test_containment_max_df_verifies_on_full_sets(spark):
    """A fully-contained pair whose overlap includes boilerplate (hot)
    shingles must still be reported with containment 1.0 when max_df
    drops the hot shingles from the CANDIDATE join — the verification
    pass recounts the intersection on full shingle sets."""
    boiler = "all rights reserved by the boiler plate company"
    unique = "quick zebra vaults over nine lazy xylophones daily"
    rows = [(1, f"{boiler} {unique}"), (2, f"{boiler} {unique} extra tail words here")]
    rows += [(10 + i, f"{boiler} filler document number {i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["contained_id"], r["container_id"]): (r["n_inter"], r["containment"])
        for r in D.containment_pairs(df, threshold_pct=90, max_df=5).collect()
    }
    assert (1, 2) in got, f"contained pair lost under max_df: {sorted(got)}"
    n_inter, cont = got[(1, 2)]
    full = {
        (r["contained_id"], r["container_id"]): (r["n_inter"], r["containment"])
        for r in D.containment_pairs(df, threshold_pct=90).collect()
    }
    assert got[(1, 2)] == full[(1, 2)]
    assert abs(cont - 1.0) < 1e-12


def test_txn_apply_survives_duplicate_delivery(spark):
    """At-least-once redelivery of a statement must not mark its complete
    transaction torn (all-or-none would silently DROP delivered data) and
    must apply the statement exactly once."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.operators.changelog import (
        apply_complete_txns,
        txn_manifest,
    )
    from flink_dts_connector_spark.sources.zoo import N_TXNS, generate_txn_bytes

    raw = generate_txn_bytes(spark, include_torn=True)
    dup = raw.where(F.col("offset") % 3 == 0).withColumn(
        "offset", F.col("offset") + 100000
    )
    env = decode_cdc(raw.unionByName(dup))
    man = {r["transaction_id"]: r for r in txn_manifest(env).collect()}
    torn_id = f"txn-{N_TXNS:04d}"
    assert man[torn_id]["seq_contiguous"] is False  # torn stays torn
    complete = [t for t in man if t != torn_id]
    assert all(man[t]["seq_contiguous"] for t in complete), (
        "duplicate delivery marked a complete txn torn"
    )
    applied = apply_complete_txns(env)
    baseline = apply_complete_txns(decode_cdc(generate_txn_bytes(spark, include_torn=True)))
    assert applied.count() == baseline.count()  # exactly-once apply
    # per-(txn, seq) multiplicity is exactly 1
    multi = (
        applied.groupBy("transaction_id", "trans_seq")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert multi == 0


def test_shared_spans_exact_boundaries_and_maximality(spark):
    """A planted 10-token shared passage is reported ONCE, at the exact
    positions, with the exact length — not as several fragments (island
    merge works) and not extended past the divergence point."""
    from flink_dts_connector_spark.operators.dedup import shared_spans

    passage = " ".join(f"p{i}" for i in range(10))
    rows = [
        (1, f"a0 a1 a2 {passage} z0 z1"),          # passage at tokens 4..13
        (2, f"b0 {passage} y0 y1 y2 y3"),          # passage at tokens 2..11
        (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),      # no overlap
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = shared_spans(df, k=6, min_span=8, max_df=16).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert (r.a_start, r.b_start, r.span_tokens) == (4, 2, 10)


def test_shared_spans_df_cap_is_conservative(spark):
    """A gram shared by MANY docs is dropped by the cap; spans it carried
    shrink or vanish but no spurious span appears."""
    from flink_dts_connector_spark.operators.dedup import shared_spans

    common = " ".join(f"w{i}" for i in range(6))
    rows = [(i, f"u{i} {common} v{i}") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # df of the common 6-gram is 10 > max_df=4 -> no pairs at all
    assert shared_spans(df, k=6, min_span=6, max_df=4).count() == 0
    # with the cap open, every pair shares exactly that 6-token span
    out = shared_spans(df, k=6, min_span=6, max_df=1000)
    assert out.count() == 45
    assert out.where("span_tokens != 6").count() == 0


def test_power_iteration_matches_pure_python_bit_exact(spark, sf_dir):
    """The distributed integer power iteration must equal a from-scratch
    pure-Python replication of the SAME integer algorithm bit-for-bit
    (implementation check independent of the DuckDB oracle), and its
    direction must beat a generic direction's Rayleigh quotient by a
    clear margin (sanity floor — the fixture embeddings are near-isotropic,
    second eigenvalue ~0.93 of top, so deep convergence is a data
    property, not a correctness property)."""
    import numpy as np

    from flink_dts_connector_spark.operators.similarity import power_iteration_top_dir
    from flink_dts_connector_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = {r.dim: r.component for r in
           power_iteration_top_dir(emb, dim=64, n_iter=3, scale=1000).collect()}

    X = np.array(
        [row.embedding for row in emb.select("embedding").collect()], dtype=np.float64
    )
    Xq = np.round(X * 1_000_000).astype(object)  # exact python ints
    scale = 1000
    v = [scale] * 64
    for _ in range(3):
        dots = [sum(int(x) * int(vd) for x, vd in zip(row, v)) for row in Xq]
        y = [sum(int(row[d]) * dot for row, dot in zip(Xq, dots)) for d in range(64)]
        m = max(abs(yy) for yy in y)
        v = [(abs(yy) * scale // m) * (1 if yy >= 0 else -1) for yy in y]
    assert out == {d + 1: v[d] for d in range(64)}

    G = (np.array([[float(x) for x in r] for r in Xq])).T @ np.array(
        [[float(x) for x in r] for r in Xq]
    )
    vv = np.array([float(x) for x in v])
    rq = (vv @ G @ vv) / (vv @ vv)
    mean_ev = np.trace(G) / 64  # a random direction's expected quotient
    # flat fixture spectrum: top/mean is only ~1.5x — 1.3x floors a real
    # direction without encoding the data's exact anisotropy
    assert rq > 1.3 * mean_ev


def test_leakage_repair_eliminates_cross_split_pairs(spark, sf_dir):
    """After the deterministic repair, NO near-dup pair crosses a split
    boundary among surviving docs — every cross pair lost (at least) its
    lower-priority side."""
    from flink_dts_connector_spark.operators.dedup import jaccard_pairs, md5_number_lower_mod
    from flink_dts_connector_spark.session import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    h = md5_number_lower_mod(F.col("doc_id").cast("string"), 100)
    split = F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    docs = d.select("doc_id", split.alias("split"))
    pairs = jaccard_pairs(d, threshold_pct=30).select("a_id", "b_id")
    pa = docs.select(F.col("doc_id").alias("a_id"), F.col("split").alias("sa"))
    pb = docs.select(F.col("doc_id").alias("b_id"), F.col("split").alias("sb"))
    cross = pairs.join(pa, "a_id").join(pb, "b_id").where(F.col("sa") != F.col("sb"))
    assert cross.count() > 0, "fixture must actually exhibit leakage"

    def prio(c):
        return F.when(F.col(c) == "train", 0).when(F.col(c) == "val", 1).otherwise(2)

    drops = (
        cross.select(
            F.when(prio("sa") >= prio("sb"), F.col("a_id"))
            .otherwise(F.col("b_id"))
            .alias("doc_id")
        ).distinct()
    )
    surv = docs.join(drops, "doc_id", "left_anti")
    sa2 = surv.select(F.col("doc_id").alias("a_id"), F.col("split").alias("sa"))
    sb2 = surv.select(F.col("doc_id").alias("b_id"), F.col("split").alias("sb"))
    remaining = pairs.join(sa2, "a_id").join(sb2, "b_id").where(F.col("sa") != F.col("sb"))
    assert remaining.count() == 0


def test_quality_rule_flags_match_pure_python(spark, sf_dir):
    """Every rule verdict equals a from-scratch Python recompute of the same
    integer predicate, and any_rule is exactly the OR of the five rules."""
    import re

    from flink_dts_connector_spark.operators.text import QUALITY_RULES, quality_rule_flags

    docs = load_table(spark, sf_dir, "documents")
    got = {r["doc_id"]: r.asDict() for r in quality_rule_flags(docs).collect()}
    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows) > 0
    any_fail_seen = 0
    for r in rows:
        toks = r["text"].strip().split()
        nt, nc = len(toks), len(r["text"])
        sw = sum(1 for w in toks if w in ("the", "a", "of", "and"))
        na = nc - len(re.sub(r"[^a-zA-Z0-9]", "", r["text"]))
        want = {
            "min_tokens": int(nt < 30),
            "max_tokens": int(nt > 80),
            "stopword_floor": int(sw * 50 < nt),
            "symbol_ceiling": int(na * 100 > nc * 19),
            "word_length": int(nc < nt * 5),
        }
        g = got[r["doc_id"]]
        for name, _ in QUALITY_RULES:
            assert g[name] == want[name], (r["doc_id"], name)
        assert g["any_rule"] == max(want.values())
        any_fail_seen |= g["any_rule"]
    assert any_fail_seen == 1  # the rule set splits the corpus non-vacuously


def test_phrase_positions_are_real_occurrences(spark, sf_dir):
    """search_phrase_positions returns the corpus-wide most-frequent trigram
    and every (doc, pos) it returns really holds that phrase at that
    1-based token position; no occurrence is missed."""
    from collections import Counter

    from flink_dts_connector_spark.plans.registry import get_query

    out = get_query("search_phrase_positions").fn(spark, sf_dir).collect()
    assert out
    phrase = out[0]["phrase"]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    counts: Counter[str] = Counter()
    occs = set()
    for r in docs:
        toks = r["text"].strip().split()
        for i in range(len(toks) - 2):
            p = " ".join(toks[i : i + 3])
            counts[p] += 1
            if p == phrase:
                occs.add((r["doc_id"], i + 1))
    best = max(counts.values())
    assert counts[phrase] == best
    assert phrase == min(p for p, c in counts.items() if c == best)  # tiebreak
    assert {(r["doc_id"], r["pos"]) for r in out} == occs


def test_sparse_profile_merge_is_column_level_lww(spark, sf_dir):
    """Per-column last-writer-wins: each profile column equals the value of
    the latest event of that type (ts, then event_id, descending), columns
    never written stay NULL, and last_update is the user's latest write."""
    from flink_dts_connector_spark.plans.registry import get_query

    out = {r["user_id"]: r.asDict() for r in
           get_query("events_sparse_profile_merge").fn(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").collect()
    want: dict[int, dict[str, tuple]] = {}
    for r in ev:
        u = want.setdefault(r["user_id"], {})
        key = (r["ts"], r["event_id"])
        if r["event_type"] not in u or key > u[r["event_type"]][0]:
            u[r["event_type"]] = (key, r["value"])
    assert set(out) == set(want)
    for uid, attrs in want.items():
        g = out[uid]
        for ty in ("click", "error", "purchase", "signup", "view"):
            exp = attrs[ty][1] if ty in attrs else None
            assert g[f"{ty}_value"] == exp, (uid, ty)
        assert g["last_update"] == max(k[0][0] for k in attrs.values())
        assert g["n_attrs"] == len(attrs)


def test_ivfpq_candidates_respect_probes_and_recall_floor(spark, sf_dir):
    """IVF-PQ structural invariant: every returned neighbor lives in one of
    its query's nprobe probed cells (the pruning really prunes), and
    recall@5 against exact brute force stays above the same floor the
    plain-IVF path is held to (PQ's ADC shortlist must not destroy the
    cell candidates)."""
    from flink_dts_connector_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign_cells,
        ivfpq_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") % 37 == 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivfpq_topk(e, q, cents, k=5, nprobe=3).collect()
    assert got

    cells = {r["vec_id"]: r["cell"] for r in ivf_assign_cells(e, cents).collect()}
    qcells = {
        r["query_id"]: r["cell"]
        for r in ivf_assign_cells(
            q, cents, id_col="query_id"
        ).collect()
    }
    # probe list per query: recompute top-3 cells exactly as the operator does
    probes: dict[int, set[int]] = {}
    import math

    cent_rows = cents.collect()
    qrows = {r["query_id"]: r["embedding"] for r in q.collect()}

    def quant(v):
        return [round(x * 1_000_000) for x in v]

    for qid, emb in qrows.items():
        qe = quant(emb)
        nq = sum(x * x for x in qe)
        scored = []
        for cr in cent_rows:
            ce = quant(cr["embedding"])
            s = sum(a * b for a, b in zip(qe, ce)) / math.sqrt(
                nq * sum(x * x for x in ce)
            )
            scored.append((-s, cr["centroid_id"]))
        scored.sort()
        probes[qid] = {cid for _, cid in scored[:3]}
    for r in got:
        assert cells[r["vec_id"]] in probes[r["query_id"]], (
            r["query_id"], r["vec_id"], cells[r["vec_id"]], probes[r["query_id"]],
        )

    truth = {
        (r["query_id"], r["vec_id"]) for r in brute_force_topk(e, q, k=5).collect()
    }
    hits = sum(1 for r in got if (r["query_id"], r["vec_id"]) in truth)
    assert hits / len(truth) >= 0.3  # same floor as the IVF recall pin


# ---------------------------------------------------------------------------
# round-6 wave 3: BFS hops + shard-top-k bound
# ---------------------------------------------------------------------------


def test_bfs_hops_matches_known_distances(spark):
    """Crafted graph: hub 1 with spokes {2,3}, chain 3-4-5, island {8,9}.
    Max-degree seed is node 3 (degree 2: 1 and 4... hub 1 also degree 2 —
    tie broken by min id → seed 1). Distances from 1 are known."""
    from flink_dts_connector_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4), (4, 5), (8, 9)], ["a_id", "b_id"]
    )
    got = {r["id"]: r["hops"] for r in bfs_hops(edges).collect()}
    # degrees: 1→2, 3→2, 4→2, others 1; tie on max degree → min id = 1
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_bfs_hops_respects_max_hops(spark):
    from flink_dts_connector_spark.operators.graph import bfs_hops

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], ["a_id", "b_id"]
    )
    got = {r["id"]: r["hops"] for r in bfs_hops(chain, max_hops=3).collect()}
    # max-degree tie among all interior nodes → min id seed = 2
    assert got[2] == 0
    assert max(got.values()) == 3
    assert set(got) == {1, 2, 3, 4, 5}  # radius-3 ball around 2


def test_shard_topk_bound_certifies_exact_counts(spark, sf_dir):
    """The [est_lo, est_hi] interval must contain the exact count for every
    reported token — the summary's defining guarantee (checked at the
    fixture SF for all 20 reported rows, not just spot rows)."""
    from flink_dts_connector_spark.plans.registry import get_query

    q = get_query("sketch_shard_topk_bound")
    rows = q.fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["est_lo"] <= r["exact_n"] <= r["est_hi"], r
        assert r["bound_holds"]


def test_spatial_blocked_join_equals_bruteforce_adversarial(spark):
    """r9 spatial family: the grid-blocked pair join is bit-identical to
    the in-Spark brute force on ADVERSARIAL layouts the md5 fixture can't
    hit — points exactly on cell boundaries, at exactly radius distance,
    collinear runs along a cell edge, duplicate coordinates, and a dense
    clump inside one cell. Exact int64 arithmetic: <= r*r is inclusive."""
    import random

    from flink_dts_connector_spark.operators.spatial import grid_neighbor_pairs

    r = 1000
    rng = random.Random(20260815)
    pts = []
    # cell-boundary points (multiples of r) and exact-radius pairs
    for k in range(6):
        pts.append((len(pts), k * r, 0))
        pts.append((len(pts), k * r, r))  # exactly r below the row above
    # collinear run along a cell edge
    for k in range(8):
        pts.append((len(pts), 3 * r, k * 300))
    # duplicate coordinates (dist 0) and a dense clump in one cell
    pts.append((len(pts), 7 * r + 13, 7 * r + 13))
    pts.append((len(pts), 7 * r + 13, 7 * r + 13))
    for _ in range(25):
        pts.append((len(pts), 7 * r + rng.randrange(r), 7 * r + rng.randrange(r)))
    # random scatter
    for _ in range(60):
        pts.append((len(pts), rng.randrange(0, 10 * r), rng.randrange(0, 10 * r)))

    df = spark.createDataFrame(pts, "pid long, x long, y long")
    blocked = {
        (row["id_a"], row["id_b"], row["dist_sq"])
        for row in grid_neighbor_pairs(df, "pid", "x", "y", r).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (row["ia"], row["ib"], row["d2"])
        for row in a.join(b, F.col("a.pid") < F.col("b.pid"))
        .select(
            F.col("a.pid").alias("ia"),
            F.col("b.pid").alias("ib"),
            (
                (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))
                + (F.col("a.y") - F.col("b.y")) * (F.col("a.y") - F.col("b.y"))
            ).alias("d2"),
        )
        .where(F.col("d2") <= r * r)
        .collect()
    }
    assert blocked == brute
    # the exact-radius pairs are present (boundary inclusive)
    assert any(d == r * r for _, _, d in blocked)
    # the duplicate-coordinate pair scores distance zero
    assert any(d == 0 for _, _, d in blocked)


def _brute_pairs(pts, r):
    """In-Python brute-force oracle for the grid joins (tiny fixtures)."""
    out = set()
    for i, (ia, xa, ya) in enumerate(pts):
        for ib, xb, yb in pts[i + 1 :]:
            lo, hi = (ia, ib) if ia < ib else (ib, ia)
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r * r:
                out.add((lo, hi, d2))
    return out


def test_spatial_blocked_join_negative_coordinates(spark):
    """r10 ADVICE fix: cell ids use exact floor division, so points
    straddling zero land in ADJACENT cells and qualifying pairs survive.
    Under truncate-toward-zero `div`, (-1, 0) and (1, 0) both mapped to
    cell 0 while (-r-1, 0) vs (-1, 0) mapped two cells apart and the pair
    at distance r was silently dropped."""
    from flink_dts_connector_spark.operators.spatial import grid_neighbor_pairs

    r = 1000
    pts = [
        (0, -1, 0),
        (1, 1, 0),             # dist 2 across the zero boundary
        (2, -r - 1, 0),        # exactly r from point 0
        (3, -r, -r),           # negative cell corner
        (4, -r + 1, -r + 1),
        (5, -3 * r, 2 * r),    # far away, pairs with nothing
        (6, r // 2, -r // 2),
    ]
    df = spark.createDataFrame(pts, "pid long, x long, y long")
    blocked = {
        (row["id_a"], row["id_b"], row["dist_sq"])
        for row in grid_neighbor_pairs(df, "pid", "x", "y", r).collect()
    }
    assert blocked == _brute_pairs(pts, r)
    assert (0, 2, r * r) in blocked  # the truncation-dropped pair


def test_spatial_salted_join_identical_on_hot_cell(spark):
    """r10: the hot-cell-salted grid join is bit-identical to the unsalted
    one on the adversarial all-points-in-one-cell layout, and the salt
    actually splits the hot cell: no (cell, salt) probe bucket holds more
    than 2x the mean candidate volume."""
    import random

    from flink_dts_connector_spark.operators.spatial import (
        grid_neighbor_pairs,
        grid_neighbor_pairs_salted,
    )

    r = 1000
    rng = random.Random(20260815)
    # one pathological cell with 120 points + a sprinkle of cold cells
    pts = [(i, 5 * r + rng.randrange(r), 5 * r + rng.randrange(r)) for i in range(120)]
    pts += [(200 + k, k * 3 * r, -2 * r + k * r) for k in range(6)]
    df = spark.createDataFrame(pts, "pid long, x long, y long")

    unsalted = {
        tuple(row) for row in grid_neighbor_pairs(df, "pid", "x", "y", r).collect()
    }
    salted_df = grid_neighbor_pairs_salted(
        df, "pid", "x", "y", r, salt=8, hot_threshold=64
    )
    salted = {tuple(row) for row in salted_df.collect()}
    assert salted == unsalted == _brute_pairs(pts, r)

    # skew check: reconstruct the (cell, salt) probe buckets the join
    # shuffles on and assert the hot cell's volume is genuinely spread —
    # max bucket <= 2x mean bucket among the hot cell's buckets.
    from flink_dts_connector_spark.operators.spatial import _cells, _probes
    from pyspark.sql import functions as SF

    cells = _cells(df, "pid", "x", "y", r)
    hot = (
        cells.groupBy("_cx", "_cy")
        .agg(SF.count(SF.lit(1)).alias("_n"))
        .where(SF.col("_n") >= 64)
        .select("_cx", "_cy")
    )
    buckets = (
        _probes(cells)
        .join(hot, ["_cx", "_cy"])  # hot-cell probes only
        .withColumn("_salt", SF.pmod(SF.xxhash64("_aid"), SF.lit(8)))
        .groupBy("_cx", "_cy", "_salt")
        .agg(SF.count(SF.lit(1)).alias("n"))
        .collect()
    )
    sizes = [row["n"] for row in buckets]
    assert len(sizes) >= 8  # the hot cell really fanned out over salts
    assert max(sizes) <= 2 * (sum(sizes) / len(sizes))


def test_spatial_salted_rejects_degenerate_salt(spark):
    from flink_dts_connector_spark.operators.spatial import grid_neighbor_pairs_salted

    df = spark.createDataFrame([(1, 0, 0)], "pid long, x long, y long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        grid_neighbor_pairs_salted(df, "pid", "x", "y", 10, salt=1)


def test_cosine_pairs_delta_enumerates_each_pair_once(spark):
    """`cosine_pairs_delta` (r11): streaming arrivals in any wave split
    must enumerate EXACTLY the batch pair set — (new x old) + (new x new)
    unioned over waves equals cosine_pairs over the full corpus, each
    pair once."""
    import random

    from flink_dts_connector_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_delta,
    )

    rng = random.Random(11)
    rows = [
        (i, i % 3, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    full = spark.createDataFrame(
        rows, "vec_id bigint, blk int, embedding array<float>"
    )
    want = sorted(
        (r["a_id"], r["b_id"], r["score"])
        for r in cosine_pairs(full, "blk", threshold=-1.0).collect()
    )
    for split in ([10, 20, 30], [1, 15, 29, 30], [30]):
        got = []
        lo = 0
        roster = full.where(F.lit(False))
        for hi in split:
            new = full.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            got.extend(
                (r["a_id"], r["b_id"], r["score"])
                for r in cosine_pairs_delta(new, roster, "blk", threshold=-1.0).collect()
            )
            roster = full.where(F.col("vec_id") < hi)
            lo = hi
        assert sorted(got) == want, f"split {split} diverged"


def test_cosine_pairs_delta_contract_violation_no_self_pairs(spark):
    """r11 ADVICE: if a vec_id appears in BOTH new and old (violating the
    documented 'old excludes new' contract), the cross join must not emit a
    self-pair (a_id == b_id, score 1) — least/greatest would otherwise mark
    the vector as its own duplicate and corrupt dedup survivor counts."""
    import random

    from flink_dts_connector_spark.operators.similarity import cosine_pairs_delta

    rng = random.Random(13)
    rows = [(i, 0, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id bigint, blk int, embedding array<float>")
    # worst violation: old == new (every id duplicated across the inputs)
    pairs = cosine_pairs_delta(df, df, "blk", threshold=-1.0).collect()
    assert pairs, "expected cross pairs"
    assert all(r["a_id"] != r["b_id"] for r in pairs), [
        (r["a_id"], r["b_id"]) for r in pairs if r["a_id"] == r["b_id"]
    ]


def test_cosine_pairs_tiled_exact(spark):
    """r13: the tiled-GEMM rewrite of `cosine_pairs` (locality chunks +
    angular tile prune + exact float64 dgemm verify) must be BIT-identical
    to the naive within-block pair join it replaced — same pair set, same
    IEEE-double scores — at the default chunk size AND under forced heavy
    tiling (chunk_target=4, many cross-chunk tiles), at a threshold low
    enough that most pairs qualify (stresses the prune's completeness)."""
    import random

    from flink_dts_connector_spark.operators.similarity import (
        cosine_pairs,
        cosine_q,
        dot_q,
        norm_sq_q,
        quantized,
    )

    rng = random.Random(17)
    # two blocks; block 1 gets planted near-dup clusters so the angular
    # prune has real structure to keep (and must not over-prune boundaries)
    rows = []
    for i in range(60):
        rows.append((i, 0, [rng.uniform(-1, 1) for _ in range(8)]))
    centers = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(3)]
    for i in range(60, 120):
        c = centers[i % 3]
        rows.append((i, 1, [x + rng.uniform(-0.05, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id bigint, blk int, embedding array<float>")

    def naive(items, block_col, threshold):
        a = items.select(
            F.col(block_col).alias("_blk"),
            F.col("vec_id").alias("a_id"),
            quantized("embedding").alias("_ae"),
        ).withColumn("_an", norm_sq_q("_ae"))
        b = items.select(
            F.col(block_col).alias("_blk"),
            F.col("vec_id").alias("b_id"),
            quantized("embedding").alias("_be"),
        ).withColumn("_bn", norm_sq_q("_be"))
        score = cosine_q(dot_q("_ae", "_be"), F.col("_an"), F.col("_bn"))
        return (
            a.join(b, (a["_blk"] == b["_blk"]) & (F.col("a_id") < F.col("b_id")))
            .select("a_id", "b_id", score.alias("score"))
            .where(F.col("score") >= threshold)
        )

    for th in (0.35, 0.0):
        want = sorted(tuple(r) for r in naive(df, "blk", th).collect())
        assert want, f"threshold {th}: fixture produced no qualifying pairs"
        got = sorted(tuple(r) for r in cosine_pairs(df, "blk", th).collect())
        assert got == want, f"threshold {th}: default tiling diverged"
        got4 = sorted(
            tuple(r) for r in cosine_pairs(df, "blk", th, chunk_target=4).collect()
        )
        assert got4 == want, f"threshold {th}: chunk_target=4 diverged"


def test_assign_gemm_matches_hof_path(spark):
    """r13: the cogroup-GEMM k-means assignment (`_assign_gemm`, the
    SF-aware-k fast path) must be BIT-identical to the broadcast-crossJoin
    HOF argmin — same cluster, same exact int64 dist², including the
    (dist², cid) tie-break — on data with planted exact ties."""
    import random

    from flink_dts_connector_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_int_centroids,
    )

    rng = random.Random(19)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)]
    # planted ties: duplicate vectors so several centroids sit at equal d2
    rows += [(1000 + i, rows[i % 20][1]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cent = kmeans_int_centroids(df, k=18, n_iter=1)  # >= ASSIGN_GEMM_MIN_K
    hof = assign_to_centroids(df, cent)  # k=None -> HOF path
    gemm = assign_to_centroids(df, cent, k=18)  # GEMM path
    want = sorted(tuple(r) for r in hof.collect())
    got = sorted(tuple(r) for r in gemm.collect())
    assert got == want
