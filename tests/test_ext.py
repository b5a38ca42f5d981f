"""Extension operators (SURVEY.md §2.9): dedup, similarity, text analysis,
multimodal plumbing."""

from pyspark.sql import functions as F

from dbt_trill_shop_spark.catalog import load_table
from dbt_trill_shop_spark.ext import dedup, multimodal, similarity, textstats


def _px_exact_dedup_keeps_min_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # expected survivors computed independently (pandas nunique on the raw
    # text, the same identity dedup_exact fingerprints) — the sf0.1 table
    # contains 8 organic exact-dup rows, so == docs.count() is wrong there
    n_distinct = int(docs.select("text").toPandas()["text"].nunique())
    union_dup = docs.union(docs.limit(10).withColumn("doc_id", F.col("doc_id") + 1_000_000))
    out = dedup.dedup_exact(union_dup)
    assert out.count() == n_distinct
    assert out.filter(F.col("doc_id") >= 1_000_000).count() == 0


def _px_minhash_finds_planted_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # plant near-dups: copy 5 docs with one word appended
    planted = (
        docs.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extraword")))
    )
    both = docs.union(planted)
    pairs = dedup.minhash_near_duplicates(both, jaccard_threshold=0.5, seed=42)
    found = pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1_000_000) & (F.col("id_a") < 5)
    ).count()
    assert found >= 4  # LSH is approximate; near-identical docs must mostly hit


def _px_simhash_near_dup_hamming(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    planted = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.union(planted)  # exact copies -> hamming 0
    pairs = dedup.simhash_near_duplicates(both)
    exact = pairs.filter(F.col("hamming") == 0).filter(
        F.col("id_b") - F.col("id_a") == 1_000_000
    )
    assert exact.count() == 3


def _px_cosine_topk_self_excluded(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk_bruteforce(emb, q, k=5).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    assert (out["query_id"] != out["neighbor_id"]).all()
    assert out.groupby("query_id")["rank"].max().eq(5).all()


def _px_lsh_topk_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk_bruteforce(emb, q, k=5).toPandas()
    approx = similarity.cosine_topk_lsh(emb, q, k=5, num_hash_tables=8).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    approx_set = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def _px_srp_topk_deterministic_candidates_and_recall(spark, sf_dir):
    """The deterministic SRP twin: output == exact-top-k-over-candidates by
    construction (the oracle checks that), so here we pin the ANN
    properties — real candidate reduction, a recall floor, and no
    cartesian fallback in the physical plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    bands = similarity.srp_band_keys(emb)
    pairs = (
        bands.selectExpr("vec_id AS query_id", "bidx", "bk")
        .filter(F.col("query_id") < 10)
        .join(bands.selectExpr("vec_id AS neighbor_id", "bidx", "bk"), ["bidx", "bk"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    avg_cands = pairs.count() / 10
    assert avg_cands < 0.5 * n, f"no candidate reduction: {avg_cands}/{n}"
    # 8 bands of 4 bits: the recall floor needs a band budget that grows
    # with corpus size — the default 4x4 config read 0.38 on the sf0.1
    # table (2000 vectors) against a bar calibrated at 500
    approx = similarity.cosine_topk_srp(emb, q, k=5, nbits=32, bands=8)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    exact = similarity.cosine_topk_bruteforce(emb, q, k=5).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    approx_pd = approx.toPandas()
    approx_set = set(map(tuple, approx_pd[["query_id", "neighbor_id"]].values))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"SRP recall too low: {recall}"
    # rerun is bit-identical (no hidden randomness anywhere in the pipeline)
    again = similarity.cosine_topk_srp(emb, q, k=5, nbits=32, bands=8).toPandas()
    assert approx_pd.sort_values(["query_id", "rank"]).reset_index(drop=True).equals(
        again.sort_values(["query_id", "rank"]).reset_index(drop=True)
    )


def test_ivf_assign_covers_all(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assign = similarity.ivf_assign(emb, n_cells=8)
    assert assign.count() == emb.count()
    assert assign.select("cell").distinct().count() <= 8


def _px_quality_and_langid_run(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    q = textstats.quality_score(docs)
    assert q.filter(F.col("quality_score") < 0).count() == 0
    lang = textstats.language_id(docs)
    assert lang.count() == docs.count()
    fp = textstats.fingerprint(docs)
    assert fp.select("md5_fingerprint").distinct().count() == docs.select("text").distinct().count()


def _px_multimodal_feature_extract(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.docs_as_media(docs)
    feats = multimodal.extract_features(media).toPandas()
    assert len(feats) == docs.count()
    assert (feats["n_bytes"] > 0).all()
    assert (feats["width"] >= 1).all() and (feats["width"] <= 640).all()
    sample = feats.iloc[0]
    import hashlib

    row = docs.filter(F.col("doc_id") == int(sample["media_id"])).collect()[0]
    assert sample["checksum"] == hashlib.md5(row["text"].encode()).hexdigest()


def test_frame_sample_plan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = multimodal.docs_as_media(docs)
    plan = multimodal.frame_sample_plan(media, every_n=10)
    pdf = plan.toPandas()
    assert (pdf["frame_idx"] % 10 == 0).all()


def _px_native_minhash_candidates_sound_and_high_recall(spark, sf_dir):
    """The banded-MinHash + exact-verify pipeline must emit ONLY true
    above-threshold pairs (exact verify => zero false positives) and recover
    most of the exact pair set (S-curve recall; deterministic given fixed
    data because the hash family is seeded xxhash64)."""
    from dbt_trill_shop_spark.ext.dedup import neardup_minhash_native, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    native = set(
        (r.id_a, r.id_b)
        for r in neardup_minhash_native(docs, jaccard_threshold=0.5).collect()
    )
    exact = set(
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    )
    assert native - exact == set(), "exact verification must kill false positives"
    assert len(native & exact) >= 0.8 * len(exact), (len(native), len(exact))


def _px_approx_count_distinct_accuracy(spark, sf_dir):
    """Both count(distinct) escape hatches stay accurate on every week
    bucket: the engine-native HLL demo (rsd=2%) within 5%, and the
    REGISTERED deterministic KMV bottom-k estimator (reformulated r10,
    VERDICT r9 #2) within its ~1/sqrt(k) envelope (k=64 -> 13% expected;
    asserted at 2x = 26%, and exact below k by construction)."""
    from dbt_trill_shop_spark.operators.analytics import (
        _KMV_K,
        weekly_unique_users_approx,
        weekly_unique_users_hll,
    )

    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.week: r.n
        for r in ev.groupBy(F.date_trunc("week", F.col("ts")).cast("date").alias("week"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {r.week: r.approx_unique_users for r in weekly_unique_users_hll(spark, sf_dir).collect()}
    assert approx.keys() == exact.keys()
    for wk, n in exact.items():
        assert abs(approx[wk] - n) <= max(0.05 * n, 2), (wk, approx[wk], n)
    kmv = {r.week: r.approx_unique_users for r in weekly_unique_users_approx(spark, sf_dir).collect()}
    assert kmv.keys() == exact.keys()
    for wk, n in exact.items():
        if n < _KMV_K:
            assert kmv[wk] == n, (wk, kmv[wk], n)  # exact below k
        else:
            assert abs(kmv[wk] - n) <= 0.26 * n, (wk, kmv[wk], n)


def test_stratified_sampling_and_mixture_plan(spark, sf_dir):
    """Mixture fractions must realize the target proportions (largest
    feasible subset) and the seeded sample must be deterministic."""
    from dbt_trill_shop_spark.ext.sampling import mixture_fractions, stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    counts = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    target = {k: 1.0 for k in counts}  # equal mix
    fr = mixture_fractions(counts, target)
    assert all(0.0 <= f <= 1.0 for f in fr.values())
    # the most-constrained stratum keeps everything
    assert max(fr.values()) > 0.999
    s1 = stratified_sample(docs, "lang", fr, seed=7).select("doc_id").collect()
    s2 = stratified_sample(docs, "lang", fr, seed=7).select("doc_id").collect()
    assert sorted(r.doc_id for r in s1) == sorted(r.doc_id for r in s2)
    got = {
        r.lang: r.n
        for r in stratified_sample(docs, "lang", fr, seed=7)
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    t = min(counts.values())  # equal-mix feasible size per stratum
    for k, n in got.items():
        assert abs(n - t) <= max(0.35 * t, 8), (k, n, t)  # Bernoulli tolerance


def test_hash_sample_boundary_fractions(spark, sf_dir):
    """fraction>=1.0 must keep every row (the 5-hex-char threshold '10000'
    used to lexicographically keep only ~6.25%) and fraction<=0 keeps none."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    assert hash_sample(docs, "doc_id", 1.0).count() == n
    assert hash_sample(docs, "doc_id", 1.5).count() == n
    assert hash_sample(docs, "doc_id", 0.0).count() == 0
    quarter = hash_sample(docs, "doc_id", 0.25).count()
    assert abs(quarter - 0.25 * n) <= max(0.15 * n, 16)


def test_pack_documents_capacity_and_order(spark, sf_dir):
    """No bin may exceed capacity, docs stay in id order within bins, and
    oversized docs are capped into their own allocation."""
    from dbt_trill_shop_spark.ext.sampling import pack_documents

    cap = 64
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    packed = pack_documents(docs, capacity=cap, part_col="source").toPandas()
    per_bin = packed.groupby(["source", "bin_id"])["packed_tokens"].sum()
    # next-fit: a bin total may straddle one capacity boundary by at most the
    # last doc's size, but the *start* offset of each doc is < cap from the
    # bin floor; the strong invariant is packed_tokens <= cap per doc
    assert (packed["packed_tokens"] <= cap).all()
    assert (packed["packed_tokens"] >= 1).all()
    assert per_bin.index.size >= packed["source"].nunique()


def _px_connected_components_known_graph(spark):
    """Hand-built graph: {1-2, 2-3} one component, {5-6} another, 9 isolated."""
    from dbt_trill_shop_spark.ext.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 9)], "doc_id long")
    got = {r.doc_id: r.component for r in connected_components(pairs, ids).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_scrub_pii_rules(spark):
    # the sf corpus only exercises the bare-number rule; hit every rule here
    rows = [
        (1, "mail me at alice.smith+x@example.co.uk today"),
        (2, "server at 192.168.1.100 responded"),
        (3, "call +1 (555) 123-4567 now"),
        (4, "order 12345 shipped 2 boxes"),
        (5, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = {
        r["id"]: r
        for r in textstats.scrub_pii(df, text_col="t", id_col="id").collect()
    }
    assert out[1]["scrubbed"] == "mail me at <EMAIL> today"
    assert out[1]["n_redacted"] == 1
    assert out[2]["scrubbed"] == "server at <IP> responded"
    assert out[2]["n_redacted"] == 1
    assert "<PHONE>" in out[3]["scrubbed"] and "4567" not in out[3]["scrubbed"]
    assert out[4]["scrubbed"] == "order <NUM> shipped <NUM> boxes"
    assert out[4]["n_redacted"] == 2
    assert out[5]["scrubbed"] == "no pii here at all"
    assert out[5]["n_redacted"] == 0


def test_chunk_documents_covers_and_overlaps(spark):
    from dbt_trill_shop_spark.ext.sampling import chunk_documents

    text = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame([(1, text), (2, "solo")], ["doc_id", "text"])
    out = chunk_documents(df, window=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0, 48, 96 -> sizes 64, 52, 4
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [c["n_chunk_tokens"] for c in chunks] == [64, 52, 4]
    assert chunks[0]["chunk_text"].split(" ")[0] == "w0"
    assert chunks[1]["chunk_text"].split(" ")[0] == "w48"  # overlap of 16
    assert chunks[2]["chunk_text"] == "w96 w97 w98 w99"
    # every token position is covered by at least one chunk
    covered = set()
    for c in chunks:
        toks = c["chunk_text"].split(" ")
        covered.update(toks)
    assert len(covered) == 100
    # single-token doc -> one chunk, itself
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "solo"


def _px_repetition_signals_flags_repetitive(spark):
    rows = [
        (1, "spam spam spam spam spam spam spam spam spam spam"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.repetition_signals(df).collect()}
    assert out[1]["repetitive"] is True
    assert out[1]["dup_word_frac"] == 0.9
    assert out[1]["top_bigram_frac"] == 1.8  # 9 identical bigrams * 2 / 10
    assert out[2]["repetitive"] is False
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["dup_trigram_frac"] == 0.0


def test_semdedup_finds_planted_in_cell(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.limit(5).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    both = emb.union(planted)  # exact copies -> same cell, cosine 1
    pairs = similarity.semantic_dedup_pairs(both, n_cells=8, threshold=0.99)
    found = pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1_000_000) & (F.col("id_a") < 5)
    ).count()
    assert found == 5


def test_persisted_ivfpq_index_matches_one_plan_composition(spark, sf_dir, tmp_path):
    """build_ivfpq_index + search_ivfpq_index must return exactly the rows of
    the single-plan ivfpq_topk on the same corpus/queries, and the postings
    scan must prune to the probed cell partitions."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.similarity import ivfpq_topk
    from dbt_trill_shop_spark.ext.vector_index import build_ivfpq_index, search_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, n_cells=16, n_blocks=4, n_codes=16)

    got_df = search_ivfpq_index(spark, path, queries, k=5, n_probe=4)
    got = sorted(map(tuple, got_df.collect()))
    want = sorted(
        map(
            tuple,
            ivfpq_topk(
                emb, queries, k=5, n_cells=16, n_probe=4, n_blocks=4, n_codes=16
            ).collect(),
        )
    )
    assert got == want and len(got) > 0

    # physical layout: postings partitioned by cell; the search scan prunes
    import os

    parts = [d for d in os.listdir(os.path.join(path, "postings")) if d.startswith("cell=")]
    assert len(parts) == 16
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [cell" in plan and "INSET" in plan, (
        "postings scan must prune to the probed cell partitions"
    )


def _px_kmeans_refine_recovers_planted_clusters(spark):
    """Three well-separated planted clusters, one seed point from each
    (ids 0,1,2): two Lloyd iterations must label every point by its true
    cluster — the refinement actually converges, not just runs."""
    import random

    from dbt_trill_shop_spark.ext.similarity import kmeans_refine

    rng = random.Random(7)
    centers = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    rows = []
    # ids 0,1,2: one point per cluster (the deterministic init sample);
    # remaining ids interleave clusters so id order carries no signal
    for i in range(60):
        cx, cy = centers[i % 3]
        rows.append((i, [cx + rng.uniform(-1, 1), cy + rng.uniform(-1, 1)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {r["vec_id"]: r["cell"] for r in kmeans_refine(emb, n_cells=3, n_iters=2).collect()}
    assert len(got) == 60
    for i, cell in got.items():
        assert cell == i % 3, f"point {i} labeled {cell}, want {i % 3}"


def test_incremental_dedup_store_roundtrip(spark, sf_dir, tmp_path):
    """Two successive batches against a persisted fingerprint store: batch 2
    must drop every text batch 1 contributed (plus its own internal dups),
    and the store must accumulate exactly the surviving fingerprints."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.dedup import incremental_dedup_store

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "fp_store")
    b1 = docs.filter("doc_id < 100")
    b2 = docs.filter("doc_id < 200")  # overlaps b1's texts entirely for id<100

    kept1 = incremental_dedup_store(spark, b1, store).collect()
    assert len(kept1) == b1.select("text").distinct().count()

    kept2 = incremental_dedup_store(spark, b2, store).collect()
    seen1 = {r["fingerprint"] for r in kept1}
    assert all(r["fingerprint"] not in seen1 for r in kept2)
    # store holds exactly the union of surviving fingerprints
    store_fps = {r["fingerprint"] for r in spark.read.parquet(store).collect()}
    assert store_fps == seen1 | {r["fingerprint"] for r in kept2}

    # an identical replay batch survives nowhere
    kept3 = incremental_dedup_store(spark, b1, store).collect()
    assert kept3 == []


def test_mixture_plan_matches_driver_side_twin(spark, sf_dir):
    """The distributed mixture plan must agree with the driver-side
    mixture_fractions arithmetic (within ppm truncation) and never plan
    more rows than a stratum holds."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.sampling import mixture_fractions, mixture_plan

    docs = load_table(spark, sf_dir, "documents")
    weights = {f"src{i}": (i % 5) + 1 for i in range(20)}
    plan = {r["stratum"]: r for r in mixture_plan(docs, weights).collect()}
    counts = {r["source"]: r["n"] for r in docs.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    fracs = mixture_fractions(counts, {k: float(v) for k, v in weights.items()})
    assert set(plan) == set(weights)
    for k, row in plan.items():
        assert 0 <= row["planned_rows"] <= counts[k]
        assert abs(row["keep_ppm"] / 1e6 - fracs[k]) < 2e-3


def test_dup_span_coverage_planted_boilerplate(spark):
    """Two docs sharing only a boilerplate sentence: coverage must span
    exactly the shared shingles' tokens in each; a fully unique doc is 0."""
    from dbt_trill_shop_spark.ext.dedup import dup_span_coverage

    shared = "all rights reserved contact us here"  # 6 tokens
    rows = [
        (0, f"alpha beta gamma {shared}"),
        (1, f"{shared} delta epsilon zeta eta"),
        (2, "totally unique words nothing repeats anywhere at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dup_span_coverage(docs, shingle_len=3).collect()}
    # doc 0: shared occupies the last 6 of 9 tokens -> covered == 6
    assert got[0]["n_tokens"] == 9 and got[0]["covered_tokens"] == 6
    # doc 1: shared occupies the first 6 of 10 tokens -> covered == 6
    assert got[1]["n_tokens"] == 10 and got[1]["covered_tokens"] == 6
    assert got[2]["covered_tokens"] == 0 and got[2]["dup_ppm"] == 0
    assert got[0]["dup_ppm"] == 6 * 1_000_000 // 9


# --- round-2 curation additions: caps / budget select / boilerplate strip ---


def test_source_caps_respects_quota_and_order(spark, sf_dir):
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.sampling import source_caps

    docs = load_table(spark, sf_dir, "documents")
    capped = source_caps(docs, cap=5).toPandas()
    per = capped.groupby("source").size()
    assert (per <= 5).all() and len(per) > 0
    # kept docs are the top-n_chars ones of their source (ties by doc_id)
    full = docs.select("doc_id", "source", "n_chars").toPandas()
    for src, grp in full.groupby("source"):
        want = set(
            grp.sort_values(["n_chars", "doc_id"], ascending=[False, True])
            .head(5)["doc_id"]
        )
        got = set(capped[capped["source"] == src]["doc_id"])
        assert got == want, src


def _px_token_budget_select_matches_naive_global_window(spark, sf_dir):
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.sampling import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    for budget in (0, 37, 5_000, 10**9):
        got = sorted(
            map(tuple, token_budget_select(docs, budget=budget).collect())
        )
        naive = docs.selectExpr(
            "doc_id",
            "CAST(n_chars AS BIGINT) AS score",
            "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
        ).selectExpr(
            "doc_id", "score", "n_tokens",
            "SUM(n_tokens) OVER (ORDER BY score DESC, doc_id "
            "ROWS UNBOUNDED PRECEDING) AS cum_tokens",
        ).filter(F.col("cum_tokens") <= budget)
        want = sorted(map(tuple, naive.collect()))
        assert got == want, budget
    # a huge budget keeps the whole corpus
    assert len(token_budget_select(docs, budget=10**9).collect()) == docs.count()


def test_boilerplate_strip_removes_planted_block(spark):
    from dbt_trill_shop_spark.ext.dedup import boilerplate_strip

    banner = "all rights reserved by the example corporation please do not"
    rows = [(i, f"{banner} unique{i} alpha beta gamma delta epsilon zeta eta theta iota") for i in range(4)]
    rows.append((99, "completely original text with no shared blocks at all here now"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in boilerplate_strip(docs, block_len=10, max_df=2).collect()}
    # the 10-word banner block appears in 4 > 2 docs -> stripped everywhere
    for i in range(4):
        assert out[i]["n_dropped"] == 1
        assert out[i]["clean_text"].startswith(f"unique{i} alpha")
        assert banner not in out[i]["clean_text"]
    # the unique doc is untouched and reassembled in order
    assert out[99]["n_dropped"] == 0
    assert out[99]["clean_text"] == "completely original text with no shared blocks at all here now"


def test_boilerplate_strip_fully_boilerplate_doc_survives_empty(spark):
    from dbt_trill_shop_spark.ext.dedup import boilerplate_strip

    block = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(i, block) for i in range(3)], "doc_id long, text string"
    )
    out = boilerplate_strip(docs, block_len=10, max_df=2).collect()
    assert len(out) == 3
    assert all(r["clean_text"] == "" and r["n_dropped"] == 1 for r in out)


def test_stratified_exact_n_quota_and_salt_independence(spark, sf_dir):
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.sampling import stratified_exact_n

    docs = load_table(spark, sf_dir, "documents")
    a = stratified_exact_n(docs, n_per_stratum=5).toPandas()
    per = a.groupby("source").size()
    # every stratum has >=5 docs in the testdata, so quotas are exact
    assert (per == 5).all() and len(per) == docs.select("source").distinct().count()
    # deterministic: same draw twice
    b = stratified_exact_n(docs, n_per_stratum=5).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])
    # a different salt gives an independent (different) draw
    c = stratified_exact_n(docs, n_per_stratum=5, salt="v2").toPandas()
    assert sorted(a["doc_id"]) != sorted(c["doc_id"])


def test_sq8_codes_bounded_and_full_coverage(spark, sf_dir):
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.similarity import sq8_encode

    emb = load_table(spark, sf_dir, "embeddings")
    codes = sq8_encode(emb)
    bad = codes.filter((F.col("code") < 0) | (F.col("code") > 255)).count()
    assert bad == 0
    n_vecs = emb.count()
    dims = emb.selectExpr("size(embedding) d").first()["d"]
    assert codes.count() == n_vecs * dims
    # the trained range is actually used: both extremes appear somewhere
    lohi = codes.agg(F.min("code").alias("lo"), F.max("code").alias("hi")).first()
    assert lohi["lo"] == 0 and lohi["hi"] == 255


def _px_sq8_recall_vs_exact_l2(spark, sf_dir):
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.similarity import ann_recall, l2_topk_exact, sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    rec = ann_recall(sq8_topk(emb, q, k=5), l2_topk_exact(emb, q, k=5), k=5)
    rows = rec.collect()
    assert len(rows) == 10
    mean_recall = sum(r["recall_ppm"] for r in rows) / len(rows) / 1_000_000
    # 8-bit per-dim quantization preserves L2 neighborhoods almost exactly
    assert mean_recall >= 0.8, mean_recall


def _px_bigram_logprob_orders_common_vs_rare(spark):
    from dbt_trill_shop_spark.ext.textstats import bigram_logprob

    rows = [(i, "a b a b a b") for i in range(5)]  # corpus-dominant bigrams
    rows.append((90, "z q w x"))  # one-off bigrams
    rows.append((91, "solo"))  # single token: no bigrams, must drop out
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    assert 91 not in out
    assert out[0]["n_bigrams"] == 5 and out[90]["n_bigrams"] == 3
    # documents made of corpus-frequent bigrams are far more probable
    assert out[0]["avg_neg_logp2"] < out[90]["avg_neg_logp2"]


def test_temperature_mixture_flattens_and_respects_budget(spark):
    from dbt_trill_shop_spark.ext.sampling import temperature_mixture

    rows = [(i, "t", "x", "head") for i in range(900)] + [
        (1000 + i, "t", "x", "tail") for i in range(100)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r["stratum"]: r for r in temperature_mixture(docs, budget=500).collect()}
    # raw proportions are 90/10; sqrt-flattening moves the split toward 75/25
    head, tail = out["head"], out["tail"]
    assert head["p_ppm"] + tail["p_ppm"] <= 1_000_000
    assert tail["p_ppm"] > 100_000  # boosted above its 10% raw share
    assert head["p_ppm"] < 900_000  # head damped below its 90% raw share
    # planned rows never exceed availability or (approximately) the budget
    assert head["planned_rows"] <= head["n_rows"]
    assert tail["planned_rows"] <= tail["n_rows"]
    assert head["planned_rows"] + tail["planned_rows"] <= 500


def _px_mmr_diversifies_vs_pure_relevance(spark):
    from dbt_trill_shop_spark.ext.similarity import l2_topk_exact, mmr_topk

    vecs = {
        0: [0.0, 0.0],  # the query
        1: [1.0, 0.0],  # tight cluster of near-duplicates closest to it
        2: [1.01, 0.0],
        3: [1.02, 0.0],
        4: [0.0, 1.5],  # farther but diverse
        5: [-1.6, 0.0],
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    q = emb.filter(F.col("vec_id") == 0)
    pure = {r["neighbor_id"] for r in l2_topk_exact(emb, q, k=3).collect()}
    assert pure == {1, 2, 3}  # relevance alone returns the clone cluster
    picks = mmr_topk(emb, q, k=3, pool=5, lam_tenths=7).collect()
    by_rank = {r["pick_rank"]: r["neighbor_id"] for r in picks}
    assert by_rank[1] == 1  # first pick is pure relevance
    assert set(by_rank.values()) == {1, 4, 5}  # redundancy penalized away


def test_incremental_neardup_store_roundtrip(spark, sf_dir, tmp_path):
    """Band-store ingestion: a replayed batch is dropped entirely on the
    second pass, and the store accumulates only survivors' band keys."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.dedup import incremental_neardup_store

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "band_store")
    b1 = docs.filter("doc_id < 100")

    kept1 = incremental_neardup_store(spark, b1, store)
    ids1 = {r["doc_id"] for r in kept1.select("doc_id").distinct().collect()}
    assert ids1  # a fresh store keeps at least the non-near-dup docs

    # exact replay: every doc's bands collide with the store -> all dropped
    kept2 = incremental_neardup_store(spark, b1, store)
    assert kept2.count() == 0
    # store contents = exactly the first pass's surviving band rows
    n_bands = spark.read.parquet(store).count()
    assert n_bands == len(ids1) * 4  # 4 bands per kept doc


def _px_simhash_checked_finds_planted_neardup(spark):
    from dbt_trill_shop_spark.ext.dedup import simhash_checked

    base = " ".join(f"tok{i}" for i in range(200))
    near = base.replace("tok7 ", "tok7x ", 1)  # one token differs
    rows = [(1, base), (2, near), (3, " ".join(f"other{i}" for i in range(200)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_checked(docs).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3  # planted near-dup caught
    assert (1, 3) not in pairs and (2, 3) not in pairs  # unrelated text clean


def _px_bpe_merges_planted_corpus(spark):
    """A corpus where merge order is known by construction: 'aa' dominates,
    then ('aa','b') once 'aa' exists as a symbol."""
    from dbt_trill_shop_spark.ext.bpe import bpe_merges

    docs = spark.createDataFrame(
        [(i, "aab aab aab cd") for i in range(5)], ["doc_id", "text"]
    )
    rows = bpe_merges(docs, n_merges=3, max_vocab=100).collect()
    assert [(r.lhs, r.rhs) for r in rows] == [("a", "a"), ("aa", "b"), ("c", "d")]
    # 'aab' occurs 3x per doc x 5 docs via the word-freq table = freq 15
    assert rows[0].pair_count == 15


def test_bpe_run_merging_is_leftmost_nonoverlapping(spark):
    """'aaaa' must merge to two 'aa' symbols (not three overlapping pairs) —
    the property the sentinel-wrapped replace encoding exists to guarantee."""
    from dbt_trill_shop_spark.ext.bpe import bpe_segment

    docs = spark.createDataFrame([(1, "aaaa"), (2, "aaa"), (3, "ab")], ["doc_id", "text"])
    out = {r.doc_id: r.n_bpe_tokens for r in bpe_segment(docs, [("a", "a")]).collect()}
    assert out == {1: 2, 2: 2, 3: 2}  # [aa,aa], [aa,a], [a,b]


def test_bpe_merge_loop_stops_when_pairs_run_dry(spark):
    from dbt_trill_shop_spark.ext.bpe import bpe_merges

    docs = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
    rows = bpe_merges(docs, n_merges=10, max_vocab=10).collect()
    # 'ab' -> one merge possible, then the single symbol has no pairs left
    assert len(rows) == 1 and (rows[0].lhs, rows[0].rhs) == ("a", "b")


def test_hash_split_is_stable_under_corpus_growth(spark, sf_dir):
    """A document's split must not change when the corpus grows — the
    property that makes held-out sets safe under continuous ingestion."""
    from dbt_trill_shop_spark.ext.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    half = docs.filter(F.col("doc_id") % 2 == 0)

    def assignments(d):
        from dbt_trill_shop_spark.ext.sampling import hash_split as _  # noqa: F401
        # recompute the split expression per doc by reusing the audit path
        # at stratum granularity replaced with the doc id itself
        return {
            (r.split, r.stratum): r.n_docs
            for r in hash_split(d, "doc_id", strata_col="doc_id").collect()
        }

    full, part = assignments(docs), assignments(half)
    # every (split, doc) present in the half-corpus keeps its split in full
    assert set(part) <= set(full)


def test_training_order_epochs_differ_and_are_permutations(spark, sf_dir):
    from dbt_trill_shop_spark.ext.sampling import training_order

    docs = load_table(spark, sf_dir, "documents")
    e0 = [r.doc_id for r in training_order(docs, "doc_id", epoch=0).collect()]
    e1 = [r.doc_id for r in training_order(docs, "doc_id", epoch=1).collect()]
    assert sorted(e0) == sorted(e1)  # both are permutations of the corpus
    assert e0 != e1  # epochs reshuffle
    e0_again = [r.doc_id for r in training_order(docs, "doc_id", epoch=0).collect()]
    assert e0 == e0_again  # reproducible


def test_importance_weights_separate_target_domain(spark, sf_dir):
    """DSIR sanity: target-language documents must have a higher mean
    per-token importance than the rest of the corpus."""
    from dbt_trill_shop_spark.ext.textstats import importance_weights

    docs = load_table(spark, sf_dir, "documents")
    got = importance_weights(docs, target_lang="en")
    j = (
        got.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(
            F.avg(F.col("importance_micro") / F.col("n_tokens")).alias("mean_per_tok")
        )
    )
    means = {r.is_en: r.mean_per_tok for r in j.collect()}
    assert means[True] > 0 > means[False]


def _px_countmin_estimates_upper_bound_truth(spark, sf_dir):
    from dbt_trill_shop_spark.ext.textstats import countmin_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    rows = countmin_heavy_hitters(docs, depth=4, width=64, k=10).collect()
    assert rows, "expected heavy hitters"
    # Count-Min is one-sided: estimate >= truth, always
    assert all(r.overestimate >= 0 for r in rows)
    assert all(r.est_count == r.true_count + r.overestimate for r in rows)
    # a wider grid can only tighten (or keep) every estimate
    wide = {
        r.token: r.est_count
        for r in countmin_heavy_hitters(docs, depth=4, width=4096, k=10).collect()
    }
    for r in rows:
        assert wide[r.token] <= r.est_count


def test_hashed_knn_excludes_self_and_ranks_contiguously(spark, sf_dir):
    from dbt_trill_shop_spark.ext.textstats import hashed_doc_knn

    docs = load_table(spark, sf_dir, "documents")
    rows = hashed_doc_knn(docs, k=5, num_queries=5, dim=32).collect()
    by_q: dict = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # rank order must follow (dot desc, neighbor asc)
        rs = sorted(rs, key=lambda x: x.rank)
        for a, b in zip(rs, rs[1:]):
            assert (a.dot, -a.neighbor_id) >= (b.dot, -b.neighbor_id)


def test_audio_windows_cover_only_full_windows(spark, sf_dir):
    from dbt_trill_shop_spark.ext.multimodal import audio_window_plan, docs_as_media

    media = docs_as_media(load_table(spark, sf_dir, "documents"))
    window, hop = 400, 160
    rows = audio_window_plan(media, window=window, hop=hop).collect()
    assert rows
    last_by_media: dict = {}
    for r in rows:
        assert r.end_sample == r.start_sample + window - 1
        assert r.start_sample == r.win_idx * hop
        assert r.end_sample < r.n_samples  # never a partial window
        prev = last_by_media.get(r.media_id, -1)
        last_by_media[r.media_id] = max(prev, r.win_idx)
    # maximal: one more hop would overrun the blob
    for r in rows:
        if r.win_idx == last_by_media[r.media_id]:
            assert (r.win_idx + 1) * hop + window - 1 >= r.n_samples


# ---- edge cases for the round-2 session operators ----------------------


def test_cdc_chunks_single_and_empty_token_docs(spark):
    from dbt_trill_shop_spark.ext.sampling import cdc_chunks

    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words")], ["doc_id", "text"]
    )
    rows = sorted(
        (r.doc_id, r.chunk_id, r.chunk_text, r.n_chunk_tokens)
        for r in cdc_chunks(df).collect()
    )
    # every doc yields at least one chunk starting at position 1 and the
    # chunks of each doc cover all its tokens
    by_doc = {}
    for d, _, text, n in rows:
        by_doc.setdefault(d, []).append((text, n))
    assert set(by_doc) == {1, 2}
    assert " ".join(t for t, _ in by_doc[1]) == "solo"
    assert " ".join(t for t, _ in by_doc[2]) == "two words"


def test_winnowing_short_docs_yield_no_fingerprints(spark):
    from dbt_trill_shop_spark.ext.textstats import winnowing_fingerprints

    # fewer than k tokens -> no shingles; fewer than k+w-1 -> no window
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d e"), (3, "a b c d e f g")],
        ["doc_id", "text"],
    )
    rows = winnowing_fingerprints(df, k=3, w=4).collect()
    ids = {r.doc_id for r in rows}
    assert 1 not in ids  # only 2 tokens, no 3-gram
    assert 2 not in ids  # 3 hashes < w=4, no window
    assert 3 in ids  # 5 hashes >= 4: at least one fingerprint


def test_phash_skips_short_payloads(spark):
    from dbt_trill_shop_spark.ext.multimodal import perceptual_hash_neardup

    short = "x" * 65
    df = spark.createDataFrame(
        [(1, short.encode()), (2, short.encode())], ["media_id", "payload"]
    )
    assert perceptual_hash_neardup(df).collect() == []


def test_weighted_sample_n_exceeding_corpus_returns_all(spark):
    from dbt_trill_shop_spark.ext.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, "w " * (i + 1)) for i in range(5)], ["doc_id", "text"]
    )
    rows = weighted_sample(df, n=100).collect()
    assert len(rows) == 5
    assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5]


def test_matryoshka_prefix_longer_than_vector_degrades_to_full(spark):
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.ext.similarity import (
        cosine_topk_bruteforce,
        matryoshka_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float(i + 1), float(3 - i)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in matryoshka_topk(emb, q, prefix_dims=16, shortlist=10, k=3).collect()
    }
    # slice beyond length = whole vector, so coarse == full: exact dot ranking
    assert len(got) == 3 and all(x[0] == 0 for x in got)


def _px_bm25_query_with_more_terms_than_doc(spark):
    from dbt_trill_shop_spark.ext.textstats import bm25_search

    df = spark.createDataFrame(
        [(0, "tiny doc"), (5, "tiny doc about a tiny engine"),
         (6, "unrelated words entirely")],
        ["doc_id", "text"],
    )
    rows = bm25_search(df, n_queries=1, q_terms=10, k=5).collect()
    hits = {r.hit_id for r in rows if r.query_id == 0}
    assert 5 in hits  # shares "tiny"/"doc"
    assert 6 not in hits  # shares nothing


def test_bloom_filter_has_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: every true member must pass the filter (FPs allowed,
    FNs never) — n_true_members equals the exact join count."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.operators.analytics import bloom_join_prefilter

    row = bloom_join_prefilter(spark, sf_dir, min_acctbal=9000).collect()[0]
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= 9000)
    orders = load_table(spark, sf_dir, "orders")
    exact = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_semi"
    ).count()
    assert row.n_true_members == exact
    assert row.n_false_positives >= 0


def _px_quality_auc_matches_pairwise_bruteforce(spark):
    """AUC from the distinct-score window must equal the O(n²) pairwise
    definition AUC = (#{pos>neg} + ties/2) / (pos·neg) computed in Python."""
    rows = [
        (1, "the cat and the dog is here on the mat with them", "en"),
        (2, "the quick brown fox and the lazy dog is not that slow", "en"),
        (3, "xxxx 9999 @@@@ ####", "zh"),
        (4, "el perro que ladra no muerde nada aqui", "es"),
        (5, "a b c d e f g h i j", "en"),
        (6, "der hund und die katze", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = textstats.quality_auc(docs).collect()[0]
    scored = {
        r["doc_id"]: r["logit_milli"]
        for r in textstats.quality_classifier(docs).collect()
    }
    pos = [scored[i] for i, _, lang in rows if lang == "en"]
    neg = [scored[i] for i, _, lang in rows if lang != "en"]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    assert out["n_pos"] == len(pos) and out["n_neg"] == len(neg)
    assert out["auc_x2"] == 2 * wins + ties
    assert abs(out["auc"] - (wins + ties / 2) / (len(pos) * len(neg))) < 1e-6


def test_tokenizer_fertility_counts_planted_docs(spark):
    """Fertility = subword/word ratio: punctuation splits into extra BPE
    tokens, so a punctuated language shows milli-fertility > 1000."""
    rows = [
        (1, "plain words only here", "en"),
        (2, "hy-phen-ated words, with punc!", "fr"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in textstats.tokenizer_fertility(docs).collect()}
    assert out["en"]["ws_tokens"] == 4 and out["en"]["bpe_tokens"] == 4
    assert out["en"]["fertility_milli"] == 1000
    # "hy-phen-ated" -> 5 bpe tokens, "words," -> 2, "with" -> 1, "punc!" -> 2
    assert out["fr"]["bpe_tokens"] == 10 and out["fr"]["ws_tokens"] == 4
    assert out["fr"]["fertility_milli"] == 2500


def _px_knn_graph_planted_clusters(spark):
    """Two well-separated clusters: every node's kNN edges stay inside its
    cluster, so label homophily is 1.0 and the k=2 graph is fully mutual."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(6):
        center = 0.0 if i < 3 else 10.0
        lab = 0 if i < 3 else 1
        rows.append((i, [center + rng.uniform(-0.1, 0.1) for _ in range(4)], lab))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    hom = {r["label"]: r for r in similarity.knn_label_homophily(emb, k=2).collect()}
    assert hom[0]["homophily_ppm"] == 1_000_000
    assert hom[1]["homophily_ppm"] == 1_000_000
    deg = {r["mutual_degree"]: r["n_nodes"]
           for r in similarity.knn_graph_mutual_degree(emb, k=2).collect()}
    # 3-cliques at k=2: every edge reciprocated -> all 6 nodes at degree 2
    assert deg == {2: 6}


def _px_knn_pagerank_mass_and_hub(spark):
    """A hub everyone points to must out-rank peripheral nodes; ranks stay
    within the damped-mass envelope [base, base + d·10⁶]."""
    import random

    rng = random.Random(3)
    # node 0 at the centroid of a shell: it is in everyone's k=1 top list
    rows = [(0, [0.0] * 4, 0)]
    for i in range(1, 7):
        v = [rng.uniform(-1, 1) for _ in range(4)]
        s = sum(x * x for x in v) ** 0.5
        rows.append((i, [x / s * 5.0 for x in v], 1))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.knn_pagerank(emb, k=1, n_iters=5).collect()
    assert out[0]["vec_id"] == 0
    for r in out:
        assert 150_000 <= r["rank_micro"] <= 150_000 + 850_000 * 7


def _px_knn_clustering_triangle_clique(spark):
    """A tight 3-clique closes its single wedge per node: coefficient 1.0."""
    rows = [
        (1, [0.0, 0.0], 0), (2, [0.1, 0.0], 0), (3, [0.0, 0.1], 0),
        (4, [50.0, 50.0], 1), (5, [50.2, 50.0], 1), (6, [50.0, 50.2], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.knn_clustering_coefficients(emb, k=2).collect()
    assert len(out) == 6
    assert all(r["clustering_ppm"] == 1_000_000 for r in out)
    assert all(r["triangles"] == 1 and r["degree"] == 2 for r in out)


def _px_retrieval_eval_perfect_and_absent(spark):
    """A query whose cluster fills its top-k scores nDCG = 1 and RR = 10⁶;
    a query whose label appears nowhere else scores 0 on both."""
    rows = [(0, [0.0, 0.0], 7), (1, [0.1, 0.0], 7), (2, [0.0, 0.1], 7),
            (3, [0.2, 0.1], 7), (4, [99.0, 99.0], 8), (5, [99.1, 99.0], 9)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["query_id"]: r
           for r in similarity.retrieval_eval(emb, num_queries=5, k=3).collect()}
    assert out[0]["ndcg_ppm"] == 1_000_000 and out[0]["rr_micro"] == 1_000_000
    # query 4: label 8 is a singleton -> no relevant neighbor anywhere
    assert out[4]["dcg_micro"] == 0 and out[4]["rr_micro"] == 0


def test_scene_change_planted_boundary(spark):
    """A payload of two homogeneous halves cuts exactly at the boundary
    frame; a uniform payload yields no cuts."""
    rows = [(1, "a" * 64 + "z" * 64), (2, "b" * 128)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = multimodal.docs_as_media(docs)
    out = multimodal.scene_change_plan(
        media, frame_bytes=32, threshold_milli=1000
    ).collect()
    assert [(r["media_id"], r["frame_id"]) for r in out] == [(1, 3)]
    # delta = ('z' - 'a') * 1000 = 25000 milli
    assert out[0]["delta_milli"] == 25_000


def test_calibration_bins_partition_and_bound(spark, sf_dir):
    """Calibration bins must partition the corpus (counts sum to |docs|)
    and keep every rate within [0, 10⁶]; bin means must be monotone."""
    docs = load_table(spark, sf_dir, "documents")
    out = textstats.classifier_calibration(docs, n_bins=8).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    means = [r["mean_logit_milli"] for r in out]
    assert means == sorted(means)
    assert all(0 <= r["pos_rate_ppm"] <= 1_000_000 for r in out)


def test_source_entropy_uniform_vs_repeated(spark):
    """All-distinct tokens maximize entropy (ln n); a single repeated token
    scores exactly zero."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b c d", "u"), (2, "x x x x", "r")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in textstats.source_entropy(docs).collect()}
    assert out["r"]["entropy_nats"] == 0.0
    assert abs(out["u"]["entropy_nats"] - math.log(4)) < 1e-5


def test_ngram_novelty_copy_vs_fresh(spark):
    """A verbatim copy of a reference doc scores 0 novelty; disjoint text
    scores 10⁶."""
    ref = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),
         (11, "one two three four five six")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.ngram_novelty(corpus, ref, shingle_len=3).collect()}
    assert out[10]["novelty_ppm"] == 0
    assert out[11]["novelty_ppm"] == 1_000_000


def _px_binary_hamming_exact_duplicate_is_nearest(spark):
    """A bit-identical duplicate vector has Hamming distance 0 and rank 1."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(1, 40)]
    rows.append((0, list(rows[4][1])))  # query 0 duplicates vec 5
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.binary_hamming_topk(emb, num_queries=1, k=3).collect()
    assert out[0]["query_id"] == 0 and out[0]["neighbor_id"] == 5
    assert out[0]["hamming"] == 0 and out[0]["rank"] == 1


def _degenerate_id_order_topk(emb, num_queries: int, k: int):
    """The signature of a silently-broken ANN ranking: neighbors picked by
    id order, independent of the vectors (exactly what the r6 residual-PQ
    zero-codebook bug produced).  Used as the adversarial baseline the real
    operators must beat."""
    from pyspark.sql import Window

    qids = emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id")
    )
    ids = emb.select(F.col("vec_id").alias("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy("neighbor_id")
    return (
        qids.crossJoin(ids)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _mean_recall(approx, exact, k=5):
    rows = similarity.ann_recall(approx, exact, k=k).collect()
    return sum(r["recall_ppm"] for r in rows) / len(rows) / 1_000_000


def _px_ivf_pq_recall_floors(spark, sf_dir):
    """Recall floors for ivf_topk and pq_topk vs their exact twins, at
    budgets proportional to corpus size (SCALE.md: recall-at-fixed-budget is
    not scale-invariant).  Floors sit 10-80x above the k/N chance level AND
    above the explicit id-order degenerate baseline, so an
    input-independent ranking — the bug class Spark-vs-DuckDB parity can
    never see, since both engines would share the degenerate definition —
    fails loudly.  Calibrated recalls (deterministic, no RNG anywhere):
    ivf 0.925/0.925/1.0 and pq 0.225/0.125/0.225 at sf0.001/0.01/0.1."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 8)
    n_cells = max(8, n // 32)
    n_probe = max(2, n_cells // 4)
    n_codes = max(16, n // 8)

    exact_cos = similarity.cosine_topk_bruteforce(emb, q, k=5)
    degen_cos = _mean_recall(_degenerate_id_order_topk(emb, 8, 5), exact_cos)
    ivf = _mean_recall(
        similarity.ivf_topk(emb, q, k=5, n_cells=n_cells, n_probe=n_probe), exact_cos
    )
    assert ivf >= 0.8, f"ivf_topk recall {ivf}"
    assert ivf > degen_cos + 0.05, f"ivf_topk ~= id-order baseline ({ivf} vs {degen_cos})"

    exact_l2 = similarity.l2_topk_exact(emb, q, k=5)
    degen_l2 = _mean_recall(_degenerate_id_order_topk(emb, 8, 5), exact_l2)
    pq = _mean_recall(similarity.pq_topk(emb, q, k=5, n_codes=n_codes), exact_l2)
    assert pq >= 0.1, f"pq_topk recall {pq}"
    assert pq > degen_l2 + 0.05, f"pq_topk ~= id-order baseline ({pq} vs {degen_l2})"


def _px_ivfpq_binary_recall_floors(spark, sf_dir):
    """Same guard for ivfpq_topk (vs exact L2) and binary_hamming_topk (vs
    exact cosine — sign-quantization preserves cosine neighborhoods).
    Calibrated recalls: ivfpq 0.275/0.25/0.25 and binary 0.2/0.225/0.15 at
    sf0.001/0.01/0.1; chance level is 5/n (0.25-1%)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 8)
    n_cells = max(8, n // 32)
    n_probe = max(2, n_cells // 4)
    n_codes = max(16, n // 8)

    exact_l2 = similarity.l2_topk_exact(emb, q, k=5)
    degen_l2 = _mean_recall(_degenerate_id_order_topk(emb, 8, 5), exact_l2)
    ivfpq = _mean_recall(
        similarity.ivfpq_topk(
            emb, q, k=5, n_cells=n_cells, n_probe=n_probe, n_codes=n_codes
        ),
        exact_l2,
    )
    assert ivfpq >= 0.15, f"ivfpq_topk recall {ivfpq}"
    assert ivfpq > degen_l2 + 0.05, f"ivfpq_topk ~= id-order baseline ({ivfpq} vs {degen_l2})"

    exact_cos = similarity.cosine_topk_bruteforce(emb, q, k=5)
    degen_cos = _mean_recall(_degenerate_id_order_topk(emb, 8, 5), exact_cos)
    binham = _mean_recall(similarity.binary_hamming_topk(emb, num_queries=8, k=5), exact_cos)
    assert binham >= 0.1, f"binary_hamming_topk recall {binham}"
    assert binham > degen_cos + 0.05, (
        f"binary_hamming_topk ~= id-order baseline ({binham} vs {degen_cos})"
    )


def _px_wide_accumulators_exact_past_int64(spark, sf_dir):
    """The decimal(38,0)/HUGEINT accumulator paths (SCALE.md group-size
    rule) stay EXACT at magnitudes where an int64 accumulator would have
    overflowed: events with ~$9e11 values (the largest money exactly
    representable through the double->cents round-trip) push the moments'
    cents-squared sum to ~1e31 and Gini's rank-weighted sum past 9.2e18.
    Ground truth is pure-Python big-int arithmetic — a third source,
    independent of both engines."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_trill_shop_spark.harness import QUERIES
    from tests.oracle_utils import compare, duck_connection, oracle_frame

    import pathlib
    import tempfile

    d = pathlib.Path(tempfile.mkdtemp(prefix="bigvals_"))

    src = pq.read_table(f"{sf_dir}/events.parquet")
    n = src.num_rows
    # distinct huge 2-dp money values, alternating sign pattern avoided
    # (value contract), exactly representable: v_i = 9e11 + i dollars
    vals = [9.0e11 + i for i in range(n)]
    cols = {}
    for field in src.schema:
        col = src.column(field.name).to_pylist()
        if field.name == "value":
            col = vals
        cols[field.name] = pa.array(col, type=field.type)
    pq.write_table(pa.table(cols, schema=src.schema), str(d / "events.parquet"))
    for f in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        pq.write_table(pq.read_table(f"{sf_dir}/{f}.parquet"), str(d / f"{f}.parquet"))

    # --- moments: python big-int ground truth per event type
    types = src.column("event_type").to_pylist()
    by_type: dict[str, list[int]] = {}
    for t, v in zip(types, vals):
        by_type.setdefault(t, []).append(round(v * 100))
    out = {r["event_type"]: r for r in
           QUERIES["q_event_value_moments"].fn(spark, str(d)).collect()}
    assert set(out) == set(by_type)
    for t, cents in by_type.items():
        s1, s2, m = sum(cents), sum(c * c for c in cents), len(cents)
        assert s2 > 2**63, "test must exercise the >int64 regime"
        mean = s1 / m / 100.0
        var = (float(s2) - float(s1) * s1 / m) / (m - 1) / 10_000.0
        assert out[t]["n_events"] == m
        assert math.isclose(out[t]["mean_value"], round(mean, 6), rel_tol=1e-12)
        assert math.isclose(out[t]["var_value"], round(var, 6), rel_tol=1e-9)

    # --- gini: python ground truth over per-user totals
    users = src.column("user_id").to_pylist()
    per_user: dict[int, int] = {}
    for u, v in zip(users, vals):
        per_user[u] = per_user.get(u, 0) + round(v * 100)
    ranked = sorted(per_user.items(), key=lambda kv: (kv[1], kv[0]))
    nn, sx = len(ranked), sum(x for _, x in ranked)
    six = sum((i + 1) * x for i, (_, x) in enumerate(ranked))
    # at this fixture size six (~7.7e17) stays inside int64 — the >int64
    # regime witness is the moments block above; this block pins the
    # decimal path's VALUE exactness on the same twin
    g = QUERIES["q_gini"].fn(spark, str(d)).collect()[0]
    assert g["n_users"] == nn and g["total_cents"] == sx
    assert math.isclose(
        g["gini"], round((2 * six - (nn + 1) * sx) / (nn * sx), 6), rel_tol=1e-12
    )

    # --- cross-engine: both int128 paths agree bit-for-bit on this twin
    con = duck_connection(str(d))
    for name in ("q_event_value_moments", "q_gini", "q_weekly_correlation"):
        spec = QUERIES[name]
        probs = compare(spec.fn(spark, str(d)), oracle_frame(con, spec.oracle))
        assert not probs, (name, probs)


def test_text_tiling_detects_topic_shift(spark):
    """Two 40-token halves with disjoint vocabulary: the boundary block
    (cosine 0 between halves) must flag; within-half comparisons must not."""
    half_a = " ".join(["apple banana cherry date"] * 10)
    half_b = " ".join(["quark lepton boson gluon"] * 10)
    docs = spark.createDataFrame(
        [(1, half_a + " " + half_b)], "doc_id long, text string"
    )
    out = textstats.text_tiling(docs, block_tokens=20, dim=64).collect()
    flags = {r["block_id"]: r["is_boundary"] for r in out}
    assert flags[2] is True          # blocks 1|2 straddle the topic shift
    assert flags[1] is False and flags[3] is False
    cos = {r["block_id"]: r["cos_micro"] for r in out}
    assert cos[2] == 0 and cos[1] == 1_000_000


def _px_knn_bfs_chain_hops(spark):
    """A 1-D chain of points under k=2 forms a path graph: hop distance
    from the end grows linearly and nothing is unreachable."""
    rows = [(i, [float(i) * 10, 0.0], 0) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["hop"]: r["n_nodes"] for r in similarity.knn_bfs_hops(emb, source_id=0, k=2).collect()}
    assert out.get(0) == 1 and out.get(1, 0) >= 1 and -1 not in out


def _px_pca_power_recovers_planted_direction(spark):
    """Data stretched along a planted axis: the power-iteration component
    must align with it (dominant coordinate on the stretched dim)."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(60):
        base = [rng.uniform(-0.05, 0.05) for _ in range(8)]
        base[3] += rng.uniform(-1.0, 1.0)  # variance concentrated on dim 3
        rows.append((i, base))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comp = {r["dim"]: r["component"]
            for r in similarity.pca_top_component(emb, n_iters=6).collect()}
    assert abs(comp[3]) == max(abs(v) for v in comp.values())
    assert comp[3] > 0  # sign fixed positive on the dominant component


def _px_coverage_select_greedy_property(spark):
    """Greedy max-coverage on a planted corpus: the doc with the most
    distinct shingles goes first; a pure subset of an earlier pick adds
    zero gain and ranks last (or is skipped when gain ties at 0)."""
    rows = [
        (1, "a b c d e f g h"),            # 6 shingles, superset
        (2, "a b c d"),                    # subset of 1 -> zero marginal
        (3, "x y z w v u"),                # disjoint 4 shingles
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.coverage_select(docs, k=3, shingle_len=3).collect()
    assert [r["doc_id"] for r in out[:2]] == [1, 3]
    assert out[0]["gain"] == 6 and out[1]["gain"] == 4
    if len(out) > 2:
        assert out[2]["doc_id"] == 2 and out[2]["gain"] == 0
    assert out[-1]["covered_total"] == sum(r["gain"] for r in out)


def test_vad_segments_planted_islands(spark):
    """High-energy runs separated by silence must merge into exactly the
    planted segments."""
    # patches of 4 bytes: 'zzzz'≈122k milli energy, '    '≈32k
    text = "zzzz" + "    " + "zzzz" + "zzzz" + "    "
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    media = multimodal.docs_as_media(docs)
    out = multimodal.vad_segments(media, patch_bytes=4, threshold_milli=100_000).collect()
    assert [(r["start_frame"], r["end_frame"], r["n_frames"]) for r in out] == [
        (0, 0, 1),
        (2, 3, 2),
    ]


def test_weighted_jaccard_downweights_common_shingles(spark):
    """Two docs sharing only a boilerplate shingle (present in every doc)
    score far lower than two sharing a rare one of equal count."""
    rows = [
        (1, "common phrase here rare gem one"),
        (2, "common phrase here rare gem one"),
        (3, "common phrase here totally different text"),
        (4, "common phrase here another unrelated thing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["wjaccard_ppm"]
           for r in dedup.weighted_jaccard_pairs(docs, shingle_len=3,
                                                 threshold_ppm=0).collect()}
    # identical docs: weighted jaccard = 1
    assert out[(1, 2)] == 1_000_000
    # docs sharing only the ubiquitous prefix shingle: near zero
    assert out.get((3, 4), 0) < 200_000


def test_set_overlap_matches_python_sets(spark):
    """The one set-overlap kernel against Python set arithmetic, in both
    modes, on a members frame whose columns arrive as (member, set) — the
    order a left_semi on the member leaves behind."""
    from dbt_trill_shop_spark.overlap import set_overlap

    sets = {1: {"a", "b", "c"}, 2: {"b", "c", "d", "e"}, 3: {"x"}, 4: {"a", "e"}}
    members = spark.createDataFrame(
        [(m, sid) for sid, ms in sets.items() for m in ms], "m string, sid long"
    )

    def expect(pairs):
        return {
            (a, b, len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
            for a, b in pairs
            if sets[a] & sets[b]
        }

    def got(df):
        assert df.columns == ["id_a", "id_b", "n_inter", "n_a", "n_b"]
        return {tuple(r) for r in df.collect()}

    all_pairs = [(a, b) for a in sets for b in sets if a < b]
    assert got(set_overlap(members, "sid", "m")) == expect(all_pairs)
    # (1, 3) shares no member: pairs mode drops it like all-pairs mode does
    cands = [(1, 2), (1, 3), (2, 4)]
    pairs = spark.createDataFrame(cands, "id_a long, id_b long")
    out = got(set_overlap(members, "sid", "m", pairs))
    assert out == expect(cands) == {(1, 2, 2, 3, 4), (2, 4, 1, 4, 2)}


def test_minhash_audit_keeps_candidate_without_common_shingle(spark):
    """A banded candidate pair with an empty shingle intersection has no
    set_overlap row; the audit's left join still reports it, exact_ppm 0.
    The two one-shingle docs collide on the 32-bit md5 prefix the single
    minwise component keeps: md5('0:w58337') and md5('0:w78261') both start
    0b3e0fc3 (found by a birthday search over w0, w1, ...)."""
    docs = spark.createDataFrame(
        [(1, "w58337"), (2, "w78261")], "doc_id long, text string"
    )
    out = dedup.minhash_estimate_audit(docs, num_hashes=1, bands=1).collect()
    assert [tuple(r) for r in out] == [(1, 2, 1_000_000, 0, 1_000_000)]


def test_containment_scores_both_directions(spark):
    """One unequal-size pair yields a containment row per direction, each
    |A ∩ B| / |A| of its contained side."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e f g h"), (3, "z")],
        "doc_id long, text string",
    )
    out = dedup.ngram_containment_pairs(docs, shingle_len=1, threshold=0.0)
    assert {tuple(r) for r in out.collect()} == {(1, 2, 1.0), (2, 1, 0.5)}
    high = dedup.ngram_containment_pairs(docs, shingle_len=1, threshold=0.8)
    assert [tuple(r) for r in high.collect()] == [(1, 2, 1.0)]


def test_jaccard_curve_empty_pair_corpus(spark):
    """A corpus with no shared shingles must still emit all 7 thresholds
    with zero counts (the latent Spark-vs-oracle row-count divergence)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    out = dedup.jaccard_threshold_curve(docs, shingle_len=3).collect()
    assert len(out) == 7
    assert all(r["n_pairs"] == 0 and r["n_candidates"] == 0 for r in out)


def _px_knn_pagerank_over_ivf_candidates_recall(spark, sf_dir):
    """The ANN swap is code, not advice (VERDICT r2 #4): kNN edges built
    from IVF co-cell candidates must overlap the exact-gemm edges (recall
    floor), and PageRank over them must run end-to-end and preserve total
    rank mass ordering (top exact hub stays in the candidate top decile)."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.similarity import (
        ivf_graph_candidates,
        knn_graph_edges,
        knn_pagerank,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    exact = set(
        (r["query_id"], r["neighbor_id"])
        for r in knn_graph_edges(emb, k=3).collect()
    )
    cands = ivf_graph_candidates(emb, n_cells=8, n_probe=3)
    approx = set(
        (r["query_id"], r["neighbor_id"])
        for r in knn_graph_edges(emb, k=3, candidates=cands).collect()
    )
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, recall  # 3-probe of 8 cells keeps most edges
    ranks = knn_pagerank(emb, k=3, n_iters=2, candidates=cands).collect()
    assert len(ranks) == 300
    assert all(r["rank_micro"] > 0 for r in ranks)


def test_real_image_decoder_import_guard():
    """Without PIL/imageio the real decoder raises the documented stub
    error; the guard memoizes its probe; a fake PIL in sys.modules routes
    a real PNG header through it (proving the dispatch, not the codec)."""
    import sys
    import types

    import pytest as _pytest

    from dbt_trill_shop_spark.ext import multimodal as mm

    mm.__dict__.pop("_REAL_DECODE_IMPL", None)
    has_real = True
    try:
        import PIL  # noqa: F401
    except ImportError:
        try:
            import imageio  # noqa: F401
        except ImportError:
            has_real = False
    if not has_real:
        # the stdlib tier handles real PNG/JPEG; anything else still raises
        with _pytest.raises(NotImplementedError, match="PIL or imageio"):
            mm._real_image_decode(b"\x89PNG....")  # truncated signature
        assert mm.__dict__["_REAL_DECODE_IMPL"] is mm._stdlib_header_decode
    # simulate an env with PIL: dispatch must pick _pil_image_decode
    mm.__dict__.pop("_REAL_DECODE_IMPL", None)
    fake_pil = types.ModuleType("PIL")

    class _Img:
        width, height = 7, 9

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    fake_img_mod = types.ModuleType("PIL.Image")
    fake_img_mod.open = lambda buf: _Img()
    fake_pil.Image = fake_img_mod
    sys.modules["PIL"] = fake_pil
    sys.modules["PIL.Image"] = fake_img_mod
    try:
        assert mm._real_image_decode(b"anything") == (7, 9)
        assert mm.__dict__["_REAL_DECODE_IMPL"] is mm._pil_image_decode
    finally:
        del sys.modules["PIL"], sys.modules["PIL.Image"]
        mm.__dict__.pop("_REAL_DECODE_IMPL", None)


def _px_exact_pair_distances_empty_and_self_pairs(spark):
    """Empty candidate relations yield empty results; self-pairs are
    excluded; distances match the hand computation in micro units."""
    from dbt_trill_shop_spark.ext.similarity import exact_pair_distances

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.003, 0.004])],
        "vec_id long, embedding array<double>",
    )
    empty = spark.createDataFrame([], "query_id long, neighbor_id long")
    assert exact_pair_distances(emb, empty).count() == 0
    cands = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 0)], "query_id long, neighbor_id long"
    )
    rows = {
        (r["query_id"], r["neighbor_id"]): r["d2"]
        for r in exact_pair_distances(emb, cands).collect()
    }
    # 0.003 -> 3000 micro, 0.004 -> 4000 micro; d2 = 3000^2 + 4000^2
    assert rows == {(0, 1): 25_000_000, (1, 0): 25_000_000}


def _px_simhash_verified_empty_corpus(spark):
    from dbt_trill_shop_spark.ext.dedup import simhash_neardup_verified

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert simhash_neardup_verified(docs).count() == 0


def _px_minhash_min_band_matches_monotone(spark, sf_dir):
    """Raising min_band_matches can only shrink the candidate set, and the
    verified output at the driver config equals the brute-force pairs."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.dedup import (
        minhash_banded_candidates,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=16).localCheckpoint(eager=True)
    loose = minhash_banded_candidates(sigs, num_hashes=16, bands=16)
    tight = minhash_banded_candidates(
        sigs, num_hashes=16, bands=16, min_band_matches=4
    )
    n_loose, n_tight = loose.count(), tight.count()
    assert n_tight <= n_loose
    assert tight.join(loose, ["id_a", "id_b"], "left_anti").count() == 0


def _make_real_png(w: int, h: int) -> bytes:
    """A complete, spec-valid RGB PNG built with stdlib only (zlib IDAT,
    CRC-checked chunks) — a REAL image file, not a fake payload."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + bytes(3 * w) for _ in range(h))  # filter-0 rows
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_minimal_jpeg(w: int, h: int) -> bytes:
    """SOI + APP0 + SOF0 marker stream carrying real dimensions."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3, 8, h, w, 1) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _px_real_png_decodes_through_spark_media_path(spark):
    """VERDICT r4 #5: a real PNG (and JPEG) decodes through the REAL
    m_media_features path — the mapInPandas UDF, the mime dispatch, and the
    non-fake decoder tier — with correct dimensions.  No sys.modules
    injection anywhere."""
    from dbt_trill_shop_spark.ext import multimodal as mm
    from dbt_trill_shop_spark.ext.multimodal import extract_features

    png = _make_real_png(13, 7)
    jpg = _make_minimal_jpeg(31, 17)
    # the stdlib tier parses both containers directly
    assert mm._stdlib_header_decode(png) == (13, 7)
    assert mm._stdlib_header_decode(jpg) == (31, 17)

    media = spark.createDataFrame(
        [
            (1, "mem://png/1", "image/png", bytearray(png)),
            (2, "mem://jpg/2", "image/jpeg", bytearray(jpg)),
        ],
        "media_id long, uri string, mime string, payload binary",
    )
    rows = {r.media_id: r for r in extract_features(media).collect()}
    assert (rows[1].width, rows[1].height) == (13, 7)
    assert (rows[2].width, rows[2].height) == (31, 17)
    assert rows[1].n_bytes == len(png) and rows[2].n_bytes == len(jpg)


def test_curriculum_order_wide_bucket_count(spark, sf_dir):
    """ADVICE r5: Spark's lpad TRUNCATES a 3-digit tile to 2 chars at the
    old fixed pad width, silently corrupting the lexicographic stage order
    for n_buckets >= 100.  Pin n_buckets=120 against the DuckDB oracle."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.sampling import (
        CURRICULUM_ORDER_SQL_TEMPLATE,
        curriculum_order,
    )
    from dbt_trill_shop_spark.ext.textstats import QUALITY_CLASSIFIER_SQL

    from .oracle_utils import compare, duck_connection, oracle_frame

    docs = load_table(spark, sf_dir, "documents")
    got = curriculum_order(docs, n_buckets=120)
    sql = CURRICULUM_ORDER_SQL_TEMPLATE.format(
        quality_sql=QUALITY_CLASSIFIER_SQL, n_buckets=120
    )
    probs = compare(got, oracle_frame(duck_connection(sf_dir), sql))
    assert not probs, probs


def test_stdlib_header_decode_malformed_containers():
    """ADVICE r5 edge cases: JPEG 0xFF fill bytes before a marker are
    skipped (not read as a segment with a garbage length), EOI terminates
    the walk, and truncated PNGs raise instead of slicing short buffers
    into wrong dimensions."""
    import struct

    from dbt_trill_shop_spark.ext import multimodal as mm

    # fill bytes before APP0 and SOF0: still decodes
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3, 8, 17, 31, 1) + b"\x01\x11\x00"
    padded = b"\xff\xd8" + b"\xff" * 3 + app0 + b"\xff\xff" + sof0 + b"\xff\xd9"
    assert mm._stdlib_header_decode(padded) == (31, 17)

    # EOI before any SOF: raises (previously read EOI as a segment and
    # walked garbage lengths)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm._stdlib_header_decode(b"\xff\xd8" + app0 + b"\xff\xd9")
    # trailing fill bytes then EOF: raises, no IndexError
    with _pytest.raises(NotImplementedError):
        mm._stdlib_header_decode(b"\xff\xd8" + b"\xff\xff\xff")
    # truncated SOF segment (length field cut off): raises
    with _pytest.raises(NotImplementedError):
        mm._stdlib_header_decode(b"\xff\xd8" + sof0[:6])

    # truncated PNG: signature + IHDR tag but a short body
    png = _make_real_png(13, 7)
    with _pytest.raises(NotImplementedError):
        mm._stdlib_header_decode(png[:20])
    # wrong IHDR length field
    bad = bytearray(png)
    bad[8:12] = struct.pack(">I", 12)
    with _pytest.raises(NotImplementedError):
        mm._stdlib_header_decode(bytes(bad))
    # intact containers still parse
    assert mm._stdlib_header_decode(png) == (13, 7)


# ---------------------------------------------------------------------------
def test_trajectory_dedup_store_roundtrip_and_replay(spark, sf_dir, tmp_path):
    """Behavioral band-store ingestion (STAGED r14): first pass keeps the
    batch's trajectories and persists their band keys; an exact replay of
    the same events drops every trajectory (band collision with the
    store); the store accumulates only survivors' band rows."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.dedup import (
        trajectory_dedup_store,
        trajectory_relation,
    )

    events = load_table(spark, sf_dir, "events").filter("user_id % 7 = 0")
    store = str(tmp_path / "traj_band_store")

    n_traj = trajectory_relation(events).count()
    assert n_traj > 0  # the slice must carry real sessions
    kept1 = trajectory_dedup_store(spark, events, store)
    ids1 = {r["doc_id"] for r in kept1.select("doc_id").distinct().collect()}
    assert ids1 and len(ids1) <= n_traj

    # exact replay: every trajectory's bands collide with the store
    kept2 = trajectory_dedup_store(spark, events, store)
    assert kept2.count() == 0
    # store contents = exactly the first pass's surviving band rows
    assert spark.read.parquet(store).count() == len(ids1) * 4


def test_trajectory_doc_id_guard_raises_past_bound(spark):
    """The composite trajectory key computes user_id*1e6+session_id below
    the bound and RAISES (not collides) at session_id >= 1e6 (ADVICE r12:
    the docstring acknowledged the limit but nothing enforced it)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from dbt_trill_shop_spark.ext.dedup import _traj_doc_id

    ok = spark.createDataFrame(
        [(7, 999_999), (3, 0)], "user_id long, session_id long"
    )
    got = {r[0] for r in ok.select(_traj_doc_id()).collect()}
    assert got == {7 * 1_000_000 + 999_999, 3_000_000}
    bad = spark.createDataFrame([(7, 1_000_000)], "user_id long, session_id long")
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        bad.select(_traj_doc_id()).collect()
    assert "session_id 1000000 >= 1e6" in str(ei.value)


def test_group_advantage_expr_exact_past_int64(spark):
    """The GRPO advantage quotient stays exact where the old int64 form
    wrapped (ADVICE r12): with scores near 2^62, n*q - s*s and
    (n*score - s)*1e6 both exceed int64 but the decimal(38,0) algebra
    matches arbitrary-precision Python replicating the same single
    float-sqrt touch."""
    import math

    from dbt_trill_shop_spark.ext.sampling import _ADV_PPM_EXPR

    from decimal import Decimal

    a, b = 4 * 10**18, 3 * 10**18
    n, s, q = 2, a + b, a * a + b * b
    rows = [(n, Decimal(s), Decimal(q), r) for r in (a, b)]
    df = spark.createDataFrame(rows, "n long, s decimal(38,0), q decimal(38,0), score long")
    got = [r[0] for r in df.select(F.expr(_ADV_PPM_EXPR)).collect()]

    def expect(r):
        num = (n * r - s) * 1_000_000
        sig = max(math.floor(math.sqrt(float(n * q - s * s))), 1)
        return abs(num) // sig * (1 if num >= 0 else -1)  # DIV truncates to 0

    assert got == [expect(a), expect(b)]
    # sanity: the intermediates genuinely exceed int64, so the old form
    # could not have computed this without wraparound
    assert n * q - s * s > 2**63 and abs((n * a - s) * 1_000_000) > 2**63


# Pooled lane for the slow independent checks above (the _px_* helpers).
#
# Same trade as tests/test_oracle_parity.py's chunks: these 34 checks are
# pure (shared read-only session + testdata, no catalog/tmp-path/env
# mutation — the same ext operators already run concurrently in the parity
# pool), and serially they cost ~65 s of the suite's wall-clock.  A
# 12-thread pool runs them in ~the longest member instead; every helper
# keeps its own asserts and failures surface per-name with the traceback.
# ---------------------------------------------------------------------------

def _px_rerank_bridge_pipeline_oracle(spark, sf_dir):
    """The full two-stage rerank pipeline (STAGED for round 9) passes the
    driver-style comparison against the pure-SQL DuckDB twin; corpus
    degenerates (empty corpus; all-NULL row plus a token-less query that
    must be ABSENT from results, not crashed) survive."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.textstats import (
        RERANK_BRIDGE_SQL_TEMPLATE,
        rerank_bridge_topk,
    )

    from .oracle_utils import compare, duck_connection, oracle_frame

    full = rerank_bridge_topk(load_table(spark, sf_dir, "documents"))
    sql = RERANK_BRIDGE_SQL_TEMPLATE.format(
        dim=32, num_queries=4, k_retrieve=10, k_final=5
    )
    probs = compare(full, oracle_frame(duck_connection(sf_dir), sql))
    assert not probs, "; ".join(probs)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert rerank_bridge_topk(empty).count() == 0
    weird = spark.createDataFrame(
        [(None, None), (0, "1234 !!"), (1, "alpha beta"), (5, "alpha beta gamma")],
        "doc_id long, text string",
    )
    rows = rerank_bridge_topk(weird, num_queries=2).collect()
    assert {r.query_id for r in rows} == {1}
    assert all(r.rerank_score is not None for r in rows)


def _px_k_anonymity_and_l_diversity_match_duckdb(spark, sf_dir):
    """Privacy-governance audits (STAGED for round 9): the k-anonymity
    class-size histogram and the l-diversity distinct-sensitive histogram
    pass the driver-style comparison against their DuckDB oracles;
    degenerate inputs (empty relation, all-NULL quasi row) follow SQL
    GROUP BY semantics rather than crashing."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.pipeline import (
        k_anonymity_report,
        k_anonymity_sql,
        l_diversity_report,
        l_diversity_sql,
    )

    from .oracle_utils import compare, duck_connection, oracle_frame

    cust = load_table(spark, sf_dir, "customer")
    con = duck_connection(sf_dir)
    probs = compare(
        k_anonymity_report(cust, ["c_mktsegment", "c_nationkey"], k=10),
        oracle_frame(
            con, k_anonymity_sql("customer", ["c_mktsegment", "c_nationkey"], k=10)
        ),
    )
    assert not probs, "k_anonymity: " + "; ".join(probs)
    derived = cust.select(
        "c_nationkey", (F.col("c_custkey") % 20).alias("kb"), "c_mktsegment"
    )
    sub = "(SELECT c_nationkey, c_custkey % 20 AS kb, c_mktsegment FROM customer) t"
    probs = compare(
        l_diversity_report(derived, ["c_nationkey", "kb"], "c_mktsegment", l=3),
        oracle_frame(
            con, l_diversity_sql(sub, ["c_nationkey", "kb"], "c_mktsegment", l=3)
        ),
    )
    assert not probs, "l_diversity: " + "; ".join(probs)
    # degenerate: empty input -> empty histograms, same schema
    empty = spark.createDataFrame([], "a string, b long, s string")
    assert k_anonymity_report(empty, ["a", "b"]).count() == 0
    assert l_diversity_report(empty, ["a"], "s").count() == 0
    # an all-NULL quasi row forms its own class (SQL GROUP BY), and a
    # NULL sensitive value counts zero distinct values
    weird = spark.createDataFrame(
        [(None, None, None), ("x", 1, "s1"), ("x", 1, "s2")],
        "a string, b long, s string",
    )
    ka = {r.class_size: r.n_classes for r in k_anonymity_report(weird, ["a", "b"], k=2).collect()}
    assert ka == {1: 1, 2: 1}
    ld = {r.n_sensitive: r.n_classes for r in l_diversity_report(weird, ["a", "b"], "s").collect()}
    assert ld == {0: 1, 2: 1}


from .test_embed_bridge import (
    _px_bridge_longform_matches_duckdb_oracle,
    _px_bridge_matches_jvm_twin_and_contract,
    _px_rerank_bridge_matches_jvm_twin,
)

_POOLED_CHECKS = [
    # demoted r11 (VERDICT r10 wall note): the two largest remaining
    # main-process serial blocks by --durations — the real-PNG media
    # decode (~31 s) and the three embed/rerank bridge checks (~23 s)
    _px_real_png_decodes_through_spark_media_path,
    _px_bridge_matches_jvm_twin_and_contract,
    _px_bridge_longform_matches_duckdb_oracle,
    _px_rerank_bridge_matches_jvm_twin,
    _px_rerank_bridge_pipeline_oracle,
    _px_k_anonymity_and_l_diversity_match_duckdb,
    _px_exact_dedup_keeps_min_id,
    _px_knn_pagerank_over_ivf_candidates_recall,
    _px_minhash_finds_planted_near_dups,
    _px_connected_components_known_graph,
    _px_srp_topk_deterministic_candidates_and_recall,
    _px_simhash_near_dup_hamming,
    _px_mmr_diversifies_vs_pure_relevance,
    _px_knn_bfs_chain_hops,
    _px_pca_power_recovers_planted_direction,
    _px_knn_graph_planted_clusters,
    _px_bpe_merges_planted_corpus,
    _px_token_budget_select_matches_naive_global_window,
    _px_native_minhash_candidates_sound_and_high_recall,
    _px_lsh_topk_recall_vs_exact,
    _px_simhash_checked_finds_planted_neardup,
    _px_simhash_verified_empty_corpus,
    _px_knn_pagerank_mass_and_hub,
    _px_multimodal_feature_extract,
    _px_retrieval_eval_perfect_and_absent,
    _px_coverage_select_greedy_property,
    _px_sq8_recall_vs_exact_l2,
    _px_knn_clustering_triangle_clique,
    _px_binary_hamming_exact_duplicate_is_nearest,
    _px_ivf_pq_recall_floors,
    _px_ivfpq_binary_recall_floors,
    _px_wide_accumulators_exact_past_int64,
    _px_kmeans_refine_recovers_planted_clusters,
    _px_quality_auc_matches_pairwise_bruteforce,
    _px_repetition_signals_flags_repetitive,
    _px_minhash_min_band_matches_monotone,
    _px_bm25_query_with_more_terms_than_doc,
    _px_approx_count_distinct_accuracy,
    _px_exact_pair_distances_empty_and_self_pairs,
    _px_bigram_logprob_orders_common_vs_rare,
    _px_cosine_topk_self_excluded,
    _px_countmin_estimates_upper_bound_truth,
    _px_quality_and_langid_run,
]


# _POOLED_CHECKS run in the pooled-scenarios SIBLING PROCESS since round 8
# (scenarios_sibling_subprocess.py, joined by test_z_scenarios_join.py) —
# the in-suite pool was the second-largest serial block (~21 s idle).
