"""Property-based tests (SURVEY.md §5 item 3): the CASE-bucketing logic must
match a straight-line Python reference on arbitrary ints, with explicit
coverage of every boundary value the reference models branch on
(rank 1/5/10/25 — top_terms_comparison.sql:51-54, trending_terms_analysis.sql:54-57;
score 20/40/60/80 — top_terms_comparison.sql:55-62;
percent_gain 100/200/500/1000 — trending_terms_analysis.sql:61-64).

One Spark job per test: hypothesis generates the whole value list, Spark
evaluates the bucketize Column over it in a single pass.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from dbt_trill_shop_spark.functions import bucketize
from dbt_trill_shop_spark.models.trends import (
    GROWTH_CATEGORY_RULES,
    INTEREST_LEVEL_RULES,
    RANK_CATEGORY_RULES,
    RANK_TIER_RULES,
)

BOUNDARIES = [0, 1, 2, 4, 5, 6, 9, 10, 11, 19, 20, 21, 24, 25, 26, 39, 40, 41,
              59, 60, 61, 79, 80, 81, 99, 100, 101, 199, 200, 201, 499, 500,
              501, 999, 1000, 1001]


def _py_bucketize(v, rules, default):
    for op, threshold, label in rules:
        if (op == "=" and v == threshold) or (op == "<=" and v <= threshold) or (
            op == ">=" and v >= threshold
        ):
            return label
    return default


def _spark_buckets(spark, values, rules, default):
    df = spark.range(0).selectExpr("id as v").unionByName(
        spark.createDataFrame([(int(v),) for v in values], "v long")
    )
    out = df.select("v", bucketize("v", rules, default).alias("b")).collect()
    return {r.v: r.b for r in out}


CASES = [
    ("rank_category", RANK_CATEGORY_RULES, "Other"),
    ("interest_level", INTEREST_LEVEL_RULES, "Very Low Interest"),
    ("rank_tier", RANK_TIER_RULES, "Other"),
    ("growth_category", GROWTH_CATEGORY_RULES, "Low (<100%)"),
]


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(extra=st.lists(st.integers(min_value=-10_000, max_value=10_000), max_size=30))
def test_bucketize_matches_python_reference(spark, extra):
    values = sorted(set(BOUNDARIES + extra))
    for name, rules, default in CASES:
        got = _spark_buckets(spark, values, rules, default)
        for v in values:
            want = _py_bucketize(v, rules, default)
            assert got[v] == want, (name, v, got[v], want)


@settings(deadline=None, max_examples=10, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(min_value=1, max_value=2000), min_size=1, max_size=40),
    st.integers(min_value=8, max_value=512),
)
def test_pack_documents_invariants(spark, token_counts, capacity):
    """Start-offset binning: result matches the one-pass Python reference
    exactly (bin = floor(prefix_sum/capacity) over capped sizes), sizes are
    capped to [1, capacity], and bin ids are dense from 0."""
    from dbt_trill_shop_spark.ext.sampling import pack_documents

    rows = [(i, n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = {r["doc_id"]: r for r in pack_documents(df, capacity=capacity).collect()}
    assert len(out) == len(rows)
    cum = 0
    bins = set()
    for i, n in rows:
        capped = min(n, capacity)
        assert out[i]["packed_tokens"] == capped
        assert out[i]["bin_id"] == cum // capacity
        bins.add(out[i]["bin_id"])
        cum += capped
    assert sorted(bins) == list(range(len(bins)))  # dense from 0


@settings(deadline=None, max_examples=10, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(min_value=1, max_value=300),
    st.integers(min_value=2, max_value=64),
)
def test_chunk_documents_invariants(spark, n_tokens, stride):
    """Chunking: every token index covered, chunk ids dense from 0, all
    chunks but the last are full-stride apart, sizes bounded by window."""
    from dbt_trill_shop_spark.ext.sampling import chunk_documents

    window = stride + stride // 2  # overlap = window - stride
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    out = sorted(
        chunk_documents(df, window=window, stride=stride).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["chunk_id"] for r in out] == list(range(len(out)))
    seen = set()
    for r in out:
        toks = r["chunk_text"].split(" ")
        assert 1 <= r["n_chunk_tokens"] <= window
        assert len(toks) == r["n_chunk_tokens"]
        seen.update(toks)
    assert len(seen) == n_tokens  # full coverage


@settings(deadline=None, max_examples=30, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    counts=st.lists(st.integers(min_value=1, max_value=10**9), min_size=1, max_size=8),
    weights=st.lists(st.integers(min_value=1, max_value=50), min_size=8, max_size=8),
)
def test_mixture_plan_arithmetic_invariants(counts, weights):
    """The integer-ppm mixture arithmetic (the same formulas mixture_plan
    executes in-plan) must never overplan a stratum, must saturate the
    binding stratum near 100%, and must preserve weight ratios within
    ppm truncation."""
    strata = {f"s{i}": (c, w) for i, (c, w) in enumerate(zip(counts, weights))}
    t_min = min((c * 1_000_000) // w for c, w in strata.values())
    planned = {k: (t_min * w) // 1_000_000 for k, (c, w) in strata.items()}
    for k, (c, w) in strata.items():
        assert 0 <= planned[k] <= c
    # the binding stratum keeps (almost) everything: within 1 of its count
    binder = min(strata, key=lambda k: (strata[k][0] * 1_000_000) // strata[k][1])
    assert planned[binder] >= strata[binder][0] - 1
    # pairwise ratio preservation: planned_a/planned_b ~= w_a/w_b
    ks = list(strata)
    for a in ks:
        for b in ks:
            wa, wb = strata[a][1], strata[b][1]
            pa, pb = planned[a], planned[b]
            if pb > 0 and pa > 0:
                assert abs(pa * wb - pb * wa) <= wa + wb  # truncation slack


@settings(deadline=None, max_examples=50)
@given(s=st.integers(min_value=-(10**15), max_value=10**15),
       n=st.integers(min_value=1, max_value=10**6))
def test_trunc_div_matches_engine_semantics(s, n):
    """kmeans_refine's driver-side centroid assembly emulates Spark `div` /
    DuckDB `//` (truncation toward zero) — verify against DuckDB itself."""
    import duckdb

    def trunc_div(s, n):
        return s // n if s >= 0 else -((-s) // n)

    want = duckdb.sql(
        f"SELECT CAST({s} AS BIGINT) // CAST({n} AS BIGINT)"
    ).fetchall()[0][0]
    assert trunc_div(s, n) == want


@given(
    vals=st.lists(
        st.floats(min_value=-100.0, max_value=100.0, allow_nan=False, width=32),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sq8_quantizer_properties(spark, vals):
    """SQ8 codes must (a) stay in 0..255, (b) map the per-dim min to 0 and
    max to 255, (c) be monotone in the input value — on arbitrary
    single-dimension corpora."""
    from dbt_trill_shop_spark.ext.similarity import sq8_encode

    emb = spark.createDataFrame(
        [(i, [float(v)]) for i, v in enumerate(vals)],
        "vec_id long, embedding array<double>",
    )
    rows = sq8_encode(emb).collect()
    codes = {r["vec_id"]: r["code"] for r in rows}
    assert all(0 <= c <= 255 for c in codes.values())
    # micro-unit rounding first: ties in micro space share a code
    micro = {i: round(v * 1_000_000) for i, v in enumerate(vals)}
    lo, hi = min(micro.values()), max(micro.values())
    for i, m in micro.items():
        if m == lo:
            assert codes[i] == 0
        if m == hi:
            assert codes[i] == (255 if hi > lo else 0)
    # monotone: larger micro value -> code at least as large
    by_val = sorted(micro, key=lambda i: micro[i])
    for a, b in zip(by_val, by_val[1:]):
        assert codes[a] <= codes[b]


@given(
    counts=st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=8),
    budget=st.integers(min_value=0, max_value=50_000),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_temperature_mixture_invariants(spark, counts, budget):
    """For any stratum counts and budget: ppm shares sum to <= 1e6, planned
    rows never exceed availability or (sum) the budget, and flattening
    never inverts the ordering (bigger stratum keeps >= planned rows)."""
    from dbt_trill_shop_spark.ext.sampling import temperature_mixture

    rows = [
        (i * 100_000 + j, "t", "x", f"s{i}")
        for i, c in enumerate(counts)
        for j in range(c)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r["stratum"]: r for r in temperature_mixture(docs, budget=budget).collect()}
    assert sum(r["p_ppm"] for r in out.values()) <= 1_000_000
    assert sum(r["planned_rows"] for r in out.values()) <= budget
    for r in out.values():
        assert 0 <= r["planned_rows"] <= r["n_rows"]
    ordered = sorted(out.values(), key=lambda r: r["n_rows"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["planned_rows"] <= b["planned_rows"] or a["n_rows"] == b["n_rows"]


def _bpe_reference(corpus: list[str], n_merges: int):
    """Pure-Python BPE (Sennrich 2016 pseudocode): word-freq table, best-pair
    argmax with (count desc, pair asc) ties, greedy leftmost merge."""
    import collections
    import re

    freq = collections.Counter(
        w for t in corpus for w in re.split("[^a-z]+", t.lower()) if w
    )
    words = {w: list(w) for w in freq}
    merges = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, c))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


@given(
    corpus=st.lists(
        st.text(alphabet="abc d", min_size=0, max_size=30), min_size=1, max_size=12
    ),
    n_merges=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_matches_pure_python_reference(spark, corpus, n_merges):
    from dbt_trill_shop_spark.ext.bpe import bpe_merges

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = [
        (r.lhs, r.rhs, r.pair_count)
        for r in bpe_merges(docs, n_merges=n_merges, max_vocab=1000).collect()
    ]
    assert got == _bpe_reference(corpus, n_merges)


def test_cdc_chunks_reassemble_to_original(spark, sf_dir):
    """Lossless partition property: joining every doc's chunks back in
    chunk order must reproduce the original token stream exactly."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.sampling import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    rebuilt = (
        cdc_chunks(docs)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                    lambda s: s.chunk_text,
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    bad = (
        docs.join(rebuilt, "doc_id")
        .filter(F.col("rebuilt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_ppl_buckets_partition_the_corpus(spark, sf_dir):
    """Deciles are equal-count (±1) and cover every document exactly once."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.textstats import ppl_buckets

    docs = load_table(spark, sf_dir, "documents")
    rows = ppl_buckets(docs, n_buckets=10).collect()
    n_docs = docs.count()
    assert sum(r.n_docs for r in rows) == n_docs
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert {r.segment for r in rows} == {"head", "middle", "tail"}


def test_phash_hamming_within_threshold_and_symmetric_free(spark, sf_dir):
    """Every reported pair is id_a < id_b with hamming <= the threshold, and
    identical payloads always collide at hamming 0."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.multimodal import (
        docs_as_media,
        perceptual_hash_neardup,
    )

    media = docs_as_media(load_table(spark, sf_dir, "documents"))
    rows = perceptual_hash_neardup(media, hamming_max=3).collect()
    assert all(r.id_a < r.id_b and 0 <= r.hamming <= 3 for r in rows)
    # exact duplicates (same text) must appear with hamming 0
    docs = load_table(spark, sf_dir, "documents")
    dup_pair = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("a.text") == F.col("b.text"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(F.length("a.text") >= 66)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .limit(1)
        .collect()
    )
    if dup_pair:
        found = [
            r
            for r in rows
            if r.id_a == dup_pair[0].id_a and r.id_b == dup_pair[0].id_b
        ]
        assert found and found[0].hamming == 0


def test_residual_ivfpq_and_matryoshka_recall(spark, sf_dir):
    """Quality floor for the two new ANN variants: matryoshka's full-width
    rerank must recover (almost) the exact cosine top-5, and residual
    IVF-PQ must beat a trivial recall floor at the same probe budget."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.ext.similarity import (
        ann_recall,
        cosine_topk_bruteforce,
        ivfpq_residual_topk,
        matryoshka_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, k=5)

    # shortlist scales with the corpus (10% floor-50): a FIXED 50-candidate
    # shortlist from a 16-dim prefix legitimately loses recall as N grows
    # (0.28 on the 2000-vector sf0.1 table) — the scale-stable property is
    # recall at a proportional rerank budget
    sl = max(50, emb.count() // 10)
    mat = matryoshka_topk(emb, queries, prefix_dims=16, shortlist=sl, k=5)
    mat_recall = ann_recall(mat, exact, k=5).agg(
        F.avg("recall_ppm").alias("r")
    ).collect()[0].r
    # dot-product rerank over the shortlist recovers most of the cosine
    # top-5 (metric mismatch dot-vs-cosine costs a little)
    assert mat_recall >= 400_000, mat_recall

    # codebook scales with the corpus (n/8 entries, floor 16): a fixed
    # 16-entry untrained codebook cannot separate 5 true neighbors from
    # thousands of code-colliding candidates, so the scale-stable property
    # is recall at a proportional quantizer budget.  (The seeds start at
    # n_cells — the r6 fix: centroid-seed residuals are zero vectors and a
    # zero codebook makes ADC candidate-independent.)
    res = ivfpq_residual_topk(
        emb, queries, k=5, n_cells=16, n_probe=4,
        n_codes=max(16, emb.count() // 8),
    )
    res_recall = ann_recall(res, exact, k=5).agg(
        F.avg("recall_ppm").alias("r")
    ).collect()[0].r
    assert res_recall >= 200_000, res_recall


def test_zorder_clusters_both_dimensions(spark, sf_dir):
    """Sorting by the Morton key must give (much) better two-dimensional
    neighbor locality than sorting by either single column — the property
    that makes row-group min/max stats prune on both filter columns."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.operators.analytics import _morton_expr

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    )
    z = li.withColumn("z", _morton_expr("CAST(p AS INT)", "CAST(s AS INT)"))

    def locality(order_col):
        from pyspark.sql import Window

        w = Window.orderBy(order_col)
        d = z.select(
            (F.abs(F.col("p") - F.lag("p").over(w))
             + F.abs(F.col("s") - F.lag("s").over(w))).alias("d")
        )
        return d.agg(F.avg("d")).collect()[0][0]

    z_loc = locality("z")
    p_loc = locality("p")
    assert z_loc < p_loc / 2, (z_loc, p_loc)


def test_linear_counting_bitmaps_merge(spark, sf_dir):
    """Mergeability: the union of the weekly slot bitmaps must give exactly
    the whole-period occupancy — the property that lets distinct-count
    state combine across partitions/days without reprocessing."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table

    m = 4096
    ev = load_table(spark, sf_dir, "events")
    slot = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % m
    )
    weekly_slots = ev.select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        slot.alias("slot"),
    ).distinct()
    merged_occupancy = weekly_slots.select("slot").distinct().count()
    direct_occupancy = ev.select(slot.alias("slot")).distinct().count()
    assert merged_occupancy == direct_occupancy


def test_histogram_quantile_error_bounded_by_bin(spark, sf_dir):
    """The histogram estimate must bracket the exact percentile within its
    bin: exact p-quantile in (est_upper - bin_width, est_upper]."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.operators.analytics import histogram_quantiles

    bin_dollars = 500
    rows = histogram_quantiles(spark, sf_dir, bin_dollars=bin_dollars).collect()
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    prices = sorted(r.o_totalprice for r in orders.select("o_totalprice").collect())
    for r in rows:
        # discrete p-quantile: value at rank ceil(p% of n) — the rank the
        # histogram's cumulative-count rule targets (interpolating
        # percentile can exceed the bin by construction)
        exact = prices[-(-r.pct * n // 100) - 1]
        assert r.est_upper_dollars - bin_dollars < exact <= r.est_upper_dollars, (
            r.pct,
            exact,
            r.est_upper_dollars,
        )


def test_hll_registers_merge_across_weeks(spark, sf_dir):
    """HLL mergeability: MAX-merging the weekly register grids must give
    exactly the registers of a whole-period build — the property that lets
    distinct-count state combine across partitions/streams/time."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.catalog import load_table

    m, width = 256, 24
    ev = load_table(spark, sf_dir, "events")
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    rest = (h32 / m).cast("bigint")
    rank = (
        F.when(rest == 0, F.lit(width + 1))
        .otherwise(F.lit(width) - F.floor(F.log2(rest)))
        .cast("bigint")
    )
    base = ev.select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        (h32 % m).alias("reg"),
        rank.alias("rank"),
    )
    weekly = base.groupBy("week", "reg").agg(F.max("rank").alias("mr"))
    merged = sorted(
        (r.reg, r.mr)
        for r in weekly.groupBy("reg").agg(F.max("mr").alias("mr")).collect()
    )
    direct = sorted(
        (r.reg, r.mr)
        for r in base.groupBy("reg").agg(F.max("rank").alias("mr")).collect()
    )
    assert merged == direct


def test_holt_packed_fold_matches_pure_python(spark, sf_dir):
    """The packed-int64 Holt fold must equal the plain (level, trend)
    recurrence l' = floor((x+l+t)/2), t' = floor((l'-l+t)/2) replayed in
    Python over the same sorted daily series."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.operators.analytics import holt_forecast
    import pyspark.sql.functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["d"], r["y"]))
    expected = {}
    for et, pts in series.items():
        ys = [y for _, y in sorted(pts)]
        l, t = ys[0], 0
        for x in ys[1:]:
            l2 = (x + l + t) // 2
            t = (l2 - l + t) // 2
            l = l2
        expected[et] = (l, t, l + 7 * t)
    got = {
        r["event_type"]: (r["level"], r["trend"], r["forecast_7d"])
        for r in holt_forecast(spark, sf_dir).collect()
    }
    assert got == expected


def test_mannwhitney_doubled_u_matches_bruteforce(spark, sf_dir):
    """u_x2 from the distinct-value window must equal the O(n²) pairwise
    definition 2·#{x>y} + #{ties} computed in Python on the same rows."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.operators.analytics import mannwhitney_order_values

    rows = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .selectExpr(
            "o_orderpriority = '1-URGENT' AS g1",
            "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v",
        )
        .collect()
    )
    xs = sorted(r["v"] for r in rows if r["g1"])
    ys = sorted(r["v"] for r in rows if not r["g1"])
    import bisect

    u2 = 0
    for x in xs:
        lt = bisect.bisect_left(ys, x)
        eq = bisect.bisect_right(ys, x) - lt
        u2 += 2 * lt + eq
    out = mannwhitney_order_values(spark, sf_dir).collect()[0]
    assert out["u_x2"] == u2
    assert out["n_urgent"] == len(xs) and out["n_low"] == len(ys)


def test_kaplan_meier_matches_python_replay(spark, sf_dir):
    """The KM risk sets and log-survival must equal a direct Python replay
    of the product-limit recurrence over the same (t, death) subjects."""
    import math

    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.operators.analytics import kaplan_meier_conversion
    import datetime

    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts").cast("date"))).alias("fv"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))).alias("fp"),
        )
        .filter(F.col("fv").isNotNull())
        .collect()
    )
    end = datetime.date(2024, 1, 30)
    subj = []
    for r in per_user:
        if r["fp"] is not None and r["fp"] >= r["fv"]:
            subj.append(((r["fp"] - r["fv"]).days, 1))
        else:
            subj.append(((end - r["fv"]).days, 0))
    times = sorted({t for t, _ in subj})
    n_at_risk = len(subj)
    cum = 0
    expect = {}
    for t in times:
        d = sum(1 for tt, dd in subj if tt == t and dd)
        c = sum(1 for tt, dd in subj if tt == t and not dd)
        if d > 0:
            term = (
                round(math.log((n_at_risk - d) / n_at_risk) * 1_000_000)
                if n_at_risk > d
                else -30_000_000
            )
        else:
            term = 0
        cum += term
        if d > 0:
            expect[t] = (n_at_risk, d, c, cum)
        n_at_risk -= d + c
    got = {
        r["t_days"]: (r["n_risk"], r["n_deaths"], r["n_censored"], r["cum_log_micro"])
        for r in kaplan_meier_conversion(spark, sf_dir).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Two-phase global-window helpers: bit-identity with the naive single-task
# window on ARBITRARY distributions — including the adversarial shapes the
# fixed-data tests in test_twophase.py don't reach (all keys equal = one
# degenerate bucket; all keys distinct; heavy tie plateaus; negative keys
# under trunc-division bucketing).
# ---------------------------------------------------------------------------


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(
        st.integers(min_value=-500, max_value=500), min_size=1, max_size=120
    ),
    n_tiles=st.integers(min_value=1, max_value=7),
)
def test_twophase_helpers_match_naive_windows(spark, keys, n_tiles):
    from pyspark.sql import Window

    from dbt_trill_shop_spark.operators.twophase import (
        bucketed_cumsum,
        bucketed_ntile,
        bucketed_rank,
    )

    rows = [(int(k), i, (i * 7 + 3) % 11) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "k long, id long, v long")
    order = [F.asc("k"), F.asc("id")]
    bucket = F.expr("k DIV 16")

    def rowset(frame):
        return sorted(map(tuple, frame.collect()))

    w = Window.orderBy("k", "id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    naive = df.select(
        "k", "id", "v",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.ntile(n_tiles).over(w).cast("bigint").alias("t"),
        F.sum("v").over(wc).alias("c"),
    )
    two = bucketed_cumsum(
        bucketed_ntile(
            bucketed_rank(df, bucket, order), bucket, order, n_tiles, "t"
        ),
        bucket,
        order,
        F.col("v"),
        "c",
    ).select("k", "id", "v", "rank", "t", "c")
    assert rowset(naive) == rowset(two)


@settings(max_examples=2, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-500, max_value=500)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=10)),
        ),
        min_size=1,
        max_size=120,
    ),
)
def test_twophase_nulls_and_quantile_bucket_match_naive(spark, rows):
    """ADVICE r5 closure, property form: with NULL keys, NULL values, and
    the distribution-adaptive quantile bucket, the chained two-phase
    helpers stay bit-identical to the naive global window (ASC NULLS
    FIRST, SUM OVER's NULL-until-first-value semantics) on arbitrary
    distributions — including all-NULL columns and single-row inputs."""
    from pyspark.sql import Window

    from dbt_trill_shop_spark.operators.twophase import (
        bucketed_cumsum,
        bucketed_ntile,
        bucketed_rank,
        quantile_bucket,
    )

    data = [(k, i, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, id long, v long")
    order = [F.asc("k"), F.asc("id")]

    w = Window.orderBy("k", "id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    naive = df.select(
        "k", "id", "v",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.ntile(5).over(w).cast("bigint").alias("t"),
        F.sum("v").over(wc).alias("c"),
    )
    qb = quantile_bucket(df, "k", n=8)
    bucket = F.col("__tp_qb")
    two = bucketed_cumsum(
        bucketed_ntile(
            bucketed_rank(qb, bucket, order), bucket, order, 5, "t"
        ),
        bucket,
        order,
        F.col("v"),
        "c",
    ).select("k", "id", "v", "rank", "t", "c")

    def rowset(frame):  # None-safe sort key
        return sorted(
            map(tuple, frame.collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    assert rowset(naive) == rowset(two)


# ---------------------------------------------------------------------------
# The rounded overlap predicate against exact rational arithmetic.  Spark
# compares round(ratio, 9) >= t; the checked oracles compare the unrounded
# ratio.  Within jaccard_at_least's union bound (q·u <= 10⁹ for t = p/q) the
# two keep exactly the same pairs; the draws sit within a few members of
# each threshold the registry uses, at small unions and up to the bound.
# ---------------------------------------------------------------------------

JACCARD_THRESHOLDS = ("0.0", "0.2", "0.5", "0.85")
CONTAINMENT_THRESHOLD = "0.8"


def _boundary_draws(t: str):
    """(u, step, split) draws: a denominator u within the union bound of
    ``t``, a numerator offset from floor(t·u), and how the non-shared
    members split between the two sets."""
    from fractions import Fraction

    bound = 10**9 // Fraction(t).denominator
    return st.lists(
        st.tuples(
            st.one_of(
                st.integers(1, 1000), st.integers(1, bound), st.just(bound)
            ),
            st.integers(-2, 2),
            st.floats(0, 1),
        ),
        min_size=1,
        max_size=12,
    )


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    jac=st.tuples(*[_boundary_draws(t) for t in JACCARD_THRESHOLDS]),
    con=_boundary_draws(CONTAINMENT_THRESHOLD),
)
def test_rounded_overlap_predicate_is_exact(spark, jac, con):
    import math
    from fractions import Fraction
    from functools import reduce

    from dbt_trill_shop_spark.overlap import jaccard_at_least, rounded_ratio

    rows, want = [], set()  # (tag, id, n_inter, n_a, n_b); kept (tag, id)

    def add(tag, t, u, step, split, exact):
        inter = min(max(math.floor(Fraction(t) * u) + step, 0), u)
        only_a = round(split * (u - inter))
        n_a, n_b = inter + only_a, u - only_a  # n_a + n_b - inter == u
        rows.append((tag, len(rows), inter, n_a, n_b))
        if exact(inter, n_a, n_b) >= Fraction(t):
            want.add((tag, len(rows) - 1))

    for tag, (t, draws) in enumerate(zip(JACCARD_THRESHOLDS, jac)):
        for u, step, split in draws:
            add(tag, t, u, step, split, lambda i, a, b: Fraction(i, a + b - i))
    c_tag = len(JACCARD_THRESHOLDS)
    for u, step, _ in con:  # containment: u is |A|, B ⊆ A (split 1.0)
        add(c_tag, CONTAINMENT_THRESHOLD, u, step, 1.0, lambda i, a, b: Fraction(i, a))
    # spark.range keeps the rows on the generated-code path; a local
    # relation would be folded away by the optimizer at planning time
    df = spark.range(len(rows), numPartitions=1).select(*[
        F.element_at(F.array(*[F.lit(r[i]) for r in rows]), F.col("id").cast("int") + 1)
        .cast("bigint").alias(c)
        for i, c in enumerate(("tag", "id", "n_inter", "n_a", "n_b"))
    ])

    def overlap(tag):
        return df.filter(F.col("tag") == tag).select(
            F.col("tag").alias("id_a"), F.col("id").alias("id_b"), "n_inter", "n_a", "n_b"
        )

    kept = [jaccard_at_least(overlap(k), float(t)) for k, t in enumerate(JACCARD_THRESHOLDS)]
    contained = overlap(c_tag).filter(
        rounded_ratio(F.col("n_inter"), F.col("n_a")) >= float(CONTAINMENT_THRESHOLD)
    )
    kept.append(contained.select("id_a", "id_b"))
    got = reduce(lambda x, y: x.unionByName(y), [k.select("id_a", "id_b") for k in kept])
    assert {(r.id_a, r.id_b) for r in got.collect()} == want
