"""The engine's query surface for the driver contract (__spark_entry__.py).

``QUERIES[name](spark, sf_dir) -> DataFrame`` with a matching DuckDB oracle
in plans/oracles.py (same column names; aggregates decimal-cast so the
cross-engine value hashes are exact).

The knowledge-graph queries run the full markup pipeline over the synthetic
corpus derived from ``documents`` (sources/corpus.py); the pipeline result
is memoized per sf_dir so the driver's per-query calls share one run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wikiprep_spark.operators import (
    asof, curation, dedup, entitylink, graph, lm, packing, retrieval,
    semdedup, similarity, sketches, textops,
)
from wikiprep_spark.plans.pipeline import run_pipeline
from wikiprep_spark.sources.corpus import build_src_pages

_PIPELINE_CACHE: dict = {}


def kg_pipeline(spark: SparkSession, sf_dir: str) -> dict:
    """The fused two-pass pipeline over the synthetic corpus of
    ``sf_dir``, memoized per (session, sf_dir): every kg_* query reads
    this one run.  The source table is materialized to parquet once, so
    both passes scan files instead of re-synthesizing the corpus."""
    import tempfile

    key = (id(spark), sf_dir)
    if key not in _PIPELINE_CACHE:
        src_dir = tempfile.mkdtemp(prefix="wikiprep_src_") + "/src"
        build_src_pages(spark, sf_dir).write.parquet(src_dir)
        _PIPELINE_CACHE[key] = run_pipeline(spark,
                                            spark.read.parquet(src_dir))
    return _PIPELINE_CACHE[key]


def _read(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _read_spread(spark, sf_dir, name):
    """_read + the under-parallel-scan guard (operators/spread.py): the
    testdata tables are single small parquet files, i.e. ONE-task scans.
    Used by the queries whose per-row expression work (HOF shingling,
    regex, JSON parsing, vector math) dominates and sits UPSTREAM of the
    first natural exchange — for those, serializing it on one core costs
    far more than the round-robin exchange.  Aggregation/join-only queries
    keep the plain scan: their first exchange is the aggregation itself,
    and an extra spread exchange is pure overhead (measured both ways,
    OPTIMIZATION_r06.md)."""
    from wikiprep_spark.operators.spread import spread_small_scan

    return spread_small_scan(_read(spark, sf_dir, name))


# --- knowledge-graph queries (full pipeline; oracles are closed-form) ----

def kg_links(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["links"]


def kg_anchors(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["anchors"].select(
        "target_id", "source_id", "anchor_text"
    )


def kg_categories(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["categories"].select(
        "page_id", "category_id"
    )


def kg_related(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["related"].select(
        "page_id", "related_id"
    )


def kg_redirects(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["redirect_records"]


def kg_external(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["external"]


def kg_interwiki(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["interwiki"]


def kg_template_inclusions(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["template_inclusions"]


def kg_disambig(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["disambig"].select(
        "disambig_id", "line_no", "pos", "target_id", "anchor_text"
    )


def kg_pages(spark, sf_dir):
    return kg_pipeline(spark, sf_dir)["pages"].select(
        "page_id", "title", "is_stub", "is_disambig", "is_category",
        "is_image",
    )


def kg_category_counts(spark, sf_dir):
    """Statistics.pm A3 as a salted two-phase aggregation."""
    from wikiprep_spark.operators.stats import category_counts

    return category_counts(kg_pipeline(spark, sf_dir)["categories"])


def kg_incoming_links(spark, sf_dir):
    """Statistics.pm A4 as a salted two-phase aggregation."""
    from wikiprep_spark.operators.stats import incoming_link_counts

    return incoming_link_counts(kg_pipeline(spark, sf_dir)["links"])


def kg_redirect_closure(spark, sf_dir):
    """North-rule canonicalization: full redirect transitive closure
    (the P/R-gated edges keep the reference's 1-hop rule; this is the
    separate canonical_map)."""
    redirects = kg_pipeline(spark, sf_dir)["redirects_raw"]
    return graph.redirect_canonical_map(
        redirects.select("from_title", "to_title")
    )


def kg_canonical_titles(spark, sf_dir):
    """North-rule canonicalization: connected components over the
    redirect-equivalence title graph (string-labeled min-label
    propagation)."""
    redirects = kg_pipeline(spark, sf_dir)["redirects_raw"]
    cc = graph.connected_components(
        redirects.select(
            F.col("from_title").alias("src"), F.col("to_title").alias("dst")
        )
    )
    return cc.select(F.col("node").alias("title"),
                     F.col("component").alias("canonical"))


# --- graph algorithms over derived edge sets -----------------------------

def graph_closure(spark, sf_dir):
    """Redirect-chain-style transitive closure via pointer jumping over the
    dense orders-key chain graph (edge k -> k-1000)."""
    orders = _read(spark, sf_dir, "orders")
    edges = orders.where(F.col("o_orderkey") >= 1000).select(
        F.col("o_orderkey").alias("src"),
        (F.col("o_orderkey") - 1000).alias("dst"),
    )
    return graph.transitive_closure_roots(edges)


def graph_components(spark, sf_dir):
    """Connected components (min-label propagation) over the
    customer-nation-region membership graph."""
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    e1 = customer.select(
        F.col("c_custkey").cast("long").alias("src"),
        (F.col("c_nationkey") + 10000000).cast("long").alias("dst"),
    )
    e2 = nation.select(
        (F.col("n_nationkey") + 10000000).cast("long").alias("src"),
        (F.col("n_regionkey") + 20000000).cast("long").alias("dst"),
    )
    _ = region  # region nodes appear as e2 dst
    return graph.connected_components(e1.unionByName(e2))


def graph_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the knowledge-graph link edges (the
    canonical use of the link table the reference materializes); the
    oracle unrolls the same five iterations relationally over the
    closed-form edge set."""
    links = kg_pipeline(spark, sf_dir)["links"]
    return graph.pagerank(
        links.select(F.col("source_id").alias("src"),
                     F.col("target_id").alias("dst")))


def text_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval of documents for deterministic probe queries;
    scores rounded before ranking, doc_id tiebreak, two-phase top-k."""
    return retrieval.bm25_topk(_read_spread(spark, sf_dir, "documents"))


# --- TPC-H-ish relational coverage ---------------------------------------

def q1_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast(
            "timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal accumulation for exactness, double output so the value
            # hash matches the DuckDB oracle's float64 materialization
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias(
                "sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias(
                "sum_base_price"),
            F.round(F.sum(dec("l_extendedprice")
                          * (F.lit(1).cast("decimal(18,2)")
                             - dec("l_discount"))), 2).cast("double").alias(
                "sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_revenue_by_nation(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer),
                    orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation),
              customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("revenue"),
        )
    )


def q_window_top_order(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def q_anti_customers_without_orders(spark, sf_dir):
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return customer.join(
        orders.select("o_custkey").distinct(),
        customer.c_custkey == F.col("o_custkey"),
        "left_anti",
    ).select("c_custkey", "c_name")


def q_events_hourly(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# --- dedup / text / similarity -------------------------------------------

def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_read(spark, sf_dir, "documents"))


def dedup_token_jaccard(spark, sf_dir):
    pairs = dedup.token_jaccard_pairs(
        _read(spark, sf_dir, "documents"), threshold=0.5
    )
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def dedup_minhash_lsh(spark, sf_dir):
    # 16 bands x 2 rows at threshold 0.8: per-pair miss probability
    # (1 - 0.8^2)^16 ~= 8e-8, so the verified output provably equals the
    # exact all-pairs Jaccard >= 0.8 set — which is the DuckDB oracle.
    pairs = dedup.minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"),
        num_hashes=32, bands=16, threshold=0.8,
    )
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def dedup_simhash(spark, sf_dir):
    return dedup.simhash_dup_groups(_read(spark, sf_dir, "documents"))


def dedup_near_groups(spark, sf_dir):
    # the dedup DECISION surface: LSH pairs (provably-exhaustive band
    # config, same as dedup_minhash_lsh) -> connected components -> min-id
    # representative per cluster; the oracle recomputes the exact pair
    # graph and its components with a recursive closure in SQL
    return dedup.near_dup_groups(
        _read(spark, sf_dir, "documents"),
        num_hashes=32, bands=16, threshold=0.8,
    )


def text_token_stats(spark, sf_dir):
    return textops.token_stats(_read(spark, sf_dir, "documents"))


def text_quality(spark, sf_dir):
    return textops.quality_score(_read_spread(spark, sf_dir, "documents"))


def text_fingerprint(spark, sf_dir):
    return textops.fingerprint(_read(spark, sf_dir, "documents"))


def text_bpe_tokens(spark, sf_dir):
    return textops.bpe_token_count(_read(spark, sf_dir, "documents"))


def text_winnow_fingerprints(spark, sf_dir):
    return textops.winnow_fingerprints(_read(spark, sf_dir, "documents"))


def text_winnow_overlap(spark, sf_dir):
    # MOSS-style containment pairs over the winnowing fingerprints; the
    # oracle recomputes the postings join + containment in pure SQL
    return textops.winnow_overlap_pairs(
        _read(spark, sf_dir, "documents"), threshold=0.8)


def text_lang_id(spark, sf_dir):
    return textops.lang_id(_read(spark, sf_dir, "documents"))


def sim_cosine_topk(spark, sf_dir):
    emb = _read_spread(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


def sim_ivf_topk(spark, sf_dir):
    # IVF with n_probe == n_centroids is exhaustive search routed through
    # the inverted-file machinery (coarse quantizer, per-list join, merge
    # + re-rank), so the exact-top-k SQL gates the whole path — here
    # INCLUDING the distributed kmeans bootstrap (seed sample -> 2 Lloyd
    # iterations with exact decimal accumulation); production uses
    # n_probe << n_centroids (unit-tested subset semantics)
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    centroids = similarity.ivf_kmeans_refine(
        emb, similarity.ivf_centroids(emb, 8), n_iters=2)
    return similarity.ivf_cosine_topk(emb, queries, k=5, n_probe=8,
                                      centroids=centroids)


def sim_near_dup(spark, sf_dir):
    # the SCALE path (banded hyperplane LSH + exact verify), gated in a
    # provably-recall-1 configuration against the exact all-pairs oracle
    # (the ivf full-probe trick): 24 one-plane bands at cos>=0.35 miss a
    # qualifying pair only if its sign differs on ALL 24 hyperplanes —
    # P <= (acos(0.35)/pi)^24 ~= 1.3e-10 per pair, < 1/n^2 far beyond the
    # test corpus — so the LSH output equals the exact answer and the
    # CORRECTNESS row exercises the bucketed plan.  Production uses
    # multi-plane bands at high thresholds (the default 8x4 config).
    pairs = similarity.cosine_near_dup_pairs(
        _read(spark, sf_dir, "embeddings"), dim=64, threshold=0.35,
        bands=24, planes_per_band=1,
    )
    return pairs.select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")
    )


def sim_near_dup_exact(spark, sf_dir):
    # exact all-pairs baseline (quadratic; the correctness anchor the LSH
    # path above is gated against)
    pairs = similarity.cosine_pairs_exact(
        _read(spark, sf_dir, "embeddings"), threshold=0.35
    )
    return pairs.select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")
    )


def sim_near_dup_groups(spark, sf_dir):
    # the embedding-side dedup DECISION surface: LSH pairs (same
    # provably-recall-1 config as sim_near_dup) -> connected components ->
    # min-id representative per cluster; the oracle recomputes the exact
    # cosine pair graph and its components with a recursive closure
    return similarity.embedding_near_dup_groups(
        _read(spark, sf_dir, "embeddings"), dim=64, threshold=0.35,
        bands=24, planes_per_band=1,
    )


def sim_lsh_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    dim = len(emb.select("embedding").first()["embedding"])
    return similarity.lsh_cosine_topk(emb, queries, dim=dim, k=5)


# --- corpus curation (training-data hygiene) ------------------------------

def cur_repetition(spark, sf_dir):
    # Gopher-style repetition signals; the oracle recomputes the duplicate
    # -line and top-n-gram fractions with unnest+groupBy instead of the
    # sorted-array linear pass
    return curation.repetition_stats(_read_spread(spark, sf_dir, "documents"))


def cur_pii_scrub(spark, sf_dir):
    # RE2-safe patterns make the scrubbed TEXT itself (not just the
    # counts) byte-comparable against the DuckDB twin
    return curation.pii_scrub(_read_spread(spark, sf_dir, "documents"))


def cur_decontaminate(spark, sf_dir):
    # the "benchmark" is a deterministic slice of the corpus itself
    # (doc_id % 97 == 0) so the query needs no side input; the member
    # docs are trivially contaminated, the interesting signal is which
    # OTHER documents share a 5-gram with them
    docs = _read_spread(spark, sf_dir, "documents")
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    return curation.ngram_decontaminate(docs, eval_docs, n=5)


def cur_sample(spark, sf_dir):
    # deterministic md5-bucket stratified downsampling by language
    return curation.stratified_sample(_read(spark, sf_dir, "documents"))


def text_lm_ppl(spark, sf_dir):
    """Bigram-LM self-perplexity per document (CCNet-style quality
    signal); the oracle refits the identical add-k model relationally."""
    return lm.lm_perplexity(_read_spread(spark, sf_dir, "documents"))


def q_skew_events(spark, sf_dir):
    """Heavy-hitter profile of events.user_id — the measure-before-you-
    shuffle input to every skew defense; top-k via distributed partial
    TakeOrderedAndProject, only the final 20 rows cross one task."""
    from wikiprep_spark.operators.stats import key_skew_stats

    return key_skew_stats(_read(spark, sf_dir, "events"), ["user_id"], 20)


def graph_triangles(spark, sf_dir):
    """Triangle counts + local clustering over the part co-order graph
    (parts appearing in the same order are linked).  Edge generation is a
    per-order sorted-set pair expansion inside HOFs — no self-join of the
    lineitem fact; the triangle join itself uses degree-ordered
    orientation (Suri-Vassilvitskii) so no hub part becomes the last
    reducer."""
    li = _read_spread(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("p"),
    )
    ps = li.groupBy("ok").agg(F.array_sort(F.collect_set("p")).alias("ps"))
    pairs = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), "
        "y -> struct(x AS src, y AS dst))))"
    )
    edges = (
        ps.select(F.explode(pairs).alias("e"))
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
    )
    return graph.triangle_counts(edges)


def text_chunks(spark, sf_dir):
    """Sliding-window chunking at (32, 8) — sized so the testdata docs
    (10-99 tokens) really produce overlapping multi-chunk output: every
    document becomes token windows with stable (doc_id, chunk_id) keys.
    Zero-shuffle pure-codegen projection."""
    return textops.chunk_documents(
        _read(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8)


def cur_dsir(spark, sf_dir):
    """DSIR importance weights toward the English slice of the corpus:
    fit hashed-ngram bucket multinomials on target (lang='en') and source
    (everything), score every doc by the summed log-ratio, and attach the
    deterministic-Gumbel resampling score."""
    docs = _read_spread(spark, sf_dir, "documents")
    return curation.dsir_logweights(docs, docs.where(F.col("lang") == "en"))


def dedup_passages(spark, sf_dir):
    """Substring-granularity exact dedup (Lee et al. ACL'22): per-doc
    maximal duplicated-passage spans at 8-token resolution.  The oracle
    twin joins on raw shingle strings where the engine shuffles xxhash64
    keys — identical output absent a 64-bit collision."""
    return dedup.dup_passages(_read(spark, sf_dir, "documents"), k=8)


def dedup_bloom_seen(spark, sf_dir):
    """Bloom-filter 'seen before?' membership: build the filter over the
    customers with an o_orderkey%3==0 order (a deterministic SUBSET, so
    the probe set contains real negatives), probe EVERY customer.  No
    false negatives; the false positives are deterministic (md5 bits),
    so the oracle reproduces the exact answer set bit-for-bit."""
    from wikiprep_spark.operators.bloom import bloom_build, bloom_probe

    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    bits = bloom_build(
        orders.where(F.col("o_orderkey") % 3 == 0), "o_custkey")
    return bloom_probe(
        bits, customer.select(F.col("c_custkey").alias("key")))


def q_range_ship_window(spark, sf_dir):
    """Pure range join (no equi key) via bin bucketing: distinct ship
    days joined into 30-day order windows of nation-0 customers.  Spark
    would compile the raw BETWEEN predicate to a nested-loop product;
    the bin join makes it one equi-shuffle (operators/rangejoin.py).
    The oracle is DuckDB's NATIVE range join — an independent engine
    implementation, the as-of-oracle contract."""
    from wikiprep_spark.operators.rangejoin import interval_join

    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    day = "datediff(CAST(%s AS DATE), DATE '1970-01-01')"
    pts = li.select(
        F.expr(day % "l_shipdate").cast("long").alias("ship_day")
    ).distinct()
    iv = (
        orders.join(
            F.broadcast(customer.where(F.col("c_nationkey") == 0)
                        .select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"))
        .select(
            "o_orderkey",
            F.expr(day % "o_orderdate").cast("long").alias("start_day"))
        .withColumn("end_day", F.col("start_day") + 30)
    )
    return interval_join(
        pts, iv, "ship_day", "start_day", "end_day", bin_width=32
    ).select("o_orderkey", "start_day", "end_day", "ship_day")


def cur_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement over
    documents (weight = n_chars): deterministic md5-derived uniforms,
    distributed partial top-k."""
    return curation.weighted_sample(
        _read(spark, sf_dir, "documents"), k=100)


def q_profile_events(spark, sf_dir):
    """Per-event-type numeric profile of events.value: decimal-exact
    power sums for mean/stddev, exact interpolated percentiles (bounded
    group count makes exact the right choice; approx_percentile is the
    unbounded-group scale path)."""
    from wikiprep_spark.operators.profile import numeric_profile

    return numeric_profile(
        _read(spark, sf_dir, "events"), "value", ["event_type"])


def q_json_props(spark, sf_dir):
    """Schema-on-read over the semi-structured events.props JSON column:
    JVM-side get_json_object extraction + decimal-exact aggregation."""
    from wikiprep_spark.operators.profile import json_field_stats

    return json_field_stats(
        _read_spread(spark, sf_dir, "events"), "props", "k", ["event_type"])


def q_rollup_pricing(spark, sf_dir):
    """Multi-level aggregation via ROLLUP(l_returnflag, l_linestatus)
    with grouping_id — subtotals and the grand total in ONE pass (the
    partial-agg tree reuses the finest level; no per-level rescan)."""
    li = _read_spread(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_items"),
            F.round(F.sum(dec), 2).cast("double").alias("revenue"),
        )
    )


def q_pivot_user_events(spark, sf_dir):
    """Wide-format per-user activity matrix via groupBy().pivot() with
    EXPLICIT pivot values — without them Spark runs an extra distinct
    job to discover columns, a full-table scan a 100 TB caller should
    never pay."""
    ev = _read(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias("n_" + t)
          for t in types],
    )


def sketch_hll_users(spark, sf_dir):
    """Daily-active-users via the HyperLogLog sketch: md5-register math
    reproduced bit-for-bit by the DuckDB twin (the harmonic sum is an
    int64 of two-powers, so no float-summation-order drift).  Two
    map-side-combining aggs onto a <= 4096-per-group key space — the
    shape that counts distinct users over 100 TB without a
    distinct-shuffle of the raw keys."""
    ev = _read(spark, sf_dir, "events")
    return sketches.hll_distinct(
        ev.select(F.to_date("ts").alias("day"), "user_id"),
        "user_id", ["day"],
    )


def sketch_cms_heavy(spark, sf_dir):
    """Count-min sketch point queries for the exact top-20 users: builds
    the 4x1024 sketch in one fixed-keyspace agg, probes it with broadcast
    joins, and reports estimate next to exact so the CMS >= exact
    guarantee is part of the gated surface."""
    ev = _read(spark, sf_dir, "events")
    sk = sketches.cms_build(ev, "user_id")
    top = (
        ev.groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(F.count("*").cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("key"))
        .limit(20)
    )
    est = sketches.cms_estimate(sk, top.select("key"))
    return top.join(est, "key").select("key", "exact_cnt", "cms_cnt")


def sim_semantic_dedup(spark, sf_dir):
    """SemDeDup decisions over the embeddings table: md5-seeded clusters,
    literal-quantizer assignment, greedy-prefix within-cluster drops —
    the full decision surface re-derived relationally by the oracle."""
    return semdedup.semantic_dedup(
        _read(spark, sf_dir, "embeddings"), n_clusters=16, eps=0.35)


def text_entity_mentions(spark, sf_dir):
    """Entity linking over documents with the corpus-derived n-gram
    knowledge base (top-10 unigrams + top-30 bigrams by doc frequency):
    n-gram mention scan, surface join, longest-match containment,
    commonness prior."""
    docs = _read_spread(spark, sf_dir, "documents")
    d = entitylink.ngram_dictionary(docs, n_unigrams=10, n_bigrams=30)
    return entitylink.link_entities(docs, d, max_len=2)


def text_pack_seqs(spark, sf_dir):
    """Concat-and-chunk sequence packing placement via the distributed
    prefix sum; the oracle uses the naive single-window global cumsum —
    same numbers, single-reducer plan this side must not have."""
    return packing.pack_sequences(_read(spark, sf_dir, "documents"))


def q_asof_attribution(spark, sf_dir):
    """As-of join: for each purchase event, the same user's most recent
    view at-or-before it (classic attribution).  The Spark side is the
    single-shuffle union/carry-forward merge formulation; the oracle is
    DuckDB's NATIVE ASOF JOIN — a genuinely independent implementation
    of the operator, not a transcription of this plan."""
    # events.ts is TIMESTAMP_NTZ: epoch micros via wall-clock timestampdiff
    # (session-timezone-independent, = DuckDB epoch_us on the naive value)
    epoch_us = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts",
        F.expr(epoch_us).alias("purchase_us"))
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"),
        F.expr(epoch_us).alias("view_us"))
    return asof.asof_join(
        purchases, views, on="user_id",
        right_cols=("view_id", "view_us"),
    ).select(
        "purchase_id", "user_id", "purchase_us", "view_id",
        (F.col("purchase_us") - F.col("view_us")).alias("gap_us"),
    )


# --- streaming (driver-gated over a finite backlog) ----------------------

def _stream_backlog(spark, halves):
    """Materialize a deterministic 2-micro-batch file backlog: each half
    lands as one parquet file, written sequentially so FileStreamSource's
    oldest-first modification-time order replays half 0 before half 1
    (maxFilesPerTrigger=1 -> exactly two micro-batches, state carried
    across the boundary)."""
    import os
    import tempfile
    import time as _time

    tmp = tempfile.mkdtemp(prefix="wikiprep_stream_q_")
    data = os.path.join(tmp, "in")
    for i, half in enumerate(halves):
        half.coalesce(1).write.mode("append").parquet(data)
        if i + 1 < len(halves):
            _time.sleep(0.05)
    stream = (
        spark.readStream.schema(spark.read.parquet(data).schema)
        .option("maxFilesPerTrigger", 1).parquet(data)
    )
    return tmp, data, stream


def _drain(transformed, tmp):
    """Run the streaming query to completion over the backlog
    (availableNow) and hand back the materialized result."""
    import os

    out = os.path.join(tmp, "out")
    q = (
        transformed.writeStream.format("parquet")
        .option("path", os.path.join(out, "data"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(600)
    return os.path.join(out, "data")


def stream_dedup_backlog(spark, sf_dir):
    """Streaming exact dedup drained over a 2-micro-batch backlog.

    The surviving ROW per key inside one micro-batch is task-order
    dependent (dropDuplicates keeps whichever arrives first), so the
    driver-gated projection is the key set itself: exactly one output row
    per distinct normalized-content hash across ALL micro-batches — the
    property the cross-batch dedup state must guarantee (no loss at the
    batch boundary, no re-emission of a key seen in an earlier batch).
    Documents are split doc_id-even/odd so duplicate groups straddle the
    boundary."""
    from wikiprep_spark.streaming import ingest

    docs = _read(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull())
    halves = [docs.where(F.col("doc_id") % 2 == i) for i in (0, 1)]
    tmp, _, stream = _stream_backlog(spark, halves)
    out = _drain(ingest.streaming_exact_dedup(stream), tmp)
    return spark.read.parquet(out).select("content_md5")


def stream_sessionize_backlog(spark, sf_dir):
    """Stateful streaming sessionization (applyInPandasWithState) drained
    over a time-split 2-micro-batch backlog: events at or before the exact
    median timestamp replay first, the rest second, so open sessions at
    the cut carry across the micro-batch boundary in state and the fold
    reproduces batch gap-sessionization exactly.  Emitted rows are the
    CLOSED sessions (the open tail per user stays in state), which the
    DuckDB twin expresses as every session but each user's last."""
    from wikiprep_spark.streaming import ingest

    events = (
        _read(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withColumn("ts_sec", F.col("ts").cast("long"))
    )
    cutoff = events.selectExpr(
        "percentile(ts_sec, 0.5) AS m").collect()[0]["m"]
    halves = [
        events.where(F.col("ts_sec") <= cutoff),
        events.where(F.col("ts_sec") > cutoff),
    ]
    tmp, _, stream = _stream_backlog(spark, halves)
    out = _drain(
        ingest.sessionize_events(stream, gap_seconds=1800), tmp)
    return spark.read.parquet(out).select(
        "user_id", "session_start", "session_end", "n_events")


QUERIES = {
    "kg_links": kg_links,
    "kg_anchors": kg_anchors,
    "kg_categories": kg_categories,
    "kg_related": kg_related,
    "kg_redirects": kg_redirects,
    "kg_external": kg_external,
    "kg_interwiki": kg_interwiki,
    "kg_template_inclusions": kg_template_inclusions,
    "kg_disambig": kg_disambig,
    "kg_pages": kg_pages,
    "kg_category_counts": kg_category_counts,
    "kg_incoming_links": kg_incoming_links,
    "kg_redirect_closure": kg_redirect_closure,
    "kg_canonical_titles": kg_canonical_titles,
    # names kept from the retired pipeline modes (fused, pruned
    # dictionaries): each resolves to the one cached kg_pipeline run and
    # keeps its oracle (plans/oracles.py)
    "kg_links_pruned": kg_links,
    "kg_template_inclusions_pruned": kg_template_inclusions,
    "kg_links_fused": kg_links,
    "kg_anchors_fused": kg_anchors,
    "graph_closure": graph_closure,
    "graph_components": graph_components,
    "graph_pagerank": graph_pagerank,
    "text_bm25_topk": text_bm25_topk,
    "q1_pricing_summary": q1_pricing_summary,
    "q_join_revenue_by_nation": q_join_revenue_by_nation,
    "q_window_top_order": q_window_top_order,
    "q_anti_customers_without_orders": q_anti_customers_without_orders,
    "q_events_hourly": q_events_hourly,
    "dedup_exact": dedup_exact,
    "dedup_token_jaccard": dedup_token_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_near_groups": dedup_near_groups,
    "dedup_simhash": dedup_simhash,
    "text_token_stats": text_token_stats,
    "text_quality": text_quality,
    "text_fingerprint": text_fingerprint,
    "text_bpe_tokens": text_bpe_tokens,
    "text_winnow_fingerprints": text_winnow_fingerprints,
    "text_winnow_overlap": text_winnow_overlap,
    "text_lang_id": text_lang_id,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_near_dup": sim_near_dup,
    "sim_near_dup_exact": sim_near_dup_exact,
    "sim_near_dup_groups": sim_near_dup_groups,
    "sim_ivf_topk": sim_ivf_topk,
    "cur_repetition": cur_repetition,
    "cur_pii_scrub": cur_pii_scrub,
    "cur_decontaminate": cur_decontaminate,
    "cur_sample": cur_sample,
    "text_lm_ppl": text_lm_ppl,
    "text_pack_seqs": text_pack_seqs,
    "dedup_passages": dedup_passages,
    "cur_dsir": cur_dsir,
    "text_chunks": text_chunks,
    "graph_triangles": graph_triangles,
    "q_skew_events": q_skew_events,
    "sketch_hll_users": sketch_hll_users,
    "sketch_cms_heavy": sketch_cms_heavy,
    "sim_semantic_dedup": sim_semantic_dedup,
    "text_entity_mentions": text_entity_mentions,
    "q_profile_events": q_profile_events,
    "q_json_props": q_json_props,
    "q_rollup_pricing": q_rollup_pricing,
    "q_pivot_user_events": q_pivot_user_events,
    "q_range_ship_window": q_range_ship_window,
    "cur_weighted_sample": cur_weighted_sample,
    "dedup_bloom_seen": dedup_bloom_seen,
    "q_asof_attribution": q_asof_attribution,
    "stream_dedup_backlog": stream_dedup_backlog,
    "stream_sessionize_backlog": stream_sessionize_backlog,
}
