"""Deduplication operators for large-scale corpus curation.

Everything here is built from JVM-side column expressions (no Python UDFs):
hashing via xxhash64/md5, shingling via split/transform, banding via
pmod — so the plans stay in the JVM and shuffle only on the grouping keys.
Higher-order functions (transform, filter, aggregate) are interpreted per
element rather than code-generated, so row-constant work (the normalized
word array) is projected as a column below them, and a per-element
reduction (the minhash minima) runs as exploded rows under compiled
aggregates instead.
Designed for the ``documents`` table shape (doc_id, text, ...), but any
(id, text) pair works.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Mersenne prime modulus: 31-bit so that a*h+b stays far from 64-bit
# overflow (Spark 4 runs in ANSI mode and would raise on long overflow).
_MERSENNE = (1 << 31) - 1


def normalized_text(col="text"):
    """Canonical text form shared by the dedup family: lowercase, collapsed
    whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct
    normalized text with the representative (minimum) id and the group size.
    A single hash-shuffle; the md5 key keeps the shuffle payload tiny."""
    return (
        docs.select(
            F.col(id_col),
            F.md5(normalized_text(text_col)).alias("content_md5"),
        )
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )


def _token_sets(docs: DataFrame, id_col, text_col,
                shingle: int = 1) -> DataFrame:
    """Distinct token sets, optionally as word n-gram shingles.

    Shingles (n>1) are the standard minhash/Jaccard unit for text dedup:
    they keep the element space large enough that unrelated documents
    share few elements even over a small vocabulary.

    The word array is projected once as the column ``_w`` and the
    shingle lambda reads that column: a lambda does not share the
    subexpressions it captures, so capturing the ``split(normalize(text))``
    expression itself would re-run the whole regex chain once per shingle
    position (quadratic per document)."""
    from wikiprep_spark.operators.spread import spread_small_scan

    docs = spread_small_scan(docs)
    words = docs.select(
        F.col(id_col).alias("doc"),
        F.split(normalized_text(text_col), " ").alias("_w"),
    )
    toks = F.col("_w")
    if shingle > 1:
        toks = F.transform(
            F.sequence(F.lit(0),
                       F.greatest(F.size(toks) - shingle, F.lit(0))),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("_w"), i + 1, shingle)
            ),
        )
    return words.select("doc", F.array_distinct(toks).alias("toks"))


def _ordered_pairs(joined: DataFrame, id_col: str) -> DataFrame:
    """Distinct (``{id}_a``, ``{id}_b``) pairs with a < b from a self-join
    of two frames aliased ``l`` and ``r``."""
    a, b = F.col("l." + id_col), F.col("r." + id_col)
    return (joined.where(a < b)
            .select(a.alias(id_col + "_a"), b.alias(id_col + "_b"))
            .distinct())


def lsh_candidates(banded: DataFrame, id_col: str,
                   max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs: a banded (id, band, bucket) frame self-joined on
    its (band, bucket) cell -> distinct (``{id}_a``, ``{id}_b``), a < b.

    ``max_bucket`` is the hub-bucket guard: a cell holding k ids yields
    k^2/2 candidate rows, so cells larger than the cap are dropped (their
    members still pair up in their other bands).  The guard is one window
    pass over the (band, bucket)-partitioned data, and the self-join
    shuffles on the same key.  Without the cap, an explicit exchange on the
    join key lets BOTH self-join sides reuse it (ReusedExchange) instead of
    recomputing the banding chain per side — measured 12x at sf0.1."""
    if max_bucket is not None:
        w = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    else:
        banded = banded.repartition("band", "bucket")
    return _ordered_pairs(
        banded.alias("l").join(banded.alias("r"), ["band", "bucket"]),
        id_col)


def score_pairs(pairs: DataFrame, side: DataFrame, score, name: str,
                ends=("_a", "_b")) -> DataFrame:
    """Verify a pair frame: join the per-id ``side`` frame (its id column
    first, then value columns) onto both ends of ``pairs`` (two id
    columns), and return (both ids, ``name``) with ``name`` =
    ``score(a, b)``.  ``a``/``b`` map each value column name to that end's
    column; the ends are renamed with the ``ends`` suffixes."""
    key, *vals = side.columns
    ids = pairs.columns
    for pair_col, end in zip(ids, ends):
        pairs = pairs.join(side.select(
            F.col(key).alias(pair_col),
            *[F.col(c).alias(c + end) for c in vals]), pair_col)
    a, b = ({c: F.col(c + end) for c in vals} for end in ends)
    return pairs.select(*ids, score(a, b).alias(name))


def _jaccard(a, b):
    return (F.size(F.array_intersect(a["toks"], b["toks"]))
            / F.size(F.array_union(a["toks"], b["toks"])))


def token_jaccard_pairs(
    docs: DataFrame, id_col="doc_id", text_col="text", threshold=0.5,
    shingle: int = 1, hash_tokens: bool = False,
) -> DataFrame:
    """EXACT near-duplicate pairs by token-set Jaccard >= threshold, via
    prefix filtering (the PPJoin family).

    For J(a,b) >= t, a and b must share a token within the first
    |d| - ceil(t*|d|) + 1 tokens when both token sets are sorted by global
    rarity — so the inverted-index join runs only over those prefixes, and
    the full sets meet again only for surviving candidate pairs.  The
    prefix lists shrink with the threshold, and the rarity ordering keeps
    posting lists short, which is what makes this join survive web-scale
    corpora where raw token joins explode on stopwords.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ``hash_tokens=True`` replaces each (shingle) string with its xxhash64
    before the join machinery: the posting lists, prefix index and verify
    arrays then shuffle 8-byte ints instead of n-gram strings.  Set
    identity is preserved up to 64-bit collisions (~1e-7 effect on a
    jaccard value at 10^12 shingles) — the production choice for shingled
    configs; the default keeps exact string semantics for the oracle gate.
    """
    toks = _token_sets(docs, id_col, text_col, shingle)
    if hash_tokens:
        toks = toks.select(
            "doc",
            F.array_distinct(
                F.transform("toks", lambda t: F.xxhash64(t))
            ).alias("toks"),
        )
    # the token-set frame feeds THREE consumers (the postings index and
    # both verify sides) — materialize it once instead of re-running the
    # shingling/hashing chain per consumer (measured ~3x on the sh3
    # bench config; the winnow/semdedup checkpoint pattern)
    toks = toks.localCheckpoint()
    posting = toks.select("doc", F.explode("toks").alias("tok"))
    tok_df = posting.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = (
        posting.join(tok_df, "tok")
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "tok"))
            ).alias("ranked")
        )
    )
    # prefix length p = |d| - ceil(t*|d|) + 1
    sz = F.size("ranked")
    p = (sz - F.ceil(sz * F.lit(float(threshold))) + 1).cast("int")
    prefix = ranked.select(
        "doc",
        F.explode(F.slice(F.transform("ranked", lambda s: s["tok"]),
                          1, p)).alias("tok"),
    )
    candidates = _ordered_pairs(prefix.alias("l").join(prefix.alias("r"),
                                                       "tok"), "doc")
    return score_pairs(candidates, toks, _jaccard, "jaccard").where(
        F.col("jaccard") >= threshold)


def minhash_signatures(
    docs: DataFrame, id_col="doc_id", text_col="text", num_hashes=32,
    shingle: int = 1, toks: DataFrame | None = None,
) -> DataFrame:
    """(doc, sig: array<long>) minhash signatures over token sets.

    Permutation h_i(x) = (a_i * (xxhash64(x) mod M) + b_i) mod M with
    deterministic odd multipliers.  The token sets are exploded once and
    each token is hashed once (``_h``); the ``num_hashes`` permutation
    minima are then plain ``min`` aggregates of one ``groupBy(doc)``, which
    whole-stage codegen compiles, instead of ``array_min(transform(...))``
    lambdas interpreted per token per permutation.  ``explode_outer``
    keeps a NULL or empty token set as one NULL-hash row, so its signature
    stays all-NULL.  ``doc`` must be a row key (``id_col`` is one in every
    caller's input): rows sharing a ``doc`` merge into one signature.
    ``toks`` optionally supplies a prebuilt (doc, toks) frame so a caller
    that also needs the token sets (LSH verify) computes them once.
    """
    if toks is None:
        toks = _token_sets(docs, id_col, text_col, shingle)
    m = F.lit(_MERSENNE)
    # xxhash64(NULL) is its seed, not NULL: keep the empty set's row NULL
    t = F.col("_t")
    hashed = toks.select("doc", F.explode_outer("toks").alias("_t")).select(
        "doc", F.when(t.isNotNull(), F.pmod(F.xxhash64(t), m)).alias("_h"))
    h = F.col("_h")
    mins = [F.min(F.pmod(h * F.lit(2 * i + 1) + F.lit(1000003 * (i + 1)), m))
            .alias("_m%d" % i) for i in range(num_hashes)]
    return hashed.groupBy("doc").agg(*mins).select(
        "doc", F.array(*["_m%d" % i for i in range(num_hashes)]).alias("sig"))


def _minhash_bands(sigs: DataFrame, num_hashes: int,
                   bands: int) -> DataFrame:
    """(doc, band, bucket): each band's bucket is the xxhash64 of its
    ``num_hashes // bands`` consecutive signature rows."""
    rows = num_hashes // bands
    return sigs.select(
        "doc",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.slice("sig", b * rows + 1, rows)
                           .cast("string")).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col="doc_id",
    text_col="text",
    num_hashes=32,
    bands=8,
    threshold=0.5,
    shingle: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH candidate generation and verification:
    shingle -> minhash -> band -> bucket join -> exact-Jaccard verify.

    Banding keeps the join linear in the number of colliding candidates;
    at 100 TB the band-bucket key is the only shuffle key.  ``max_bucket``
    is the production hub-bucket guard (lsh_candidates): one boilerplate
    bucket with 10^6 docs would emit 10^12 rows before AQE could split
    anything.  Pass None to disable (exhaustive mode for small corpora /
    oracle-gated runs).
    Returns (doc_a, doc_b, jaccard).
    """
    # ONE token-set materialization feeds the signature chain AND both
    # exact-verify sides (previously three independent executions of the
    # shingling chain — the jaccard/winnow checkpoint pattern)
    toks = _token_sets(docs, id_col, text_col, shingle).localCheckpoint()
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle,
                              toks=toks)
    candidates = lsh_candidates(_minhash_bands(sigs, num_hashes, bands),
                                "doc", max_bucket)
    return score_pairs(candidates, toks, _jaccard, "jaccard").where(
        F.col("jaccard") >= threshold)


def minhash_lsh_bucket_stats(
    docs: DataFrame,
    id_col="doc_id",
    text_col="text",
    num_hashes=32,
    bands=8,
    shingle: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Hub-bucket observability for the LSH guard: per-(band, bucket) doc
    count plus a ``dropped`` flag under the given cap.  Aggregate this to
    report how many buckets/docs the guard excluded — the metric the
    production pipeline logs alongside the dedup output."""
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle)
    banded = _minhash_bands(sigs, num_hashes, bands)
    stats = banded.groupBy("band", "bucket").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    dropped = (
        F.col("n_docs") > max_bucket if max_bucket is not None
        else F.lit(False)
    )
    return stats.withColumn("dropped", dropped)


def near_dup_groups(
    docs: DataFrame,
    id_col="doc_id",
    text_col="text",
    num_hashes=32,
    bands=16,
    threshold=0.8,
    shingle: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """The dedup DECISION operator: MinHash+LSH verified pairs -> connected
    components -> one representative per duplicate cluster.  Returns
    (doc_id, representative_id, is_duplicate) for EVERY document —
    ``is_duplicate`` rows are what a curation pipeline drops.

    Near-duplicacy is not transitive, so clustering the pair graph is a
    policy choice; components with min-id representatives is the standard
    one (what most corpus-dedup pipelines ship) and is reproducible in
    SQL, so the whole operator — signatures, banding, verification,
    clustering, representative choice — sits under one exact oracle.
    Scale shape: the pair join is the LSH machinery above; the clustering
    is O(log diameter) label-propagation rounds over the (tiny) pair
    graph, not the corpus."""
    from wikiprep_spark.operators.graph import component_representatives

    pairs = minhash_lsh_pairs(docs, id_col, text_col, num_hashes, bands,
                              threshold, shingle, max_bucket)
    return component_representatives(
        docs.select(F.col(id_col).alias("doc_id")), pairs)


def simhash(docs: DataFrame, id_col="doc_id", text_col="text",
            bits=16) -> DataFrame:
    """(doc, simhash) 16-bit SimHash over token hashes: per-bit majority
    vote, computed with aggregate expressions only.

    The token hash is a 60-bit integer from the first 15 hex chars of
    md5 — unlike xxhash64 it has an exact cross-engine twin, so the DuckDB
    oracle (plans/oracles.py dedup_simhash) reproduces the full pipeline
    bit-for-bit."""
    toks = _token_sets(docs, id_col, text_col)
    th = toks.select("doc", F.transform(
        "toks",
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    ).alias("hashes"))
    def bit_vote(b):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    bit_cols = []
    for b in range(bits):
        votes = F.aggregate("hashes", F.lit(0), bit_vote(b))
        bit_cols.append(
            F.when(votes > 0, F.lit(1 << b)).otherwise(F.lit(0))
        )
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    return th.select("doc", total.cast("long").alias("simhash"))


def simhash_dup_groups(docs: DataFrame, id_col="doc_id",
                       text_col="text") -> DataFrame:
    """Documents sharing an identical simhash — the cheap near-dup blocking
    key (one shuffle on a 16-bit key)."""
    return (
        simhash(docs, id_col, text_col)
        .groupBy("simhash")
        .agg(
            F.min("doc").alias("representative_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
    )


def dup_passages(docs: DataFrame, id_col="doc_id", text_col="text",
                 k: int = 8, min_docs: int = 2) -> DataFrame:
    """Exact duplicate-PASSAGE statistics: for every document, how much of
    it is verbatim text that also appears in at least ``min_docs`` distinct
    documents (itself included), as maximal merged token spans.

    This is the substring-granularity exact dedup of Lee et al., "Dedup-
    licating Training Data Makes Language Models Better" (ACL'22): whole-
    document hashing misses boilerplate, quotes, and licence blocks that
    repeat across otherwise-distinct pages, and span statistics (not just
    a boolean) let a curation policy cut at "drop docs that are >X%
    duplicated passage".  Where the paper builds a monolithic suffix
    array, the same k-token-resolution detector decomposes into relational
    passes that shuffle 8-byte keys only:

    1. every k-token shingle position -> (doc, pos, xxhash64(shingle)) —
       a transform over the token array, then posexplode; the token array
       itself is never replicated per position;
    2. the duplicated-shingle set: hashes seen in >= min_docs DISTINCT
       docs (two map-side-combining aggs on the hash key; no pair join
       exists anywhere — unlike similarity ops, exact-dup detection needs
       no quadratic candidate step, which is what makes it the cheap
       first pass of a curation stack);
    3. hash-join the positions stream against that set, then merge
       overlapping/adjacent hits per document into maximal spans with one
       gaps-and-islands window (both windows and both final aggs share
       the doc_id partitioning: one exchange for the whole tail);
    4. left-join back to the full document list so clean docs report
       zeros.

    Docs shorter than k tokens contribute their whole text as one shingle
    (the ``_token_sets`` convention), with spans clamped to the document,
    so short exact dups are still caught.  Output per input doc:
    (doc_id, n_tokens, dup_tokens, dup_spans, dup_ratio)."""
    from wikiprep_spark.operators.spread import spread_small_scan

    docs = spread_small_scan(docs)
    toks = F.split(normalized_text(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_t"),
    ).select(
        "doc_id", F.size("_t").cast("long").alias("n_tokens"), "_t",
    )
    seq = F.sequence(
        F.lit(1),
        F.greatest(F.col("n_tokens").cast("int") - k + 1, F.lit(1)),
    )
    sh_arr = F.transform(
        seq,
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("_t"), i, k))),
    )
    stream = base.select(
        "doc_id", "n_tokens",
        F.posexplode(sh_arr).alias("pos0", "h"),
    ).select(
        "doc_id", "n_tokens",
        (F.col("pos0") + 1).alias("pos"), "h",
    )
    dup_set = (
        stream.select("h", "doc_id").distinct()
        .groupBy("h").agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    hits = stream.join(dup_set, "h").select(
        "doc_id", "pos",
        F.least(F.col("pos") + k - 1, F.col("n_tokens")).alias("e"),
    )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islanded = hits.withColumn(
        "_st",
        (F.col("pos")
         > F.coalesce(F.max("e").over(w_prev), F.lit(-1)) + 1
         ).cast("int"),
    ).withColumn("island", F.sum("_st").over(w_run))
    spans = (
        islanded.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), F.max("e").alias("e"))
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long")
              .alias("dup_tokens"),
            F.coalesce("dup_spans", F.lit(0)).cast("long")
              .alias("dup_spans"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"), 6,
            ).alias("dup_ratio"),
        )
    )
