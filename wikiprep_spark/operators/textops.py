"""Text analysis operators for training-data curation: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All JVM-side column expressions, no Python UDFs; the higher-order
functions among them read projected columns (see operators/dedup.py).
Each has an exact ANSI-SQL counterpart in plans/oracles.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from wikiprep_spark.operators.dedup import normalized_text

# tiny per-language stopword sets for the n-gram/stopword language heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "que", "pas", "une"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con"],
}


def token_stats(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """(doc_id, n_tokens, n_chars_norm): whitespace tokenization over the
    normalized text."""
    toks = F.split(normalized_text(text_col), " ")
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.length(normalized_text(text_col)).cast("long").alias("n_chars_norm"),
    )


def quality_score(docs: DataFrame, id_col="doc_id",
                  text_col="text") -> DataFrame:
    """Heuristic quality features: length, mean token length, alpha ratio,
    stopword ratio — the usual cheap pre-training filters.  Score =
    stopword_ratio capped at 0.5, scaled, minus a short-doc penalty;
    rounded for stable cross-engine comparison.

    The normalized text and the four counts are projected as columns
    first: the stopword filter is a lambda over the word array, and a
    higher-order function shares no subexpression with the rest of the
    row, so every inline copy of the count chain would re-run the
    normalizing regex."""
    stops = LANG_STOPWORDS["en"]
    counts = docs.select(
        F.col(id_col), normalized_text(text_col).alias("_norm")
    ).select(
        F.col(id_col),
        F.size(F.split("_norm", " ")).cast("double").alias("_nt"),
        F.length("_norm").cast("double").alias("_nc"),
        F.length(F.regexp_replace("_norm", r"[^a-z]", "")).cast(
            "double").alias("_na"),
        F.size(F.filter(F.split("_norm", " "), lambda t: t.isin(*stops))
               ).cast("double").alias("_ns"),
    )
    n_tokens, n_chars = F.col("_nt"), F.col("_nc")
    stop_ratio = F.when(n_tokens > 0, F.col("_ns") / n_tokens).otherwise(0.0)
    alpha_ratio = F.when(n_chars > 0, F.col("_na") / n_chars).otherwise(0.0)
    mean_tok_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens
                          ).otherwise(0.0)
    score = (
        F.least(stop_ratio * 2.0, F.lit(1.0)) * 0.5
        + F.least(alpha_ratio, F.lit(1.0)) * 0.3
        + F.when((n_tokens >= 20) & (n_tokens <= 1000), 0.2).otherwise(0.0)
    )
    return counts.select(
        F.col(id_col),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Stopword-vote language identification with deterministic tie-break
    (highest count wins; ties resolve in en<de<fr<es preference order via
    strict > comparison chain).

    The word array is projected once and each language's stopword count
    lands in its own column before the tie-break chain runs: the nested
    ``when`` chain repeats every count, and a count is a filter lambda,
    which shares no subexpression with its copies."""

    def stop_filter(ws):
        return lambda t: t.isin(*ws)

    counts = docs.select(
        F.col(id_col), F.split(normalized_text(text_col), " ").alias("_w")
    ).select(F.col(id_col), *[
        F.size(F.filter("_w", stop_filter(ws))).alias("_n_" + lang)
        for lang, ws in LANG_STOPWORDS.items()
    ])
    best_lang = F.lit("unknown")
    best_count = F.lit(0)
    for lang in ["es", "fr", "de", "en"]:  # later wins ties -> en preferred
        n = F.col("_n_" + lang)
        cond = n >= best_count
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_count = F.when(cond, n).otherwise(best_count)
    return counts.select(
        F.col(id_col),
        F.when(best_count > 0, best_lang).otherwise(F.lit("unknown")).alias(
            "detected_lang"
        ),
        best_count.cast("long").alias("stopword_hits"),
    )


# GPT-2-style pre-tokenizer pattern, lookahead-free so it behaves
# identically under Java regex (Spark) and RE2 (DuckDB): contractions,
# optional-space letter runs, optional-space digit runs, optional-space
# punctuation runs, whitespace runs.
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_count(docs: DataFrame, id_col="doc_id",
                    text_col="text") -> DataFrame:
    """(doc_id, n_bpe_tokens, n_ws_tokens): BPE-ish pre-tokenizer count —
    the token-budget estimate an LLM data pipeline runs over every
    document — next to the plain whitespace count.  Pure codegen
    (regexp_extract_all + size), no shuffle."""
    toks = F.split(normalized_text(text_col), " ")
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(
            F.col(text_col), F.lit(BPE_PRETOKEN_PATTERN), F.lit(0)
        )).cast("long").alias("n_bpe_tokens"),
        F.size(toks).cast("long").alias("n_ws_tokens"),
    )


def _hash60_sql(expr: str) -> str:
    """Spark-SQL string for the md5-derived 60-bit hash of ``expr`` (the
    cross-engine hash shared with dictload/simhash)."""
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def winnow_fingerprints(docs: DataFrame, id_col="doc_id", text_col="text",
                        k: int = 8, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS algorithm): hash every character k-gram of the normalized text,
    slide a ``window`` over the hash sequence, keep each window's minimum,
    emit the distinct selected hashes as (doc_id, fp) rows.

    Guarantees: any shared substring of length >= k + window - 1 between
    two documents yields at least one shared fingerprint — the standard
    local-similarity blocking key for plagiarism/near-dup detection at
    corpus scale.  Everything is higher-order-function expressions over
    the text column (no shuffle, no UDF); the k-gram hash is the
    cross-engine md5-60bit, so the DuckDB oracle reproduces the exact
    fingerprint set."""
    from wikiprep_spark.operators.spread import spread_small_scan

    docs = spread_small_scan(docs)
    gram = _hash60_sql(f"substring(_wnorm, i, {k})")
    hashes = (
        f"transform(sequence(1, greatest(length(_wnorm) - {k} + 1, 1)),"
        f" i -> {gram})"
    )
    minima = (
        f"transform(sequence(1, greatest(size(_whash) - {window} + 1, 1)),"
        f" j -> array_min(slice(_whash, j, {window})))"
    )
    return (
        docs.select(F.col(id_col),
                    normalized_text(text_col).alias("_wnorm"))
        .select(F.col(id_col), F.expr(hashes).alias("_whash"))
        .select(F.col(id_col),
                F.explode(F.array_distinct(F.expr(minima))).alias("fp"))
    )


def winnow_overlap_pairs(docs: DataFrame, id_col="doc_id",
                         text_col="text", k: int = 8, window: int = 4,
                         threshold: float = 0.5,
                         max_posting: int | None = None) -> DataFrame:
    """MOSS-style local-similarity pairs (Schleimer'03 §5): documents
    joined on shared winnowing fingerprints, scored by CONTAINMENT
    overlap |common fps| / min(|fps_a|, |fps_b|) — the code-clone /
    plagiarism-candidate detector (a doc containing a copied function
    scores high even when the rest differs, where Jaccard would dilute).

    Scale shape: a postings join on the 8-byte fingerprint hash (the
    same architecture as token_jaccard's rarity postings), one
    groupBy(doc_a, doc_b) count, fingerprint-count sides joined back.
    ``max_posting`` drops fingerprints shared by more than that many
    documents — boilerplate license headers / generated code in a
    source-repo corpus would otherwise create quadratic candidates; with
    the guard active the overlap is computed against unguarded sizes and
    therefore UNDERESTIMATES (drops only boilerplate-borne evidence),
    which is the conservative direction for a drop-list."""
    # the fingerprint stream feeds FOUR consumers (per-doc sizes, the hot
    # list, and both postings sides) — materialize it once instead of
    # re-running the per-character winnowing hash chain per consumer (the
    # triangles/semdedup checkpoint pattern; measured ~2x on the guarded
    # bench config)
    fps = winnow_fingerprints(docs, id_col, text_col, k, window) \
        .localCheckpoint()
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("sz"))
    posts = fps
    if max_posting is not None:
        hot = (
            fps.groupBy("fp").agg(F.count("*").alias("n"))
            .where(F.col("n") > max_posting).select("fp")
        )
        posts = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = posts.select(F.col(id_col).alias("doc_a"), "fp")
    b = posts.select(F.col(id_col).alias("doc_b"), "fp")
    inter = (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sz_a = sizes.select(F.col(id_col).alias("doc_a"),
                        F.col("sz").alias("_sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("doc_b"),
                        F.col("sz").alias("_sz_b"))
    overlap = (F.col("n_common").cast("double")
               / F.least("_sz_a", "_sz_b").cast("double"))
    return (
        inter.join(sz_a, "doc_a").join(sz_b, "doc_b")
        .where(overlap >= threshold)
        .select("doc_a", "doc_b", "n_common",
                F.round(overlap, 6).alias("overlap"))
    )


def fingerprint(docs: DataFrame, id_col="doc_id",
                text_col="text") -> DataFrame:
    """Document fingerprints: md5 of the normalized text (exact identity)
    plus a shape key (n_tokens, first/last token) for cheap blocking."""
    norm = normalized_text(text_col)
    toks = F.split(norm, " ")
    return docs.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.concat_ws(
            "|",
            F.size(toks).cast("string"),
            F.element_at(toks, 1),
            F.element_at(toks, -1),
        ).alias("shape_key"),
    )


def chunk_documents(docs: DataFrame, id_col="doc_id", text_col="text",
                    chunk_tokens: int = 512,
                    overlap: int = 64) -> DataFrame:
    """Sliding-window document chunking — the RAG-indexing / long-context
    pretraining step that turns each document into fixed-size overlapping
    token windows with stable ids and offsets.

    Chunk k covers token span [k*stride, k*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk may be short, and the
    chunk count is the smallest K+1 with K*stride + chunk_tokens >= n (no
    fully-redundant trailing window).  Every document yields at least one
    chunk (empty text -> one empty chunk), so the operator is total.

    Scale shape: a pure higher-order-function projection + posexplode —
    ZERO shuffles, zero Python; the chunk text is materialized from the
    token array per row, never joined.  Downstream embedding/indexing
    stages consume (doc_id, chunk_id) as a composite key."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(normalized_text(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_w"),
    ).select("doc_id", F.size("_w").alias("_n"), "_w")
    n_extra = F.greatest(
        F.ceil((F.col("_n") - chunk_tokens)
               / F.lit(float(stride))).cast("int"),
        F.lit(0),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_extra),
        lambda k: F.struct(
            (k * stride).alias("start"),
            F.concat_ws(
                " ", F.slice(F.col("_w"), k * stride + 1, chunk_tokens)
            ).alias("txt"),
            F.least(F.lit(chunk_tokens),
                    F.col("_n") - k * stride).alias("m"),
        ),
    )
    return (
        base.select("doc_id", F.posexplode(chunks).alias("chunk_id", "c"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("c.start").cast("long").alias("chunk_start"),
            F.col("c.m").cast("long").alias("n_tokens"),
            F.col("c.txt").alias("chunk_text"),
        )
    )
