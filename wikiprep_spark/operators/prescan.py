"""Distributed prescan (pipeline pass 1).

Builds the cross-page dictionaries — title2id, redirects, template bodies,
template index — with the exact sequential semantics of the reference
prescan (first-page-wins per id, first-page-wins per title,
last-redirect-wins, redirect-vs-title ordering; see
wikiprep_spark/functions/prescan.py for the semantic oracle and the cited
reference lines).

Shuffle budget (the part that must survive 100 TB):
  1. duplicate-id detection: a count aggregation over the skinny
     (page_id, seq) projection; the loser row keys are joined back as a
     BROADCAST anti join, so the full-text rows are never shuffled and no
     second copy of the corpus is materialized.
  2. ONE groupBy(title_norm) aggregation computing, per title, the
     first non-redirect claim, the last redirect, and the template-body
     candidates together — all three dictionaries derive from this single
     shuffle (only template rows carry text into it).
The dictionaries are then written as one tagged parquet table that every
transform worker side-loads (functions/dictload.py) — the Spark equivalent
of the reference's read-only BerkeleyDB tables shared across workers
(bin/wikiprep:482-512).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from wikiprep_spark.functions.templates import preprocess_template_body


def _dup_losers(ids: DataFrame) -> DataFrame:
    dup_ids = (
        ids.groupBy("page_id")
        .agg(F.min("seq").alias("win_seq"), F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .select("page_id", "win_seq")
    )
    return (
        ids.join(F.broadcast(dup_ids), "page_id")
        .where(F.col("seq") != F.col("win_seq"))
        .select("page_id", "seq")
    )


def _exact_page_id_col():
    """parse_page_record's exact id rule as a JVM expression: the first
    <id> child of the <page> element (of a bare record, or the <page>
    under a wrapping root), NULL for records the python parser rejects —
    from_xml in PERMISSIVE mode nulls out malformed XML."""
    x = F.expr("from_xml(content, 'id BIGINT, page STRUCT<id: BIGINT>')")
    root_tag = F.regexp_extract(
        "content", r"^\s*(?:<\?[^>]*\?>\s*)?<([A-Za-z_][\w.-]*)", 1
    )
    return x, root_tag


def dup_losers_from_src(src_pages: DataFrame) -> DataFrame:
    """Duplicate-id losers computed ENTIRELY JVM-side from the raw source
    table, in two phases (the 100 TB shape — duplicate ids are rare, so
    exact work should touch only the records that might collide):

    1. CANDIDATE scan: regexp_extract_all collects every literal
       ``<id...>N</id>`` number per record (cheap codegen pass over the
       corpus); a number seen in >= 2 records marks those records as
       candidates.  This over-approximates: revision ids and garbage
       records inflate the set but can never hide a real duplicate
       (any parseable page's id appears literally in its record).
    2. VERIFY parse: only candidate records get the full from_xml parse
       with parse_page_record's exact id rule — malformed records null
       out here, so a garbage record that merely *contains* "<id>N</id>"
       can never join the dup set and anti-join away the validly-parsed
       page with that id (a pure-regex extraction had exactly that
       failure mode, and running from_xml over the whole corpus costs
       ~2x the candidate scan).

    In the fused two-pass pipeline this keeps the dup-id subquery from
    dragging a full python parse pass into every job that consumes
    live_pages."""
    seq = F.concat_ws("\x00", "repo", "path", "commit").alias("seq")
    # cast each candidate to BIGINT before distinct/grouping so literal
    # variants of the same numeric id ('007' vs '7') collide — matching the
    # id rule of both parse_page_record and the from_xml verify; a
    # string-keyed grouping would let such a duplicate escape the scan.
    # try_cast (not cast): an id literal overflowing int64 yields NULL on
    # BOTH the default and ANSI dialects (plain cast throws under
    # spark.sql.ansi.enabled), and parse_page_record rejects such ids too,
    # so both paths drop oversized ids identically; the NULLs are filtered
    # rather than grouped so they can't manufacture phantom candidates.
    cands = src_pages.select(
        seq,
        F.explode(
            F.array_distinct(F.expr(
                r"transform(regexp_extract_all(content,"
                r" '<id[^>]*>\\s*(\\d+)\\s*</id>', 1),"
                r" x -> try_cast(x AS BIGINT))"))
        ).alias("cid"),
    ).where(F.col("cid").isNotNull())
    dup_cand = (
        cands.groupBy("cid").agg(F.count("*").alias("n"))
        .where(F.col("n") > 1).select("cid")
    )
    verify_seqs = (
        cands.join(F.broadcast(dup_cand), "cid").select("seq").distinct()
    )
    x, root_tag = _exact_page_id_col()
    # join BEFORE the parse projection: from_xml runs only on the
    # candidate records (then a two-step select so it runs once per row)
    survivors = src_pages.select(seq, "content").join(
        F.broadcast(verify_seqs), "seq")
    staged = survivors.select(
        "seq", x.alias("_x"), root_tag.alias("_root"))
    ids = staged.select(
        F.when(F.col("_root") == "page", F.col("_x.id"))
        .otherwise(F.col("_x.page.id")).alias("page_id"),
        "seq",
    ).where(F.col("page_id").isNotNull())
    return _dup_losers(ids)


def live_pages(parsed: DataFrame, losers: DataFrame | None = None) -> DataFrame:
    """First page wins per id over ALL pages, in dump (seq) order
    (bin/wikiprep:466-470).

    Duplicate ids are rare, so the losers (every (page_id, seq) beyond the
    first occurrence) form a small set that broadcast-anti-joins against
    the full rows — no shuffle of the page texts.  Pass a precomputed
    ``losers`` frame (dup_losers_from_src) to keep this subquery off the
    python parse path."""
    if losers is None:
        ids = parsed.where(F.col("page_id").isNotNull()).select(
            "page_id", "seq")
        losers = _dup_losers(ids)
    return parsed.join(F.broadcast(losers), ["page_id", "seq"], "left_anti")


def _prescan_candidates(live: DataFrame) -> DataFrame:
    """Pages that reach Link::prescan's interesting part: ok namespace and
    non-empty normalized title (Link.pm:35-48)."""
    return live.where(
        F.col("ns_ok_prescan") & (F.length("title_norm") > 0)
    )


def title_aggregate(live: DataFrame) -> DataFrame:
    """The single title-keyed aggregation all three dictionaries derive
    from. Per normalized title:

    - claim: (seq, page_id) of the FIRST non-redirect page — it owns
      title2id (Link.pm:53-73)
    - last_red: (seq, target, page_id) of the LAST redirect page
      (unconditional overwrite at Link.pm:67)
    - tmpls: every Template-namespace candidate (non-redirect, or redirect
      with empty normalized target per Link.pm:66) with its raw body text.
      collect_list is bounded by same-title template-candidate multiplicity
      (~1 in any real dump).
    """
    cand = _prescan_candidates(live)
    is_redirect = F.col("redirect_target").isNotNull() & (
        F.length("redirect_target") > 0
    )
    is_nonredirect = F.col("redirect_target").isNull()
    tmpl_cand = F.col("is_template") & (
        F.col("redirect_target").isNull()
        | (F.length("redirect_target") == 0)
    )
    return cand.groupBy("title_norm").agg(
        F.min(
            F.when(is_nonredirect, F.struct("seq", "page_id"))
        ).alias("claim"),
        F.max(
            F.when(
                is_redirect,
                F.struct("seq", F.col("redirect_target"), "page_id"),
            )
        ).alias("last_red"),
        F.collect_list(
            F.when(tmpl_cand, F.struct("seq", "page_id", "text"))
        ).alias("tmpls"),
    )


def title2id_df(agg: DataFrame) -> DataFrame:
    """(title_norm, page_id): the winning non-redirect page per title."""
    return agg.where(F.col("claim").isNotNull()).select(
        "title_norm", F.col("claim.page_id").alias("page_id")
    )


def redirects_df(agg: DataFrame) -> DataFrame:
    """(from_title, to_title, from_page_id): the redirect map.  A redirect
    is dropped when an earlier non-redirect page already claimed its title
    (the exists-check at Link.pm:53 runs BEFORE redirect parsing); among
    survivors the LAST one wins."""
    return (
        agg.where(
            F.col("last_red").isNotNull()
            & (
                F.col("claim").isNull()
                | (F.col("claim.seq") > F.col("last_red.seq"))
            )
        )
        .select(
            F.col("title_norm").alias("from_title"),
            F.col("last_red.redirect_target").alias("to_title"),
            F.col("last_red.page_id").alias("from_page_id"),
        )
    )


def template_pages_df(agg: DataFrame) -> DataFrame:
    """Template-namespace pages that pass Templates::prescan's gate: the
    Link::prescan call returned true — not shadowed by an earlier
    same-title page."""
    t = agg.select(
        "title_norm", "claim", F.explode("tmpls").alias("t")
    )
    return t.where(
        F.col("claim").isNull() | (F.col("claim.seq") >= F.col("t.seq"))
    ).select(
        F.col("t.page_id").alias("page_id"),
        "title_norm",
        F.col("t.text").alias("text"),
        F.col("t.seq").alias("seq"),
    )


def _preprocess_body_udf():
    # Arrow-batched (Templates.pm:41-86 preprocessing); template pages are a
    # small slice of the corpus but this keeps the package free of
    # row-at-a-time Python UDFs.  Built lazily: pandas_udf resolves its DDL
    # return type against the active session.
    def _run(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(preprocess_template_body)

    return F.pandas_udf(_run, "string")


def template_bodies_df(template_pages: DataFrame) -> DataFrame:
    """(template_id, title_norm, body): preprocessed bodies
    (Templates.pm:41-86)."""
    return template_pages.select(
        F.col("page_id").alias("template_id"),
        "title_norm",
        _preprocess_body_udf()(F.col("text")).alias("body"),
    )


def tagged_dicts_df(title2id: DataFrame, redirects: DataFrame,
                    template_bodies: DataFrame) -> DataFrame:
    """All three dictionaries as one tagged (kind, k, v) table — the
    persisted form of the reference's prescanSave output."""
    tagged = (
        title2id.select(
            F.lit("t").alias("kind"),
            F.col("title_norm").alias("k"),
            F.col("page_id").cast("string").alias("v"),
        )
        .unionByName(
            redirects.select(
                F.lit("r").alias("kind"),
                F.col("from_title").alias("k"),
                F.col("to_title").alias("v"),
            )
        )
        .unionByName(
            template_bodies.select(
                F.lit("b").alias("kind"),
                F.col("template_id").cast("string").alias("k"),
                F.col("body").alias("v"),
            )
        )
    )
    return tagged


def write_dicts(title2id: DataFrame, redirects: DataFrame,
                template_bodies: DataFrame, path: str) -> int | None:
    """Write the tagged dictionary table as parquet (one distributed job,
    no driver roundtrip) for worker-side loading via functions/dictload.py.
    Returns the row count, observed on the write job itself."""
    from pyspark.sql import Observation

    tagged = tagged_dicts_df(title2id, redirects, template_bodies)
    # the 3-way union triples the partition count of the (cached) title
    # aggregate it reads, so the write fans out into 3x as many tiny tasks
    # and files as the data warrants.  Coalesce (narrow, no shuffle) by
    # that factor and pack ~4 aggregate partitions per write task on top
    # (//12): measured ~0.5s off the prescan stage at sf0.1, and fewer,
    # better-sized dict files at any scale; parallelism still grows
    # linearly with the aggregate's own partition count
    try:
        n_parts = tagged.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning quirk
        n_parts = None
    if n_parts and n_parts > 12:
        tagged = tagged.coalesce(max(1, n_parts // 12))
    obs = Observation()
    tagged = tagged.observe(obs, F.count(F.lit(1)).alias("rows"))
    tagged.write.mode("overwrite").parquet(path)
    try:
        return obs.get["rows"]
    except Exception:
        return None


def redirect_records_df(redirects: DataFrame, title2id: DataFrame,
                        template_bodies: DataFrame):
    """The redirect output join (Output/Composite.pm:83-125): resolve both
    endpoints ('unknown' when missing), drop redirects FROM templates, split
    off redirects TO templates as template-index entries.

    Returns (redirect_records, template_redirect_records).  Both joins are
    broadcast-able: title2id and the template list are the dimension side.
    """
    tmpl_ids = template_bodies.select(
        F.col("template_id").alias("_tmpl_id")
    ).distinct()

    t2i_from = title2id.select(
        F.col("title_norm").alias("from_title"),
        F.col("page_id").alias("_from_id"),
    )
    t2i_to = title2id.select(
        F.col("title_norm").alias("to_title"),
        F.col("page_id").alias("_to_id"),
    )
    resolved = (
        redirects.join(F.broadcast(t2i_from), "from_title", "left")
        .join(F.broadcast(t2i_to), "to_title", "left")
        .join(
            F.broadcast(tmpl_ids),
            F.col("_from_id") == F.col("_tmpl_id"),
            "left_anti",
        )
        .join(
            F.broadcast(tmpl_ids.withColumnRenamed("_tmpl_id", "_tmpl_to")),
            F.col("_to_id") == F.col("_tmpl_to"),
            "left",
        )
    )
    redirect_records = resolved.where(F.col("_tmpl_to").isNull()).select(
        F.coalesce(F.col("_from_id").cast("string"), F.lit("unknown")).alias("from_id"),
        "from_title",
        F.coalesce(F.col("_to_id").cast("string"), F.lit("unknown")).alias("to_id"),
        "to_title",
    )
    template_redirects = resolved.where(F.col("_tmpl_to").isNotNull()).select(
        F.col("_to_id").alias("template_id"),
        F.col("from_title").alias("alias_title"),
    )
    return redirect_records, template_redirects
