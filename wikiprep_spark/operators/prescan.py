"""Distributed prescan (pipeline pass 1).

Builds the cross-page dictionaries — title2id, redirects, template bodies,
template index — with the exact sequential semantics of the reference
prescan (first-page-wins per id, first-page-wins per title,
last-redirect-wins, redirect-vs-title ordering; see
wikiprep_spark/functions/prescan.py for the semantic oracle and the cited
reference lines).

Shuffle budget (the part that must survive 100 TB):
  1. duplicate-id detection: a count aggregation over the (page_id, seq)
     projection of the parsed pages — the pipeline reads it from its
     cached pass-1 parse, so the python id rule (sources/mediawiki_xml.py)
     is the only one and runs once per record in pass 1; the loser row
     keys are joined back as a BROADCAST anti join — to the cached parse
     in pass 1 and to the transform kernel's output in pass 2 — so the
     full-text rows are never shuffled and no second copy of the corpus
     is materialized.
  2. ONE groupBy(title_norm) aggregation computing, per title, the
     first non-redirect claim, the last redirect, and the template-body
     candidates together — all three dictionaries derive from this single
     shuffle (only template rows carry text into it, already preprocessed
     by the pass-1 parse, so the dictionaries are plain projections of
     the aggregate and their write runs no python).
The dictionaries are then written as one tagged parquet table
(tagged_dicts_df) that every transform worker side-loads
(functions/dictload.py) — the Spark equivalent of the reference's
read-only BerkeleyDB tables shared across workers (bin/wikiprep:482-512).
That table is the one boundary pass 1 ends at: whoever needs a
dictionary, the pipeline's redirect map included, reads it from there.
Besides that write, the aggregate feeds only two projections.  The
redirect output join (redirect_records_df): a redirect's from-side is its
own row, so only the to-side is looked up, with one broadcast of the
claimed titles.  And the template index (template_bodies_df), which keeps
the title_norm the table does not carry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dup_losers(parsed: DataFrame) -> DataFrame:
    """(page_id, seq) of every page beyond the first occurrence of its id,
    in dump (seq) order (bin/wikiprep:466-470).  Records the parser
    rejected (NULL page_id) are never losers.  The first-wins rule is a
    min(seq) per page_id, so the result only depends on the parsed ids —
    read it from a cached parse and no consumer re-runs the python parse
    to find its losers."""
    ids = parsed.where(F.col("page_id").isNotNull()).select("page_id", "seq")
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


def live_pages(parsed: DataFrame, losers: DataFrame) -> DataFrame:
    """First page wins per id over ALL pages: ``parsed`` — any rows
    carrying the parse's (page_id, seq), the pass-1 parse or the pass-2
    kernel's output — minus the ``losers`` (dup_losers).  Duplicate ids
    are rare, so the losers form a small set that broadcast-anti-joins
    against the full rows — no shuffle of the page texts."""
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


def _surviving_redirect():
    """A row's last redirect survives unless an earlier non-redirect page
    already claimed its title (the exists-check at Link.pm:53 runs BEFORE
    redirect parsing)."""
    return F.col("last_red").isNotNull() & (
        F.col("claim").isNull()
        | (F.col("claim.seq") > F.col("last_red.seq"))
    )


def _claim_is_template():
    """The row's claim page is a template page.  A non-redirect
    Template-namespace page is a template candidate and always passes its
    own gate (it is the title's first claim), so the test is row-local: the
    claim appears in the same row's ``tmpls``.  False for an unclaimed
    title."""
    return F.col("claim").isNotNull() & F.exists(
        "tmpls", lambda t: t["seq"] == F.col("claim.seq"))


def _template_passes(t):
    """Templates::prescan's gate for one ``tmpls`` entry ``t``: the
    Link::prescan call returned true — not shadowed by an earlier
    same-title page."""
    return F.col("claim").isNull() | (F.col("claim.seq") >= t["seq"])


def template_bodies_df(agg: DataFrame) -> DataFrame:
    """(template_id, title_norm, body): the Template-namespace pages that
    pass Templates::prescan's gate (_template_passes), with their texts,
    which the pass-1 parse (sources/pages.parse_pages_prescan) already
    preprocessed (Templates.pm:41-86)."""
    t = agg.select("title_norm", "claim", F.explode("tmpls").alias("t"))
    return t.where(_template_passes(F.col("t"))).select(
        F.col("t.page_id").alias("template_id"),
        "title_norm",
        F.col("t.text").alias("body"),
    )


def tagged_dicts_df(agg: DataFrame) -> DataFrame:
    """All three dictionaries as one tagged (kind, k, v) table — the
    persisted form of the reference's prescanSave output, written as
    parquet in one distributed job (no driver roundtrip) and side-loaded
    by the transform workers via functions/dictload.py.

    One projection of the title aggregate: per row, the title's claim
    (``t``), its surviving redirect (``r``) and its gated template bodies
    (``b``) are packed into one array and exploded once, as the triples
    are — without a union, so the write runs one task per aggregate
    partition."""
    def entry(kind, k, v):
        return F.struct(F.lit(kind).alias("kind"), k.alias("k"),
                        v.cast("string").alias("v"))

    claim = F.when(F.col("claim").isNotNull(), entry(
        "t", F.col("title_norm"), F.col("claim.page_id")))
    redirect = F.when(_surviving_redirect(), entry(
        "r", F.col("title_norm"), F.col("last_red.redirect_target")))
    bodies = F.transform(
        F.filter("tmpls", _template_passes),
        lambda t: entry("b", t["page_id"].cast("string"), t["text"]))
    return agg.select(F.explode(F.concat(
        F.array_compact(F.array(claim, redirect)), bodies)).alias("d")
    ).select("d.kind", "d.k", "d.v")


def redirect_records_df(agg: DataFrame):
    """The redirect output join (Output/Composite.pm:83-125) over the title
    aggregate: resolve both endpoints against title2id ('unknown' when
    missing), drop redirects FROM templates, split off redirects TO
    templates as template-index entries.

    The from-side is row-local: ``from_title`` is the aggregate's key, so
    ``from_id`` is the row's claim — set when a LATER non-redirect page
    claimed the title — and whether it is a template is _claim_is_template.
    Only the to-side needs a lookup: one broadcast left join against the
    claimed titles with their ids and template flags.

    Returns (redirect_records, template_redirect_records).
    """
    claims = agg.where(F.col("claim").isNotNull()).select(
        F.col("title_norm").alias("to_title"),
        F.col("claim.page_id").alias("_to_id"),
        _claim_is_template().alias("_to_tmpl"),
    )
    resolved = (
        agg.where(_surviving_redirect() & ~_claim_is_template())
        .select(
            F.col("title_norm").alias("from_title"),
            F.col("last_red.redirect_target").alias("to_title"),
            F.col("claim.page_id").alias("_from_id"),
        )
        .join(F.broadcast(claims), "to_title", "left")
    )
    redirect_records = resolved.where(
        ~F.coalesce(F.col("_to_tmpl"), F.lit(False))
    ).select(
        F.coalesce(F.col("_from_id").cast("string"), F.lit("unknown")).alias("from_id"),
        "from_title",
        F.coalesce(F.col("_to_id").cast("string"), F.lit("unknown")).alias("to_id"),
        "to_title",
    )
    template_redirects = resolved.where(F.col("_to_tmpl")).select(
        F.col("_to_id").alias("template_id"),
        F.col("from_title").alias("alias_title"),
    )
    return redirect_records, template_redirects
