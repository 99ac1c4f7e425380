"""Edge/triple materialization from the wide transformed-pages table.

Every row rule of the reference's output writers (self-link removal,
anchor newline/whitespace cleanup, disambiguation tabs, template-value
newlines, placeholder rows) is applied once, in the kernel writer
functions/edges.edge_collections, before the rows cross the Arrow
boundary.  This side only explodes: each edge table is a projection of
one nested column (Catalyst prunes the wide table to it, so producing one
edge kind never pays for the others), and the triples pack every kind
into one array per row and explode it once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _ok():
    return F.col("status") == "ok"


def anchors_edges(transformed: DataFrame) -> DataFrame:
    """(target_id, source_id, loc, anchor_text): resolved, non-self anchors
    (Output/Legacy.pm:151-174, rules applied by the kernel writer)."""
    return transformed.where(_ok()).select(
        F.col("page_id").alias("source_id"), F.explode("anchors").alias("a")
    ).select(
        F.col("a.target_id").alias("target_id"),
        "source_id",
        F.col("a.loc").alias("loc"),
        F.col("a.anchor").alias("anchor_text"),
    )


def links_edges(transformed: DataFrame) -> DataFrame:
    """(source_id, target_id) distinct, self-free (Legacy.pm:224-226)."""
    return anchors_edges(transformed).select(
        "source_id", "target_id").distinct()


def categories_edges(transformed: DataFrame) -> DataFrame:
    """(page_id, pos, category_id), order-preserving."""
    return transformed.where(_ok()).select(
        "page_id", F.posexplode("categories").alias("pos", "category_id")
    )


def related_edges(transformed: DataFrame) -> DataFrame:
    return transformed.where(_ok()).select(
        "page_id", F.posexplode("related").alias("pos", "related_id")
    )


def interwiki_edges(transformed: DataFrame) -> DataFrame:
    return transformed.where(_ok()).select(
        "page_id", F.explode("interwiki").alias("iw")
    ).select(
        "page_id",
        F.col("iw.iw_ns").alias("namespace"),
        F.col("iw.iw_title").alias("title"),
    )


def external_edges(transformed: DataFrame) -> DataFrame:
    """(source_id, url, anchor): one row per external link struct (anchor
    nullable — the legacy external_anchors file keeps only anchored rows)."""
    return transformed.where(_ok()).select(
        F.col("page_id").alias("source_id"), F.explode("external").alias("e")
    ).select(
        "source_id",
        F.col("e.url").alias("url"),
        F.col("e.anchor").alias("anchor"),
    )


def disambig_edges(transformed: DataFrame) -> DataFrame:
    """(disambig_id, line_no, pos, target_id, anchor_text); one (line_no,
    null, null, null) row marks a link-free list line."""
    d = transformed.where(_ok() & (F.col("is_disambig") == 1)).select(
        F.col("page_id").alias("disambig_id"),
        F.explode("disambig").alias("d"),
    )
    return d.select(
        "disambig_id",
        F.col("d.line_no").alias("line_no"),
        F.col("d.pos").alias("pos"),
        F.col("d.target_id").alias("target_id"),
        F.col("d.anchor").alias("anchor_text"),
    )


def template_inclusion_edges(transformed: DataFrame) -> DataFrame:
    """(page_id, template_id, incl_idx, param, value); a parameter-less
    inclusion keeps one row with a null param and value."""
    t = transformed.where(_ok()).select(
        "page_id", F.explode("template_incl").alias("t")
    )
    return t.select(
        "page_id",
        F.col("t.template_id").alias("template_id"),
        F.col("t.incl_idx").alias("incl_idx"),
        F.col("t.param").alias("param"),
        F.col("t.value").alias("value"),
    )


def pages_table(transformed: DataFrame) -> DataFrame:
    """The per-page record (Composite.pm:149-205 equivalent)."""
    return transformed.where(_ok()).select(
        "page_id", "title", "ns", "timestamp", "org_length", "new_length",
        "is_stub", "is_disambig", "is_category", "is_image",
        "categories", "related", "text", "content_sha256",
    )


def triples_from_transformed(transformed: DataFrame,
                             redirect_records: DataFrame) -> DataFrame:
    """The unified (subj, pred, obj, prop) stream derived in ONE scan of the
    wide table: per row, every edge kind is packed into a single
    array<struct> with higher-order functions and exploded once — versus
    eight separate scans for the per-kind edge tables.  Semantically
    identical to the union of the individual edge tables (tested); at
    scale this is the difference between one and eight passes over the
    transformed corpus.  A ``disambiguates`` triple is emitted only for a
    disambiguation entry with a resolved ``target_id``, so no triple has
    a NULL object."""
    pid = F.col("page_id").cast("string")

    def s(subj, pred, obj, prop):
        return F.struct(
            subj.cast("string").alias("subj"),
            F.lit(pred).alias("pred"),
            obj.cast("string").alias("obj"),
            prop.cast("string").alias("prop"),
        )

    nul = F.lit(None).cast("string")
    combined = F.concat(
        # links_to: the distinct anchor targets of the page
        F.transform(
            F.array_distinct(F.transform("anchors", lambda a: a["target_id"])),
            lambda t: s(pid, "links_to", t, nul),
        ),
        F.transform(
            "anchors",
            lambda a: s(a["target_id"], "anchored_by", pid, a["anchor"]),
        ),
        F.transform("categories",
                    lambda c: s(pid, "in_category", c, nul)),
        F.transform("related", lambda r: s(pid, "related_to", r, nul)),
        # only resolved list anchors name an object; the disambig table
        # keeps the unresolved and link-free-line rows for Legacy.pm
        F.transform(
            F.filter("disambig", lambda d: d["target_id"].isNotNull()),
            lambda d: s(pid, "disambiguates", d["target_id"], d["anchor"]),
        ),
        F.transform("external",
                    lambda e: s(pid, "links_external", e["url"],
                                e["anchor"])),
        F.transform(
            "template_incl",
            lambda t: s(pid, "includes_template", t["template_id"],
                        t["param"]),
        ),
    )
    page_triples = (
        transformed.where(_ok())
        .select(F.explode(combined).alias("t"))
        .select("t.subj", "t.pred", "t.obj", "t.prop")
    )
    redirect_triples = redirect_records.select(
        F.col("from_id").alias("subj"),
        F.lit("redirects_to").alias("pred"),
        F.col("to_id").alias("obj"),
        F.col("to_title").alias("prop"),
    )
    return page_triples.unionByName(redirect_triples)
