"""Stage 0: src_pages(repo, path, commit, lang, content) -> parsed pages.

The input table shape is fixed by the BASELINE input hint: one MediaWiki
page XML record per row in ``content``.  ``parse_rows`` is the one row
rule — page id, normalized title, namespace, redirect target, ``seq`` —
and every pass of the fused two-pass pipeline (plans/pipeline.py) runs it
inside its one python operator: ``parse_pages_prescan`` is pass 1's, which
keeps text only for templates, already preprocessed (Templates.pm:41-86),
since the template bodies are all the prescan aggregation reads; the
pipeline caches that skinny parse, and the duplicate-id losers and the
per-partition lineage derive from it too.  Pass 2 parses inside the
transform kernel (operators/transform.transform_pages), so the full parse
is never materialized.

``seq`` is the total-order key replacing the reference's dump document
order: the lexicographic (repo, path, commit) key.  Using the key itself
(instead of a global row_number) keeps ordering shuffle-free at any scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from wikiprep_spark.config import ENWIKI
from wikiprep_spark.functions.page import parse_redirect
from wikiprep_spark.functions.templates import preprocess_template_body
from wikiprep_spark.functions.titles import (
    is_namespace_ok,
    normalize_title,
    page_namespace,
)
from wikiprep_spark.sources.mediawiki_xml import parse_page_record, sha256_hex

PARSED_SCHEMA = (
    "seq string, page_id long, title string, title_norm string, ns string, "
    "timestamp string, text string, content_sha256 string, "
    "redirect_target string, ns_ok_prescan boolean, is_template boolean, "
    "parse_error string, text_chars long, record_chars long"
)

PARSED_COLUMNS = [
    "seq", "page_id", "title", "title_norm", "ns", "timestamp", "text",
    "content_sha256", "redirect_target", "ns_ok_prescan", "is_template",
    "parse_error", "text_chars", "record_chars",
]


def parse_rows(batch: pd.DataFrame) -> list[tuple]:
    """One PARSED_COLUMNS tuple per source row of ``batch`` (repo, path,
    commit, content).  A record the parser rejects keeps its row, with a
    NULL page_id and the reason in ``parse_error``."""
    site = ENWIKI
    tmpl_prefix = site.template_namespace + ":"
    rows = []
    for repo, path, commit, content in zip(
        batch["repo"], batch["path"], batch["commit"], batch["content"]
    ):
        seq = "%s\x00%s\x00%s" % (repo, path, commit)
        try:
            rec = parse_page_record(content)
        except ValueError as exc:
            # content_sha256 and record_chars still describe the raw
            # record: the pipeline's lineage sums them over every source
            # row, dirty records included
            rows.append(
                (seq, None, None, None, None, None, None,
                 sha256_hex(content), None, False, False, str(exc), 0,
                 len(content))
            )
            continue
        title_norm = normalize_title(rec["title"], None, site)
        ns = page_namespace(rec["title"])
        redirect = parse_redirect(rec["text"])
        if redirect is not None:
            redirect = normalize_title(redirect, None, site)
        rows.append(
            (
                seq,
                rec["id"],
                rec["title"],
                title_norm,
                ns,
                rec["timestamp"],
                rec["text"],
                rec["sha256"],
                redirect,
                is_namespace_ok(ns, site.ok_prescan, site),
                title_norm.startswith(tmpl_prefix),
                None,
                len(rec["text"] or ""),
                len(content),
            )
        )
    return rows


def parse_pages_prescan(src_pages: DataFrame) -> DataFrame:
    """src_pages -> pass 1's parse: one ``parse_rows`` row per source row
    (one XML parse per row, Arrow-batched), but ``text`` is kept ONLY for
    Template-namespace pages, as the preprocessed template body
    (Templates.pm:41-86) — the only text the dictionary aggregation reads,
    so the dictionary write runs no python of its own.  Arrow-returning
    the full text column for every page is pure transfer cost in the
    prescan pass of the fused two-pass pipeline."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch):
                out = pd.DataFrame(parse_rows(batch), columns=PARSED_COLUMNS)
                out["text"] = [
                    preprocess_template_body(text or "") if tmpl else None
                    for text, tmpl in zip(out["text"], out["is_template"])
                ]
                yield out

    return src_pages.mapInPandas(gen, schema=PARSED_SCHEMA)
