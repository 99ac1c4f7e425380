"""Distributed per-page transform (pipeline pass 2).

One Arrow-batched mapInPandas over the source rows (repo, path, commit,
content): each record is parsed by the one row rule
(sources/pages.parse_rows), records the parser rejects are skipped, and
every page runs the full transformOne chain (functions/page.py) against the
side-loaded dictionaries, then the one edge-row writer
(functions/edges.edge_collections).  It emits a wide row carrying the
rewritten text plus every edge collection as nested arrays, the reference
writers' row rules already applied, and the parse's ``seq``, on which the
pipeline drops duplicate-id losers after the kernel.  Parse and kernel are
one python operator, so a pass-2 task starts one python worker.  The edge
tables and the triples in operators/edges.py only explode this table — the
markup work and the row rules run exactly once per page.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from wikiprep_spark.functions.edges import EDGE_COLUMNS, edge_collections
from wikiprep_spark.functions.page import TransformEnv, transform_one
from wikiprep_spark.sources.pages import parse_rows

TRANSFORMED_SCHEMA = (
    "page_id long, title string, ns string, timestamp string, status string, "
    "org_length long, new_length long, "
    "is_stub int, is_disambig int, is_category int, is_image int, "
    "text string, "
    "anchors array<struct<target_id:bigint, loc:bigint, anchor:string>>, "
    "categories array<bigint>, "
    "interwiki array<struct<iw_ns:string, iw_title:string>>, "
    "external array<struct<url:string, anchor:string>>, "
    "bare_urls array<string>, "
    "related array<bigint>, "
    "disambig array<struct<line_no:int, pos:int, target_id:bigint, anchor:string>>, "
    "template_incl array<struct<template_id:bigint, incl_idx:int, param:string, value:string>>, "
    "content_sha256 string"
)

# the kernel's output: the transformed_pages row plus the parse's seq
KERNEL_SCHEMA = TRANSFORMED_SCHEMA + ", seq string"

_COLUMNS = [
    "page_id", "title", "ns", "timestamp", "status", "org_length",
    "new_length", "is_stub", "is_disambig", "is_category", "is_image",
    "text", *EDGE_COLUMNS, "content_sha256", "seq",
]


def _row_from_page(src, page) -> tuple:
    if "text" not in page:
        status = "redirect" if src["redirect_target"] is not None else "skipped"
        return (
            src["page_id"], src["title_norm"], src["ns"], src["timestamp"],
            status, page["orgLength"], None, None, None, None, None,
            None, None, None, None, None, None, None, None, None,
            src["content_sha256"], src["seq"],
        )
    return (
        page["id"], page["title"], src["ns"], page.get("timestamp"),
        "ok", page["orgLength"], page["newLength"],
        page["isStub"], page["isDisambig"], page["isCategory"],
        page["isImage"], page["text"], *edge_collections(page),
        src["content_sha256"], src["seq"],
    )


def transform_pages(src_pages: DataFrame, dicts_path: str) -> DataFrame:
    """source rows + the prescan dictionaries -> wide rows (KERNEL_SCHEMA).

    ``dicts_path`` is the tagged dictionary parquet the pipeline writes
    from operators/prescan.tagged_dicts_df; workers side-load it once per
    process via functions/dictload.py (the prescanLoad equivalent).  Every
    parsed page is transformed: first-wins per page id is the caller's
    anti-join on (page_id, seq).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from wikiprep_spark.functions import dictload

        t2i, red, bodies = dictload.load_env_from_parquet(dicts_path)
        env = TransformEnv(title2id=t2i, redir=red, templates=bodies)
        for batch in batches:
            if not len(batch):
                continue
            rows = []
            for (seq, page_id, title, title_norm, ns, timestamp, text, sha,
                 redirect_target, _, _, parse_error, *_) in parse_rows(batch):
                if parse_error is not None:
                    continue
                mwpage = {
                    "id": page_id,
                    "title": title,
                    "text": text,
                    "timestamp": timestamp,
                }
                page = transform_one(mwpage, env)
                src = {
                    "page_id": page_id, "title_norm": title_norm, "ns": ns,
                    "timestamp": timestamp, "content_sha256": sha,
                    "redirect_target": redirect_target, "seq": seq,
                }
                rows.append(_row_from_page(src, page))
            yield pd.DataFrame(rows, columns=_COLUMNS)

    # mapInPandas feeds whole rows to python — prune to what the parse
    # reads before crossing the Arrow boundary
    return src_pages.select("repo", "path", "commit", "content").mapInPandas(
        gen, schema=KERNEL_SCHEMA
    )
