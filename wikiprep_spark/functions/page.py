"""Per-page transform — the inner "query" of the pipeline.

Re-expression of ``transformOne`` (``/root/reference/bin/wikiprep:539-668``)
as a pure function: one parsed page record + the prescan dictionaries in,
one result dict out (rewritten text plus all extracted collections).  The
12-step stage order is semantics-critical and preserved exactly:
comments -> stub -> disambig -> templates -> related -> gallery/imagemap ->
css -> urls -> links -> category cleanup -> postprocess -> flags.
"""

from __future__ import annotations

import re

from wikiprep_spark.config import ENWIKI, PARSE_REDIRECT_RE, IS_REDIRECT_RE
from wikiprep_spark.functions.css import remove_metadata
from wikiprep_spark.functions.disambig import is_disambiguation, parse_disambig
from wikiprep_spark.functions.images import (
    convert_gallery_to_link,
    convert_imagemap_to_link,
)
from wikiprep_spark.functions.links import extract_wiki_links
from wikiprep_spark.functions.postprocess import postprocess_text
from wikiprep_spark.functions.related import (
    identify_related_articles,
    remove_duplicates_and_self,
    remove_elements,
)
from wikiprep_spark.functions.templates import (
    COMMENT_RE,
    ExpansionContext,
    include_templates,
)
from wikiprep_spark.functions.titles import (
    is_namespace_ok,
    normalize_title,
    page_namespace,
)

_STUB_RE = re.compile(r"stub\}\}", re.I)
_REDIRECT_ANCHOR_RE = re.compile(r"(.*)#.*$")


class TransformEnv:
    """The cross-page dictionaries built by prescan (the reference's
    BerkeleyDB tables; dicts side-loaded per worker here).

    - title2id: normalized title -> page id
    - redir: normalized source title -> normalized target title (1 hop)
    - templates: template page id -> preprocessed body text
    """

    __slots__ = ("title2id", "redir", "templates")

    def __init__(self, title2id=None, redir=None, templates=None):
        self.title2id = title2id or {}
        self.redir = redir or {}
        self.templates = templates or {}


def parse_redirect(text):
    """Link.pm:100-123: tolerant redirect parsing; a '#anchor' in the target
    is dropped. Returns the raw (un-normalized) target title or None."""
    if text is None or not IS_REDIRECT_RE.match(text):
        return None
    m = PARSE_REDIRECT_RE.match(text)
    if not m:
        return None
    target = m.group(1)
    m2 = _REDIRECT_ANCHOR_RE.match(target)
    return m2.group(1) if m2 else target


def transform_one(mwpage: dict, env: TransformEnv, site=ENWIKI) -> dict:
    """Transform one page record.

    ``mwpage`` needs: id (int), title (raw string), text (string or None),
    timestamp (string or None). Returns the page dict; 'text' is present only
    for pages that were actually transformed (redirects and out-of-scope
    namespaces short-circuit, as in the reference).
    """
    text = mwpage.get("text") or ""
    page = {"id": mwpage["id"], "orgLength": len(text)}

    if parse_redirect(text) is not None:
        return page  # redirects were fully handled during prescan

    ns = page_namespace(mwpage["title"])
    if not is_namespace_ok(ns, site.ok_transform, site):
        return page

    title = normalize_title(mwpage["title"], None, site)
    if len(title) == 0:
        return page

    page["title"] = title
    page["timestamp"] = mwpage.get("timestamp")

    text = COMMENT_RE.sub("", text)

    # stub must be checked BEFORE template expansion
    page["isStub"] = 1 if _STUB_RE.search(text) else 0
    page["text"] = text

    # disambig indicators are templates too — parse before expansion
    if is_disambiguation(page):
        parse_disambig(page, env, site)
        page["isDisambig"] = 1
    else:
        page["isDisambig"] = 0

    page["templates"] = {}
    ctx = ExpansionContext(page, env, site)
    page["text"] = include_templates(ctx, page["text"], 0)

    identify_related_articles(page, env, site)

    page["text"] = convert_gallery_to_link(page["text"], site)
    page["text"] = convert_imagemap_to_link(page["text"], site)
    page["text"] = remove_metadata(page["text"])

    from wikiprep_spark.functions.urls import extract_urls

    page["text"], page["externalLinks"], page["bareUrls"] = extract_urls(
        page["text"]
    )

    page["wikiLinks"] = []
    page["categories"] = []
    page["interwiki"] = []
    page["text"] = extract_wiki_links(
        page["text"], env, page["wikiLinks"], page["interwiki"],
        page["categories"], site,
    )

    # categories listed at the article end would otherwise pollute related
    page["relatedArticles"] = remove_elements(
        page["relatedArticles"], page["categories"]
    )
    page["categories"] = remove_duplicates_and_self(
        page["categories"], page["id"]
    )

    page["text"] = postprocess_text(page["text"], page["interwiki"])
    page["newLength"] = len(page["text"])

    page["isCategory"] = 1 if ns == site.category_namespace else 0
    page["isImage"] = 1 if ns == site.image_namespace else 0
    return page
