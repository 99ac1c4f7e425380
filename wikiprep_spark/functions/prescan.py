"""Sequential prescan semantics (the reference's pass 1).

Re-expression of ``prescan`` (``/root/reference/bin/wikiprep:440-480``),
``Wikiprep::Link::prescan`` (Link.pm:32-76) and
``Wikiprep::Templates::prescan`` (Templates.pm:32-88) as a pure function over
an ordered page stream.  This is the semantic oracle; the distributed
version in operators/prescan.py reproduces exactly these outcomes with
min/max aggregations (first-id-wins, first-title-wins, last-redirect-wins).
"""

from __future__ import annotations

from wikiprep_spark.config import ENWIKI
from wikiprep_spark.functions.page import parse_redirect
from wikiprep_spark.functions.templates import preprocess_template_body
from wikiprep_spark.functions.titles import (
    is_namespace_ok,
    normalize_title,
    page_namespace,
)


def prescan_pages(pages, site=ENWIKI):
    """Build the cross-page dictionaries from an ordered iterable of page
    dicts (id, title, text).

    Returns dict with:
      - title2id: normalized title -> id (non-redirect, ok-ns, first wins)
      - redir: normalized from-title -> normalized to-title (last wins,
        unless the title was already claimed by an earlier non-redirect)
      - templates: template id -> preprocessed body
      - template_index: list of (id, normalized title) for Template-ns pages
      - page_count, byte_count
    """
    title2id: dict = {}
    redir: dict = {}
    templates: dict = {}
    template_index: list = []
    idexists: set = set()
    page_count = 0
    byte_count = 0

    tmpl_prefix = site.template_namespace + ":"

    for p in pages:
        page_count += 1
        text = p.get("text")
        if text is not None:
            byte_count += len(text)

        title = normalize_title(p["title"], None, site)

        pid = p["id"]
        if pid in idexists:
            continue  # first page wins per id (bin/wikiprep:466-470)
        idexists.add(pid)

        # --- Link::prescan
        if len(title) == 0:
            continue
        ns = page_namespace(p["title"])
        if not is_namespace_ok(ns, site.ok_prescan, site):
            continue
        if title in title2id:
            continue  # first page wins per normalized title (Link.pm:53-59)

        redirect = parse_redirect(text)
        templates_ok = False
        if redirect is not None:
            redirect = normalize_title(redirect, None, site)
            if len(redirect) == 0:
                # empty target: treated as non-redirect for template prescan,
                # but claims neither title2id nor redir (Link.pm:66)
                templates_ok = True
            else:
                redir[title] = redirect
        else:
            title2id[title] = pid
            templates_ok = True

        # --- Templates::prescan (only when Link::prescan returned true)
        if templates_ok and title.startswith(tmpl_prefix):
            template_index.append((pid, title))
            templates[pid] = preprocess_template_body(text or "")

    return {
        "title2id": title2id,
        "redir": redir,
        "templates": templates,
        "template_index": template_index,
        "page_count": page_count,
        "byte_count": byte_count,
    }


def build_redirect_records(prescan_result, site=ENWIKI):
    """The redirect output join (Output/Composite.pm:83-125): resolve both
    ends against title2id ("unknown" if missing); redirects FROM a template
    are dropped; redirects TO a template are routed to the template index
    instead.  Returns (redirect_records, template_redirect_records)."""
    title2id = prescan_result["title2id"]
    templates = prescan_result["templates"]
    redirects = []
    template_redirects = []
    for from_title, to_title in prescan_result["redir"].items():
        from_id = title2id.get(from_title, "unknown")
        to_id = title2id.get(to_title, "unknown")
        if from_id in templates:
            continue
        if to_id in templates:
            template_redirects.append((to_id, from_title))
        else:
            redirects.append(
                {"from_id": str(from_id), "from_title": from_title,
                 "to_id": str(to_id), "to_title": to_title}
            )
    return redirects, template_redirects
