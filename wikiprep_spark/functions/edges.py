"""The edge rows of a transformed page — the one writer.

``edge_collections`` turns a ``transform_one`` page record into the eight
nested collections of the wide transformed row
(operators/transform.TRANSFORMED_SCHEMA), applying every row rule of the
reference wikiprep's output writers (``lib/Wikiprep/Output/Legacy.pm`` /
``Output/Composite.pm``) here and nowhere else:

- anchors (Legacy.pm:151-174): resolved, non-self links only; newlines
  become spaces and the text is stripped of surrounding whitespace;
- disambiguation lines (Legacy.pm:280-305): tabs in anchors become spaces,
  and a link-free list line keeps one (line_no, NULL, NULL, NULL) row;
- template inclusions (Legacy.pm:188-215): newlines in values become
  spaces, params starting with '=' are skipped, and a parameter-less
  inclusion keeps one placeholder row;
- categories, interwiki, external links, bare URLs and related articles
  pass through as transform_one left them.

The Spark edge tables and the triples (operators/edges.py) only explode
these collections, so the goldens that check this function check what
the pipeline writes.
"""

from __future__ import annotations

# the wide-row column of each collection edge_collections returns, in order
EDGE_COLUMNS = (
    "anchors", "categories", "interwiki", "external", "bare_urls",
    "related", "disambig", "template_incl",
)


def edge_collections(page) -> tuple:
    """The EDGE_COLUMNS collections of a transformed (``"text"``-carrying)
    page record, row shapes as in TRANSFORMED_SCHEMA."""
    page_id = page["id"]
    anchors = [
        (a["targetId"], a["linkLocation"],
         a["anchorText"].replace("\n", " ").strip())
        for a in page["wikiLinks"]
        if "targetId" in a and a["targetId"] != page_id
    ]
    disambig = []
    for line_no, group in enumerate(page.get("disambigLinks", ())):
        disambig.extend(
            (line_no, pos, a.get("targetId"),
             a["anchorText"].replace("\t", " "))
            for pos, a in enumerate(group)
        )
        if not group:
            disambig.append((line_no, None, None, None))
    template_incl = []
    for template_id, incl_list in page["templates"].items():
        for incl_idx, params in enumerate(incl_list):
            rows = [
                (template_id, incl_idx, param, value.replace("\n", " "))
                for param, value in params.items()
                if not param.startswith("=")
            ]
            # a parameter-less inclusion still logs a Page/End block
            # (Legacy.pm:201-210) — keep one row so it stays visible
            template_incl.extend(rows or [(template_id, incl_idx, None, None)])
    return (
        anchors,
        list(page["categories"]),
        list(page["interwiki"]),
        [(l["url"], l.get("anchor")) for l in page["externalLinks"]],
        list(page["bareUrls"]),
        list(page["relatedArticles"]),
        disambig,
        template_incl,
    )
