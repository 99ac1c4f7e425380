"""End-to-end golden tests: run the sequential prescan + per-page transform
over the fixture corpora and compare emitted edge sets against expectations
derived from the reference's .vetted golden files (set-based, since the
reference's own output row order is Perl-hash order).  Edge rows come from
the one writer the Spark pipeline explodes,
functions/edges.edge_collections."""

from tests.corpora import ALL
from wikiprep_spark.functions.edges import EDGE_COLUMNS, edge_collections
from wikiprep_spark.functions.page import TransformEnv, transform_one
from wikiprep_spark.functions.prescan import (
    build_redirect_records,
    prescan_pages,
)


def run(name):
    pages = ALL[name]
    pre = prescan_pages(pages)
    env = TransformEnv(pre["title2id"], pre["redir"], pre["templates"])
    results = [transform_one(p, env) for p in pages]
    return pre, {r["id"]: r for r in results}


def collections(page):
    """The page's edge collections from the one writer, by column name."""
    return dict(zip(EDGE_COLUMNS, edge_collections(page)))


def all_anchor_rows(results):
    """(target_id, source_id, loc, anchor_text) over every transformed page."""
    return [
        (target_id, r["id"], loc, text)
        for r in results.values() if "text" in r
        for target_id, loc, text in collections(r)["anchors"]
    ]


def test_anchors_golden():
    # anchors.anchor_text.vetted
    pre, results = run("anchors")
    assert set(all_anchor_rows(results)) == {
        (2, 1, 164, "Ga"),
        (2, 3, 109, "gulpgagluedanchor"),
        (6, 4, 65, "anchors"),
        (7, 4, 86, "more"),
        (3, 4, 104, "With an external link"),
        (3, 4, 143, "With newline and\ttab"),
        (5, 4, 35, "Nested anchors and some more"),
    }
    # the bogus category link is captured as a category, not an anchor
    assert collections(results[4])["categories"] == [8]


def test_dates_golden():
    # dates.anchor_text.vetted
    _, results = run("dates")
    assert set(all_anchor_rows(results)) == {
        (2, 1, 1, "October 15"),
        (3, 1, 17, "1982"), (3, 1, 41, "1982"), (3, 1, 50, "1982"),
        (4, 1, 84, "October 15, 1982"),
        (5, 1, 118, "2000"), (5, 1, 139, "2000"), (5, 1, 148, "2000"),
        (5, 1, 165, "2000"),
        (3, 1, 311, "1982"), (3, 1, 334, "1982"),
        (6, 1, 343, "October 5"),
        (3, 1, 357, "1982"),
        (2, 1, 56, "October 15"), (2, 1, 119, "October 15"),
        (2, 1, 134, "October 15"),
        (3, 1, 150, "1982"),
        (5, 1, 347, "2000"), (5, 1, 369, "2000"),
        (6, 1, 496, "October 5"),
    }


def test_dblredir_golden():
    # dblredir.anchor_text.vetted: only the single-hop redirect resolves
    _, results = run("dblredir")
    rows = all_anchor_rows(results)
    assert (1, 3, 6, "Mac OS X") in rows
    # the double redirect (page 5 -> 10.4 -> 10 -> OS X) is dropped
    assert not any(r[1] == 5 for r in rows)


def test_redirect_records_golden():
    # redir.redir.xml.vetted: all five tolerant forms resolve to Dest=100,
    # from-ids unknown (redirect pages never enter title2id)
    pre, _ = run("redir")
    recs, tmpl = build_redirect_records(pre)
    assert tmpl == []
    assert {(r["from_title"], r["from_id"], r["to_title"], r["to_id"])
            for r in recs} == {
        ("Redir1", "unknown", "Dest", "100"),
        ("Redir2", "unknown", "Dest", "100"),
        ("Redir3", "unknown", "Dest", "100"),
        ("Redir with newlines", "unknown", "Dest", "100"),
        ("Redir with trailing text", "unknown", "Dest", "100"),
    }


def test_template_redirect_routed_to_index():
    # tempredir: redirect to a template -> no redirect record, a template
    # index entry instead; {{alias}} resolves through the redirect.
    pre, results = run("tempredir")
    recs, tmpl = build_redirect_records(pre)
    assert recs == []
    assert tmpl == [(1, "Template:Alias")]
    assert results[3]["text"].strip() == "body"
    assert 1 in results[3]["templates"]


def test_categories_golden():
    # categories.hgw.xml.vetted
    _, results = run("categories")
    assert collections(results[100])["categories"] == [2, 3]
    assert collections(results[4])["categories"] == [3]
    assert collections(results[5])["categories"] == [3, 2]
    assert results[2]["text"].strip() == "Something%20%20%20dddd."
    # colon-category links stay as text
    assert "Category:X" in results[5]["text"]
    assert "Guano" in results[5]["text"]
    assert collections(results[5])["anchors"] == []  # so no links rows


def test_related_golden():
    # related.related_links.vetted: 4->1, 6->2, 8->[3,2]
    _, results = run("related")
    rel = {
        r["id"]: r["relatedArticles"]
        for r in results.values() if r.get("relatedArticles")
    }
    assert rel == {4: [1], 6: [2], 8: [3, 2]}


def test_disambig_golden():
    # disambig.disambig.vetted
    _, results = run("disambig")
    rows = {
        (r["id"], *row)
        for r in results.values() if r.get("isDisambig")
        for row in collections(r)["disambig"]
    }
    assert rows == {
        (1, 0, 0, None, "T a b"), (1, 1, 0, None, "A2"),
        (1, 2, 0, None, "A3"),
        (2, 0, 0, None, "B1"), (2, 1, 0, None, "B2"), (2, 2, 0, None, "B3"),
        (3, 0, 0, None, "C1"), (3, 1, 0, None, "C2"), (3, 2, 0, None, "C3"),
        (6, 0, None, None, None),  # the link-free list line of page F
    }
    assert results[4]["isDisambig"] == 0  # {{hndisaa}} is not a dab marker
    assert results[5]["isDisambig"] == 1  # {{dab}} with no list lines


def test_externalurls_golden():
    # externalurls.external_anchors.vetted + .hgw.xml.vetted <urls>
    _, results = run("externalurls")
    r = results[1]
    with_anchor = {(u, a) for u, a in collections(r)["external"]
                   if a is not None}
    assert with_anchor == {
        ("http://6.example.com", "some text"),
        ("http://7.example.com", "some text"),
        ("mailto:tomaz@example.com", "mail me"),
        ("http://www.youtube.com/user/BikerMice2006'BikerMice", "2006''"),
        ("http://5.example.com", "|some text"),
        ("http://8.example.com", "some [[text"),
    }
    assert r["bareUrls"] == [
        "http://1.example.com",
        "http://6.example.com",
        "http://7.example.com",
        "mailto:tomaz@example.com",
        "http://www.youtube.com/user/BikerMice2006'BikerMice",
        "http://5.example.com",
        "http://8.example.com",
        "http://2.example.com",
        "http://11.example.com",
        "http://12.example.com",
    ]
    # bad protocols stay in the text
    assert "[Http://3.example.com]" in r["text"]


def test_interwiki_golden():
    # interwiki.anchor_text.vetted is empty: interwiki links carry no
    # targetId; interwiki edges land in the interwiki list instead.
    _, results = run("interwiki")
    assert all_anchor_rows(results) == []
    r = results[1]
    # direct links + one from the expanded {{memoryalpha}} template
    titles = set(collections(r)["interwiki"])
    assert ("Memoryalpha", "Test") in titles
    assert ("Memoryalpha", "Category: education") in titles or \
           ("Memoryalpha", "Category:  education") in titles
    assert ("Wowwiki", "Sword of a Thousand Truths") in titles
    assert ("Memoryalpha", "A") in titles  # {{memoryalpha}} -> PAGENAME
    assert collections(r)["anchors"] == []  # so no links rows
    # template inclusion logged
    assert 1090150 in r["templates"]
