"""Distributed pipeline == sequential oracle, on the synthetic corpus.

Runs the full Spark pipeline over a small deterministic corpus and checks
(1) the distributed prescan/transform produce exactly the sequential
reference semantics, and (2) spot analytic expectations from the corpus
construction rules.
"""

import hashlib

import pytest

from wikiprep_spark.functions.dictload import load_env_from_parquet
from wikiprep_spark.functions.edges import EDGE_COLUMNS, edge_collections
from wikiprep_spark.functions.page import TransformEnv, transform_one
from wikiprep_spark.functions.prescan import prescan_pages
from wikiprep_spark.plans.pipeline import run_pipeline
from wikiprep_spark.sources.corpus import _row, build_src_pages
from wikiprep_spark.sources.mediawiki_xml import parse_page_record
from wikiprep_spark.sources.pages import parse_pages_prescan

LIMIT = 60
SF_DIR = "/root/testdata/sf0.001"


# a disambiguation page whose first list line's anchor holds a tab: the
# kernel writer (functions/edges.edge_collections) replaces it, and no
# Spark table or triple may let one through
TAB_DISAMBIG = _row(9000, "Tabbed (disambiguation)",
                    "{{dab}}\n* [[Doc 1|left\tright]] is an article\n"
                    "* [[Doc 2]] is another")
# a disambiguation page with an unresolved list anchor and a link-free
# list line: both stay in the disambig table (Legacy.pm writes them) but
# name no object, so neither may become a triple
LOOSE_DISAMBIG = _row(9002, "Loose (disambiguation)",
                      "{{dab}}\n* [[No such page]] is missing\n"
                      "* a line with no link\n* [[Doc 3]] is an article")
# an article whose anchors end/start with a tab: the writer strips all
# surrounding whitespace (Python's str.strip), not only spaces
TAB_ANCHORS = _row(9001, "Tabbed anchors",
                   "See [[Doc 1|foo\t]] and [[Doc 2|\tbar baz]].")


@pytest.fixture(scope="module")
def corpus(spark):
    extra = spark.createDataFrame(
        [TAB_DISAMBIG, TAB_ANCHORS, LOOSE_DISAMBIG],
        "repo string, path string, commit string, lang string, "
        "content string")
    return build_src_pages(spark, SF_DIR, limit=LIMIT).unionByName(
        extra).cache()


@pytest.fixture(scope="module")
def result(spark, corpus):
    return run_pipeline(spark, corpus)


@pytest.fixture(scope="module")
def sequential(corpus):
    rows = corpus.select("repo", "path", "commit", "content").collect()
    rows.sort(key=lambda r: (r["repo"], r["path"], r["commit"]))
    pages = [parse_page_record(r["content"]) for r in rows]
    pre = prescan_pages(pages)
    env = TransformEnv(pre["title2id"], pre["redir"], pre["templates"])
    results = [transform_one(p, env) for p in pages]
    return pre, results


def test_sha256_invariant(corpus):
    expected = {
        hashlib.sha256(r["content"].encode()).hexdigest()
        for r in corpus.select("content").collect()
    }
    got = {r["content_sha256"]
           for r in parse_pages_prescan(corpus).collect()}
    assert got == expected


def test_prescan_matches_sequential(result, sequential):
    """The written dictionary table, loaded exactly as the transform
    kernel loads it, equals the sequential prescan; the returned redirect
    map is that table's redirect rows."""
    pre, _ = sequential
    t2i, redir, bodies = load_env_from_parquet(result["_dicts_path"])
    assert t2i == pre["title2id"]
    assert redir == pre["redir"]
    assert bodies == pre["templates"]
    red = [(r["from_title"], r["to_title"])
           for r in result["redirects_raw"].collect()]
    assert sorted(red) == sorted(pre["redir"].items())


def test_edges_match_sequential(result, sequential):
    _, seq_results = sequential
    ok = [r for r in seq_results if "text" in r]

    def flat(column):
        """(page_id, row) over the sequential pages' ``column`` collection
        from the one writer."""
        i = EDGE_COLUMNS.index(column)
        return {(r["id"], row) for r in ok for row in edge_collections(r)[i]}

    got_anchors = {
        (r["target_id"], r["source_id"], r["loc"], r["anchor_text"])
        for r in result["anchors"].collect()
    }
    want_anchors = {(t, p, loc, text)
                    for p, (t, loc, text) in flat("anchors")}
    assert got_anchors == want_anchors

    got_links = {(r["source_id"], r["target_id"])
                 for r in result["links"].collect()}
    assert got_links == {(p, t) for t, p, _, _ in want_anchors}

    got_cats = {(r["page_id"], r["category_id"])
                for r in result["categories"].collect()}
    assert got_cats == flat("categories")

    got_related = {(r["page_id"], r["related_id"])
                   for r in result["related"].collect()}
    assert got_related == flat("related")


def test_analytic_expectations(result):
    n = LIMIT
    links = {(r["source_id"], r["target_id"])
             for r in result["links"].collect()}
    # article 2: j1=(7*2+1)%60=15, j2=(13*2+3)%60=29
    assert (1002, 1015) in links and (1002, 1029) in links
    # article 0 dead-links through the double redirect: no (1000, 1000+x)
    # from the [[Double 0]] link (Redirect 0 -> Doc 0 would be a self link
    # anyway); check the redirect-mediated link of article 1:
    # jr(1) = 5*((11*1+2) % 12) = 5*1 = 5 -> Doc 5
    assert (1001, 1005) in links

    cats = {(r["page_id"], r["category_id"])
            for r in result["categories"].collect()}
    assert (1003, 103) in cats  # article 3 -> Topic 3
    assert (1004, 110) in cats  # article 4 -> Even4
    assert (103, 120) in cats   # category hierarchy

    pages = {r["page_id"]: r for r in result["pages"].collect()}
    assert pages[1007]["is_stub"] == 1  # 7 % 7 == 0
    assert pages[1001]["is_stub"] == 0
    # templates were expanded: infobox text present
    assert "Info: Doc 2 (Topic 2) number N2." in pages[1002]["text"]
    # odd articles went through the Template:Ibox redirect
    assert "Info: Doc 3 (Topic 3) number N3." in pages[1003]["text"]

    iw = {(r["page_id"], r["namespace"], r["title"])
          for r in result["interwiki"].collect()}
    assert (1008, "Memoryalpha", "Doc 8") in iw

    ext = {(r["source_id"], r["url"], r["anchor"])
           for r in result["external"].collect()}
    assert (1006, "http://example.org/doc/6", "homepage 6") in ext
    assert (1006, "http://data.example.com/6", None) in ext

    rr = {(r["from_id"], r["from_title"], r["to_id"], r["to_title"])
          for r in result["redirect_records"].collect()}
    assert ("unknown", "Redirect 5", "1005", "Doc 5") in rr
    assert ("unknown", "Double 0", "unknown", "Redirect 0") in rr
    # template redirect routed to the index, not the redirect records
    assert not any(r[1] == "Template:Ibox" for r in rr)
    tr = {(r["template_id"], r["alias_title"])
          for r in result["template_redirects"].collect()}
    assert (11, "Template:Ibox") in tr

    dis = {(r["disambig_id"], r["line_no"], r["target_id"])
           for r in result["disambig"].collect()}
    assert (1000 + 3 * n + 0, 0, 1000) in dis
    assert (1000 + 3 * n + 0, 1, 1003) in dis
    tabbed = {(r["line_no"], r["target_id"], r["anchor_text"])
              for r in result["disambig"].collect()
              if r["disambig_id"] == 9000}
    assert tabbed == {(0, 1001, "left right"), (1, 1002, "Doc 2")}
    dis_props = [r["prop"] for r in result["triples"]
                 .where("pred = 'disambiguates'").collect()]
    assert "left right" in dis_props
    assert not any("\t" in (p or "") for p in dis_props)
    loose = {(r["line_no"], r["target_id"])
             for r in result["disambig"].collect()
             if r["disambig_id"] == 9002}
    assert (2, 1003) in loose and sum(t is None for _, t in loose) == 2
    assert result["triples"].where(
        "pred = 'disambiguates' AND obj IS NULL").count() == 0

    tab_anchors = {(r["target_id"], r["anchor_text"])
                   for r in result["anchors"].where("source_id = 9001")
                   .collect()}
    assert tab_anchors == {(1001, "foo"), (1002, "bar baz")}
    tab_props = {r["prop"] for r in result["triples"]
                 .where("pred = 'anchored_by' AND obj = '9001'").collect()}
    assert tab_props == {"foo", "bar baz"}

    ti = {(r["page_id"], r["template_id"], r["param"])
          for r in result["template_inclusions"].collect()}
    assert (1002, 11, "name") in ti and (1003, 11, "num") in ti
    assert (1007, 12, None) in ti and (1007, 13, None) in ti  # stub + asof

    triples = result["triples"].groupBy("pred").count().collect()
    assert {r["pred"] for r in triples} >= {
        "links_to", "anchored_by", "in_category", "redirects_to",
        "related_to", "disambiguates", "links_external", "includes_template",
    }


def _triples_view(links, anchors, categories, redirects, related,
                  disambig, external, template_incl):
    """Unified (subj, pred, obj, prop) triple stream as the union of the
    eight per-kind edge tables — the P/R comparison surface (FIXTURES.md
    §4), one scan per edge kind."""
    from pyspark.sql import functions as F

    def t(df, subj, pred, obj, prop=None):
        return df.select(
            F.col(subj).cast("string").alias("subj"),
            F.lit(pred).alias("pred"),
            F.col(obj).cast("string").alias("obj"),
            (F.col(prop) if prop else F.lit(None)).cast("string").alias("prop"),
        )

    return (
        t(links, "source_id", "links_to", "target_id")
        .unionByName(t(anchors, "target_id", "anchored_by", "source_id",
                       "anchor_text"))
        .unionByName(t(categories, "page_id", "in_category", "category_id"))
        .unionByName(t(redirects, "from_id", "redirects_to", "to_id",
                       "to_title"))
        .unionByName(t(related, "page_id", "related_to", "related_id"))
        .unionByName(t(disambig.where(F.col("target_id").isNotNull()),
                       "disambig_id", "disambiguates", "target_id",
                       "anchor_text"))
        .unionByName(t(external, "source_id", "links_external", "url",
                       "anchor"))
        .unionByName(t(template_incl, "page_id", "includes_template",
                       "template_id", "param"))
    )


def test_triples_single_scan_equivalence(result):
    """triples_from_transformed (one scan) must equal _triples_view (8-pass
    per-edge derivation) as a multiset."""
    eight_pass = _triples_view(
        result["links"],
        result["anchors"],
        result["categories"].select("page_id", "category_id"),
        result["redirect_records"],
        result["related"].select("page_id", "related_id"),
        result["disambig"],
        result["external"],
        result["template_inclusions"],
    )
    a = sorted(map(tuple, result["triples"].collect()))
    b = sorted(map(tuple, eight_pass.collect()))
    assert a == b
