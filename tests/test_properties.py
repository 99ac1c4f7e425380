"""Property-based tests (hypothesis) over the pure-Python kernels —
invariants that hold for ARBITRARY input, beyond the reference's fixed
assert suites: parse/serialize roundtrips, normalization idempotence,
nowiki mask/unmask reversibility, prescan first-wins stability.
"""

import re

from hypothesis import given, settings, strategies as st

from wikiprep_spark.functions.nowiki import extract_tags, replace_tags
from wikiprep_spark.functions.prescan import prescan_pages
from wikiprep_spark.functions.titles import normalize_title
from wikiprep_spark.sources.mediawiki_xml import (
    make_page_xml,
    parse_page_record,
)

# XML 1.0 can't carry control chars; titles additionally never carry
# newlines in MediaWiki dumps
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=200
)
_title = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc"),
                           blacklist_characters="\n\r"),
    min_size=1, max_size=80,
)


@settings(max_examples=200, deadline=None)
@given(pid=st.integers(1, 10**9), title=_title, text=_text)
def test_page_xml_roundtrip(pid, title, text):
    """Serialization -> parse recovers (id, title, text) exactly — the
    escaping path can't corrupt any unicode payload."""
    rec = parse_page_record(make_page_xml(pid, title, text))
    assert rec["id"] == pid
    assert rec["title"] == title
    assert (rec["text"] or "") == text


@settings(max_examples=200, deadline=None)
@given(title=_title)
def test_normalize_title_idempotent(title):
    once = normalize_title(title, None)
    assert normalize_title(once, None) == once


_NOWIKI_RE = re.compile(r"<nowiki>(.*?)</nowiki>", re.S | re.I)


@settings(max_examples=200, deadline=None)
@given(parts=st.lists(
    st.one_of(
        st.text(max_size=30).filter(lambda s: "nowiki" not in s.lower()),
        st.builds(lambda s: "<nowiki>%s</nowiki>" % s,
                  st.text(max_size=30).filter(
                      lambda s: "nowiki" not in s.lower())),
    ),
    max_size=8,
))
def test_nowiki_mask_unmask_roundtrip(parts):
    """extract_tags then replace_tags restores the original text for any
    mix of plain text and nowiki spans."""
    text = "".join(parts)
    chunks: dict = {}
    masked = extract_tags(_NOWIKI_RE, text, chunks)
    assert "<nowiki>" not in masked.lower()
    assert replace_tags(masked, chunks) == text


@settings(max_examples=100, deadline=None)
@given(
    pages=st.lists(
        st.tuples(st.integers(1, 20), st.sampled_from(
            ["Alpha", "Beta", "Gamma", "Template:T", "Category:C"]),
            st.text(max_size=40)),
        min_size=1, max_size=12,
    )
)
def test_prescan_first_wins_stability(pages):
    """Appending a page whose id OR title is already claimed never
    changes the dictionaries (first-wins semantics are append-stable)."""
    page_dicts = [
        {"id": pid, "title": t, "text": txt} for pid, t, txt in pages
    ]
    base = prescan_pages(page_dicts)
    dup = dict(page_dicts[0])
    dup["text"] = "#REDIRECT [[Elsewhere]]"
    again = prescan_pages(page_dicts + [dup])
    assert again["title2id"] == base["title2id"]
    assert again["redir"] == base["redir"]
    assert set(again["templates"]) == set(base["templates"])
