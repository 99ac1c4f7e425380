"""Harness for the reference's end-to-end golden cases.

Loads the reference's own test minidumps (/root/reference/t/cases/<name>.xml)
and vetted outputs (<name>.hgw.xml.vetted, <name>.anchor_text.vetted, ...)
at test time, runs the sequential prescan + per-page transform kernel over
the dump, and exposes both sides for byte-exact comparison
(t/cases.t:55-82 runs the same cases through bin/wikiprep and diffs the
outputs; this mirrors that gate without copying any reference file into the
repo).

Pages are aligned POSITIONALLY, not by id: some dumps deliberately contain
duplicate page ids (parserfunctions.xml has two id=5 pages) and the
reference emits transformed pages in input order.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET

from wikiprep_spark.functions.page import TransformEnv, transform_one
from wikiprep_spark.functions.prescan import prescan_pages
from wikiprep_spark.functions.postprocess import encode_xml_chars

CASES_DIR = "/root/reference/t/cases"

# the default-format (Output/Legacy.pm) cases with a vetted .hgw.xml
HGW_CASES = [
    "anchors", "carbon", "categories", "citeweb", "commons-theatre",
    "coord", "css", "css2", "dates", "div", "externalurls", "geo",
    "headings", "hurt", "ifeq", "imagemap", "intel", "interwiki", "kaon2",
    "languages", "magicwords", "mainarticle", "microsoft", "microsoft2",
    "nestedtables", "noinclude", "nonfreegamecover", "nowiki", "olympics",
    "parserfunctions", "riemann", "segfault", "templates", "tempredir",
    "tibet", "urlencode", "whitespace", "xmlcomments",
]

# cases with a vetted .anchor_text (Legacy._logAnchorText format)
ANCHOR_CASES = [
    "anchors", "anchorspace", "asse", "barzilla", "dates", "dblredir",
    "gallery", "hurt", "imagemap", "images", "interwiki", "templates",
    "tempredir", "unicode",
]


def cases_available() -> bool:
    return os.path.isdir(CASES_DIR)


def load_case(name: str) -> list[dict]:
    """Parse a reference minidump into page dicts, in input order."""
    root = ET.parse(f"{CASES_DIR}/{name}.xml").getroot()

    def tag(e):
        return e.tag.split("}")[-1]

    pages = []
    for pg in root.iter():
        if tag(pg) != "page":
            continue
        d = {}
        for ch in pg:
            t = tag(ch)
            if t == "title":
                d["title"] = ch.text or ""
            elif t == "id":
                d["id"] = int(ch.text)
            elif t == "revision":
                for rc in ch:
                    rt = tag(rc)
                    if rt == "text":
                        d["text"] = rc.text or ""
                    elif rt == "timestamp":
                        d["timestamp"] = rc.text
        pages.append(d)
    return pages


def run_case(name: str):
    """Sequential prescan + transform over the dump; returns (prescan,
    results-in-input-order)."""
    pages = load_case(name)
    pre = prescan_pages(pages)
    env = TransformEnv(pre["title2id"], pre["redir"], pre["templates"])
    return pre, [transform_one(p, env) for p in pages]


_HGW_PAGE_RE = re.compile(
    r'<page id="(\d+)" orglength="(\d+)" newlength="(\d+)" stub="(\d+)" '
    r'categories="(\d+)" outlinks="(\d+)" urls="(\d+)">\n'
    r"<title>(.*?)</title>\n"
    r"<categories>(.*?)</categories>\n"
    r"<links>(.*?)</links>\n"
    r"<urls>\n(.*?)</urls>\n"
    r"<text>\n(.*?)\n</text>\n"
    r"</page>",
    re.S,
)


def load_vetted_hgw(name: str) -> list[dict]:
    with open(f"{CASES_DIR}/{name}.hgw.xml.vetted", encoding="utf-8") as fh:
        raw = fh.read()
    out = []
    for m in _HGW_PAGE_RE.finditer(raw):
        out.append(
            dict(
                id=int(m.group(1)),
                orglength=int(m.group(2)),
                newlength=int(m.group(3)),
                stub=int(m.group(4)),
                ncat=int(m.group(5)),
                nlinks=int(m.group(6)),
                nurls=int(m.group(7)),
                title=m.group(8),
                categories=m.group(9),
                links=m.group(10),
                urls=m.group(11),
                text=m.group(12),
            )
        )
    return out


def load_vetted_anchor_text(name: str) -> list[tuple]:
    """(target_id, source_id, location, anchor) rows from a vetted
    .anchor_text file (header + blank lines skipped)."""
    rows = []
    with open(f"{CASES_DIR}/{name}.anchor_text.vetted",
              encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            tid, src, loc, anchor = line.split("\t", 3)
            rows.append((int(tid), int(src), int(loc), anchor))
    return rows


def page_link_ids(r: dict) -> list[int]:
    """utils.pm getLinkIds + removeDuplicatesAndSelf: defined targets,
    order-preserving dedup, self removed."""
    seen, out = set(), []
    for link in r.get("wikiLinks", []):
        tid = link.get("targetId")
        if tid is None or tid == r["id"] or tid in seen:
            continue
        seen.add(tid)
        out.append(tid)
    return out


def page_url_list(r: dict) -> list[str]:
    seen, out = set(), []
    for link in r.get("externalLinks", []):
        u = link["url"]
        if u in seen:
            continue
        seen.add(u)
        out.append(u)
    return out


def page_anchor_rows(r: dict) -> list[tuple]:
    """Legacy._logAnchorText: skip undefined/self targets, newlines to
    spaces, strip."""
    rows = []
    for link in r.get("wikiLinks", []):
        tid = link.get("targetId")
        if tid is None or tid == r["id"]:
            continue
        anchor = link["anchorText"].replace("\n", " ").strip()
        rows.append((tid, r["id"], link["linkLocation"], anchor))
    return rows


# cases with a vetted .redir.xml (Output/Legacy.pm writeRedirects)
REDIR_CASES = ["redir", "tempredir"]


def redirect_records(pre: dict) -> set:
    """Legacy.writeRedirects (Output/Legacy.pm:61-103) over a prescan
    result: resolve both endpoints via title2id ("unknown" when missing),
    skip records whose resolved endpoint is a template page.  Returned as
    a set — the reference iterates a Perl hash (arbitrary order)."""
    out = set()
    for from_title, to_title in pre["redir"].items():
        from_id = pre["title2id"].get(from_title, "unknown")
        if from_id in pre["templates"]:
            continue
        to_id = pre["title2id"].get(to_title, "unknown")
        if to_id in pre["templates"]:
            continue
        out.add((str(from_id), from_title, str(to_id), to_title))
    return out


def load_vetted_redir(name: str) -> set:
    """(from_id, from_title, to_id, to_title) records from a vetted
    .redir.xml file (titles XML-decoded by ElementTree, matching the raw
    titles on the computed side)."""
    root = ET.parse(f"{CASES_DIR}/{name}.redir.xml.vetted").getroot()
    out = set()
    for r in root.iter("redirect"):
        fr, to = r.find("from"), r.find("to")
        out.add((fr.findtext("id"), fr.findtext("title"),
                 to.findtext("id"), to.findtext("title")))
    return out


def related_lines(results: list) -> list:
    """Legacy._logRelatedArticles (Output/Legacy.pm:269-278): one
    "id\\tid id id" line per emitted page with nonempty relatedArticles,
    in input order."""
    out = []
    for r in results:
        if "text" not in r:
            continue
        rel = r.get("relatedArticles", [])
        if rel:
            out.append("%d\t%s" % (r["id"], " ".join(str(i) for i in rel)))
    return out


def disambig_lines(results: list) -> list:
    """Legacy._logDisambig (Output/Legacy.pm:280-305): per disambig page,
    one line per disambigLinks group — the page id, then per anchor the
    target id (or "undef") and the anchor text with tabs flattened.  A
    group with zero anchors emits just the id."""
    out = []
    for r in results:
        if "text" not in r or not r.get("isDisambig"):
            continue
        for group in r.get("disambigLinks", ()):
            parts = [str(r["id"])]
            for a in group:
                tid = a.get("targetId")
                parts.append("undef" if tid is None else str(tid))
                parts.append(a["anchorText"].replace("\t", " "))
            out.append("\t".join(parts))
    return out


def load_vetted_lines(path: str) -> list:
    """Non-comment, non-blank lines of a tab-separated vetted log file."""
    with open(path, encoding="utf-8") as fh:
        return [ln.rstrip("\n") for ln in fh
                if ln.strip() and not ln.startswith("#")]


def all_case_dumps() -> list:
    """Every minidump under the reference's t/cases (the robustness sweep
    t/cases.t:55-82 runs: wikiprep must exit 0 on each, vetted or not).
    Empty when the reference is absent, so parametrizing over it at import
    leaves the module's skipif to apply."""
    if not cases_available():
        return []
    return sorted(
        fn[:-4] for fn in os.listdir(CASES_DIR)
        if fn.endswith(".xml") and not fn.endswith(".vetted")
    )


# cases run with "-format composite" (t/cases/options) and vetted .gum.xml
GUM_CASES = [
    "apple", "asse", "barzilla", "gallery", "images", "interwiki-new",
    "mac", "microsoft-new", "otheruses", "stub", "unicode",
]


def load_vetted_gum(name: str) -> list[dict]:
    """Parse a vetted .gum.xml (Output/Composite.pm newPage) into dicts.

    The <text> payload embeds raw <a>/<w> link tags (mixed XML content),
    so text spans are extracted positionally from the raw bytes while the
    structured fields go through ElementTree."""
    with open(f"{CASES_DIR}/{name}.gum.xml.vetted", encoding="utf-8") as fh:
        raw = fh.read()
    texts = re.findall(r"<text>(.*?)</text>", raw, re.S)
    root = ET.parse(f"{CASES_DIR}/{name}.gum.xml.vetted").getroot()
    out = []
    for pg in root.iter("page"):
        d = dict(pg.attrib)
        for k in ("id", "orglength", "newlength", "stub", "disambig",
                  "category", "image"):
            d[k] = int(d[k])
        d["title"] = pg.findtext("title") or ""
        d["categories"] = pg.findtext("categories") or ""
        d["links"] = pg.findtext("links") or ""
        d["related"] = pg.findtext("related") or ""
        # Composite.pm:167-173: anchor-less links serialize as emptyTag
        # (Perl truthiness: undef/""/"0" are all falsy)
        d["external"] = [
            (ln.get("url"), ln.text) for ln in pg.find("external")
        ]
        d["interwiki"] = [
            (ln.get("namespace"), ln.get("title"), int(ln.get("loc")),
             ln.text or "")
            for ln in pg.find("interwiki")
        ]
        # template-id and param hash order are Perl-unordered: normalize to
        # {id: [frozenset of (name, value)]}, inclusion order preserved
        tmpl = {}
        for t in pg.find("templates"):
            incls = []
            for incl in t:
                incls.append(frozenset(
                    (p.get("name"), p.text or "") for p in incl
                ))
            tmpl[int(t.get("id"))] = incls
        d["templates"] = tmpl
        d["text"] = texts[len(out)]
        out.append(d)
    return out


def gum_mismatches(result: dict, vetted: dict) -> list[str]:
    """Compare one transformed page against its vetted gum record."""
    probs = []
    if result["id"] != vetted["id"]:
        probs.append(f"id {result['id']} != {vetted['id']}")
    if (result.get("timestamp") or "") != vetted.get("timestamp", ""):
        probs.append("timestamp")
    if result["orgLength"] != vetted["orglength"]:
        probs.append("orglength")
    if len(result["text"]) != vetted["newlength"]:
        probs.append(f"newlength {len(result['text'])} != "
                     f"{vetted['newlength']}")
    for ours, theirs in (("isStub", "stub"), ("isDisambig", "disambig"),
                         ("isCategory", "category"), ("isImage", "image")):
        if result.get(ours, 0) != vetted[theirs]:
            probs.append(theirs + " flag")
    if result.get("title", "") != vetted["title"]:
        probs.append("title")
    if " ".join(str(c) for c in result.get("categories", [])) != \
            vetted["categories"]:
        probs.append("categories")
    if " ".join(str(l) for l in page_link_ids(result)) != vetted["links"]:
        probs.append("links")
    if " ".join(str(r) for r in result.get("relatedArticles", [])) != \
            vetted["related"]:
        probs.append("related")
    ext = [
        (l["url"], l["anchor"] if l.get("anchor") and l["anchor"] != "0"
         else None)
        for l in result.get("externalLinks", [])
    ]
    if ext != vetted["external"]:
        probs.append(f"external {ext} != {vetted['external']}")
    iw = [
        (l["targetNamespace"], l["targetTitle"], l["linkLocation"],
         l.get("anchorText") or "")
        for l in result.get("wikiLinks", [])
        if "targetNamespace" in l
    ]
    if iw != vetted["interwiki"]:
        probs.append(f"interwiki {iw} != {vetted['interwiki']}")
    tmpl = {
        tid: [
            frozenset((k, v) for k, v in params.items()
                      if not k.startswith("="))
            for params in incls
        ]
        for tid, incls in result.get("templates", {}).items()
    }
    if tmpl != vetted["templates"]:
        probs.append("templates")
    if result["text"] != vetted["text"]:
        probs.append("text")
    return probs


def hgw_mismatches(result: dict, vetted: dict) -> list[str]:
    """Field-by-field comparison of one transformed page against its vetted
    hgw record; empty list = byte-exact."""
    probs = []
    if result["id"] != vetted["id"]:
        probs.append(f"id {result['id']} != {vetted['id']}")
    if result["orgLength"] != vetted["orglength"]:
        probs.append(f"orglength {result['orgLength']} != "
                     f"{vetted['orglength']}")
    if len(result["text"]) != vetted["newlength"]:
        probs.append(f"newlength {len(result['text'])} != "
                     f"{vetted['newlength']}")
    if result.get("isStub", 0) != vetted["stub"]:
        probs.append("stub flag")
    if encode_xml_chars(result.get("title", "")) != vetted["title"]:
        probs.append("title")
    cats = " ".join(str(c) for c in result.get("categories", []))
    if cats != vetted["categories"]:
        probs.append(f"categories [{cats}] != [{vetted['categories']}]")
    links = " ".join(str(l) for l in page_link_ids(result))
    if links != vetted["links"]:
        probs.append(f"links [{links}] != [{vetted['links']}]")
    urls = "".join(encode_xml_chars(u) + "\n" for u in page_url_list(result))
    if urls != vetted["urls"]:
        probs.append("urls")
    if result["text"] != vetted["text"]:
        probs.append("text")
    return probs


def external_anchor_rows(results: list) -> list:
    """Legacy._logExternalAnchors (Legacy.pm:176-186): one row per
    external link WITH an anchor, in extraction order — (page_id, url,
    anchor).  Bare urls (no anchor) are skipped."""
    rows = []
    for r in results:
        if "text" not in r:
            continue
        for link in r.get("externalLinks", []):
            if link.get("anchor") is not None:
                rows.append((r["id"], link["url"], link["anchor"]))
    return rows


def load_vetted_external_anchors(name: str) -> list:
    """(page_id, url, anchor) rows of a vetted .external_anchors file."""
    rows = []
    for line in load_vetted_lines(
            f"{CASES_DIR}/{name}.external_anchors.vetted"):
        pid, url, anchor = line.split("\t", 2)
        rows.append((int(pid), url, anchor))
    return rows


def template_log_cases() -> list:
    """(case_name, template_id, vetted_path) for every vetted
    per-template inclusion log (<case>.templates!<prefix>!<id>.vetted —
    cases.t:61-64 maps '!' to '/' under the templates/ inc dir).  Empty
    when the reference is absent, like all_case_dumps."""
    out = []
    if not cases_available():
        return out
    for fn in sorted(os.listdir(CASES_DIR)):
        if ".templates!" in fn and fn.endswith(".vetted"):
            case = fn.split(".templates!")[0]
            tid = int(fn[:-len(".vetted")].rsplit("!", 1)[1])
            out.append((case, tid, os.path.join(CASES_DIR, fn)))
    return out


def template_log_blocks(results: list, template_id: int) -> list:
    """Legacy._logTemplateIncludes (Legacy.pm:188-215) for ONE template:
    ordered (page_id, param-lines) blocks — one block per inclusion, in
    page order then inclusion order; newlines in values become spaces and
    params starting with '=' are skipped.  Within a block the reference
    iterates a Perl HASH (irreproducible ordering), so the block's lines
    are compared as a sorted list."""
    blocks = []
    for r in results:
        for params in r.get("templates", {}).get(template_id, []):
            lines = sorted(
                "%s = %s" % (p, str(v).replace("\n", " "))
                for p, v in params.items() if not p.startswith("="))
            blocks.append((r["id"], lines))
    return blocks


def load_vetted_template_log(path: str) -> list:
    """Ordered (page_id, sorted-param-lines) blocks of a vetted
    per-template inclusion log."""
    blocks, pid, lines = [], None, []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line.startswith("Page "):
                pid, lines = int(line[5:]), []
            elif line == "End":
                blocks.append((pid, sorted(lines)))
                pid, lines = None, []
            elif pid is not None:
                lines.append(line)
    return blocks
