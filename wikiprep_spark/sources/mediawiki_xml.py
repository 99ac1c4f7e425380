"""Parsing of MediaWiki ``<page>`` XML records.

The pipeline input is an Iceberg/parquet table with one page's XML export
record per row in the ``content`` column (BASELINE.json input_hint); this is
the stage-0 kernel that turns a record into typed fields.  Mirrors what
Parse::MediaWikiDump exposes to the reference (title, id, timestamp, text —
``/root/reference/bin/wikiprep:444-455,539-576``).
"""

from __future__ import annotations

import hashlib
import re
import xml.etree.ElementTree as ET


def sha256_hex(content: str) -> str:
    return hashlib.sha256(content.encode("utf-8")).hexdigest()


def parse_page_record(content: str) -> dict:
    """Parse one ``<page>...</page>`` XML element.

    Returns dict(id, title, timestamp, text, sha256) — ``id`` is the page id
    (the first <id> directly under <page>), text/timestamp come from the
    first <revision>. Raises ValueError on malformed records.
    """
    try:
        el = ET.fromstring(content)
    except ET.ParseError as exc:
        raise ValueError("malformed page XML: %s" % exc) from exc
    if el.tag != "page":
        # tolerate exactly ONE wrapping element (e.g. <mediawiki>) — the
        # shape MediaWiki exports use, where <page> is a direct child of
        # the root.  Deeper nesting is not an export record and is rejected.
        found = el.find("page")
        if found is None:
            raise ValueError("no <page> element")
        el = found
    title = el.findtext("title") or ""
    page_id_text = el.findtext("id")
    if page_id_text is None:
        raise ValueError("page without <id>")
    # an integer literal only (trimmed, optional sign, digits) — bare
    # int() also accepts '1_2' (underscore separators), which is no page
    # id; '007' and '7' both parse to 7, so they are the same id
    if not re.fullmatch(r"[+-]?\d+", page_id_text.strip()):
        raise ValueError("non-numeric page <id>")
    page_id = int(page_id_text)
    # ids outside int64 are rejected, not silently accepted: the parsed
    # table's page_id column is BIGINT, so such an id would overflow the
    # Arrow conversion of the whole batch.
    if not (-(2 ** 63) <= page_id < 2 ** 63):
        raise ValueError("page <id> outside BIGINT range")
    rev = el.find("revision")
    timestamp = rev.findtext("timestamp") if rev is not None else None
    text = rev.findtext("text") if rev is not None else None
    return {
        "id": page_id,
        "title": title,
        "timestamp": timestamp,
        "text": text,
        "sha256": sha256_hex(content),
    }


def make_page_xml(page_id: int, title: str, text: str,
                  timestamp: str = "2008-01-01T00:00:00Z") -> str:
    """Serialize a page record the way MediaWiki exports do (used by the
    deterministic corpus synthesizer and tests)."""
    def esc(s: str) -> str:
        return (
            s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    return (
        "<page>\n"
        "    <title>%s</title>\n"
        "    <id>%d</id>\n"
        "    <revision>\n"
        "      <timestamp>%s</timestamp>\n"
        '      <text xml:space="preserve">%s</text>\n'
        "    </revision>\n"
        "  </page>" % (esc(title), page_id, timestamp, esc(text))
    )
