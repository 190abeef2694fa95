"""Document-level extraction dispatcher (SURVEY.md §2.2 E1→E16 composed).

``extract_document`` is THE deterministic function whose output defines the
byte-identity contract (BASELINE.json:6): it runs single-process to build
golden digests and executor-side inside the Arrow kernel; pytest asserts the
per-url sha256 of ``text`` matches between the two.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import List, Optional, Tuple

from corsearch_project_spark.webextract.htmlx import extract_html
from corsearch_project_spark.webextract.rules import DEFAULT_RULE, Rule
from corsearch_project_spark.webextract.sniff import sniff_kind
from corsearch_project_spark.webextract.textnorm import decode_bytes, normalize_ws

Span = Tuple[int, int, str]


@dataclass
class ExtractResult:
    url: str
    doc_kind: str  # html | pdf | docx | feed | binary_other | text_passthrough | oversize
    text: str
    spans: List[Span]
    text_sha256: str
    n_blocks: int
    n_chars: int
    bytes_in: int


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def extract_document(
    url: str,
    data: Optional[bytes],
    fallback_text: Optional[str],
    rule: Rule = DEFAULT_RULE,
) -> ExtractResult:
    data = data or b""
    if len(data) > rule.max_doc_bytes:
        # Oversize guard (rule.max_doc_bytes): deterministic skip — bounds
        # kernel memory; the row stays in the output table with its digest
        # of the empty string so lineage/doc counts still reconcile.
        return ExtractResult(
            url=url,
            doc_kind="oversize",
            text="",
            spans=[],
            text_sha256=_digest(""),
            n_blocks=0,
            n_chars=0,
            bytes_in=len(data),
        )
    kind = sniff_kind(data)
    if kind == "pdf":
        from corsearch_project_spark.webextract.pdfx import extract_pdf

        text, spans = extract_pdf(data, rule)
        doc_kind = "pdf"
    elif kind == "zip":
        from corsearch_project_spark.webextract.docxx import extract_docx

        res = extract_docx(data, rule)
        if res is not None:
            text, spans = res
            doc_kind = "docx"
        else:
            # generic zip payload: no text competency — empty passthrough
            # (decoding raw deflate bytes as text would be garbage)
            text, spans = "", []
            doc_kind = "binary_other"
    elif kind == "feed":
        from corsearch_project_spark.webextract.feedx import extract_feed

        src = decode_bytes(data, rule.charset_override)
        text, spans = extract_feed(src)
        doc_kind = "feed"
    elif kind == "html":
        src = decode_bytes(data, rule.charset_override)
        text, spans = extract_html(src, rule)
        doc_kind = "html"
    else:
        # Text passthrough: raw non-markup bytes, else the table's fallback
        # ``text`` column (pages schema, BASELINE.json:15).
        if data:
            src = decode_bytes(data, rule.charset_override)
        else:
            src = fallback_text or ""
        text = normalize_ws(src)
        spans = [(0, len(src), "text")] if text else []
        doc_kind = "text_passthrough"
    return ExtractResult(
        url=url,
        doc_kind=doc_kind,
        text=text,
        spans=list(spans),
        text_sha256=_digest(text),
        n_blocks=len(spans),
        n_chars=len(text),
        bytes_in=len(data),
    )


def extract_document_both(
    url: str,
    data: Optional[bytes],
    fallback_text: Optional[str],
    rule: Rule = DEFAULT_RULE,
) -> Tuple["ExtractResult", str, str]:
    """Fused dual emit -> (plain ExtractResult, markdown, md_sha256).

    For HTML the source is tokenized and the DOM built ONCE, then both
    serializations walk the same tree (extract_html_from_dom /
    markdown_from_dom) — enabling the markdown column costs one extra walk
    per document, not a second parse (the parse dominates kernel time).
    The plain result is byte-identical to ``extract_document``'s (pinned
    by tests). Non-HTML kinds reuse the plain text as the markdown arm:
    pdfx/docxx emit paragraph text already, and inventing heading levels
    from font sizes would be guesswork, not structure the document
    declared."""
    data = data or b""
    if len(data) <= rule.max_doc_bytes and sniff_kind(data) == "html":
        from corsearch_project_spark.webextract.htmlx import (
            build_dom,
            extract_html_from_dom,
            tokenize,
        )
        from corsearch_project_spark.webextract.markdown import (
            markdown_from_dom,
        )

        src = decode_bytes(data, rule.charset_override)
        dom = build_dom(tokenize(src))
        text, spans = extract_html_from_dom(dom, rule)
        md, _ = markdown_from_dom(dom, rule)
        res = ExtractResult(
            url=url,
            doc_kind="html",
            text=text,
            spans=list(spans),
            text_sha256=_digest(text),
            n_blocks=len(spans),
            n_chars=len(text),
            bytes_in=len(data),
        )
        return res, md, _digest(md)
    res = extract_document(url, data, fallback_text, rule)
    return res, res.text, res.text_sha256
