"""Per-document extraction driver: input spans → ordered output spans.

This is the single per-document code path shared by the pure-Python
oracle and the Spark ``mapInArrow`` operator, guaranteeing bit-exact
parity (SURVEY.md §7.4).

Input (FIXTURES.md §1): ``spans = [{kind, text, media_ref, offset}, ...]``
with kind ∈ {pdf_page, html, media} (anything else, or a malformed
payload, yields the error record — empty output spans + one failure
tally, mirroring extractor.py:934-936).

Output (FIXTURES.md §5): ordered spans ``(kind, text, media_ref, offset)``
with kind ∈ {title, h1..h4, body, media}; title first (offset 0), then
items in input-span order, PDF leg processed whole-document (two-pass
recurring-header detection spans *all* pdf pages of the doc, as the
reference's process_pdf does across all pages of one file).
"""

from __future__ import annotations

from . import pdfheur
from .htmlheur import classify_html_blocks, tokenize_html
from .tokenize import ParseError, parse_pdf_page_stream


def extract_document(spans: list[dict]) -> tuple[list[dict], int]:
    """Extract one document.  Returns (output_spans, parse_failures).

    ``parse_failures`` is 0 or 1: any malformed span poisons the whole
    document (the reference wraps the entire per-file pipeline in one
    try/except, extractor.py:877-936) → empty span list, one tally.
    """
    try:
        return _extract(spans), 0
    except ParseError:
        return [], 1


def _extract(spans: list[dict]) -> list[dict]:
    # duplicate offsets would make output depend on input row order (dict
    # overwrite) — nondeterministic under shuffle; treat as malformed doc
    if len({s["offset"] for s in spans}) != len(spans):
        raise ParseError("duplicate span offsets")
    spans = sorted(spans, key=lambda s: s["offset"])
    pdf_blocks: list[dict] = []          # concatenated across all pdf_page spans
    per_span_items: dict[int, list[tuple]] = {}   # offset -> (kind, text, media_ref)
    html_title: str | None = None
    has_pdf = False

    for s in spans:
        kind = s.get("kind")
        off = s["offset"]
        if kind == "pdf_page":
            has_pdf = True
            pdf_blocks.extend(parse_pdf_page_stream(s["text"] or "", src_span=off))
        elif kind == "html":
            t, items = classify_html_blocks(tokenize_html(s["text"] or "", src_span=off))
            if html_title is None and t is not None:
                html_title = t
            per_span_items[off] = [(it["kind"], it["text"], it["media_ref"]) for it in items]
        elif kind == "media":
            per_span_items[off] = [("media", s.get("text") or "", s.get("media_ref") or "")]
        else:
            raise ParseError(f"unknown input span kind: {kind!r}")

    title: str
    if has_pdf:
        # whole-document 1A pipeline over the concatenated page blocks
        pdf_title, items = pdfheur.extract_pdf_document(pdf_blocks)
        title = pdf_title
        for it in items:
            per_span_items.setdefault(it["src_span"], []).append((it["kind"], it["text"], ""))
    elif html_title is not None:
        title = html_title
    else:
        title = "Untitled Document"

    out: list[dict] = [{"kind": "title", "text": title, "media_ref": "", "offset": 0}]
    for off in sorted(per_span_items):
        for kind, text, ref in per_span_items[off]:
            out.append({"kind": kind, "text": text, "media_ref": ref, "offset": len(out)})
    return out
