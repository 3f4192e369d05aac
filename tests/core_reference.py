"""The package's per-document kernel as it stood before the fast paths.

``core.tokenize``, ``core.pdfheur`` and ``core.extract`` were rewritten for
speed (explicit field unpacking, a heading fast reject, a recurring-header
filter indexed by formatting, fewer per-line copies), each rewrite meant
to leave every output unchanged.  The straightforward forms they replaced
are kept here, test-only, so tests/test_core_parity.py can assert that the
fast kernel and these forms agree on generated documents: equal span
sequences, and a ``ParseError`` on the same streams.  Helpers the rewrite
left alone are imported from the package.  The one rule changed since,
on purpose, is the numeric field grammar of ``parse_pdf_page_stream``
(page ``[0-9]+``, coordinates and size ``-?[0-9]+(\\.[0-9]+)?``); the
replica checks it with regular expressions, the package with str methods.
"""

from __future__ import annotations

import re

from pdf_extractor_spark.core.htmlheur import classify_html_blocks, tokenize_html
from pdf_extractor_spark.core.pdfheur import (analyze_font_distribution,
                                              extract_page_start_content,
                                              extract_title_with_merging,
                                              find_recurring_headers,
                                              is_obvious_table_cell,
                                              is_potential_heading,
                                              is_recurring_header,
                                              is_title_duplicate,
                                              merge_consecutive_headings)
from pdf_extractor_spark.core.tokenize import US, ParseError


def parse_pdf_page_stream(stream: str, src_span: int = 0) -> list[dict]:
    """Parse one ``pdf_page`` span payload into ordered block dicts.

    Line grammar: ``L <US> page <US> y0 <US> y1 <US> size <US> bold <US> font <US> text``.
    Blank-line filter (extractor.py:56): lines whose text strips to empty
    are dropped.  Any structural violation raises :class:`ParseError`.
    """
    blocks: list[dict] = []
    for raw in stream.split("\n"):
        if not raw:
            continue
        fields = raw.split(US)
        if len(fields) != 8 or fields[0] != "L":
            raise ParseError(f"malformed line record: {raw[:80]!r}")
        if not (re.fullmatch(r"[0-9]+", fields[1])
                and all(re.fullmatch(r"-?[0-9]+(\.[0-9]+)?", f)
                        for f in fields[2:5])):
            raise ParseError(f"bad numeric field in: {raw[:80]!r}")
        try:
            page = int(fields[1])
            y0 = float(fields[2])
            y1 = float(fields[3])
            size = round(float(fields[4]), 1)   # extractor.py:52 round(size, 1)
            # float() accepts 'nan'/'inf'; NaN sizes would split the scalar
            # (list.count) and vectorized (per-size grouping) table-filter
            # paths, and non-finite y breaks block ordering — reject here
            if not (page >= 0 and y0 == y0 and y1 == y1 and size == size
                    and abs(y0) != float("inf") and abs(y1) != float("inf")
                    and abs(size) != float("inf")):
                raise ValueError("non-finite numeric field")
            bold = fields[5] == "1"
            if fields[5] not in ("0", "1"):
                raise ValueError(fields[5])
        except ValueError as e:
            raise ParseError(f"bad numeric field in: {raw[:80]!r}") from e
        font = fields[6]
        text = fields[7].strip()
        if not text:
            continue  # blank-line filter F1 (extractor.py:56)
        blocks.append({
            "text": text,
            "page": page,
            "y0": y0,
            "y1": y1,
            "size": size,
            "bold": bold,
            "font": font,
            "flags": 16 if bold else 0,   # bold bit = flags & 2**4 (extractor.py:59)
            "src_span": src_span,
        })
    return blocks


def filter_recurring_headers(blocks: list[dict], recurring_headers: set) -> list[dict]:
    """extractor.py:347-359."""
    return [b for b in blocks if not is_recurring_header(b, recurring_headers)]


def skip_table_body(blocks: list[dict]) -> list[dict]:
    """extractor.py:423-441 — drop table cells, rescue likely table headers.

    Vectorized equivalent of calling :func:`is_table_content` per block
    (kept, and asserted identical, by tests/test_pdfheur.py): window
    counts come from per-size position arrays + a prefix sum instead of
    re-slicing the ±5 neighborhood for every block, turning the O(n·w)
    python-loop constant into numpy searchsorted calls.  The float
    ratio comparisons (``rep/total > 0.6``) are computed with the same
    IEEE division as the scalar code, so results are bit-identical.
    """
    import numpy as np

    n = len(blocks)
    if n == 0:
        return []
    w = 5
    sizes = np.fromiter((b["size"] for b in blocks), dtype=np.float64, count=n)
    texts = [b["text"].strip() for b in blocks]
    tlens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
    idx = np.arange(n)
    start = np.maximum(0, idx - w)
    end = np.minimum(n, idx + w + 1)          # exclusive
    total = end - start

    # rep(i) = #{j in window(i): sizes[j] == sizes[i]} via positions-per-size
    rep = np.empty(n, dtype=np.int64)
    order = np.argsort(sizes, kind="stable")
    sorted_sizes = sizes[order]
    bounds = np.flatnonzero(np.r_[True, sorted_sizes[1:] != sorted_sizes[:-1], True])
    for g in range(len(bounds) - 1):
        ps = np.sort(order[bounds[g]:bounds[g + 1]])    # positions of this size
        rep[ps] = (np.searchsorted(ps, end[ps], side="left")
                   - np.searchsorted(ps, start[ps], side="left"))

    short_prefix = np.r_[0, np.cumsum(tlens < 80)]
    short_neighbors = short_prefix[end] - short_prefix[start]

    maybe = (texts_nonempty := tlens > 0) & (rep / total > 0.6) & (tlens < 80) \
        & (short_neighbors / total > 0.5)

    filtered = []
    for i, b in enumerate(blocks):
        if not texts_nonempty[i]:
            is_table = True          # blank text → table content (ref behavior)
        elif maybe[i]:
            sentences = texts[i].split(".")
            is_table = not any(len(s.strip()) > 50 for s in sentences)
        else:
            is_table = False
        if not is_table:
            filtered.append(b)
        else:
            text = texts[i]
            if (b["bold"] or len(text) > 20) and not is_obvious_table_cell(text):
                filtered.append(b)
    return filtered


def extract_pdf_document(blocks: list[dict]) -> tuple[str, list[dict]]:
    """Full 1A pipeline over one document's ordered block list.

    Mirrors process_pdf (extractor.py:876-932) and extends it with body
    emission per the north rule: every surviving non-heading block is a
    ``body`` span so the output is a complete main-content span sequence.

    Returns (title, items) where each item is
    ``{"kind": "h1".."h4"|"body", "text": str, "src_span": int}`` in
    document order (``src_span`` = originating input-span offset carried
    on each block, used to interleave with html/media legs).
    """
    psc = extract_page_start_content(blocks)
    recurring = find_recurring_headers(psc)
    filtered = filter_recurring_headers(blocks, recurring)
    filtered = skip_table_body(filtered)

    title = extract_title_with_merging(filtered)
    title_normalized = title.strip().lower()

    font_analysis = analyze_font_distribution(filtered)

    potential: list[dict] = []
    for i, block in enumerate(filtered):
        next_blocks = filtered[i + 1:i + 4]
        is_heading, level = is_potential_heading(block, font_analysis, next_blocks)
        if is_heading:
            h = dict(block)
            h["detected_level"] = level
            h["block_index"] = i
            potential.append(h)

    merged = merge_consecutive_headings(potential)

    heading_at: dict[int, dict] = {}   # filtered-block index -> merged heading
    skip_idx: set[int] = set()         # consumed or title-duplicate block indices
    for h in merged:
        block_indices = [potential[k]["block_index"] for k in h["src_indices"]]
        heading_text_norm = h["text"].strip().lower()
        if is_title_duplicate(heading_text_norm, title_normalized):
            skip_idx.update(block_indices)      # dropped entirely (extractor.py:921-923)
            continue
        heading_at[block_indices[0]] = h
        skip_idx.update(block_indices[1:])      # merged-away fragments

    items = []
    for i, block in enumerate(filtered):
        if i in heading_at:
            h = heading_at[i]
            items.append({"kind": f"h{h['detected_level']}", "text": h["text"],
                          "src_span": block.get("src_span", 0)})
        elif i in skip_idx:
            continue
        else:
            items.append({"kind": "body", "text": block["text"],
                          "src_span": block.get("src_span", 0)})
    return title, items


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
    per_span_items: dict[int, list[dict]] = {}
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
            per_span_items[off] = [
                {"kind": it["kind"], "text": it["text"], "media_ref": it["media_ref"]}
                for it in items
            ]
        elif kind == "media":
            per_span_items[off] = [
                {"kind": "media", "text": s.get("text") or "",
                 "media_ref": s.get("media_ref") or ""}
            ]
        else:
            raise ParseError(f"unknown input span kind: {kind!r}")

    title: str
    if has_pdf:
        # whole-document 1A pipeline over the concatenated page blocks
        pdf_title, items = extract_pdf_document(pdf_blocks)
        title = pdf_title
        for it in items:
            per_span_items.setdefault(it["src_span"], []).append(
                {"kind": it["kind"], "text": it["text"], "media_ref": ""}
            )
    elif html_title is not None:
        title = html_title
    else:
        title = "Untitled Document"

    out: list[dict] = [{"kind": "title", "text": title, "media_ref": "", "offset": 0}]
    n = 1
    for off in sorted(per_span_items):
        for it in per_span_items[off]:
            out.append({"kind": it["kind"], "text": it["text"],
                        "media_ref": it["media_ref"], "offset": n})
            n += 1
    return out
