"""Reference-parity PDF layout heuristics as pure functions.

This module re-expresses the *behavior* of the reference extractor
(``/root/reference/1A/app/extractor.py``, class ``PDFOutlineExtractor``)
as stateless pure functions over lists of "block" dicts.  It is the
single source of truth for the heuristics: both the pure-Python oracle
(:mod:`pdf_extractor_spark.oracle`) and the vectorized Spark operator
(:mod:`pdf_extractor_spark.operators.extraction`) call these functions,
which guarantees bit-exact parity between the distributed engine and
the golden oracle (SURVEY.md §7.4 risk 1).

Block shape (one per text line, mirroring what PyMuPDF hands the
reference at extractor.py:35-71)::

    {"text": str,      # stripped line text (extractor.py:62)
     "page": int,      # 0-based page number (extractor.py:69)
     "y0": float,      # bbox top    (extractor.py:45 line["bbox"][1])
     "y1": float,      # bbox bottom (bbox[3])
     "size": float,    # max span size, already round(.,1) (extractor.py:52,58)
     "bold": bool,     # any span flags & 2**4 (extractor.py:59)
     "font": str,      # span font name (single-span lines in our grammar)
     "flags": int}     # span flags bitfield (bit 4 = bold)

All thresholds, tie-breaks, and quirks of the reference are preserved
exactly (including e.g. the substring-based form-field veto where
``'si' in text`` matches "design"/"signature", extractor.py:23-32).

Fast paths.  The per-line loops are the cost of the extraction stage, so
:func:`extract_pdf_document` skips work that cannot change its result:

* *Heading fast reject.*  A block that is not bold, whose size is not a
  heading candidate and whose stripped text does not start with a decimal
  digit (``str.isdecimal`` accepts exactly what ``re``'s ``\\d`` does, so
  "٣ Overview" still reaches the scorer) never calls
  :func:`is_potential_heading`.  Its best score is 3: the colon and bold
  points need bold, the candidate points a candidate size, the numbered
  points a leading digit, and the Appendix/Phase prefix (+3) and all-caps
  (+2) exclude each other, as "Appendix"/"Phase" hold lower-case letters.
  The scorer's threshold is 4.
* *Grouped recurring filter.*  :func:`filter_recurring_headers` compares
  a block only with the recurring texts of its own (size, bold).

``tests/core_reference.py`` keeps the straightforward forms, and
``tests/test_core_parity.py`` fuzzes the two against each other.
"""

from __future__ import annotations

import re
from collections import Counter

# --- heading patterns (extractor.py:11-22) ---------------------------------
NUMBERED_PATTERNS: list[tuple[re.Pattern, int]] = [
    (re.compile(r"^\d+\.?\s+[A-Z]"), 1),
    (re.compile(r"^\d+\.\d+\.?\s+"), 2),
    (re.compile(r"^\d+\.\d+\.\d+\.?\s+"), 3),
]

# form-field indicators (extractor.py:25-29) — substring matches, quirks kept
FORM_INDICATORS = [
    "required", "advance", "amount", "name of", "designation",
    "date of", "whether", "pay", "si", "npa", "signature",
    "employee", "officer", "family", "members", "details",
]

# colon-heading patterns (extractor.py:105-110), matched with re.IGNORECASE
COLON_PATTERNS = [
    re.compile(r"^(Timeline|Summary|Background|Access|Training|Guidance)", re.IGNORECASE),
    re.compile(r"^(Phase [IVX]+|Appendix [ABC]|For each)", re.IGNORECASE),
    re.compile(r"^[A-Z][a-zA-Z\s]+$", re.IGNORECASE),
    re.compile(r"^[A-Z][a-z]+\s+[a-z]+", re.IGNORECASE),
]

# obvious-table-cell patterns (extractor.py:448-454); matched on raw text
OBVIOUS_CELL_PATTERNS = [
    re.compile(r"^\d+$"),
    re.compile(r"^\d+\.\d+$"),
    re.compile(r"^\d{1,2}/\d{1,2}/\d{2,4}$"),
    re.compile(r"^\$\d+"),
    re.compile(r"^[a-zA-Z]{1,3}$"),
]

APPENDIX_PHASE_RE = re.compile(r"^(Appendix|Phase)")
APPENDIX_LEVEL_RE = re.compile(r"^Appendix [ABC]:")
PHASE_LEVEL_RE = re.compile(r"^Phase [IVX]+:")

TITLE_KEYWORDS = ("RFP", "REQUEST", "PROPOSAL")
BROKEN_WORD_PATTERNS = ("oposal", "quest f", "r Pr")


def is_form_field_number(text: str) -> bool:
    """extractor.py:23-32 — numbered text that is a form field, not a heading."""
    text_lower = text.lower()
    return any(ind in text_lower for ind in FORM_INDICATORS)


def is_colon_heading(block: dict, next_blocks: list[dict]) -> bool:
    """extractor.py:85-124 — bold colon-terminated heading detection."""
    text = block["text"].strip()
    if not text.endswith(":"):
        return False
    if not block["bold"]:
        return False
    heading_text = text[:-1].strip()
    if len(heading_text) > 100 or len(heading_text) < 3:
        return False
    if any(p.match(heading_text) for p in COLON_PATTERNS):
        return True
    # vertical-gap fallback uses bbox[1] (top y) of both blocks (extractor.py:117-121)
    if next_blocks:
        current_y = block["y0"]
        next_y = next_blocks[0]["y0"]
        if abs(next_y - current_y) > 10:
            return True
    return False


def analyze_font_distribution(blocks: list[dict]) -> dict:
    """extractor.py:211-252 — dominant size + low-share larger-size candidates.

    Our grammar has exactly one span per line, so the span-level Counter
    equals a block-level Counter.
    """
    font_sizes = [b["size"] for b in blocks]
    if not font_sizes:
        return {"dominant_size": 12, "dominant_percentage": 1.0, "heading_candidates": {}}
    size_counts = Counter(font_sizes)
    total = len(font_sizes)
    dominant_size = size_counts.most_common(1)[0][0]
    dominant_percentage = size_counts[dominant_size] / total
    heading_candidates: dict[float, dict] = {}
    for size, count in size_counts.items():
        pct = count / total
        if size > dominant_size and pct <= 0.05:
            diff = size - dominant_size
            if diff >= 4:
                level = 1
            elif diff >= 2:
                level = 2
            elif diff >= 1:
                level = 3
            else:
                level = 0
            if level > 0:
                heading_candidates[size] = {"percentage": pct, "level": level}
    return {
        "dominant_size": dominant_size,
        "dominant_percentage": dominant_percentage,
        "heading_candidates": heading_candidates,
    }


def extract_page_start_content(blocks: list[dict], start_lines: int = 3) -> list[list[dict]]:
    """extractor.py:254-284 — first N non-empty lines per page, sorted by y0.

    Pages are enumerated in ascending page-number order (the reference
    iterates ``for page in doc``); a page is present iff it has blocks
    (our grammar cannot represent an empty page).
    """
    by_page: dict[int, list[dict]] = {}
    for b in blocks:
        by_page.setdefault(b["page"], []).append(b)
    out = []
    for page_num in sorted(by_page):
        page_blocks = sorted(by_page[page_num], key=lambda x: x["y0"])
        start_info = []
        for b in page_blocks:
            if len(start_info) >= start_lines:
                break
            text = b["text"].strip()
            if text:
                start_info.append(
                    {"text": text, "font_size": b["size"], "is_bold": b["bold"], "page": page_num}
                )
        out.append(start_info)
    return out


def find_recurring_headers(page_start_content: list[list[dict]], min_pages: int = 2) -> set:
    """extractor.py:286-321 — (text,size,bold) keys on ≥60% of pages 1..n."""
    recurring: set[tuple] = set()
    if len(page_start_content) < min_pages:
        return recurring
    pages_to_check = page_start_content[1:]
    combos: dict[tuple, list[int]] = {}
    for page_content in pages_to_check:
        for info in page_content:
            key = (info["text"], info["font_size"], info["is_bold"])
            combos.setdefault(key, []).append(info["page"])
    total = len(pages_to_check)
    for key, page_list in combos.items():
        if len(page_list) / total >= 0.6:
            recurring.add(key)
    return recurring


def is_recurring_header(block: dict, recurring_headers: set) -> bool:
    """extractor.py:324-344 — exact or containment text match + exact size/bold."""
    block_text = block["text"].strip()
    block_size = block["size"]
    block_bold = block["bold"]
    for (h_text, h_size, h_bold) in recurring_headers:
        if block_text == h_text and block_size == h_size and block_bold == h_bold:
            return True
        if (h_text in block_text or block_text in h_text) and block_size == h_size and block_bold == h_bold:
            return True
    return False


def filter_recurring_headers(blocks: list[dict], recurring_headers: set) -> list[dict]:
    """extractor.py:347-359 — drop every block :func:`is_recurring_header` matches.

    Same predicate, grouped: a header can only match a block of its exact
    (size, bold), so the header texts are indexed by that pair and each
    block is compared only with the texts of its own formatting.  (The
    dict lookup agrees with ``==`` because the parser rejects NaN sizes.)
    """
    if not recurring_headers:
        return list(blocks)
    texts_by_format: dict[tuple, list[str]] = {}
    for h_text, h_size, h_bold in recurring_headers:
        texts_by_format.setdefault((h_size, h_bold), []).append(h_text)
    out = []
    for b in blocks:
        h_texts = texts_by_format.get((b["size"], b["bold"]))
        if h_texts:
            text = b["text"].strip()
            if any(h in text or text in h for h in h_texts):
                continue
        out.append(b)
    return out


def _local_font_patterns(blocks: list[dict], center: int, window: int = 5) -> tuple[list[float], list[int]]:
    """extractor.py:365-385 — ±window sizes and stripped text lengths."""
    start = max(0, center - window)
    end = min(len(blocks), center + window + 1)
    local = blocks[start:end]
    return [b["size"] for b in local], [len(b["text"].strip()) for b in local]


def is_table_content(block: dict, blocks: list[dict], index: int) -> bool:
    """extractor.py:387-421 — local font repetition + short-text heuristics."""
    text = block["text"].strip()
    if not text:
        return True
    font_sizes, text_lengths = _local_font_patterns(blocks, index)
    current_size = block["size"]
    rep = font_sizes.count(current_size)
    total = len(font_sizes)
    if rep / total > 0.6:
        if len(text) < 80:
            short_neighbors = sum(1 for L in text_lengths if L < 80)
            if short_neighbors / total > 0.5:
                sentences = text.split(".")
                has_long = any(len(s.strip()) > 50 for s in sentences)
                if not has_long:
                    return True
    return False


def is_obvious_table_cell(text: str) -> bool:
    """extractor.py:443-456 (patterns applied to the raw text, as the reference does)."""
    return any(p.match(text) for p in OBVIOUS_CELL_PATTERNS)


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
    for b, text, nonempty, maybe_table in zip(blocks, texts, texts_nonempty.tolist(),
                                              maybe.tolist()):
        if not nonempty:
            is_table = True          # blank text → table content (ref behavior)
        elif maybe_table:
            is_table = not any(len(s.strip()) > 50 for s in text.split("."))
        else:
            is_table = False
        if not is_table or ((b["bold"] or len(text) > 20) and not is_obvious_table_cell(text)):
            filtered.append(b)
    return filtered


def classify_heading_level(block: dict, font_analysis: dict, is_colon: bool = False) -> int:
    """extractor.py:480-514."""
    text = block["text"].strip()
    max_size = block["size"]
    for pattern, level in NUMBERED_PATTERNS:
        if pattern.match(text):
            return level
    if APPENDIX_LEVEL_RE.match(text):
        return 2
    if PHASE_LEVEL_RE.match(text):
        return 3
    if is_colon:
        if any(w in text.lower() for w in ("for each", "it could mean")):
            return 4
        return 3
    if max_size in font_analysis["heading_candidates"]:
        return font_analysis["heading_candidates"][max_size]["level"]
    if len(text) < 30 and text.isupper():
        return 1
    elif len(text) < 50:
        return 2
    return 3


def is_potential_heading(block: dict, font_analysis: dict, next_blocks: list[dict]) -> tuple[bool, int]:
    """extractor.py:146-207 — the additive heading scorer.

    Returns (is_heading, level).  Score: +4 colon, +5 candidate font,
    +3 numbered (vetoed by form-field indicators, first-match break),
    +2 bold, +2 all-caps < 60 chars, +3 Appendix/Phase prefix;
    heading iff score >= 4.  (The first-page-metadata branch at
    extractor.py:148-156 is dead code — hasattr is always false — and is
    intentionally not replicated.)
    """
    text = block["text"].strip()
    if len(text) > 200:
        return False, 0
    if len(text) < 3:
        return False, 0
    score = 0
    detected_level = 0
    is_colon = is_colon_heading(block, next_blocks)
    if is_colon:
        score += 4
        detected_level = classify_heading_level(block, font_analysis, is_colon=True)
    if block["size"] in font_analysis["heading_candidates"]:
        score += 5
        if detected_level == 0:
            detected_level = font_analysis["heading_candidates"][block["size"]]["level"]
    for pattern, level in NUMBERED_PATTERNS:
        if pattern.match(text):
            if is_form_field_number(text):
                break  # veto: no score, stop pattern scan (extractor.py:187-188)
            score += 3
            detected_level = level
            break
    if block["bold"]:
        score += 2
    if text.isupper() and len(text) < 60:
        score += 2
    if APPENDIX_PHASE_RE.match(text):
        score += 3
    return score >= 4, max(detected_level, 1) if score >= 4 else 0


# --- heading / title-fragment merging (extractor.py:574-845) ----------------

def should_merge_headings_basic(current_text: str, next_text: str,
                                current_page: int, next_page: int,
                                current_level: int, next_level: int) -> bool:
    """extractor.py:628-650."""
    if current_page != next_page or current_level != next_level:
        return False
    if current_text.strip().lower() == "overview" and "foundation level extensions" in next_text.lower():
        return True
    if len(current_text.strip()) <= 6:
        return True
    if any(current_text.endswith(p) for p in BROKEN_WORD_PATTERNS):
        return True
    if next_text and next_text[0].islower():
        return True
    return False


def has_identical_formatting(cur: dict, nxt: dict) -> bool:
    """extractor.py:795-824 — size/bold equality + font-set & flag-set overlap.

    Our grammar has single-span lines, so the span font/flag sets are
    singletons: overlap == equality.
    """
    if cur["size"] != nxt["size"]:
        return False
    if cur["bold"] != nxt["bold"]:
        return False
    if not ({cur["font"]} & {nxt["font"]}):
        return False
    if not ({cur["flags"]} & {nxt["flags"]}):
        return False
    return True


def are_visually_adjacent(cur: dict, nxt: dict) -> bool:
    """extractor.py:826-845 — |next.top - cur.bottom| <= 20pt on the same page."""
    if cur["page"] != nxt["page"]:
        return False
    return abs(nxt["y0"] - cur["y1"]) <= 20


def should_merge_by_formatting(cur: dict, nxt: dict) -> bool:
    """extractor.py:652-680."""
    if cur["page"] != nxt["page"] or cur["detected_level"] != nxt["detected_level"]:
        return False
    if not has_identical_formatting(cur, nxt):
        return False
    if not are_visually_adjacent(cur, nxt):
        return False
    current_text = cur["text"].strip()
    next_text = nxt["text"].strip()
    if not current_text.endswith((".", "!", "?")):
        if len(next_text.split()) <= 3:
            return True
    return False


def merge_consecutive_headings(potential_headings: list[dict]) -> list[dict]:
    """extractor.py:574-626 — pairwise merge (one lookahead, no chains).

    Each input heading dict must carry the block fields plus
    ``detected_level``.  Merged output keeps the first block's fields
    (extractor.py:620) and records which inputs were consumed in
    ``src_indices`` (positions into ``potential_headings``) so callers
    can exclude merged-away blocks from body emission.
    """
    if not potential_headings:
        return potential_headings
    merged: list[dict] = []
    i = 0
    n = len(potential_headings)
    while i < n:
        cur = potential_headings[i]
        current_text = cur["text"].strip()
        parts = [current_text]
        src_indices = [i]
        j = i + 1
        if j < n:
            nxt = potential_headings[j]
            next_text = nxt["text"].strip()
            should = should_merge_headings_basic(
                current_text, next_text, cur["page"], nxt["page"],
                cur["detected_level"], nxt["detected_level"],
            ) or should_merge_by_formatting(cur, nxt)
            if should:
                parts.append(next_text)
                src_indices.append(j)
                j += 1
        out = dict(cur)
        out["text"] = " ".join(parts)
        out["src_indices"] = src_indices
        merged.append(out)
        i = j
    return merged


# --- title extraction (extractor.py:515-573) --------------------------------

def extract_title(blocks: list[dict]) -> str:
    """extractor.py:549-573 — top-1 by (size,text) tuple.  The reference's
    keyword-concatenation branch is left out: its only caller,
    ``extract_title_with_merging``, already returns whenever one of the
    first 10 blocks holds a title keyword."""
    candidates = []
    for block in blocks[:5]:
        if len(block["text"]) < 150:
            candidates.append((block["size"], block["text"]))
    if candidates:
        candidates.sort(reverse=True)  # tuple sort: size desc, then text desc (extractor.py:570)
        return candidates[0][1]
    return "Untitled Document"


def extract_title_with_merging(blocks: list[dict]) -> str:
    """extractor.py:515-546 — candidate gen over first 10 blocks + merge."""
    title_candidates = []
    for i, block in enumerate(blocks[:10]):
        text = block["text"].strip()
        font_size = block["size"]
        is_candidate = (
            any(w in text.upper() for w in TITLE_KEYWORDS)
            or font_size > 14
            or (i < 5 and 10 < len(text) < 100)
        )
        if is_candidate:
            cand = dict(block)
            cand["text"] = text
            cand["detected_level"] = 1
            title_candidates.append(cand)
    if title_candidates:
        # a non-empty candidate list merges to at least one heading
        return merge_consecutive_headings(title_candidates)[0]["text"]
    return extract_title(blocks)


def is_title_duplicate(heading_text: str, title_normalized: str) -> bool:
    """extractor.py:846-873 — exact/containment/word-overlap duplicate test."""
    if heading_text == title_normalized:
        return True
    if heading_text in title_normalized or title_normalized in heading_text:
        shorter = min(len(heading_text), len(title_normalized))
        if shorter > 10:
            return True
    title_words = set(title_normalized.split())
    heading_words = set(heading_text.split())
    if heading_words:
        common = title_words & heading_words
        if len(common) / len(heading_words) >= 0.8 and len(heading_words) >= 3:
            return True
    return False


# --- whole-document pipeline (process_pdf, extractor.py:876-936) ------------

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

    candidates = font_analysis["heading_candidates"]
    # fast reject, see the module notes: the scorer gives any other block
    # at most 3, below its threshold of 4
    maybe_heading = [i for i, b in enumerate(filtered)
                     if b["bold"] or b["size"] in candidates
                     or b["text"].strip()[:1].isdecimal()]
    potential: list[dict] = []
    for i in maybe_heading:
        block = filtered[i]
        is_heading, level = is_potential_heading(block, font_analysis, filtered[i + 1:i + 4])
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

    items = [{"kind": "body", "text": block["text"], "src_span": block.get("src_span", 0)}
             for block in filtered]
    for i, h in heading_at.items():
        items[i] = {"kind": f"h{h['detected_level']}", "text": h["text"],
                    "src_span": items[i]["src_span"]}
    if skip_idx:
        items = [it for i, it in enumerate(items) if i not in skip_idx]
    return title, items
