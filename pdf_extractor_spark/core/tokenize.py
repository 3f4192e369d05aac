"""Source-stream tokenizers: serialized PDF page streams → block lists.

The corpus grammar (FIXTURES.md §2) serializes what PyMuPDF's
``page.get_text("dict")`` hands the reference extractor
(``/root/reference/1A/app/extractor.py:35-71``): one ``\\x1f``-delimited
record per text line carrying page, bbox y0/y1, font size (1 decimal,
per extractor.py:52), bold flag, font name, and text.

These are pure functions so the oracle and the Spark ``mapInArrow``
operator share them verbatim.
"""

from __future__ import annotations

from math import isfinite

US = "\x1f"


class ParseError(ValueError):
    """Raised on any malformed source stream → whole-document error record
    (mirrors the total-function semantics of extractor.py:934-936)."""


def parse_pdf_page_stream(stream: str, src_span: int = 0) -> list[dict]:
    """Parse one ``pdf_page`` span payload into ordered block dicts.

    Line grammar: ``L <US> page <US> y0 <US> y1 <US> size <US> bold <US> font <US> text``.
    Blank-line filter (extractor.py:56): lines whose text strips to empty
    are dropped, after the line is validated, so a malformed blank line
    still fails.  Any structural violation (wrong field count, a
    non-integer or negative page, a non-numeric or non-finite coordinate
    or size, a bold flag other than ``0``/``1``) raises
    :class:`ParseError`.
    """
    blocks: list[dict] = []
    append = blocks.append
    # round(float(s), 1) costs several times a float parse and a page
    # repeats a handful of size strings: memo them for this stream only
    rounded_size: dict[str, float] = {}
    for raw in stream.split("\n"):
        if not raw:
            continue
        fields = raw.split(US)
        if len(fields) != 8 or fields[0] != "L":
            raise ParseError(f"malformed line record: {raw[:80]!r}")
        _, page_s, y0_s, y1_s, size_s, bold_s, font, text = fields
        try:
            page = int(page_s)
            y0 = float(y0_s)
            y1 = float(y1_s)
            size = rounded_size.get(size_s)
            if size is None:
                size = rounded_size[size_s] = round(float(size_s), 1)   # extractor.py:52
        except ValueError as e:
            raise ParseError(f"bad numeric field in: {raw[:80]!r}") from e
        # float() accepts 'nan'/'inf'; NaN sizes would split the scalar
        # (list.count) and vectorized (per-size grouping) table-filter
        # paths, and non-finite y breaks block ordering — reject here
        if page < 0 or not (isfinite(y0) and isfinite(y1) and isfinite(size)):
            raise ParseError(f"bad numeric field in: {raw[:80]!r}")
        if bold_s == "1":
            bold, flags = True, 16      # bold bit = flags & 2**4 (extractor.py:59)
        elif bold_s == "0":
            bold, flags = False, 0
        else:
            raise ParseError(f"bad bold flag in: {raw[:80]!r}")
        text = text.strip()
        if not text:
            continue  # blank-line filter F1 (extractor.py:56)
        append({"text": text, "page": page, "y0": y0, "y1": y1, "size": size,
                "bold": bold, "font": font, "flags": flags, "src_span": src_span})
    return blocks
