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

US = "\x1f"


class ParseError(ValueError):
    """Raised on any malformed source stream → whole-document error record
    (mirrors the total-function semantics of extractor.py:934-936)."""


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
