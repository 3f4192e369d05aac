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


def _is_decimal(s: str) -> bool:
    """``s`` matches ``-?[0-9]+(\\.[0-9]+)?``: ASCII digits, an optional
    leading minus and at most one inner point.  str methods, no regex:
    this runs for every line's coordinates."""
    if s[:1] == "-":
        s = s[1:]
    whole, point, frac = s.partition(".")
    return s.isascii() and whole.isdigit() and (frac.isdigit() or not point)


def parse_pdf_page_stream(stream: str, src_span: int = 0) -> list[dict]:
    """Parse one ``pdf_page`` span payload into ordered block dicts.

    Line grammar: ``L <US> page <US> y0 <US> y1 <US> size <US> bold <US> font <US> text``.
    Blank-line filter (extractor.py:56): lines whose text strips to empty
    are dropped, after the line is validated, so a malformed blank line
    still fails.  Any structural violation raises :class:`ParseError`:
    a wrong field count, a page that is not ASCII ``[0-9]+``, a y0, y1 or
    size that is not ``-?[0-9]+(\\.[0-9]+)?`` (``int``/``float`` would take
    spaces, ``+``, ``_``, exponents, ``nan`` and non-ASCII digits) or
    overflows to infinity, a bold flag other than ``0``/``1``.
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
        if not (page_s.isascii() and page_s.isdigit()
                and _is_decimal(y0_s) and _is_decimal(y1_s)):
            raise ParseError(f"bad numeric field in: {raw[:80]!r}")
        try:
            page = int(page_s)   # raises past sys.get_int_max_str_digits()
        except ValueError as e:
            raise ParseError(f"bad numeric field in: {raw[:80]!r}") from e
        y0 = float(y0_s)
        y1 = float(y1_s)
        size = rounded_size.get(size_s)
        # a digit run past ~309 places parses to inf; non-finite y breaks
        # block ordering and a non-finite size the table-filter grouping
        if size is None:
            if not (_is_decimal(size_s) and isfinite(float(size_s))):
                raise ParseError(f"bad numeric field in: {raw[:80]!r}")
            size = rounded_size[size_s] = round(float(size_s), 1)   # extractor.py:52
        if not (isfinite(y0) and isfinite(y1)):
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
