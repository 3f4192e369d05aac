"""Reference-parity fuzz: the fast per-document kernel against the
straightforward forms it replaced (tests/core_reference.py).

The generated documents aim at the fast paths: bold and plain lines,
leading ASCII and non-ASCII decimal digits, ``Appendix``/``Phase``
prefixes, colon lines, sizes that become heading candidates (one large
line among many body lines), headers that recur across pages, and NaN,
inf, bad-flag and wrong-arity fields.  Both kernels must return equal
output, or fail with the same exception type.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

import core_reference as R
from pdf_extractor_spark.core import pdfheur
from pdf_extractor_spark.core.extract import extract_document
from pdf_extractor_spark.core.tokenize import US, parse_pdf_page_stream

PREFIXES = ["", "", "", "1. ", "12 ", "2.1 ", "3.4.5 ", "٣ ", "١٢. ", "٣", "7",
            "Appendix B: ", "Appendix ", "Phase IV: ", "Phase ", "APPENDIX ",
            "phase ", " ", "  4 ", "RFP ", "Q3 ", "For each "]
WORDS = ["design", "Overview", "name of", "plan", "the", "SCOPE", "FEES", "Timeline",
         "budget", "Request", "for", "Pr", "oposal", "it", "could", "mean", "$40",
         "12", "3.5", "Summary", "data", "is", "reported", "per", "site.", "x",
         "maintenance procedures", "regional operations"]
HEADERS = ["Acme Corp Confidential", "Acme Corp", "Draft", "Page Header Text"]
# (field index, replacement): malformed, outside the numeric grammar though
# int()/float() take it ("٣", "1e308", "+3", "1_0.5", " 50.0 "), or at an
# edge the parser accepts ("-0.0", "10.04"); "short"/"long" change the field count
FAULTS = [(2, "nan"), (3, "inf"), (4, "nan"), (4, "-inf"), (4, "NaN"), (2, "x"), (4, ""),
          (4, "1e308"), (3, "-0.0"), (1, "-1"), (1, "-3"), (1, "x"), (1, "1.5"), (1, "٣"),
          (1, "+3"), (1, " 1"), (2, "1_0.5"), (3, " 50.0 "), (4, ".5"), (4, "5."),
          (4, "10.04"), (2, "٣٣.0"),
          (5, "2"), (5, ""), (5, "true"), (5, " 1"), (0, "X"), "short", "long"]


def _num(lo, hi):
    """Coordinates; a coarse grid makes equal values (and strings) common."""
    return st.one_of(st.floats(min_value=lo, max_value=hi).map(lambda v: f"{v:.1f}"),
                     st.integers(lo // 10, hi // 10).map(lambda v: f"{10 * v:.1f}"))


text_st = st.one_of(
    st.builds(lambda pre, case, words, tail: pre + case(" ".join(words)) + tail,
              st.sampled_from(PREFIXES),
              st.sampled_from([str, str, str.upper]),
              st.lists(st.sampled_from(WORDS), max_size=14),
              st.sampled_from(["", "", ":", ".", " :", "  "])),
    st.builds(lambda pre, words: pre + " ".join(words).upper(),
              st.sampled_from(["1. ", "٣ ", "١٢. ", "Appendix B: ", "Phase IV: "]),
              st.lists(st.sampled_from(WORDS), min_size=1, max_size=5)),
    st.sampled_from(HEADERS),
    st.text(st.characters(blacklist_characters="\n\x1f"), max_size=24),
)


def _line_fields(draw, page):
    y0 = draw(_num(0, 800))
    size = draw(st.sampled_from(["10.0", "10.0", "10.0", "9.0", "12.0", "14.0", "16.0",
                                 "18.0", "24.0", "10.04", "13.96"]))
    return ["L", str(page), y0, f"{float(y0) + float(size):.1f}", size,
            draw(st.sampled_from(["0", "0", "1"])),
            draw(st.sampled_from(["Helv", "Helv", "HelvBold"])),
            draw(text_st)]


@st.composite
def line_st(draw, page):
    """One well-formed line record."""
    return US.join(_line_fields(draw, page))


@st.composite
def bad_line_st(draw, page):
    """One line record with exactly one entry of FAULTS applied."""
    fields = _line_fields(draw, page)
    fault = draw(st.sampled_from(FAULTS))
    if fault == "short":
        fields = fields[:-1]
    elif fault == "long":
        fields = fields + ["extra"]
    else:
        fields[fault[0]] = fault[1]
    return US.join(fields)


@st.composite
def header_st(draw, page):
    """A page-top line drawn from a small pool, so it recurs across pages."""
    return US.join(["L", str(page), "10.0", "18.0", "8.0",
                    draw(st.sampled_from(["0", "0", "0", "1"])), "Helv",
                    draw(st.sampled_from(HEADERS))])


@st.composite
def filler_st(draw, page):
    """A plain 10 pt body line, so one larger line can fall under 5 %."""
    y0 = draw(_num(40, 780))
    words = draw(st.lists(st.sampled_from(WORDS), min_size=3, max_size=16))
    return US.join(["L", str(page), y0, f"{float(y0) + 10:.1f}", "10.0", "0", "Helv",
                    " ".join(words)])


@st.composite
def page_stream_st(draw, page, faulty=None):
    """A page's stream; a ``faulty`` one holds exactly one FAULTS line, so
    that line is the only reason for it to fail."""
    if faulty is None:
        faulty = draw(st.booleans())
    lines = []
    if draw(st.booleans()):
        lines.append(draw(header_st(page)))
    lines += draw(st.lists(st.one_of(line_st(page), filler_st(page), filler_st(page)),
                           max_size=20))
    if faulty:
        lines.insert(draw(st.integers(0, len(lines))), draw(bad_line_st(page)))
    return "\n".join(lines)


@st.composite
def doc_st(draw):
    n_pages = draw(st.integers(1, 4))
    bad_page = draw(st.sampled_from([None, None, None, *range(n_pages)]))
    spans = [{"kind": "pdf_page", "text": draw(page_stream_st(p, p == bad_page)),
              "media_ref": "", "offset": 2 * p} for p in range(n_pages)]
    if draw(st.booleans()):
        spans.append({"kind": "media", "text": "chart", "media_ref": "img://m/0",
                      "offset": 1})
    if draw(st.booleans()):
        spans.append({"kind": "html", "offset": 3, "media_ref": "",
                      "text": "<h1>Notes</h1><p>" + " ".join(draw(
                          st.lists(st.sampled_from(WORDS), min_size=8, max_size=20)))
                      + "</p>"})
    return draw(st.permutations(spans))


def outcome(fn, *args):
    try:
        return "ok", fn(*args)
    except Exception as e:      # noqa: BLE001 — the exception type is compared
        return "raised", type(e)


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 3).flatmap(page_stream_st))
def test_parser_matches_reference(stream):
    assert outcome(parse_pdf_page_stream, stream, 5) == \
        outcome(R.parse_pdf_page_stream, stream, 5)


@settings(max_examples=300, deadline=None)
@given(doc_st())
def test_extract_document_matches_reference(spans):
    assert extract_document(spans) == R.extract_document(spans)


block_st = st.fixed_dictionaries({
    "text": st.builds(lambda pad, t: pad + t, st.sampled_from(["", "", " ", "\t"]), text_st),
    "page": st.integers(0, 3),
    "y0": st.sampled_from([10.0, 40.0, 52.0, 70.0, 120.0]),
    "y1": st.sampled_from([20.0, 50.0, 62.0, 80.0, 130.0]),
    "size": st.sampled_from([8.0, 10.0, 10.0, 10.0, 12.0, 14.0, 18.0]),
    "bold": st.booleans(),
    "font": st.sampled_from(["Helv", "HelvBold"]),
    "flags": st.sampled_from([0, 16]),
    "src_span": st.integers(0, 2),
})


@settings(max_examples=300, deadline=None)
@given(st.lists(block_st, max_size=40))
def test_pdf_document_matches_reference_on_raw_blocks(blocks):
    """Blocks built directly (texts not stripped, flags independent of the
    bold bit) reach the heuristics without the parser's normalisation."""
    assert pdfheur.extract_pdf_document(blocks) == R.extract_pdf_document(blocks)


@settings(max_examples=300, deadline=None)
@given(st.lists(block_st, max_size=30),
       st.sets(st.tuples(st.sampled_from(HEADERS + ["Corp", "Confidential Memo"]),
                         st.sampled_from([8.0, 10.0]), st.booleans()), max_size=4))
def test_recurring_filter_matches_reference(blocks, recurring):
    """Header texts that contain, or are contained in, block texts."""
    assert pdfheur.filter_recurring_headers(blocks, recurring) == \
        R.filter_recurring_headers(blocks, recurring)
