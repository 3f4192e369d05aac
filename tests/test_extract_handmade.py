"""Hand-written literal extraction cases.

Every expected span sequence below was worked out by hand from the
reference heuristics (``core/pdfheur.py`` documents each rule), not
produced by running the extractor.  The golden parquet and the benchmark's
expected spans are both generated by this package's own code, so this file
is the independent check on what the kernel emits.

Each case targets one quirk of the reference, named in its docstring-style
comment.  The same literals are checked through the pure-Python path and
through the Spark operator.
"""

import pytest

from pdf_extractor_spark.core.extract import extract_document
from pdf_extractor_spark.core.tokenize import US


def L(page, y0, size, bold, text, font="Helv"):
    """One line record: page, bbox top/bottom, size, bold flag, font, text."""
    return US.join(["L", str(page), f"{y0:.1f}", f"{y0 + size:.1f}", f"{size:.1f}",
                    "1" if bold else "0", font, text])


def pdf(offset, *lines):
    return {"kind": "pdf_page", "text": "\n".join(lines), "media_ref": "",
            "offset": offset}


def html(offset, fragment):
    return {"kind": "html", "text": fragment, "media_ref": "", "offset": offset}


def media(offset, alt, ref):
    return {"kind": "media", "text": alt, "media_ref": ref, "offset": offset}


def spans(*pairs):
    """(kind, text) or (kind, text, media_ref) tuples -> dense output spans."""
    out = []
    for i, p in enumerate(pairs):
        kind, text, ref = (p + ("",))[:3]
        out.append({"kind": kind, "text": text, "media_ref": ref, "offset": i})
    return out


PARAGRAPHS = [f"Paragraph {k} records the checks made at the pump station this week."
              for k in range(1, 17)]

CASES = {
    # 'si' form-field veto: "Design" contains 'si', so the numbered +3 is
    # vetoed and the bold line scores 2 (body); "2. Budget Overview" scores
    # numbered 3 + bold 2 = 5 (h1, pattern level 1).
    "si-veto": (
        [pdf(0,
             L(0, 40, 16, False, "Annual Facilities Report"),
             L(0, 80, 10, True, "1. Design Principles"),
             L(0, 100, 10, False, "The design principles guide every decision we make here."),
             L(0, 130, 10, True, "2. Budget Overview"),
             L(0, 150, 10, False, "Spending rose modestly across all of the regional sites."))],
        spans(("title", "Annual Facilities Report"),
              ("body", "Annual Facilities Report"),
              ("body", "1. Design Principles"),
              ("body", "The design principles guide every decision we make here."),
              ("h1", "2. Budget Overview"),
              ("body", "Spending rose modestly across all of the regional sites.")),
    ),
    # colon heading, y0-gap fallback: "Q3 results" matches no colon pattern
    # (a digit follows the first letter), so the heading test falls back to
    # the gap to the next block's top: 20 > 10 -> colon 4 + bold 2, level 3.
    # "Q4 results:" has a gap of 8 -> only bold 2 -> body.
    "colon-gap": (
        [pdf(0,
             L(0, 40, 12, False, "Regional Sales Digest"),
             L(0, 70, 10, True, "Q3 results:"),
             L(0, 90, 10, False, "Revenue climbed in every one of the eastern territories."),
             L(0, 110, 10, True, "Q4 results:"),
             L(0, 118, 10, False, "Revenue held steady while costs fell in the west region."))],
        spans(("title", "Regional Sales Digest"),
              ("body", "Regional Sales Digest"),
              ("h3", "Q3 results:"),
              ("body", "Revenue climbed in every one of the eastern territories."),
              ("body", "Q4 results:"),
              ("body", "Revenue held steady while costs fell in the west region.")),
    ),
    # recurring header: ("Acme Corp Confidential", 8.0, not bold) starts 2
    # of pages 1..3 (67 % >= 60 %).  It is then removed on every page,
    # page 0 included, and so is "Acme Corp" (contained in it, same size
    # and weight); the 10 pt copy on page 3 stays.
    "recurring-header": (
        [pdf(0,
             L(0, 20, 8, False, "Acme Corp Confidential"),
             L(0, 60, 16, True, "Network Upgrade Plan"),
             L(0, 100, 10, False, "This plan replaces every aging switch in the main campus.")),
         pdf(1,
             L(1, 20, 8, False, "Acme Corp Confidential"),
             L(1, 60, 10, False, "Work begins with the core routers in the data center room.")),
         pdf(2,
             L(2, 20, 8, False, "Acme Corp Confidential"),
             L(2, 60, 10, False, "Next the access layer switches are swapped floor by floor.")),
         pdf(3,
             L(3, 20, 8, False, "Acme Corp"),
             L(3, 60, 10, False, "Finally the old hardware is recycled through a certified vendor."),
             L(3, 80, 10, False, "Acme Corp Confidential"))],
        spans(("title", "Network Upgrade Plan"),
              ("body", "Network Upgrade Plan"),
              ("body", "This plan replaces every aging switch in the main campus."),
              ("body", "Work begins with the core routers in the data center room."),
              ("body", "Next the access layer switches are swapped floor by floor."),
              ("body", "Finally the old hardware is recycled through a certified vendor."),
              ("body", "Acme Corp Confidential")),
    ),
    # table-cell drop and header rescue: in a run of short same-size lines
    # every line is table content.  Bold "Item Name" and the 33-char
    # "Totals ..." are rescued; bold "Qty" is an obvious cell (1-3 letters),
    # short plain cells are dropped, and "$40 ..." is dropped despite its
    # length because it matches the ^\$\d+ cell pattern.
    "table-cells": (
        [pdf(0,
             L(0, 40, 14, False, "Inventory Summary Sheet"),
             L(0, 70, 10, True, "Item Name"),
             L(0, 70, 10, True, "Qty"),
             L(0, 85, 10, False, "Widget"),
             L(0, 85, 10, False, "12"),
             L(0, 100, 10, False, "Gadget"),
             L(0, 100, 10, False, "3.5"),
             L(0, 115, 10, False, "Totals are reported per warehouse"),
             L(0, 130, 10, False, "$40 per unit before any discounts"),
             L(0, 145, 10, False, "Prices exclude shipping and handling fees for remote sites."))],
        spans(("title", "Inventory Summary Sheet"),
              ("body", "Inventory Summary Sheet"),
              ("body", "Item Name"),
              ("body", "Totals are reported per warehouse"),
              ("body", "Prices exclude shipping and handling fees for remote sites.")),
    ),
    # keyword title concatenation: the RFP line and the next 18 pt line are
    # both title candidates; "... for Pr" ends with a broken-word pattern,
    # so the pair is joined with a space, mid-word.
    "keyword-title": (
        [pdf(0,
             L(0, 40, 18, True, "RFP: Request for Pr"),
             L(0, 62, 18, True, "oposal for Library Services"),
             L(0, 100, 10, False, "Responses are due to the city clerk by the end of March."),
             L(0, 120, 10, False, "Late submissions will not be opened or scored by the panel."))],
        spans(("title", "RFP: Request for Pr oposal for Library Services"),
              ("body", "RFP: Request for Pr"),
              ("body", "oposal for Library Services"),
              ("body", "Responses are due to the city clerk by the end of March."),
              ("body", "Late submissions will not be opened or scored by the panel.")),
    ),
    # pairwise merge, no chains: three bold all-caps headings (score 4,
    # level 1).  "PART A" (<= 6 chars) absorbs "SCOPE"; the merge does not
    # continue, so "FEES" stays its own heading.
    "pairwise-merge": (
        [pdf(0,
             L(0, 40, 10, False, "Service Agreement Terms Overview"),
             L(0, 80, 10, True, "PART A"),
             L(0, 100, 10, False, "This part sets out the scope of the services to be provided."),
             L(0, 130, 10, True, "SCOPE"),
             L(0, 150, 10, False, "The scope covers installation, upkeep and the yearly audits."),
             L(0, 180, 10, True, "FEES"),
             L(0, 200, 10, False, "Fees are billed monthly in arrears against the signed order."))],
        spans(("title", "Service Agreement Terms Overview"),
              ("body", "Service Agreement Terms Overview"),
              ("h1", "PART A SCOPE"),
              ("body", "This part sets out the scope of the services to be provided."),
              ("body", "The scope covers installation, upkeep and the yearly audits."),
              ("h1", "FEES"),
              ("body", "Fees are billed monthly in arrears against the signed order.")),
    ),
    # heading candidates among plain lines: 14 pt is 1 of 22 blocks (<= 5 %)
    # and 4 pt over the dominant 10 pt, so the plain line scores 5 (h1).
    # Plain numbered all-caps lines score 3 + 2 (h1), an Arabic-Indic
    # leading digit included; plain "Appendix B ..." scores 3 and plain
    # all-caps text 2 (both body).
    "candidate-size": (
        [pdf(0,
             L(0, 40, 10, False, "Pump Station Maintenance Manual"),
             L(0, 70, 14, False, "Routine Inspections"),
             *[L(0, 100 + 20 * k, 10, False, PARAGRAPHS[k]) for k in range(8)],
             L(0, 300, 10, False, "2 PUMP CONTROLS AND ALARMS"),
             *[L(0, 330 + 20 * k, 10, False, PARAGRAPHS[8 + k]) for k in range(4)],
             L(0, 420, 10, False, "٣ PLANT OVERVIEW AND LAYOUT"),
             L(0, 450, 10, False, "SAFETY RULES FOR EVERY VISIT"),
             L(0, 480, 10, False, "Appendix B lists the spare parts kept at each station"),
             *[L(0, 510 + 20 * k, 10, False, PARAGRAPHS[12 + k]) for k in range(4)])],
        spans(("title", "Pump Station Maintenance Manual"),
              ("body", "Pump Station Maintenance Manual"),
              ("h1", "Routine Inspections"),
              *[("body", t) for t in PARAGRAPHS[:8]],
              ("h1", "2 PUMP CONTROLS AND ALARMS"),
              *[("body", t) for t in PARAGRAPHS[8:12]],
              ("h1", "٣ PLANT OVERVIEW AND LAYOUT"),
              ("body", "SAFETY RULES FOR EVERY VISIT"),
              ("body", "Appendix B lists the spare parts kept at each station"),
              *[("body", t) for t in PARAGRAPHS[12:]]),
    ),
    # HTML title with media passthrough: the <title> is the doc title; nav
    # and footer subtrees and the short low-stopword div are dropped; the
    # inline <img> and the media span keep their place between the legs.
    "html-media": (
        [html(0, '<html><head><title>City Parks Guide</title></head><body>'
                 '<nav><a href="/a">Home</a></nav><h1>Parks and Trails</h1>'
                 '<p>The city maintains over forty parks and a long network of walking trails.</p>'
                 '<img src="img://parks/map" alt="trail map"/><div>Short bit</div>'
                 '<footer>copyright</footer></body></html>'),
         media(1, "site photo", "img://parks/photo1"),
         html(2, "<p>Most of the trails are open from dawn until dusk on every day of the year.</p>")],
        spans(("title", "City Parks Guide"),
              ("h1", "Parks and Trails"),
              ("body", "The city maintains over forty parks and a long network of walking trails."),
              ("media", "trail map", "img://parks/map"),
              ("media", "site photo", "img://parks/photo1"),
              ("body", "Most of the trails are open from dawn until dusk on every day of the year.")),
    ),
    # mixed legs: the PDF leg is one document across its page spans, so its
    # title wins over the HTML <title>; items interleave by input offset.
    "mixed-legs": (
        [pdf(0,
             L(0, 40, 10, False, "Harbor Dredging Project Brief"),
             L(0, 80, 10, False, "Dredging of the inner harbor channel starts in the spring.")),
         media(1, "channel survey", "img://harbor/survey"),
         html(2, "<html><head><title>Ignored Web Title</title></head><body>"
                 "<p>Residents can follow progress on the port authority notice board.</p>"
                 "</body></html>"),
         pdf(3, L(1, 40, 10, False, "Spoil will be moved by barge to the approved offshore site.")),
         pdf(4, L(2, 40, 10, False, "Monitoring buoys will track turbidity for the whole season."))],
        spans(("title", "Harbor Dredging Project Brief"),
              ("body", "Harbor Dredging Project Brief"),
              ("body", "Dredging of the inner harbor channel starts in the spring."),
              ("media", "channel survey", "img://harbor/survey"),
              ("body", "Residents can follow progress on the port authority notice board."),
              ("body", "Spoil will be moved by barge to the approved offshore site."),
              ("body", "Monitoring buoys will track turbidity for the whole season.")),
    ),
}

GOOD_LINE = L(0, 40, 10, False, "A perfectly ordinary line of body text for the page.")

# any malformed line poisons the whole document: empty spans, one failure
ERROR_CASES = {
    "seven-fields": [pdf(0, GOOD_LINE, US.join(["L", "0", "40", "50", "10", "0", "Helv"]))],
    "nan-size": [pdf(0, GOOD_LINE, US.join(["L", "0", "60", "70", "nan", "0", "Helv", "Text"]))],
    "inf-y0": [pdf(0, GOOD_LINE, US.join(["L", "0", "inf", "70", "10", "0", "Helv", "Text"]))],
    "bad-bold-flag": [pdf(0, GOOD_LINE, US.join(["L", "0", "60", "70", "10", "2", "Helv", "Text"]))],
    "negative-page": [pdf(0, US.join(["L", "-1", "60", "70", "10", "0", "Helv", "Text"]))],
    # a malformed line with blank text still fails: validation precedes the
    # blank-line filter
    "blank-text-bad-field": [pdf(0, GOOD_LINE, US.join(["L", "0", "x", "70", "10", "0", "Helv", "  "]))],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_handmade_case(name):
    doc, want = CASES[name]
    got, failures = extract_document(doc)
    assert failures == 0
    assert got == want


@pytest.mark.parametrize("name", sorted(ERROR_CASES))
def test_handmade_error_record(name):
    assert extract_document(ERROR_CASES[name]) == ([], 1)


def test_handmade_cases_through_spark(spark):
    from pdf_extractor_spark.operators.extraction import INPUT_SCHEMA, extract_operator

    rows = [{"doc_id": name, "spans": doc} for name, (doc, _) in CASES.items()]
    rows += [{"doc_id": name, "spans": doc} for name, doc in ERROR_CASES.items()]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    got = {r.doc_id: ([s.asDict() for s in r.spans], r.parse_failures)
           for r in extract_operator(df, 4).collect()}
    want = {name: (w, 0) for name, (_, w) in CASES.items()}
    want.update({name: ([], 1) for name in ERROR_CASES})
    assert got == want
