"""Deterministic synthetic corpus generator (FIXTURES.md).

Generates the interleaved text+media ``documents`` input table of
FIXTURES.md §1 — exactly the BASELINE.json ``input_hint`` shape
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>)``.

Archetypes mirror the reference's 5 golden PDFs plus the north rule's
HTML leg (FIXTURES.md §4): form / report / proposal / flyer / webpage /
mixed, ~1% corrupt spans, a jumbo long tail for skew testing.

Everything is seeded (``random.Random``) and pure-Python so the same
rows feed pytest, the oracle, the Spark pipeline, and the bench harness.
The generator can also derive a corpus deterministically from the
driver's ``documents`` parquet (one synthetic doc per row, seeded by
``doc_id``) so Spark-side queries run over driver-provided inputs only.
"""

from __future__ import annotations

import random

US = "\x1f"
ARCHETYPES = ["form", "report", "proposal", "flyer", "webpage", "mixed"]
ARCHETYPE_WEIGHTS = [0.10, 0.25, 0.20, 0.10, 0.25, 0.10]

# words safe for numbered headings: none contains a form-field indicator
# substring (pdfheur.FORM_INDICATORS, incl. the 'si' quirk) — verified in tests
HEAD_WORDS = ["Overview", "Methods", "Results", "Growth", "Market", "Outlook",
              "Strategy", "Budget", "Scope", "Approach", "Review", "Context",
              "Findings", "Roadmap", "Impact", "Summary"]
BODY_WORDS = ("the quick market held steady through early review cycles and the "
              "broader outlook improved while teams kept working on the plan with "
              "careful checks of every stage across all groups during the year").split()
COLON_HEADS = ["Timeline", "Summary", "Background", "Access", "Training", "Guidance",
               "Milestones", "Funding"]
STOP_RICH = ("it is the plan that we set out for the team and the board to follow "
             "in the next year so that the work is done on time").split()


def _line(page: int, y0: float, y1: float, size: float, bold: bool, font: str, text: str) -> str:
    return US.join(["L", str(page), f"{y0:.1f}", f"{y1:.1f}", f"{size:.1f}",
                    "1" if bold else "0", font, text])


def _sentence(rng: random.Random, vocab: list[str], lo: int = 9, hi: int = 16) -> str:
    n = rng.randint(lo, hi)
    words = [rng.choice(vocab) for _ in range(n)]
    return (" ".join(words)).capitalize() + "."


class _PageWriter:
    def __init__(self, page: int):
        self.page = page
        self.y = 40.0
        self.lines: list[str] = []

    def add(self, text: str, size: float, bold: bool = False, font: str = "Helv",
            gap: float = 4.0) -> None:
        y0 = self.y
        y1 = y0 + size
        self.lines.append(_line(self.page, y0, y1, size, bold, font, text))
        self.y = y1 + gap

    def stream(self) -> str:
        return "\n".join(self.lines)


def _gen_report(rng: random.Random, vocab: list[str], jumbo: bool) -> list[dict]:
    n_pages = rng.randint(3, 6) if not jumbo else rng.randint(20, 30)
    body_per_page = rng.randint(10, 16) if not jumbo else 60
    header_text = f"{rng.choice(HEAD_WORDS)} Report Continued"
    spans = []
    h1_n = 0
    h2_n = 0
    for p in range(n_pages):
        w = _PageWriter(p)
        if p == 0:
            w.add(f"Annual {rng.choice(HEAD_WORDS)} Report {rng.randint(2010, 2024)}",
                  20.0, bold=True, font="HelvBold", gap=10.0)
            w.add(_sentence(rng, vocab), 10.0)
        else:
            # recurring page header: same text/size/bold on every page >= 1
            w.add(header_text, 9.0, bold=False, font="Helv")
        if rng.random() < 0.8:
            h1_n += 1
            h2_n = 0
            w.add(f"{h1_n}. {rng.choice(HEAD_WORDS)} {rng.choice(HEAD_WORDS)}",
                  14.0, bold=True, font="HelvBold", gap=8.0)
        for _ in range(body_per_page):
            w.add(_sentence(rng, vocab, 10, 18), 10.0)
        if rng.random() < 0.6:
            h2_n += 1
            w.add(f"{max(h1_n,1)}.{h2_n} {rng.choice(HEAD_WORDS)} {rng.choice(vocab)}",
                  12.0, bold=True, font="HelvBold", gap=8.0)
            for _ in range(3):
                w.add(_sentence(rng, vocab, 10, 18), 10.0)
        spans.append({"kind": "pdf_page", "text": w.stream(), "media_ref": ""})
    return spans


def _gen_form(rng: random.Random, vocab: list[str]) -> list[dict]:
    w = _PageWriter(0)
    w.add(f"Application Form for {rng.choice(HEAD_WORDS)} Grant", 14.0,
          bold=True, font="HelvBold", gap=10.0)
    fields = ["Name of Employee", "Designation and Grade", "Date of Joining Office",
              "Amount of Advance Required", "Signature of Officer",
              "Whether Permanent or Temporary", "Details of Family Members"]
    for i, f in enumerate(rng.sample(fields, rng.randint(5, 7)), start=1):
        w.add(f"{i}. {f}", 10.0, gap=6.0)
        w.add(_sentence(rng, vocab, 10, 16), 10.0)
    return [{"kind": "pdf_page", "text": w.stream(), "media_ref": ""}]


def _gen_proposal(rng: random.Random, vocab: list[str]) -> list[dict]:
    spans = []
    w = _PageWriter(0)
    # fragmented RFP title (mirrors golden file03's artifacts)
    w.add("RFP: R", 20.0, bold=True, font="HelvBold", gap=0.5)
    w.add("equest for Proposal", 20.0, bold=True, font="HelvBold", gap=0.5)
    w.add(f"To Develop the {rng.choice(HEAD_WORDS)} Plan", 16.0, bold=True,
          font="HelvBold", gap=12.0)
    for _ in range(rng.randint(6, 10)):
        w.add(_sentence(rng, vocab, 10, 18), 10.0)
    spans.append({"kind": "pdf_page", "text": w.stream(), "media_ref": ""})
    for p in range(1, rng.randint(2, 4)):
        w = _PageWriter(p)
        w.add(f"{rng.choice(COLON_HEADS)}:", 10.0, bold=True, font="HelvBold", gap=14.0)
        for _ in range(rng.randint(5, 9)):
            w.add(_sentence(rng, vocab, 10, 18), 10.0)
        if rng.random() < 0.5:
            w.add("For each phase it could mean:", 10.0, bold=True, font="HelvBold", gap=14.0)
            for _ in range(3):
                w.add(_sentence(rng, vocab, 10, 18), 10.0)
        spans.append({"kind": "pdf_page", "text": w.stream(), "media_ref": ""})
    return spans


def _gen_flyer(rng: random.Random, vocab: list[str]) -> list[dict]:
    w = _PageWriter(0)
    w.add(f"{rng.choice(HEAD_WORDS).upper()} {rng.choice(HEAD_WORDS).upper()} NIGHT",
          16.0, bold=True, font="HelvBold", gap=10.0)
    for _ in range(rng.randint(8, 12)):
        w.add(_sentence(rng, vocab, 10, 18), 10.0)
    w.add("SCHEDULE OF EVENTS AND TIMES", 10.0, bold=True, font="HelvBold", gap=8.0)
    # table region: many short same-size cells -> table filter drops them
    for _ in range(rng.randint(8, 12)):
        cell = rng.choice([str(rng.randint(1, 500)), f"{rng.randint(1,12)}/{rng.randint(1,28)}/2024",
                           f"${rng.randint(10, 999)}", rng.choice(vocab)[:3] or "ab"])
        w.add(cell, 9.0, gap=2.0)
    for _ in range(rng.randint(6, 10)):
        w.add(_sentence(rng, vocab, 10, 18), 10.0)
    return [{"kind": "pdf_page", "text": w.stream(), "media_ref": ""}]


def _gen_webpage(rng: random.Random, vocab: list[str], doc_id: str) -> list[dict]:
    def para() -> str:
        return " ".join(_sentence(rng, vocab + STOP_RICH, 12, 20) for _ in range(rng.randint(2, 4)))

    def linkfarm(n: int) -> str:
        return " ".join(f'<a href="/x{i}">{rng.choice(vocab)} {rng.choice(vocab)}</a>'
                        for i in range(n))

    n_frag = rng.randint(1, 2)
    spans = []
    for f in range(n_frag):
        parts = ["<html><head><title>",
                 f"{rng.choice(HEAD_WORDS)} {rng.choice(HEAD_WORDS)} Online",
                 "</title></head><body>",
                 f"<nav><ul><li>{linkfarm(3)}</li><li>{linkfarm(3)}</li></ul></nav>",
                 f"<h1>{rng.choice(HEAD_WORDS)} {rng.choice(vocab)}</h1>",
                 f"<p>{para()}</p>"]
        if rng.random() < 0.7:
            parts.append(f'<img src="img://{doc_id}/{f}0" alt="chart {rng.choice(vocab)}"/>')
        parts.append(f"<h2>{rng.choice(HEAD_WORDS)} {rng.choice(vocab)}</h2>")
        parts.append(f"<p>{para()}</p>")
        # link-farm div: boilerplate by link density
        parts.append(f"<div>{linkfarm(rng.randint(4, 7))}</div>")
        if rng.random() < 0.5:
            parts.append(f"<h3>{rng.choice(HEAD_WORDS)} {rng.choice(vocab)}</h3>")
            parts.append(f"<p>{para()}</p>")
        # short junk fragment: dropped (low stopwords, short)
        parts.append(f"<div>{rng.choice(vocab)} {rng.randint(0, 99)}</div>")
        parts.append(f"<footer>{linkfarm(3)} copyright</footer></body></html>")
        spans.append({"kind": "html", "text": "".join(parts), "media_ref": ""})
    if rng.random() < 0.5:
        spans.append({"kind": "media", "text": f"poster {rng.choice(vocab)}",
                      "media_ref": f"img://{doc_id}/m0"})
    return spans


def _gen_mixed(rng: random.Random, vocab: list[str], doc_id: str) -> list[dict]:
    spans = []
    spans.extend(_gen_report(rng, vocab, jumbo=False)[:2])
    spans.append({"kind": "media", "text": "figure one", "media_ref": f"img://{doc_id}/f1"})
    spans.extend(_gen_webpage(rng, vocab, doc_id)[:1])
    spans.extend(_gen_proposal(rng, vocab)[1:2])
    return spans


def gen_doc(doc_id: str, seed: int = 42, vocab: list[str] | None = None,
            archetype: str | None = None, jumbo_rate: float = 0.005) -> dict:
    """Generate one document row, fully determined by (seed, doc_id).

    ``jumbo_rate`` scales the heavy-document share (same rng stream as the
    default, so seed-42 corpora are unchanged); the scaling bench raises it
    so per-doc compute resembles real multi-page PDF parsing.
    """
    rng = random.Random(f"{seed}:{doc_id}")
    vocab = vocab or BODY_WORDS
    vocab = [w for w in vocab if w] or BODY_WORDS
    if archetype is None:
        archetype = rng.choices(ARCHETYPES, weights=ARCHETYPE_WEIGHTS, k=1)[0]
    jumbo = rng.random() < jumbo_rate
    if archetype == "report":
        spans = _gen_report(rng, vocab, jumbo)
    elif archetype == "form":
        spans = _gen_form(rng, vocab)
    elif archetype == "proposal":
        spans = _gen_proposal(rng, vocab)
    elif archetype == "flyer":
        spans = _gen_flyer(rng, vocab)
    elif archetype == "webpage":
        spans = _gen_webpage(rng, vocab, doc_id)
    else:
        spans = _gen_mixed(rng, vocab, doc_id)
    if rng.random() < 0.01:  # corrupt span -> whole-doc error record
        pos = rng.randrange(len(spans) + 1)
        noise = "".join(rng.choice("0123456789abcdef") for _ in range(64))
        spans.insert(pos, {"kind": "corrupt", "text": noise, "media_ref": ""})
    for i, s in enumerate(spans):
        s["offset"] = i
    return {"doc_id": doc_id, "spans": spans}


def gen_corpus(n_docs: int, seed: int = 42, jumbo_rate: float = 0.005) -> list[dict]:
    """Generate ``n_docs`` rows: doc-id keyed, seed-stable, archetype-mixed."""
    return [gen_doc(f"doc-{i:07d}", seed=seed, jumbo_rate=jumbo_rate)
            for i in range(n_docs)]


def doc_from_driver_row(doc_id, text: str, seed: int = 42) -> dict:
    """Derive one synthetic interleaved doc from a driver ``documents`` row.

    Deterministic function of (seed, doc_id, text): the row's words
    become the body vocabulary, so Spark queries over the driver's
    parquet run the real extraction pipeline on driver-provided input.
    """
    vocab = [w for w in (text or "").split() if w.isalpha()][:40]
    return gen_doc(f"doc-{int(doc_id):09d}", seed=seed, vocab=vocab or None)


def corrupt_count(rows: list[dict]) -> int:
    """Number of docs carrying a corrupt span (expected parse_failures)."""
    return sum(1 for r in rows if any(s["kind"] == "corrupt" for s in r["spans"]))
