"""Unit tests: HTML boilerplate leg (SURVEY §2.12), generator invariants,
and oracle end-to-end properties on the synthetic corpus."""

import pytest

from pdf_extractor_spark.core.htmlheur import classify_html_blocks, tokenize_html
from pdf_extractor_spark.core.tokenize import ParseError, parse_pdf_page_stream
from pdf_extractor_spark.core import pdfheur
from pdf_extractor_spark.gen import HEAD_WORDS, corrupt_count, gen_corpus, gen_doc
from pdf_extractor_spark.oracle import oracle_failures, run_oracle

HTML = (
    '<html><head><title>My Page Title</title></head><body>'
    '<nav><ul><li><a href="/a">home link</a></li><li><a href="/b">about page</a></li></ul></nav>'
    '<h1>Main Heading Here</h1>'
    '<p>It is the plan that we set out for the team and the board to follow in the '
    'next year so that the work is done on time and within the agreed budget.</p>'
    '<img src="img://d/1" alt="a chart"/>'
    '<h2>Second Part</h2>'
    '<p>the quick market held steady through early review cycles and the broader '
    'outlook improved while teams kept working on the plan.</p>'
    '<div><a href="/1">one link</a> <a href="/2">two link</a> <a href="/3">three link</a></div>'
    '<div>junk 42</div>'
    '<footer><a href="/c">contact link</a> copyright</footer>'
    '</body></html>'
)


class TestHtml:
    def test_classification(self):
        title, spans = classify_html_blocks(tokenize_html(HTML, src_span=3))
        assert title == "My Page Title"
        kinds = [s["kind"] for s in spans]
        assert kinds == ["h1", "body", "media", "h2", "body"]
        assert spans[2]["media_ref"] == "img://d/1"
        assert spans[2]["text"] == "a chart"
        assert all(s["src_span"] == 3 for s in spans)
        texts = " ".join(s["text"] for s in spans)
        assert "home link" not in texts       # nav dropped
        assert "three link" not in texts      # link farm dropped
        assert "junk 42" not in texts         # short low-stopword fragment dropped
        assert "copyright" not in texts       # footer dropped

    def test_unknown_tag_raises(self):
        with pytest.raises(ParseError):
            tokenize_html("<html><body><script>x</script></body></html>")

    def test_mismatched_nesting_raises(self):
        with pytest.raises(ParseError):
            tokenize_html("<html><body><p>x</div></body></html>")


class TestPdfStream:
    def test_roundtrip(self):
        s = "L\x1f0\x1f40.0\x1f50.0\x1f14.0\x1f1\x1fHelvBold\x1f1. Overview Methods"
        bs = parse_pdf_page_stream(s, src_span=2)
        assert bs[0] == {"text": "1. Overview Methods", "page": 0, "y0": 40.0, "y1": 50.0,
                         "size": 14.0, "bold": True, "font": "HelvBold", "flags": 16,
                         "src_span": 2}

    def test_blank_line_dropped(self):
        s = "L\x1f0\x1f40.0\x1f50.0\x1f10.0\x1f0\x1fHelv\x1f   "
        assert parse_pdf_page_stream(s) == []

    def test_malformed_raises(self):
        with pytest.raises(ParseError):
            parse_pdf_page_stream("deadbeef0123")
        with pytest.raises(ParseError):
            parse_pdf_page_stream("L\x1fzz\x1f40.0\x1f50.0\x1f10.0\x1f0\x1fHelv\x1fhi")

    def test_nonfinite_numerics_raise(self):
        # float() happily parses 'nan'/'inf'; NaN sizes would diverge the
        # scalar vs vectorized table-filter paths, so parse must reject them
        for bad in ("L\x1f0\x1f40.0\x1f50.0\x1fnan\x1f0\x1fHelv\x1fhi",
                    "L\x1f0\x1fnan\x1f50.0\x1f10.0\x1f0\x1fHelv\x1fhi",
                    "L\x1f0\x1f40.0\x1finf\x1f10.0\x1f0\x1fHelv\x1fhi",
                    "L\x1f0\x1f40.0\x1f50.0\x1f-inf\x1f0\x1fHelv\x1fhi",
                    "L\x1f-1\x1f40.0\x1f50.0\x1f10.0\x1f0\x1fHelv\x1fhi"):
            with pytest.raises(ParseError):
                parse_pdf_page_stream(bad)

    def test_numerics_outside_grammar_raise(self):
        # int()/float() accept each of these: a non-ASCII digit, a leading
        # '+', '_' separators, surrounding spaces (' 1_0.5 ' -> 10.5), an
        # exponent, a bare point
        for bad in ("L\x1f٣\x1f40.0\x1f50.0\x1f10.0\x1f0\x1fHelv\x1fhi",
                    "L\x1f+1\x1f40.0\x1f50.0\x1f10.0\x1f0\x1fHelv\x1fhi",
                    "L\x1f0\x1f4_0.0\x1f50.0\x1f10.0\x1f0\x1fHelv\x1fhi",
                    "L\x1f0\x1f40.0\x1f50.0\x1f 1_0.5 \x1f0\x1fHelv\x1fhi",
                    "L\x1f 0\x1f40.0\x1f50.0\x1f10.0\x1f0\x1fHelv\x1fhi",
                    "L\x1f0\x1f40.0\x1f+50.0\x1f10.0\x1f0\x1fHelv\x1fhi",
                    "L\x1f0\x1f40.0\x1f50.0\x1f1e1\x1f0\x1fHelv\x1fhi",
                    "L\x1f0\x1f.5\x1f50.0\x1f10.0\x1f0\x1fHelv\x1fhi",
                    # grammatical, but past int()'s digit limit / float's range
                    "L\x1f" + "7" * 5000 + "\x1f40.0\x1f50.0\x1f10.0\x1f0\x1fHelv\x1fhi",
                    "L\x1f0\x1f40.0\x1f50.0\x1f" + "9" * 400 + "\x1f0\x1fHelv\x1fhi"):
            with pytest.raises(ParseError):
                parse_pdf_page_stream(bad)

    def test_numeric_grammar_edges_parse(self):
        s = "L\x1f12\x1f-0.5\x1f7\x1f10.04\x1f0\x1fHelv\x1fhi"
        b, = parse_pdf_page_stream(s)
        assert (b["page"], b["y0"], b["y1"], b["size"]) == (12, -0.5, 7.0, 10.0)


class TestGenerator:
    def test_deterministic(self):
        assert gen_corpus(30, seed=42) == gen_corpus(30, seed=42)
        assert gen_corpus(30, seed=42) != gen_corpus(30, seed=7)

    def test_head_words_dodge_form_veto(self):
        # generator heading vocabulary must not trip the substring veto
        for w in HEAD_WORDS:
            assert not pdfheur.is_form_field_number(f"1. {w} {w}"), w

    def test_offsets_dense(self):
        for r in gen_corpus(50):
            assert [s["offset"] for s in r["spans"]] == list(range(len(r["spans"])))

    def test_archetypes_forced(self):
        for a in ("form", "report", "proposal", "flyer", "webpage", "mixed"):
            d = gen_doc("doc-x", archetype=a)
            assert d["spans"], a


class TestOracle:
    def test_corpus_properties(self):
        rows = gen_corpus(200, seed=42)
        out = run_oracle(rows)
        all_kinds = {s["kind"] for spans in out.values() for s in spans}
        assert all_kinds == {"title", "h1", "h2", "h3", "h4", "body", "media"}
        # corrupt docs -> empty output, counted as failures
        n_corrupt = corrupt_count(rows)
        assert n_corrupt >= 1
        assert oracle_failures(rows) == n_corrupt
        empties = [d for d, s in out.items() if not s]
        assert len(empties) == n_corrupt
        # every non-error doc: title first, offsets dense, media_ref only on media
        for d, spans in out.items():
            if not spans:
                continue
            assert spans[0]["kind"] == "title" and spans[0]["offset"] == 0
            assert [s["offset"] for s in spans] == list(range(len(spans)))
            for s in spans:
                assert (s["media_ref"] != "") == (s["kind"] == "media") or s["media_ref"] == ""
                if s["kind"] == "media":
                    assert s["media_ref"].startswith("img://") or s["media_ref"] == ""

    def test_media_passthrough_preserved(self):
        d = gen_doc("doc-media", archetype="mixed")
        refs_in = [s["media_ref"] for s in d["spans"] if s["kind"] == "media"]
        out, fails = __import__("pdf_extractor_spark.core.extract", fromlist=["x"]).extract_document(d["spans"])
        if fails:
            pytest.skip("corrupt roll")
        refs_out = [s["media_ref"] for s in out if s["kind"] == "media" and s["media_ref"].startswith("img://")]
        for r in refs_in:
            assert r in refs_out
