"""Unit tests: reference-parity heuristics (SURVEY.md §5 t1).

Each test pins a behavior of /root/reference/1A/app/extractor.py by
file:line, including its quirks (substring form-veto, tuple-sort title
tie-break, pairwise-only merge).
"""

from pdf_extractor_spark.core import pdfheur as H


def blk(text, page=0, y0=40.0, size=10.0, bold=False, font="Helv", y1=None):
    return {"text": text, "page": page, "y0": y0, "y1": y1 if y1 is not None else y0 + size,
            "size": size, "bold": bold, "font": font, "flags": 16 if bold else 0}


NO_CAND = {"dominant_size": 10.0, "dominant_percentage": 0.9, "heading_candidates": {}}
CAND_14_H1 = {"dominant_size": 10.0, "dominant_percentage": 0.9,
              "heading_candidates": {14.0: {"percentage": 0.02, "level": 1}}}


class TestScorer:
    # extractor.py:146-207

    def test_numbered_bold_is_heading(self):
        ok, level = H.is_potential_heading(blk("1. Overview Methods", bold=True), NO_CAND, [])
        assert ok and level == 1  # +3 numbered +2 bold

    def test_numbered_alone_scores_3_not_heading(self):
        ok, _ = H.is_potential_heading(blk("1. Overview Methods"), NO_CAND, [])
        assert not ok

    def test_form_field_veto(self):
        # 'name of' indicator (extractor.py:25) vetoes the numbered score
        ok, _ = H.is_potential_heading(blk("1. Name of Employee", bold=True), NO_CAND, [])
        assert not ok

    def test_si_substring_quirk(self):
        # 'si' matches inside 'Expansion' (extractor.py:27 'si' indicator)
        assert H.is_form_field_number("1. Expansion Plans")
        assert H.is_form_field_number("2. Design Review")
        assert not H.is_form_field_number("1. Overview Methods")

    def test_font_candidate_plus_5(self):
        ok, level = H.is_potential_heading(blk("Quarterly Outlook", size=14.0), CAND_14_H1, [])
        assert ok and level == 1

    def test_all_caps_bold(self):
        ok, level = H.is_potential_heading(blk("SCHEDULE OF EVENTS", bold=True), NO_CAND, [])
        assert ok and level == 1  # score 4, level max(0,1)=1 ... via default classify? no: level stays 0 -> max(...,1)

    def test_length_gates(self):
        assert H.is_potential_heading(blk("ab", bold=True), CAND_14_H1, []) == (False, 0)
        assert H.is_potential_heading(blk("x" * 201, bold=True), CAND_14_H1, []) == (False, 0)

    def test_appendix_bonus(self):
        ok, level = H.is_potential_heading(blk("Appendix A: Tables", bold=False), NO_CAND, [])
        # +3 appendix, not bold, not caps -> 3 < 4
        assert not ok
        ok, level = H.is_potential_heading(blk("Appendix A: Tables", bold=True), NO_CAND, [])
        # level classify only runs via the colon path (extractor.py:170-173);
        # here detected_level stays 0 -> max(0,1)=1
        assert ok and level == 1
        # colon form reaches classify_heading_level -> Appendix [ABC]: -> 2
        ok, level = H.is_potential_heading(blk("Appendix A:", bold=True), NO_CAND, [])
        assert ok and level == 2

    def test_numbered_level_2_and_3(self):
        ok, level = H.is_potential_heading(blk("1.2 Budget Review", bold=True), NO_CAND, [])
        assert ok and level == 2
        ok, level = H.is_potential_heading(blk("1.2.3 Budget Review", bold=True), NO_CAND, [])
        assert ok and level == 3


class TestColonHeading:
    # extractor.py:85-124

    def test_pattern_path(self):
        assert H.is_colon_heading(blk("Timeline:", bold=True), [])

    def test_requires_bold(self):
        assert not H.is_colon_heading(blk("Timeline:", bold=False), [])

    def test_requires_colon(self):
        assert not H.is_colon_heading(blk("Timeline", bold=True), [])

    def test_gap_fallback_uses_y0(self):
        cur = blk("xx yy zz:", bold=True, y0=100.0)
        nxt = blk("body", y0=111.0)
        # '^[A-Z][a-zA-Z\s]+$' is IGNORECASE so 'xx yy zz' matches anyway;
        # use digits to dodge the patterns and exercise the gap path
        cur_d = blk("x1 2:", bold=True, y0=100.0)
        assert H.is_colon_heading(cur_d, [blk("b", y0=111.0)])
        assert not H.is_colon_heading(cur_d, [blk("b", y0=105.0)])
        assert H.is_colon_heading(cur, [nxt])

    def test_h4_level_for_each(self):
        b = blk("For each phase it could mean:", bold=True)
        assert H.classify_heading_level(b, NO_CAND, is_colon=True) == 4
        assert H.classify_heading_level(blk("Timeline:", bold=True), NO_CAND, is_colon=True) == 3


class TestRecurringHeaders:
    # extractor.py:286-359

    def _psc(self):
        mk = lambda p: [{"text": "Draft Report", "font_size": 9.0, "is_bold": False, "page": p}]
        return [mk(0), mk(1), mk(2), [{"text": "other", "font_size": 9.0, "is_bold": False, "page": 3}]]

    def test_sixty_percent_over_pages_after_first(self):
        rec = H.find_recurring_headers(self._psc())
        # appears on 2 of 3 checked pages (page 0 excluded) = 66% >= 60%
        assert ("Draft Report", 9.0, False) in rec

    def test_exact_formatting_required(self):
        rec = {("Draft Report", 9.0, False)}
        assert H.is_recurring_header(blk("Draft Report", size=9.0, bold=False), rec)
        assert not H.is_recurring_header(blk("Draft Report", size=10.0, bold=False), rec)
        assert not H.is_recurring_header(blk("Draft Report", size=9.0, bold=True), rec)

    def test_containment_both_ways(self):
        rec = {("Draft Report", 9.0, False)}
        assert H.is_recurring_header(blk("Draft", size=9.0), rec)          # block in header
        assert H.is_recurring_header(blk("My Draft Report 2", size=9.0), rec)  # header in block

    def test_single_page_no_recurring(self):
        assert H.find_recurring_headers([self._psc()[0]]) == set()


class TestTableFilter:
    # extractor.py:365-456

    def _table_blocks(self):
        bs = [blk(str(100 + i), size=9.0, y0=40.0 + 10 * i) for i in range(8)]
        bs.insert(0, blk("SCHEDULE OF EVENTS AND TIMES", size=9.0, bold=True, y0=30.0))
        return bs

    def test_cells_dropped_header_rescued(self):
        out = H.skip_table_body(self._table_blocks())
        texts = [b["text"] for b in out]
        assert "SCHEDULE OF EVENTS AND TIMES" in texts  # bold rescue (extractor.py:438)
        assert all(not t.isdigit() for t in texts)      # numeric cells dropped

    def test_obvious_cell_never_rescued(self):
        bs = [blk("$42", size=9.0, bold=True, y0=40.0 + 10 * i) for i in range(8)]
        out = H.skip_table_body(bs)
        assert out == []  # bold but ^\$\d+ matches obvious-cell (extractor.py:452)

    def test_long_sentences_survive(self):
        long = "This sentence is quite long and has well over fifty characters in it."
        bs = [blk(long, size=10.0, y0=40.0 + 20 * i) for i in range(8)]
        assert H.skip_table_body(bs) == bs


class TestMerge:
    # extractor.py:574-680

    def _h(self, text, page=0, level=1, size=14.0, bold=True, y0=40.0, font="HelvBold"):
        b = blk(text, page=page, size=size, bold=bold, y0=y0, font=font)
        b["detected_level"] = level
        return b

    def test_short_fragment_merges(self):
        hs = [self._h("RFP: R", y0=40.0), self._h("equest for Proposal", y0=60.0)]
        m = H.merge_consecutive_headings(hs)
        assert len(m) == 1 and m[0]["text"] == "RFP: R equest for Proposal"

    def test_no_transitive_chain(self):
        # pairwise only (extractor.py:594 'Only look at the very next heading')
        hs = [self._h("RFP: R"), self._h("eq f"), self._h("or Pr")]
        m = H.merge_consecutive_headings(hs)
        assert [x["text"] for x in m] == ["RFP: R eq f", "or Pr"]

    def test_lowercase_continuation(self):
        hs = [self._h("Overview of the Plan Stage"), self._h("continued here")]
        m = H.merge_consecutive_headings(hs)
        assert len(m) == 1

    def test_different_page_no_merge(self):
        hs = [self._h("RFP: R", page=0), self._h("equest", page=1)]
        assert len(H.merge_consecutive_headings(hs)) == 2

    def test_formatting_merge_requires_adjacency(self):
        a = self._h("3. Overview of the Foundation", y0=40.0)
        b_near = self._h("Syllabus", y0=56.0)   # gap = |56 - 54| = 2 <= 20
        b_far = self._h("Syllabus", y0=120.0)
        assert len(H.merge_consecutive_headings([a, b_near])) == 1
        assert len(H.merge_consecutive_headings([a, b_far])) == 2

    def test_terminal_punctuation_blocks_formatting_merge(self):
        a = self._h("This heading ends here.", y0=40.0)
        b = self._h("Extra", y0=56.0)
        assert len(H.merge_consecutive_headings([a, b])) == 2


class TestTitle:
    # extractor.py:515-573

    def test_fallback_tuple_sort_desc(self):
        # (size, text) reverse sort: size desc then text desc (extractor.py:570)
        bs = [blk("alpha", size=12.0), blk("zeta", size=12.0), blk("small", size=9.0)]
        assert H.extract_title(bs) == "zeta"

    def test_untitled(self):
        assert H.extract_title([]) == "Untitled Document"

    def test_merging_path_first_merged_wins(self):
        bs = [blk("RFP: R", size=20.0, bold=True, font="HelvBold", y0=40.0),
              blk("equest for Proposal", size=20.0, bold=True, font="HelvBold", y0=60.5)]
        assert H.extract_title_with_merging(bs) == "RFP: R equest for Proposal"


class TestTitleDuplicate:
    # extractor.py:846-873

    def test_exact(self):
        assert H.is_title_duplicate("annual report", "annual report")

    def test_containment_needs_len_gt_10(self):
        assert H.is_title_duplicate("annual budget rep", "annual budget report 2024")
        assert not H.is_title_duplicate("annual", "annual budget report 2024")

    def test_word_ratio(self):
        assert H.is_title_duplicate("budget report 2024", "the annual budget report 2024 final")
        assert not H.is_title_duplicate("budget report extras", "the annual budget report 2024")


class TestEndToEndDoc:
    def test_recurring_header_removed_and_headings_found(self):
        blocks = []
        for p in range(3):
            y = 30.0
            if p > 0:
                blocks.append(blk("Confidential Draft", page=p, size=9.0, y0=y)); y += 14
            if p == 0:
                blocks.append(blk("Annual Growth Report 2024", page=p, size=20.0,
                                  bold=True, font="HelvBold", y0=y)); y += 24
            blocks.append(blk(f"{p + 1}. Market Outlook Review", page=p, size=14.0,
                              bold=True, font="HelvBold", y0=y)); y += 18
            for i in range(12):
                blocks.append(blk(f"body sentence number {i} with plenty of ordinary words "
                                  f"to keep it long and prose like.", page=p, y0=y)); y += 14
        for b in blocks:
            b["src_span"] = 0
        title, items = H.extract_pdf_document(blocks)
        assert title == "Annual Growth Report 2024"
        kinds = [i["kind"] for i in items]
        assert kinds.count("h1") == 3
        assert all(i["text"] != "Confidential Draft" for i in items)
        assert all(i["text"] != title for i in items if i["kind"].startswith("h"))
