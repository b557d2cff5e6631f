"""Cross-page relation tests: paragraph continuation (R4), table
continuation (R3), caption/reference linking (R1/R2).

Reference: extend/page/PageExtend.py:15-29, TextBlockExtend.py:155-163,
TableBlockExtend.py:77-138.
"""

import json

from bella_domify_spark.parsers.pdflike import pipeline


def _line(text, x0, y0, w=None, size=10.5, flags=0):
    w = w if w is not None else len(text) * size * 0.5
    bbox = [x0, y0, x0 + w, y0 + size + 1]
    return {"bbox": bbox, "dir": [1.0, 0.0], "spans": [
        {"text": text, "bbox": bbox, "font": "H", "size": size, "flags": flags}]}


def _page(lines, shapes=(), width=612.0, height=792.0):
    return {"width": width, "height": height,
            "blocks": [{"type": 0, "bbox": l["bbox"], "lines": [l]} for l in lines],
            "shapes": list(shapes)}


FULL = 612.0 - 144  # full column width


class TestParagraphContinuation:
    def test_paragraph_merged_across_pages(self):
        # page 1 ends with a full-width line (not end-of-para), page 2 starts
        # with an unindented line (not start-of-para) → single Text node
        p1_lines = [
            _line("    Intro paragraph that ends properly here.", 72, 100),
            _line("x" * 89, 72, 700, w=FULL),   # full-width last line
        ]
        p2_lines = [
            _line("continuation of the broken paragraph.", 72, 100),
            _line("    Next paragraph with an indent marker.", 72, 130),
        ]
        payload = json.dumps({"pages": [_page(p1_lines), _page(p2_lines)]})
        md = pipeline.extract_text(payload)
        # the full-width line and the continuation flatten into ONE block;
        # NO space at the seam — adjust_last_word runs per page block before
        # the cross-page merge (reference order: Blocks.parse_text_format
        # then domtree_parser merge), so the reference concatenates raw too
        joined = "x" * 89 + "continuation of the broken paragraph."
        assert joined in md

    def test_sentence_end_blocks_continuation(self):
        p1_lines = [_line("Short paragraph ending cleanly.", 72, 700)]
        p2_lines = [_line("    New paragraph on next page.", 72, 100)]
        payload = json.dumps({"pages": [_page(p1_lines), _page(p2_lines)]})
        md = pipeline.extract_text(payload)
        assert "cleanly.\n\n" in md  # separate blocks


def _grid(x0, y0, rows, cols, cw=100, rh=20):
    shapes = []
    for r in range(rows + 1):
        y = y0 + r * rh
        shapes.append({"kind": "stroke", "bbox": [x0 - .3, y - .3, x0 + cols * cw + .3, y + .3],
                       "width": 0.7})
    for c in range(cols + 1):
        x = x0 + c * cw
        shapes.append({"kind": "stroke", "bbox": [x - .3, y0, x + .3, y0 + rows * rh],
                       "width": 0.7})
    return shapes


class TestTableContinuation:
    def test_table_chained_across_pages(self):
        cells1 = [_line("a1", 76, 704, w=20), _line("b1", 176, 704, w=20)]
        cells2 = [_line("a2", 76, 104, w=20), _line("b2", 176, 104, w=20)]
        p1 = {"width": 612.0, "height": 792.0,
              "blocks": [{"type": 0, "bbox": c["bbox"], "lines": [c]} for c in cells1],
              "shapes": _grid(72, 700, 1, 2)}
        p2 = {"width": 612.0, "height": 792.0,
              "blocks": [{"type": 0, "bbox": c["bbox"], "lines": [c]} for c in cells2],
              "shapes": _grid(72, 100, 1, 2)}
        payload = json.dumps({"pages": [p1, p2]})
        md = pipeline.extract_text(payload)
        # rows of page-2 table merged into page-1 table's HTML...
        first_table = md.split("</table>")[0]
        assert "a1" in first_table and "a2" in first_table
        # ...and the chained table is ALSO rendered (reference quirk:
        # merge keeps next_continuous_table set; to_markdown renders both,
        # domtree_parser.py:74-80 + domtree.py:243-248)
        assert md.count("<table>") == 2


class TestCaptionReference:
    def test_caption_below_table_attaches_with_table(self):
        # caption BELOW the table: at tree-build time the table is reached
        # first, so the caption is still unsearched and is appended together
        # with the table under the referencing paragraph
        # (domtree_parser.py:82-88)
        # multi-line paragraph establishes the common line spacing (13pt) so
        # the distant caption line is NOT merged into it
        lines = [
            _line("The data is summarized in 表 1 below for clarity and",
                  72, 100, w=FULL),
            _line("depth, with every metric represented and discussed fully.",
                  72, 113, w=FULL),
            _line("h1", 76, 144, w=20), _line("h2", 176, 144, w=20),
            _line("表 1 result summary", 72, 205),
        ]
        page = {"width": 612.0, "height": 792.0,
                "blocks": [{"type": 0, "bbox": l["bbox"], "lines": [l]} for l in lines],
                "shapes": _grid(72, 140, 1, 2)}
        payload = json.dumps({"pages": [page]})
        tree = pipeline.parse(payload)
        ref_para = tree.root.child[0]
        assert "summarized in 表 1" in ref_para.element.text
        kinds = [c.element.layout_type for c in ref_para.child]
        assert "Table" in kinds and "TableName" in kinds

    def test_caption_above_table_is_ordinary_node(self):
        # caption ABOVE the table is consumed by the stack walk before the
        # table, so only the table attaches to the referencing paragraph —
        # reference-faithful (searched_block check, domtree_parser.py:82)
        lines = [
            _line("The data is summarized in 表 1 below for clarity and",
                  72, 100, w=FULL),
            _line("depth, with every metric represented and discussed fully.",
                  72, 113, w=FULL),
            _line("表 1 result summary", 72, 165),
            _line("h1", 76, 194, w=20), _line("h2", 176, 194, w=20),
        ]
        page = {"width": 612.0, "height": 792.0,
                "blocks": [{"type": 0, "bbox": l["bbox"], "lines": [l]} for l in lines],
                "shapes": _grid(72, 190, 1, 2)}
        tree = pipeline.parse(json.dumps({"pages": [page]}))
        ref_para, caption = tree.root.child
        assert ref_para.element.layout_type == "Text"
        assert ref_para.child == []
        # the caption was consumed by the stack walk first (searched_block),
        # so the table falls to the prev_text_node branch — and the previous
        # text node IS the caption (domtree_parser.py:89-91)
        assert caption.element.layout_type == "TableName"
        assert [c.element.layout_type for c in caption.child] == ["Table"]
