"""Hidden-text filter (P2), pseudo-bold detection (P3), overlapped-line
dedup (P4) — glyph-document restore-time cleanups.

Reference: RawPageFitz.py:54-133 (hidden text + pseudo bold),
Blocks.py:338-354 (overlap dedup, threshold 0.9 on the smaller box).
"""

import json

from bella_domify_spark.parsers.pdflike import glyphdoc


def _line(text, bbox, font="H", size=10.5):
    return {"bbox": bbox, "dir": [1.0, 0.0], "spans": [
        {"text": text, "bbox": bbox, "font": font, "size": size}]}


def _doc(blocks, texttrace=None):
    page = {"width": 612.0, "height": 792.0,
            "blocks": [{"type": 0, "bbox": l["bbox"], "lines": [l]} for l in blocks],
            "shapes": []}
    if texttrace is not None:
        page["texttrace"] = texttrace
    return json.dumps({"pages": [page]})


class TestHiddenText:
    def test_hidden_block_dropped(self):
        visible = _line("visible", [72, 100, 172, 111])
        hidden = _line("secret", [72, 200, 172, 211])
        payload = _doc([visible, hidden], texttrace=[
            {"type": 3, "bbox": [72, 200, 172, 211], "font": "H",
             "chars": "secret"}])
        pages = glyphdoc.load(payload)
        assert [l.text for l in pages[0].lines] == ["visible"]

    def test_font_mismatch_keeps_block(self):
        hidden = _line("kept", [72, 200, 172, 211], font="H")
        payload = _doc([hidden], texttrace=[
            {"type": 3, "bbox": [72, 200, 172, 211], "font": "OTHER",
             "chars": "kept"}])
        pages = glyphdoc.load(payload)
        assert [l.text for l in pages[0].lines] == ["kept"]

    def test_partial_overlap_below_half_keeps_block(self):
        line = _line("kept", [72, 200, 172, 211])
        payload = _doc([line], texttrace=[
            {"type": 3, "bbox": [160, 200, 172, 211], "font": "H",
             "chars": "x"}])
        pages = glyphdoc.load(payload)
        assert [l.text for l in pages[0].lines] == ["kept"]


class TestPseudoBold:
    def test_stroke_after_fill_marks_bold(self):
        line = _line("Heading", [72, 100, 172, 111])
        payload = _doc([line], texttrace=[
            {"type": 0, "bbox": [72, 100, 172, 111], "font": "H",
             "chars": "Heading"},
            {"type": 1, "bbox": [72, 100, 172, 111], "font": "H",
             "chars": "Heading"},
        ])
        pages = glyphdoc.load(payload)
        assert pages[0].lines[0].spans[0].pseudo_bold

    def test_unrelated_stroke_not_bold(self):
        line = _line("Body", [72, 100, 172, 111])
        payload = _doc([line], texttrace=[
            {"type": 0, "bbox": [72, 100, 172, 111], "font": "H",
             "chars": "Body"},
            {"type": 1, "bbox": [72, 300, 172, 311], "font": "H",
             "chars": "Other"},
        ])
        pages = glyphdoc.load(payload)
        assert not pages[0].lines[0].spans[0].pseudo_bold


class TestOverlapDedup:
    def test_duplicate_kept_largest(self):
        big = _line("duplicated line big", [72, 100, 272, 112])
        small = _line("duplicated line", [72, 100, 252, 111])
        other = _line("other", [72, 200, 172, 211])
        pages = glyphdoc.load(_doc([big, small, other]))
        texts = [l.text for l in pages[0].lines]
        assert texts == ["duplicated line big", "other"]

    def test_mild_overlap_kept(self):
        a = _line("left half", [72, 100, 172, 111])
        b = _line("right half", [160, 100, 260, 111])  # ~12% of smaller
        pages = glyphdoc.load(_doc([a, b]))
        assert len(pages[0].lines) == 2


class TestFloatingImages:  # P5, Blocks.py:321-336, gap config.py:22
    def test_overlapping_image_leaves_flow(self):
        text = _line("body text line with words", [72, 100, 300, 111])
        img = {"bbox": [80, 95, 200, 140], "dir": [1.0, 0.0], "spans": [
            {"type": "image", "bbox": [80, 95, 200, 140]}]}
        pages = glyphdoc.load(_doc([text]) )
        # build a combined doc: text + deeply overlapping image line
        doc = json.loads(_doc([text]))
        doc["pages"][0]["blocks"].append({"type": 0, "bbox": img["bbox"],
                                          "lines": [img]})
        pages = glyphdoc.load(json.dumps(doc))
        page = pages[0]
        assert [l.text for l in page.lines] == ["body text line with words"]
        assert len(page.float_image_lines) == 1
        assert page.float_image_lines[0].has_image

    def test_isolated_image_stays_in_flow(self):
        text = _line("body text line with words", [72, 100, 300, 111])
        img = {"bbox": [72, 300, 200, 400], "dir": [1.0, 0.0], "spans": [
            {"type": "image", "bbox": [72, 300, 200, 400]}]}
        doc = json.loads(_doc([text]))
        doc["pages"][0]["blocks"].append({"type": 0, "bbox": img["bbox"],
                                          "lines": [img]})
        page = glyphdoc.load(json.dumps(doc))[0]
        assert len(page.float_image_lines) == 0
        assert len(page.lines) == 2

    def test_shallow_overlap_not_floating(self):
        # overlap must exceed 2*gap (10pt) per axis; 8pt overlap stays inline
        text = _line("body text line with words", [72, 100, 300, 111])
        img = {"bbox": [292, 103, 400, 180], "dir": [1.0, 0.0], "spans": [
            {"type": "image", "bbox": [292, 103, 400, 180]}]}
        doc = json.loads(_doc([text]))
        doc["pages"][0]["blocks"].append({"type": 0, "bbox": img["bbox"],
                                          "lines": [img]})
        page = glyphdoc.load(json.dumps(doc))[0]
        assert len(page.float_image_lines) == 0


class TestFontEnrichment:  # P6, font/Fonts.py:59-136 + RawPage.py:105-124
    def test_name_normalized_and_line_height_set(self):
        doc = json.loads(_doc([_line("some body text", [72, 100, 300, 111],
                                     font="BCDGEE+Calibri-Bold", size=10.0)]))
        doc["fonts"] = {"BCDGEE+Calibri-Bold": {"name": "Calibri",
                                                "ratio": 1.2}}
        page = glyphdoc.load(json.dumps(doc))[0]
        span = page.lines[0].spans[0]
        assert span.font == "Calibri"
        assert span.line_height == 12.0        # ratio * size

    def test_unknown_font_untouched(self):
        page = glyphdoc.load(_doc([_line("text", [72, 100, 300, 111],
                                         font="Times")]))[0]
        span = page.lines[0].spans[0]
        assert span.font == "Times" and span.line_height is None

    def test_line_spacing_uses_font_metric(self):
        from bella_domify_spark.core.blocks import TextBlock
        from bella_domify_spark.parsers.pdflike.metadata import _parse_line_spacing
        doc = json.loads(_doc([_line("a", [72, 100, 100, 112], size=10.0),
                               _line("b", [72, 120, 100, 132], size=10.0)]))
        doc["fonts"] = {"H": {"name": "H", "ratio": 1.3}}
        page = glyphdoc.load(json.dumps(doc))[0]
        block = TextBlock(lines=page.lines)
        _parse_line_spacing(block)
        # block height 32 / (2 rows * 13.0 font line height) = 1.2308
        assert abs(block.line_space - round(32 / 26.0, 4)) < 1e-6
