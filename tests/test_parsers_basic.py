"""Unit tests for the non-PDF parsers and the markdown flatten semantics.

Expected strings are hand-derived from the reference semantics
(/root/reference/doc_parser/dom_parser/parsers/txt/converter.py,
domtree/domtree.py:219-273, layout_parser/docx_parser.py:40-61,
layout_parser/csv_parser.py:19-64).
"""

import json

from bella_domify_spark.parsers import csvlike, docxlike, markdown, txt
from bella_domify_spark.parsers.dispatch import detect_format, parse_payload


class TestTxt:
    # the plaintext emitter's flatten (txt.record; the tree path it is
    # pinned to is tests/test_direct_emit.py)
    @staticmethod
    def _flat(text):
        return txt.record(text)[1]

    def test_plain_paragraph(self):
        assert self._flat("Hello world.") == "Hello world.\n\n"

    def test_multiline_kept_verbatim(self):
        s = "line one\nline two\n\nline three"
        assert self._flat(s) == s + "\n\n"

    def test_list_quirk_ordered(self):
        # whole content is ONE line; "1. " matches the ordered-list regex →
        # List node at level 1 → "# " prefix (reference flatten quirk)
        assert self._flat("1. first item") == "# 1. first item\n\n"

    def test_list_quirk_special_char(self):
        assert self._flat("• bullet") == "# • bullet\n\n"

    def test_hash_is_special_char(self):
        # '#' is not in the excluded punctuation set → unordered list marker
        assert self._flat("# Title") == "# # Title\n\n"


class TestMarkdownTokenizer:
    def test_flatten_stable_canonical(self):
        src = "# Title\n\npara one.\n\n- item a\n\n- item b\n\npara two."
        tree = markdown.parse(src)
        assert tree.to_markdown() == src.rstrip() + "\n\n"

    def test_heading_nesting(self):
        tree = markdown.parse("# A\n\n## B\n\npara\n\n# C")
        root = tree.root
        assert len(root.child) == 2  # A, C
        a = root.child[0]
        assert a.element.text == "A"
        assert a.child[0].element.text == "B"
        assert a.child[0].child[0].element.text == "para"

    def test_fenced_code_block(self):
        src = "intro\n\n```python\nx = 1\n```"
        tree = markdown.parse(src)
        code = tree.root.child[1]
        assert code.element.layout_type == "Code"
        assert tree.to_markdown() == "intro\n\n```python\nx = 1\n```\n\n"

    def test_table_rows(self):
        raw = "| a | b |\n| --- | --- |\n| 1 | 2 |"
        rows = markdown.parse_table_rows(raw)
        assert rows == [["a", "b"], ["1", "2"]]

    def test_bullets_under_paragraph_are_lists(self):
        tree = markdown.parse("para\n\n- x\n\n- y")
        para = tree.root.child[0]
        assert [c.element.layout_type for c in para.child] == ["List", "List"]


class TestDocxLike:
    XML = ('<w:document><w:body>'
           '<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
           '<w:r><w:t>Intro</w:t></w:r></w:p>'
           '<w:p><w:r><w:t>Body text.</w:t></w:r></w:p>'
           '<w:p></w:p>'
           '<w:tbl><w:tr><w:tc><w:p><w:r><w:t>c1</w:t></w:r></w:p></w:tc>'
           '<w:tc><w:p><w:r><w:t>c2</w:t></w:r></w:p></w:tc></w:tr>'
           '<w:tr><w:tc><w:p><w:r><w:t>c3</w:t></w:r></w:p></w:tc>'
           '<w:tc><w:p><w:r><w:t>c4</w:t></w:r></w:p></w:tc></w:tr></w:tbl>'
           '</w:body></w:document>')

    def test_flat_text_reference_semantics(self):
        # every block contributes "；"+text; table cells folded with " | "
        # starting from the empty string (leading " | ")
        assert docxlike.extract_text(self.XML) == \
            "；Intro；Body text.； | c1 | c2 | c3 | c4"

    def test_tree_structure(self):
        tree = docxlike.parse(self.XML)
        intro = tree.root.child[0]
        assert intro.element.is_title
        assert intro.element.text == "Intro"
        body = intro.child[0]
        assert body.element.text == "Body text."
        table = body.child[0]
        assert table.element.is_table_block
        assert table.element.rows[0][0].text == "c1"

    def test_flatten_contains_html_table(self):
        md = docxlike.parse(self.XML).to_markdown()
        assert "# Intro\n\n" in md
        assert "<td rowspan='1' colspan='1'>c4</td>" in md

    def test_empty_paragraph_skipped(self):
        xml = "<w:document><w:body><w:p><w:r><w:t>  </w:t></w:r></w:p></w:body></w:document>"
        assert docxlike.extract_text(xml) == ""


class TestCsv:
    def test_normalize(self):
        # embedded newline inside a quoted field → U+2028
        src = 'a,b\n"x\ny",z\n'
        assert csvlike.normalize_text(src) == "a,b\nx y,z\n"

    def test_markdown_table(self):
        src = "h1,h2\nv1,v2\n"
        assert csvlike.to_markdown_table(src) == \
            "| h1 | h2 |\n| --- | --- |\n| v1 | v2 |"


class TestXlsxLike:  # F8/F9, xlsx_parser.py:20-46 + excel/converter.py:85-417
    PAYLOAD = ('{"sheets":[{"name":"A","rows":[["h1","h2","h3"],'
               '["a",null,{"date":[2026,3,4,0,0,0]}]],"merged":[[0,1,0,2]]},'
               '{"name":"B","rows":[[1.0,"x"]]}]}')

    def test_layout_text_sheet_headers_and_none_quirk(self):
        from bella_domify_spark.parsers import xlsxlike
        txt = xlsxlike.layout_text(self.PAYLOAD)
        # covered merge cell AND null cell render as the literal "None"
        # (openpyxl yields None for both; reference str()s it)
        assert txt == ("Sheet: A\nh1\tNone\th3\t\na\tNone\t2026-03-04\t\n\n"
                       "Sheet: B\n1.0\tx\t\n\n")

    def test_domtree_merged_cells_and_dates(self):
        from bella_domify_spark.parsers import xlsxlike
        md = xlsxlike.extract_text(self.PAYLOAD)
        assert "colspan='2'>h1</td>" in md            # 1x2 merge spans
        assert md.count("<table>") == 2               # one table per sheet
        assert "2026-03-04</td>" in md                # date-only formatting
        assert "<td rowspan='1' colspan='1'></td>" in md  # null → '' in tree

    def test_datetime_formatting(self):
        from bella_domify_spark.parsers.xlsxlike import _fmt_date
        assert _fmt_date([2026, 3, 4, 0, 0, 0]) == "2026-03-04"
        assert _fmt_date([2026, 3, 4, 5, 6, 7]) == "2026-03-04 05:06:07"

    def test_dispatch_route(self):
        rec = parse_payload(self.PAYLOAD)
        assert rec["fmt"] == "xlsxlike"
        assert rec["status"] == "ok"
        assert rec["extracted_text"].count("<table>") == 2


class TestPptxLike:  # F7, layout_parser/pptx_parser.py:22-67
    PAYLOAD = ('{"slides":[{"shapes":['
               '{"type":"text_box","text":"hello deck"},'
               '{"type":"placeholder","placeholder":"body"},'
               '{"type":"placeholder","placeholder":"picture"},'
               '{"type":"picture"},'
               '{"type":"table","rows":[["a","b"],["c","d"]]},'
               '{"type":"text_box","text":""}]}]}')

    def test_layout_blocks_and_quirks(self):
        from bella_domify_spark.parsers import pptxlike
        blocks = pptxlike.layout_blocks(self.PAYLOAD)
        # empty text box skipped; body placeholder kept with EMPTY text;
        # picture placeholder + picture → IMAGE; table leads with ' | '
        assert blocks == [("TEXT", "hello deck"), ("TEXT", ""),
                          ("IMAGE", None), ("IMAGE", None),
                          ("TABLE", " | a | b | c | d")]

    def test_flat_text(self):
        from bella_domify_spark.parsers import pptxlike
        # five blocks (text, empty placeholder, two images, table) → five
        # '；' separators
        assert pptxlike.flat_text(self.PAYLOAD) == \
            "；hello deck；；；； | a | b | c | d"

    def test_dispatch_route(self):
        rec = parse_payload(self.PAYLOAD)
        assert rec["fmt"] == "pptxlike"
        assert rec["status"] == "ok"
        assert rec["extracted_text"].startswith("；hello deck")


class TestDispatch:
    def test_detect(self):
        assert detect_format('{"pages": []}') == "pdflike"
        assert detect_format('{"sheets": []}') == "xlsxlike"
        assert detect_format('{"slides": []}') == "pptxlike"
        assert detect_format("<w:document><w:body/></w:document>") == "docxlike"
        assert detect_format("# hi\n\ntext") == "markdown"
        assert detect_format("just words") == "plaintext"
        assert detect_format("") == "empty"
        assert detect_format(None) == "empty"

    def test_markdown_equality_target_is_txt_rule(self):
        src = "## Heading\n\nbody"
        rec = parse_payload(src)
        # '#' special-char list quirk applies to the whole payload
        assert rec["extracted_text"] == "# " + src + "\n\n"
        assert rec["fmt"] == "markdown"

    def test_never_raises(self):
        rec = parse_payload('{"pages": "garbage"}')
        assert rec["status"].startswith(("ok", "error:"))

    def test_domtree_json_roundtrip(self):
        rec = parse_payload("plain body text.")
        doc = json.loads(rec["domtree_json"])
        assert doc["root"]["child"][0]["element"]["text"] == "plain body text."


class TestCharsetCascades:
    def test_layout_cascade_gbk_first_quirk(self):
        # reference csv_parser.py:21 tries gbk BEFORE utf-8. For utf-8
        # Chinese whose bytes happen to form valid gbk pairs, the layout
        # cascade yields gbk mojibake while the markdown cascade (utf-8
        # first, csv_parser.py:44) decodes correctly — pinned, because the
        # reference ships exactly that divergence
        from bella_domify_spark.functions.charset import (
            CSV_LAYOUT_CASCADE,
            CSV_MARKDOWN_CASCADE,
            decode_cascade,
        )

        utf8_cn = "\u6c49\u5b57\u6587\u672c".encode("utf-8")  # 汉字文本
        assert decode_cascade(utf8_cn, CSV_LAYOUT_CASCADE) == \
            utf8_cn.decode("gbk")                     # mojibake, like prod
        assert decode_cascade(utf8_cn, CSV_MARKDOWN_CASCADE) == \
            "\u6c49\u5b57\u6587\u672c"
        # bytes gbk CANNOT decode fall through to utf-8 on both cascades
        utf8_cn2 = "\u4e2d\u6587".encode("utf-8")   # 中文: gbk-illegal
        assert decode_cascade(utf8_cn2, CSV_LAYOUT_CASCADE) == "\u4e2d\u6587"

    def test_real_gbk_and_ascii_roundtrip(self):
        from bella_domify_spark.functions.charset import decode_cascade

        assert decode_cascade("\u76ee\u5f55\u8868".encode("gbk")) == \
            "\u76ee\u5f55\u8868"
        assert decode_cascade(b"plain ascii text") == "plain ascii text"

    def test_detect_and_decode_without_chardet(self):
        import importlib.util

        import pytest

        if importlib.util.find_spec("chardet") is not None:
            pytest.skip("chardet installed: detect branch takes over")
        from bella_domify_spark.functions.charset import detect_and_decode

        assert detect_and_decode("h\u00e9llo".encode("utf-8")) == "h\u00e9llo"
        # approximation limit (documented): 2-byte gbk that is also valid
        # utf-8 mojibakes without chardet; with chardet installed the
        # detect branch would return the gbk reading
        gbk = "\u76ee\u5f55".encode("gbk")
        assert detect_and_decode(gbk) == gbk.decode("utf-8")
        # arbitrary bytes terminate at latin1 (never raises)
        assert isinstance(detect_and_decode(bytes(range(256))), str)

    def test_detect_none_falls_to_gbk_parity(self, monkeypatch):
        # reference parity branch (txt/converter.py:16-19): when chardet
        # cannot classify (encoding=None) the reference's decode(None)
        # raises and the handler decodes gbk. Pin with a fake chardet so
        # the branch executes regardless of the real library's presence.
        import sys
        import types

        fake = types.ModuleType("chardet")
        fake.detect = lambda data: {"encoding": None}
        monkeypatch.setitem(sys.modules, "chardet", fake)
        from bella_domify_spark.functions.charset import detect_and_decode

        gbk = "目录表".encode("gbk")
        assert detect_and_decode(gbk) == "目录表"

    def test_detect_result_decode_failure_falls_to_gbk(self, monkeypatch):
        import sys
        import types

        fake = types.ModuleType("chardet")
        fake.detect = lambda data: {"encoding": "utf-8"}
        monkeypatch.setitem(sys.modules, "chardet", fake)
        from bella_domify_spark.functions.charset import detect_and_decode

        gbk = "汉字文本".encode("gbk")  # invalid utf-8 → fallback path
        assert detect_and_decode(gbk) == "汉字文本"
