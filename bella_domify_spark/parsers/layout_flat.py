"""Flat layout model: ordered SimpleBlock list per document + "；"-joined text.

This is the reference's *second* output model (alongside the DOM tree):
- SimpleBlock {text, ocr_result, type∈{IMAGE,TEXT,TABLE}, page_num} —
  /root/reference/doc_parser/layout_parser/layout/simple_block.py:15-44
- PDF flat parse — layout_parser/pdf_parser.py:30-73: per page, raw blocks
  sorted by (y0, x0); block text concatenates span texts of lines with dir
  (1,0)|(0,-1); whitespace-only dropped; image blocks kept as IMAGE.
- header/footer vote — services/layout_parse_utils.py:32-80: per-page
  first/last block, de-numbered text equality, frequency > 0.5 and count > 1.
- flat text — layout_parse_utils.py:100-107: fold "；" + text per block
  (so the result starts with "；").

txt/csv/markdown payloads → single TEXT block (txt_parser.py:17-25,
csv normalization first); docx-like payloads walk the XML body
(docx_parser.py:23-69).
"""

from __future__ import annotations

import json

from bella_domify_spark.functions import fastjson
from dataclasses import dataclass, field
from typing import List, Optional

from bella_domify_spark.functions.textutils import remove_number
from bella_domify_spark.parsers.pdflike.glyphdoc import _image_meta
from bella_domify_spark.parsers import docxlike
from bella_domify_spark.parsers.dispatch import (
    FMT_DOCX,
    FMT_EMPTY,
    FMT_MD,
    FMT_PDF,
    FMT_PPTX,
    FMT_XLSX,
    detect_format,
)

TEXT, IMAGE, TABLE = "TEXT", "IMAGE", "TABLE"


@dataclass
class SimpleBlock:
    text: str = ""
    ocr_text: str = ""
    type: str = TEXT
    page_num: int = 0
    is_header: bool = False
    is_footer: bool = False
    # byte-payload metadata stand-in (simple_block.py:16 image_bytes);
    # not part of get_result, like the reference
    image_meta: Optional[dict] = None

    def get_result(self) -> dict:
        return {"text": self.text, "ocr_result": self.ocr_text,
                "type": self.type, "page_num": self.page_num}

    def generate_s3_url(self, image_provider) -> None:
        """simple_block.py:33-38: IMAGE blocks upload their bytes through
        the provider; text becomes the URL, ocr_text the OCR result."""
        if self.type == IMAGE and image_provider is not None:
            url, ocr = image_provider.get_pic_url_and_ocr(
                self.image_meta or {})
            self.text = url
            self.ocr_text = ocr


def _trans_block2text(block: dict) -> str:
    text = ""
    for line in block.get("lines", []):
        d = line.get("dir", [1.0, 0.0])
        if d[0] == 1.0 or d[1] == -1.0:
            for span in line.get("spans", []):
                if span.get("image") or span.get("type") == "image":
                    continue
                if span.get("text") is not None:
                    text += span["text"]
                elif span.get("chars") is not None:
                    text += "".join(c.get("c", "") for c in span["chars"])
    return text


def _mark_holders(page_list: List[List[SimpleBlock]], header: bool) -> None:
    """layout_parse_utils.mark_holder_by_text_similarity semantics."""
    holders = [p[0] if header else p[-1] for p in page_list if p]
    if not holders:
        return
    abstracts = []
    for b in holders:
        abstracts.append(IMAGE if b.type == IMAGE else remove_number(b.text))
    counts: dict = {}
    for a in abstracts:
        counts[a] = counts.get(a, 0) + 1
    best, freq = None, -1
    for a, n in counts.items():
        if n > freq:
            best, freq = a, n
    if best is None:
        return
    if freq / len(abstracts) > 0.5 and freq > 1:
        for b in holders:
            if b.type == IMAGE and best == IMAGE:
                b.is_header = header or b.is_header
                b.is_footer = (not header) or b.is_footer
            elif b.type != IMAGE and remove_number(b.text) == best:
                if header:
                    b.is_header = True
                else:
                    b.is_footer = True


def pdflike_layout(payload: str) -> List[SimpleBlock]:
    doc = fastjson.loads(payload)
    page_list: List[List[SimpleBlock]] = []
    for page_num, page in enumerate(doc.get("pages", [])):
        page_content: List[SimpleBlock] = []
        blocks_sorted = sorted(page.get("blocks", []),
                               key=lambda b: (b["bbox"][1], b["bbox"][0]))
        for block in blocks_sorted:
            if block.get("type", 0) == 0:
                text = _trans_block2text(block)
                if text and not text.isspace():
                    page_content.append(SimpleBlock(type=TEXT, page_num=page_num,
                                                    text=text))
            elif block.get("type") == 1:
                # pdf_parser.py:53-54: image blocks carry their bytes —
                # here the byte-metadata stand-in, extracted by the SAME
                # helper the DOM path uses (glyphdoc._image_meta) so the
                # two models can never desynchronize
                meta = _image_meta(block)
                if "bbox" in block:
                    meta.setdefault("bbox", list(block["bbox"]))
                page_content.append(SimpleBlock(type=IMAGE, page_num=page_num,
                                                image_meta=meta or None))
        page_list.append(page_content)

    _mark_holders(page_list, header=True)
    _mark_holders(page_list, header=False)
    return [b for p in page_list for b in p
            if not b.is_header and not b.is_footer]


def docxlike_layout(payload: str) -> List[SimpleBlock]:
    blocks: List[SimpleBlock] = []
    for kind, data in docxlike.parse_body(payload):
        if kind == "p":
            text, _style, has_image = data
            if text.strip():
                blocks.append(SimpleBlock(type=TEXT, text=text))
            if has_image:
                blocks.append(SimpleBlock(type=IMAGE))
        else:
            t = docxlike.flat_table_text(data)
            if t:
                blocks.append(SimpleBlock(type=TABLE, text=t))
    return blocks


def layout_parse(payload: Optional[str],
                 image_provider=None) -> List[SimpleBlock]:
    """``image_provider`` mirrors get_s3_links_for_simple_block_batch
    (pdf_parser.py:71-73 runs it on the filtered block list, before the
    flat-text fold): IMAGE blocks get text=url + ocr_text set."""
    blocks = _layout_parse_raw(payload)
    if image_provider is not None:
        for b in blocks:
            b.generate_s3_url(image_provider)
    return blocks


def _layout_parse_raw(payload: Optional[str]) -> List[SimpleBlock]:
    fmt = detect_format(payload)
    if fmt == FMT_EMPTY:
        return []
    if fmt == FMT_PDF:
        return pdflike_layout(payload)
    if fmt == FMT_DOCX:
        return docxlike_layout(payload)
    if fmt == FMT_XLSX:
        # xlsx_parser.py:20-46: one TEXT block carrying the Sheet: dump
        from bella_domify_spark.parsers import xlsxlike
        return [SimpleBlock(type=TEXT, text=xlsxlike.layout_text(payload))]
    if fmt == FMT_PPTX:
        # pptx_parser.py:22-67: per-shape TEXT/IMAGE/TABLE blocks
        from bella_domify_spark.parsers import pptxlike
        return [SimpleBlock(type={"TEXT": TEXT, "IMAGE": IMAGE,
                                  "TABLE": TABLE}[k], text=t or "")
                for k, t in pptxlike.layout_blocks(payload)]
    # txt & markdown: whole payload = one TEXT block (txt_parser.py:17-25)
    return [SimpleBlock(type=TEXT, text=payload)]


def flat_text(blocks: List[SimpleBlock]) -> str:
    """trans_simple_block_list2string: '；' + text per TEXT/TABLE block,
    '；' + ocr_result per IMAGE block (empty unless an OCR provider ran
    — layout_parse(image_provider=...))."""
    doc_text = ""
    for b in blocks:
        r = b.get_result()
        if r["type"] in (TEXT, TABLE):
            doc_text += "；" + r["text"]
        else:
            doc_text += "；" + (r["ocr_result"] or "")
    return doc_text


def layout_record(payload: Optional[str], image_provider=None) -> dict:
    """Layout-model projection of one payload: JSON block list + flat text.
    Never raises — malformed payloads yield an empty record (per-document
    error isolation, cf. reference pdf/converter.py:160-166)."""
    try:
        blocks = layout_parse(payload, image_provider=image_provider)
    except Exception:  # noqa: BLE001
        return {"layout_json": None, "layout_text": "", "n_blocks": 0}
    return {
        "layout_json": json.dumps([b.get_result() for b in blocks],
                                  ensure_ascii=False, separators=(",", ":")),
        "layout_text": flat_text(blocks),
        "n_blocks": len(blocks),
    }
