"""PDF-like glyph-document pipeline: payload JSON → DomTree.

Stage order mirrors the reference converter
(/root/reference/doc_parser/dom_parser/parsers/pdf/converter.py:81-108 →
page/Pages.py:37-132 → layout/Blocks.py:265-294 → domtree_parser.py:57-164):

1. restore raw pages (glyphdoc.load: clean-up + list recognition)
2. document scans: header/footer vote → catalog → title marking
3. per page: lattice tables → column split → reading-order sort →
   paragraph join → paragraph split → title identification → hyphen fixup
4. cross-page relations (captions/references/continuations)
5. stack tree build → DomTree

The whole pipeline is per-document and runs inside the Arrow UDF; nothing
here touches Spark.
"""

from __future__ import annotations

from typing import List

from bella_domify_spark.core.blocks import TableBlock, TextBlock
from bella_domify_spark.core.tree import DomTree
from bella_domify_spark.parsers.pdflike import docscan, glyphdoc, metadata, tables
from bella_domify_spark.parsers.pdflike.cluster import sort_in_reading_order_plus
from bella_domify_spark.parsers.pdflike.sections import (
    calculate_margin,
    parse_sections,
)
from bella_domify_spark.parsers.pdflike.paragraphs import (
    adjust_last_word,
    identify_titles,
    join_lines_vertically,
    split_block_by_text,
)
from bella_domify_spark.parsers.pdflike.treebuild import build_tree, construct_relations


def parse(payload: str, parse_stream_table: bool = False,
          image_provider=None) -> DomTree:
    """``parse_stream_table`` defaults False like production
    (reference services/parse_manager.py:572-578). ``image_provider``
    (a providers.ImageStorageProvider) enables the Figure link/OCR path;
    None (the default) keeps images as bare placeholders — same as the
    reference with no provider configured (TextBlockExtend.py:137-143)."""
    pages, bookmark_titles = glyphdoc.load_doc(payload)
    if not pages:
        return DomTree()

    # ---- document-level scans (P7-P10) ----
    docscan.identify_header_footer(pages)
    # PDF-bookmark titles seed the list; the parsed TOC extends it
    # (Pages.py:46 + :126-127)
    catalog_titles = bookmark_titles + docscan.parse_catalog(pages)
    docscan.mark_titles_from_catalog(pages, catalog_titles)

    # ---- page-level layout (P11-P23) ----
    pages_blocks: List[List] = []
    for page in pages:
        # margins from full content (P11) BEFORE tables consume their lines
        # (reference order: clean_up → margin → section → table parse)
        margin = calculate_margin(page)
        x_range = (margin[0], page.width - margin[1])
        page_tables = tables.parse_lattice_tables(page)
        if parse_stream_table:
            page_tables = page_tables + tables.parse_stream_tables(page)
        blocks: List = []
        # strokes + fills join the section row-grouping like the reference
        # (RawPage.py:170-173): a rule spanning the gutter forces a 1-column
        # row. Note the stage order differs (we parse tables first, which
        # consumes table LINES), but table STROKES survive, so table regions
        # still assert their row structure here.
        shapes = list(page.strokes) + list(page.fills)
        for section in parse_sections(page.lines, x_range, shapes=shapes):
            for column in section:
                ordered = sort_in_reading_order_plus(column)
                joined = join_lines_vertically(ordered)
                blocks.extend(_split_blocks(joined))
        # place tables into the flow by vertical position
        for t in page_tables:
            idx = len(blocks)
            for i, b in enumerate(blocks):
                if b.bbox[1] > t.bbox[1]:
                    idx = i
                    break
            blocks.insert(idx, t)
        # floating images (P5): removed from the text flow at load time,
        # re-attached as Figure blocks after it (Pages.py:80, float level)
        for fl in page.float_image_lines:
            blocks.append(TextBlock(lines=[fl]))
        identify_titles(blocks)
        for b in blocks:
            if isinstance(b, TextBlock) and b.is_text_block:
                adjust_last_word(b.lines, delete_end_line_hyphen=True)
            b.page_num = [page.page_id]
        # metadata-only decoration (P22 styles, P24 alignment & spacing) —
        # never changes extracted text
        metadata.parse_text_styles(page)
        metadata.parse_alignment_spacing(blocks, x_range, y_ref=margin[2])
        pages_blocks.append(blocks)

    # ---- image provider (S5/F10 seam) ----
    # TextBlockExtend.image_handler (TextBlockExtend.py:137-143): when a
    # provider is configured, each image block's FIRST image span is
    # uploaded and OCR'd; the results drive the Figure markdown path
    if image_provider is not None:
        for blocks in pages_blocks:
            for b in blocks:
                if isinstance(b, TextBlock) and b.is_image_block:
                    span = next(s for ln in b.lines
                                for s in ln.spans if s.is_image)
                    meta = dict(span.image_meta or {})
                    meta.setdefault("bbox", list(span.bbox))
                    b.image_link, b.image_ocr_result = \
                        image_provider.get_pic_url_and_ocr(meta)

    # ---- relations + tree (R1-R4, T1-T4) ----
    construct_relations(pages_blocks)
    return build_tree(pages_blocks)


def _split_blocks(blocks: List) -> List:
    """Blocks._split_text_block_vertically (Blocks.py:536-568). Note the
    reference's *sticky* edge variables: a block with ≥3 lines reassigns
    text_left/right_x, and later short blocks keep using those edges —
    replicated exactly."""
    out: List = []
    text_blocks = [b for b in blocks if isinstance(b, TextBlock) and b.is_text_block]
    if text_blocks:
        left = min(b.bbox[0] for b in text_blocks)
        right = max(b.bbox[2] for b in text_blocks)
    else:
        left = right = 0.0
    for block in blocks:
        if not (isinstance(block, TextBlock) and block.is_text_block):
            out.append(block)
            continue
        if len(block.lines) >= 3:
            left = min(l.bbox[0] for l in block.lines)
            right = max(l.bbox[2] for l in block.lines)
        out.extend(split_block_by_text(block, left, right))
    return out


def extract_text(payload: str) -> str:
    return parse(payload).to_markdown()
