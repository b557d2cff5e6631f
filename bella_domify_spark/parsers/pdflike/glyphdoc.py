"""Glyph-document loader: JSON payload mimicking PyMuPDF ``rawdict`` pages.

The synthetic transcript corpus carries PDF-like payloads as JSON (see
FIXTURES.md §4): pages with text blocks → lines → spans (+chars) and shape
lists (stroke/fill). This loader restores them into the engine's Line/Span
value objects, applying the reference's restore-time cleanups
(/root/reference/doc_parser/dom_parser/parsers/pdf/layout/Blocks.py:123-162):
explode blocks to lines, drop out-of-page / non-horizontal / whitespace-only
lines, strip, and list recognition per line (text/Lines.py:74-80).
"""

from __future__ import annotations

import json

from bella_domify_spark.functions import fastjson
from dataclasses import dataclass, field
from typing import List, Optional

from bella_domify_spark.core.blocks import Line, Span


@dataclass
class Stroke:
    bbox: tuple
    color: int = 0
    width: float = 1.0
    #: set once consumed as a lattice-table ruling; stream-table border
    #: finalization must skip determined shapes exactly like the
    #: reference's _finalize_by_strokes (Border.py:302-316 skips shapes
    #: whose type is already determined)
    is_determined: bool = False

    @property
    def x0(self):
        return self.bbox[0]

    @property
    def y0(self):
        return self.bbox[1]

    @property
    def x1(self):
        return self.bbox[2]

    @property
    def y1(self):
        return self.bbox[3]


@dataclass
class Fill:
    bbox: tuple
    color: int = 0


@dataclass
class RawPage:
    width: float
    height: float
    lines: List[Line] = field(default_factory=list)
    strokes: List[Stroke] = field(default_factory=list)
    fills: List[Fill] = field(default_factory=list)
    float_image_lines: List[Line] = field(default_factory=list)  # P5
    page_id: int = 0


def _image_meta(raw: dict) -> dict:
    """Byte-payload stand-in carried by image spans/blocks (P25,
    ImagesExtractor.py:1-368 recovers real bytes; the glyph model carries
    their metadata): n_bytes, sha, optional explicit width/height."""
    return {k: raw[k] for k in ("n_bytes", "sha", "width", "height")
            if k in raw}


def _span_from_raw(raw: dict) -> Span:
    if raw.get("image") or raw.get("type") == "image":
        return Span(is_image=True, bbox=tuple(raw.get("bbox", (0, 0, 0, 0))),
                    image_meta=_image_meta(raw) or None)
    chars = raw.get("chars")
    text = raw.get("text")
    if text is None and chars is not None:
        text = "".join(c.get("c", "") for c in chars)
    return Span(
        text=text or "",
        bbox=tuple(raw.get("bbox", (0, 0, 0, 0))),
        font=raw.get("font", ""),
        size=float(raw.get("size", 12.0)),
        flags=int(raw.get("flags", 0)),
        pseudo_bold=bool(raw.get("pseudo_bold", False)),
        uri=raw.get("uri"),
    )


def _strip_spans(spans: List[Span]) -> List[Span]:
    """Strip leading/trailing whitespace of the outermost text spans and
    drop the spans left empty (Line.strip → Spans.strip semantics,
    simplified to text-level strip)."""
    spans = [s for s in spans if s.is_image or s.text]
    texts = [s for s in spans if not s.is_image]
    if not texts:
        return spans
    texts[0].text = texts[0].text.lstrip()
    texts[-1].text = texts[-1].text.rstrip()
    return [s for s in spans if s.is_image or s.text]


def _area(b) -> float:
    return max(b[2] - b[0], 0.0) * max(b[3] - b[1], 0.0)


def _inter_area(a, b) -> float:
    return max(min(a[2], b[2]) - max(a[0], b[0]), 0.0) * \
        max(min(a[3], b[3]) - max(a[1], b[1]), 0.0)


def _is_hidden_block(raw_block: dict, hidden_spans: list) -> bool:
    """Hidden-text filter (P2, RawPageFitz.py:79-111): drop the whole block
    if ANY of its spans overlaps a texttrace type-3 span by ≥50% of the
    span's area with the same font (FACTOR_A_HALF)."""
    for line in raw_block.get("lines", []):
        for span in line.get("spans", []):
            sb = span.get("bbox")
            if not sb:
                continue
            sa = _area(sb)
            if sa <= 0:
                continue
            for h in hidden_spans:
                if _inter_area(sb, h.get("bbox", (0, 0, 0, 0))) / sa >= 0.5 \
                        and span.get("font", "") == h.get("font", ""):
                    return True
    return False


def _pseudo_bold_chars(texttrace: list) -> set:
    """Pseudo-bold detection (P3, RawPageFitz.py:113-133): a type-1 (stroke)
    trace whose chars equal the immediately preceding type-0 trace means the
    glyph run was overdrawn for bolding."""
    bold = set()
    prev = None
    for tr in texttrace:
        chars = tr.get("chars", "")
        if tr.get("type") == 1 and prev is not None and \
                prev.get("type") == 0 and prev.get("chars", "") == chars:
            bold.add(chars)
        prev = tr
    return bold


FLOAT_IMAGE_GAP = 5.0  # reference config.py:22 float_image_ignorable_gap


def _extract_floating_images(lines: List[Line],
                             gap: float = FLOAT_IMAGE_GAP) -> tuple:
    """Floating-image detect (P5, Blocks.py:321-336): group lines by
    connectivity with boxes shrunk by ``gap`` per side (group_by_connectivity
    dx=dy=-gap); in any multi-member group, image lines overlap real text and
    leave the flow layout. Returns (flow_lines, float_image_lines). Must run
    BEFORE overlapped-line dedup (Blocks.py:158-162 order)."""
    n = len(lines)
    if n < 2 or not any(l.has_image for l in lines):
        return lines, []

    def connected(a, b) -> bool:
        # shrunk boxes intersect ⟺ overlap exceeds 2·gap on each axis
        return (min(a.bbox[2], b.bbox[2]) - max(a.bbox[0], b.bbox[0]) >= 2 * gap
                and min(a.bbox[3], b.bbox[3]) - max(a.bbox[1], b.bbox[1]) >= 2 * gap)

    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if connected(lines[i], lines[j]):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
    sizes: dict = {}
    for i in range(n):
        sizes[find(i)] = sizes.get(find(i), 0) + 1
    flow, floats = [], []
    for i, line in enumerate(lines):
        if sizes[find(i)] > 1 and line.has_image:
            floats.append(line)
        else:
            flow.append(line)
    return flow, floats


def _dedupe_overlapped(lines: List[Line], threshold: float = 0.9) -> List[Line]:
    """Overlapped-line dedup (P4, Blocks.py:338-354 + Element.py:180-187):
    lines whose intersection covers ≥ threshold of the smaller box are
    duplicates; keep only the largest-area line of each overlap group.

    Pairs are pruned to y-overlapping components first (a positive
    intersection requires y-overlap, so this is exact) — drops the pairwise
    scan from O(page²) to O(rows·row_width²)."""
    n = len(lines)
    if n < 2:
        return lines
    from bella_domify_spark.parsers.pdflike.sections import _group_by_interval

    drop = set()
    for comp in _group_by_interval(lines, 1, 3):
        if len(comp) < 2:
            continue
        areas = [_area(l.bbox) for l in comp]
        for i in range(len(comp)):
            a = comp[i]
            if id(a) in drop:
                continue
            for j in range(i + 1, len(comp)):
                b = comp[j]
                if id(b) in drop:
                    continue
                inter = _inter_area(a.bbox, b.bbox)
                smaller = min(areas[i], areas[j]) or 1e-6
                if inter / smaller >= threshold:
                    drop.add(id(a) if areas[i] < areas[j] else id(b))
    return [l for l in lines if id(l) not in drop]


def _font_descriptor(name: str) -> str:
    """Fonts._normalized_font_name + _to_descriptor (font/Fonts.py:96-104):
    'BCDGEE+Calibri-Bold' → 'CALIBRI'."""
    return (name.split("+")[-1].split("-")[0]
            .replace(" ", "").replace("-", "").upper())


def _font_table(doc: dict) -> dict:
    """P6 font-metric enrichment (Fonts.py:59-136): the payload's optional
    ``fonts`` table stands in for fonttools extraction — raw font name →
    {name: family, ratio: line-height factor}, keyed by descriptor."""
    out = {}
    for raw_name, spec in (doc.get("fonts") or {}).items():
        out[_font_descriptor(raw_name)] = (
            spec.get("name") or raw_name, spec.get("ratio"))
    return out


def load(payload: str) -> List[RawPage]:
    return load_doc(payload)[0]


def load_doc(payload: str) -> tuple:
    """(pages, bookmark_titles): bookmark titles come from the payload's
    optional ``toc`` array of ``[level, title, page]`` rows — the analogue
    of ``fitz.utils.get_toc`` seeding ``catalog_title_list``
    (Pages.py:26-32, :46), normalized the same way (strip + drop spaces)."""
    doc = fastjson.loads(payload)
    toc_titles = [str(item[1]).strip().replace(" ", "")
                  for item in doc.get("toc", [])
                  if isinstance(item, (list, tuple)) and len(item) >= 2]
    return _load_pages(doc), toc_titles


def _load_pages(doc: dict) -> List[RawPage]:
    font_map = _font_table(doc)
    pages: List[RawPage] = []
    for pid, p in enumerate(doc.get("pages", [])):
        width = float(p.get("width", 612.0))
        height = float(p.get("height", 792.0))
        page = RawPage(width=width, height=height, page_id=pid)
        texttrace = p.get("texttrace", [])
        hidden_spans = [t for t in texttrace if t.get("type") == 3]
        pseudo_bold = _pseudo_bold_chars(texttrace) if texttrace else set()
        raw_blocks = p.get("blocks", [])
        # P26 watermark removal stand-in (converter.py:229-244): the
        # reference scans the page content stream and, IF a
        # /Subtype/Watermark marked-content is present, strips EVERY
        # /Artifact…EMC definition (not just watermark ones — the while
        # loop is unconditional); with no watermark it returns early and
        # artifacts (page decorations, stamps) survive. The glyph model
        # carries the marked-content tag as a block-level "artifact":
        # "<subtype>" field.
        if any(str(b.get("artifact", "")).lower() == "watermark"
               for b in raw_blocks):
            raw_blocks = [b for b in raw_blocks if not b.get("artifact")]
        if hidden_spans:
            raw_blocks = [b for b in raw_blocks
                          if not _is_hidden_block(b, hidden_spans)]
        for raw_block in raw_blocks:
            # type-1 = standalone image block (pymupdf rawdict): becomes a
            # single image line, the simplified stand-in for P25's
            # ImagesExtractor recovery (the reference re-inserts recovered
            # images as ImageSpans the same way)
            if raw_block.get("type") == 1:
                bbox = tuple(raw_block.get("bbox", (0, 0, 0, 0)))
                if bbox[2] <= 0 or bbox[3] <= 0 or \
                        bbox[0] >= width or bbox[1] >= height:
                    continue
                page.lines.append(Line(
                    spans=[Span(is_image=True, bbox=bbox,
                                image_meta=_image_meta(raw_block) or None)],
                    bbox=bbox, dir=(1.0, 0.0), page=pid))
                continue
            for raw_line in raw_block.get("lines", []):
                direction = tuple(raw_line.get("dir", (1.0, 0.0)))
                # keep horizontal (1,0) and vertical (0,-1) text only
                # (layout_parser/pdf_parser.py:21-27 / Blocks.py clean-up)
                if direction not in ((1.0, 0.0), (0.0, -1.0)):
                    continue
                bbox = tuple(raw_line.get("bbox", (0, 0, 0, 0)))
                # drop out-of-page lines
                if bbox[2] <= 0 or bbox[3] <= 0 or \
                        bbox[0] >= width or bbox[1] >= height:
                    continue
                spans = [_span_from_raw(s) for s in raw_line.get("spans", [])]
                # drop whitespace-only lines
                if all(not s.is_image and not s.text.strip() for s in spans):
                    continue
                # strip before the Line exists, so its one list recognition
                # (Line.__post_init__) sees the stripped text
                spans = _strip_spans(spans)
                if not spans:
                    continue
                # pseudo-bold assignment (Layout.py:81-112 analogue)
                if pseudo_bold:
                    for s in spans:
                        if not s.is_image and s.text in pseudo_bold:
                            s.pseudo_bold = True
                # font-metric enrichment (P6, RawPage.process_font :105-124)
                if font_map:
                    for s in spans:
                        if s.is_image:
                            continue
                        hit = font_map.get(_font_descriptor(s.font))
                        if hit:
                            s.font = hit[0]
                            if hit[1]:
                                s.line_height = hit[1] * s.size
                line = Line(spans=spans, bbox=bbox, dir=direction, page=pid)
                page.lines.append(line)
        page.lines, page.float_image_lines = _extract_floating_images(page.lines)
        page.lines = _dedupe_overlapped(page.lines)
        for raw_shape in p.get("shapes", []):
            kind = raw_shape.get("kind", "stroke")
            bbox = tuple(raw_shape.get("bbox", (0, 0, 0, 0)))
            if kind == "stroke":
                page.strokes.append(
                    Stroke(bbox=bbox, color=int(raw_shape.get("color", 0)),
                           width=float(raw_shape.get("width", 1.0))))
            else:
                page.fills.append(Fill(bbox=bbox, color=int(raw_shape.get("color", 0))))
        pages.append(page)
    return pages
