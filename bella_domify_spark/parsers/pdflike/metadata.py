"""Style metadata (P22) and alignment & spacing metadata (P24).

Metadata-only operators: they decorate spans/blocks for the domtree JSON and
StandardDomTree output and never change extracted text.

Parity targets in /root/reference/doc_parser/dom_parser/parsers/pdf:
- P22 text styles — text/TextSpan.py:279-330 classification rules applied
  per span (highlight: fill height ≥ 0.5·span height, non-white, main-bbox
  overlap ≥ 0.75; underline: stroke within 0.25·span height of the span
  bottom; strike: 0.35-0.75·span height above the bottom; hyperlink: span
  uri), and the stroke-vs-border test of shape/Shape.py:224-248 (same
  orientation, never exceeding the line's main extent). Spans are SPLIT at
  style boundaries (text/Lines.py:274-308 → TextSpan.split) so the style
  attaches only to the intersection part; the split never changes line text
  (spans concatenate with no separator).
- P24 alignment & spacing — text/TextBlock.py:179-400 ``_parse_alignment``
  (per-row X0/X1/center dispersion with 1.0/1.0/2.0 pt thresholds,
  config.py:35-37; JUSTIFY needs ≥3 rows; tab-stop rows force LEFT),
  relative line spacing (block height over summed row heights, min 1.02 —
  constants.py:28), and before-space to the previous block
  (layout/Blocks.py:640-680).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from bella_domify_spark.core.blocks import TextBlock
from bella_domify_spark.parsers.pdflike.cluster import row_top
from bella_domify_spark.parsers.pdflike.glyphdoc import RawPage

LINE_SEPARATE_THRESHOLD = 5.0       # config.py:32
LEFT_ALIGNED_THRESHOLD = 1.0        # config.py:35
RIGHT_ALIGNED_THRESHOLD = 1.0       # config.py:36
CENTER_ALIGNED_THRESHOLD = 2.0      # config.py:37
DEFAULT_LINE_SPACING = 1.02         # constants.py:28
MAJOR_DIST = 5.0                    # constants.py:12 (5*PT)
WHITE = 0xFFFFFF


# ---------------------------------------------------------------------------
# P22 — span styles
# ---------------------------------------------------------------------------

def _overlap(a: tuple, b: tuple) -> float:
    return max(min(a[2], b[2]) - max(a[0], b[0]), 0.0) * \
        max(min(a[3], b[3]) - max(a[1], b[1]), 0.0)


def _is_style_stroke(stroke, line) -> bool:
    """Shape.py:224-248: same orientation as the line and never exceeding
    the line's main extent ⇒ potential underline/strike, not a border."""
    if (stroke.y1 - stroke.y0) > (stroke.x1 - stroke.x0):
        return False  # vertical stroke on horizontal text → border
    eb = (line.bbox[0] - 2.0, line.bbox[1] - 2.0,
          line.bbox[2] + 2.0, line.bbox[3] + 2.0)
    if not (stroke.x0 <= eb[2] and eb[0] <= stroke.x1 and
            stroke.y0 <= eb[3] and eb[1] <= stroke.y1):
        return False
    return stroke.x0 >= line.bbox[0] - 2.0 and stroke.x1 <= line.bbox[2] + 2.0


def _copy_span(span, text: str, bbox: tuple):
    from bella_domify_spark.core.blocks import Span
    return Span(text=text, bbox=bbox, font=span.font, size=span.size,
                flags=span.flags, pseudo_bold=span.pseudo_bold,
                is_image=False, uri=span.uri, style=list(span.style),
                line_height=span.line_height)


def _split_span_by_rect(span, rect: tuple):
    """TextSpan.split (TextSpan.py:202-277): split span into
    span-intersection-span; only the intersection part may take the style.
    Char containment mirrors Char.contained_in_rect (Char.py:33-58: x-overlap
    > 0.5·char width). Glyph payloads join chars into text at load, so char
    extents are the uniform division of the span bbox — exact on the
    fixed-pitch synthetic corpus, proportional otherwise (metadata-only).

    Returns None when the rect misses the span bbox (keep span unsplit), or
    a list of (span, is_intersection) parts."""
    x0, y0, x1, y1 = span.bbox
    ix0, ix1 = max(x0, rect[0]), min(x1, rect[2])
    iy0, iy1 = max(y0, rect[1]), min(y1, rect[3])
    n = len(span.text)
    if ix0 >= ix1 or iy0 >= iy1 or n == 0:
        return None
    w = (x1 - x0) / n
    hit = [i for i in range(n)
           if min(x0 + (i + 1) * w, rect[2]) - max(x0 + i * w, rect[0])
           > 0.5 * w] if w > 0 else []
    # reference takes first hit + hit count as a contiguous run
    pos = hit[0] if hit else -1
    length = len(hit)
    pos_end = max(pos + length, 0)
    parts = []
    if pos > 0:
        parts.append((_copy_span(span, span.text[:pos],
                                 (x0, y0, ix0, y1)), False))
    if length > 0:
        parts.append((_copy_span(span, span.text[pos:pos_end],
                                 (ix0, y0, ix1, y1)), True))
    if pos_end < n:
        # reference quirk preserved: when the rect intersects the bbox but
        # captures no chars, the whole text lands here with a shrunk bbox
        parts.append((_copy_span(span, span.text[pos_end:],
                                 (ix1, y0, x1, y1)), False))
    return parts or None


def _classify_style(span, rect: tuple, color: int) -> None:
    """TextSpan._parse_text_format (TextSpan.py:279-337) on the intersection
    part: highlight / underline / strike by rect height and distance to the
    span bottom; highlight additionally needs non-white color and a ≥0.75
    main-bbox overlap (Element.get_main_bbox, intersection over the smaller
    area)."""
    h_span = span.bbox[3] - span.bbox[1]
    if h_span <= 0:
        return
    h_rect = rect[3] - rect[1]
    d = abs(span.bbox[3] - rect[1])
    if h_rect >= 0.5 * h_span:
        inter = _overlap(span.bbox, rect)
        a_span = (span.bbox[2] - span.bbox[0]) * h_span
        a_rect = (rect[2] - rect[0]) * h_rect
        small = min(a_span, a_rect)
        if color != WHITE and small > 0 and inter / small >= 0.75:
            span.style.append({"type": "highlight", "color": color})
    elif d <= 0.25 * h_span:
        span.style.append({"type": "underline", "color": color})
    elif 0.35 * h_span < d < 0.75 * h_span:
        span.style.append({"type": "strike", "color": color})


def parse_text_styles(page: RawPage) -> None:
    """P22 full: split spans at style boundaries and attach style dicts to
    the intersection parts (Lines.parse_text_format, Lines.py:274-308 →
    TextSpan.split). Hyperlinks stay whole-span — our payloads carry the uri
    on the span itself rather than as a shape. Must run AFTER table parsing
    so borders are already consumed where possible; the orientation/extent
    test (_is_style_stroke) rejects remaining borders like the reference's
    potential-type filter (Shapes.text_style_shapes, Shapes.py:84-92)."""
    for line in page.lines:
        for span in line.spans:
            if not span.is_image and span.uri:
                span.style.append({"type": "hyperlink", "uri": span.uri})

    shapes = [(f, f.color, False) for f in page.fills] + \
             [(s, s.color, True) for s in page.strokes]
    for shape, color, is_stroke in shapes:
        for line in page.lines:
            if is_stroke and not _is_style_stroke(shape, line):
                continue
            eb = (line.bbox[0] - MAJOR_DIST, line.bbox[1] - MAJOR_DIST,
                  line.bbox[2] + MAJOR_DIST, line.bbox[3] + MAJOR_DIST)
            if not (shape.bbox[0] < eb[2] and eb[0] < shape.bbox[2] and
                    shape.bbox[1] < eb[3] and eb[1] < shape.bbox[3]):
                continue
            new_spans = []
            for span in line.spans:
                parts = None if span.is_image else \
                    _split_span_by_rect(span, shape.bbox)
                if parts is None:
                    new_spans.append(span)
                    continue
                for part, is_mid in parts:
                    if is_mid:
                        _classify_style(part, shape.bbox, color)
                    new_spans.append(part)
            line.spans = new_spans
            line.spans_changed()


# ---------------------------------------------------------------------------
# P24 — alignment & spacing
# ---------------------------------------------------------------------------

def _parse_alignment(block: TextBlock, x_range: Tuple[float, float],
                     phys_rows: Optional[List] = None) -> None:
    X0b, X1b = x_range
    d_left = round(block.bbox[0] - X0b, 1)
    d_right = round(X1b - block.bbox[2], 1)
    d_center = round((d_left - d_right) / 2.0, 1)
    d_left, d_right = max(d_left, 0.0), max(d_right, 0.0)
    W = abs(X1b - X0b)
    block.left_space = d_left
    block.right_space = d_right

    if phys_rows is None:
        phys_rows = sorted(block.rows, key=row_top)
    rows = [sorted(r, key=lambda l: l.bbox[0]) for r in phys_rows]

    def external_alignment() -> str:
        if abs(d_center) < CENTER_ALIGNED_THRESHOLD:
            return "center"
        if d_left <= 0.25 * W:
            return "left"
        return "right"

    # tab-stop rows (large inner gap) → NONE temporarily (_parse_alignment
    # first-priority, TextBlock.py:330-339); becomes LEFT in the
    # post-processing below WITHOUT a first_line_space
    tab_stop = any(b.bbox[0] - a.bbox[2] >= LINE_SEPARATE_THRESHOLD
                   for row in rows for a, b in zip(row, row[1:]))
    if tab_stop:
        alignment = "none"
    elif len(rows) == 1:
        alignment = external_alignment()
    else:
        X0 = [r[0].bbox[0] for r in rows]
        X1 = [r[-1].bbox[2] for r in rows]
        X = [(a + b) / 2.0 for a, b in zip(X0, X1)]
        if len(rows) >= 3:
            X0, X1 = X0[1:], X1[:-1]
        left_ok = abs(max(X0) - min(X0)) <= LEFT_ALIGNED_THRESHOLD
        right_ok = abs(max(X1) - min(X1)) <= RIGHT_ALIGNED_THRESHOLD
        center_ok = abs(max(X) - min(X)) <= CENTER_ALIGNED_THRESHOLD

        if left_ok and right_ok:
            alignment = "justify" if len(rows) >= 3 else external_alignment()
        elif center_ok:
            alignment = "center"
        elif left_ok:
            alignment = "left"
        elif right_ok:
            alignment = "right" if len(rows) >= 3 else "left"
        else:
            alignment = "none"

        # first_line_space only for a GENUINE left/justify verdict — the
        # NONE→LEFT fallback happens after this point in the reference
        # (TextBlock.py:395-398 then :207-209)
        if alignment in ("left", "justify"):
            block.first_line_space = rows[0][0].bbox[0] - rows[1][0].bbox[0]

    # parse_horizontal_spacing post-processing (TextBlock.py:206-225):
    # NONE → LEFT default, then single-row indentation zeroing by alignment
    if alignment == "none":
        alignment = "left"
    if len(rows) == 1:
        if alignment == "left":
            block.right_space = 0.0
        elif alignment == "right":
            block.left_space = 0.0
        elif alignment == "center":
            block.left_space = 0.0
            block.right_space = 0.0
    block.alignment = alignment


def _parse_line_spacing(block: TextBlock,
                        phys_rows: Optional[List] = None) -> None:
    # TextBlock.parse_relative_line_spacing (:231-259): standard height =
    # sum of per-row max span line_height (P6 font metric when available,
    # else the line's own bbox height)
    if any(l.has_image for l in block.lines):
        block.line_space = DEFAULT_LINE_SPACING
        return

    def line_h(ln) -> float:
        heights = [s.line_height for s in ln.spans if s.line_height]
        return max(heights) if heights else ln.bbox[3] - ln.bbox[1]

    rows = phys_rows if phys_rows is not None else \
        sorted(block.rows, key=row_top)
    height = block.bbox[3] - block.bbox[1]
    std = sum(max(line_h(l) for l in row) for row in rows)
    spacing = height / std if std > 0 else DEFAULT_LINE_SPACING
    if len(rows) > 1:
        spacing = max(spacing, DEFAULT_LINE_SPACING)
    block.line_space = round(spacing, 4)


def parse_alignment_spacing(blocks: List, x_range: Tuple[float, float],
                            y_ref: Optional[float] = None) -> None:
    """Decorate final page blocks with alignment + spacing metadata."""
    ref = y_ref if y_ref is not None else 0.0
    for block in blocks:
        if isinstance(block, TextBlock) and block.is_text_block and block.lines:
            # both consumers read the same rows, top to bottom
            phys_rows = sorted(block.rows, key=row_top)
            _parse_alignment(block, x_range, phys_rows)
            _parse_line_spacing(block, phys_rows)
        before = round(max(block.bbox[1] - ref, 0.0), 1)
        if isinstance(block, TextBlock):
            block.before_space = before
        ref = block.bbox[3]
