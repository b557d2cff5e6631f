"""Lattice (ruled) and stream (borderless) table detection.

Parity targets in the reference's table stack:
- Lattice: the grid subset of
  /root/reference/doc_parser/dom_parser/parsers/pdf/table/TablesConstructor.py:42-103
  and table/TableStructure.py — stroke bucketing into h/v rulings, lattice
  cells, merged-cell detection from missing inner borders, line→cell
  assignment.
- Stream: TablesConstructor.py:106-227 + layout/Blocks.py:189-262 —
  candidate regions from non-flow rows (``collect_stream_lines`` with the
  ``is_flow_layout`` test, common/Collection.py:305-323), the
  simple-structure veto (TablesConstructor.py:210-222), the full recursive
  virtual-border construction (``_inner_borders``, TablesConstructor.py:
  294-381) with reference-only h-borders for ≤2-column levels, finalization
  against explicit strokes/fill edges and layout alignment (Border.py:
  241-360), and the same grid/merged-cell parse as lattice tables — so
  merged stream cells (row- AND column-spans) fall out of missing virtual
  borders exactly like the reference. Not ported: _add_full_dummy_borders
  (only matters when explicit shapes outline cells the content doesn't).
  Gated behind ``parse_stream_table`` which defaults to False exactly like
  production (services/parse_manager.py:572-578).

The implementation is a NumPy grid walk sized for per-turn documents; it
runs entirely inside the Arrow UDF.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import numpy as np

from bella_domify_spark.core.blocks import Cell, Line, TableBlock
from bella_domify_spark.parsers.pdflike.cluster import (
    group_physical_rows,
    reading_order_rows,
)
from bella_domify_spark.parsers.pdflike.glyphdoc import RawPage, Stroke
from bella_domify_spark.parsers.pdflike.sections import (
    _bbox,
    group_by_columns,
    group_by_rows,
)

LINE_SEPARATE_THRESHOLD = 5.0  # reference config.py:32

_TOL = 1.5  # ruling snap tolerance in points


def _is_horizontal(s: Stroke) -> bool:
    return (s.y1 - s.y0) <= (s.x1 - s.x0)


def _cluster_strokes(strokes: List[Stroke]) -> List[List[Stroke]]:
    """Connected components of strokes whose bboxes touch (tolerance _TOL) —
    the reference groups border shapes by connectivity
    (TablesConstructor.py:42-60, Collection.py:131-167)."""
    n = len(strokes)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(i, j):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[rj] = ri

    for i in range(n):
        a = strokes[i]
        for j in range(i + 1, n):
            b = strokes[j]
            if a.x0 - _TOL <= b.x1 and b.x0 - _TOL <= a.x1 and \
                    a.y0 - _TOL <= b.y1 and b.y0 - _TOL <= a.y1:
                union(i, j)
    groups: dict = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(strokes[i])
    return list(groups.values())


def _snap(values: List[float]) -> List[float]:
    """Collapse near-equal coordinates into grid boundaries."""
    out: List[float] = []
    for v in sorted(values):
        if not out or v - out[-1] > _TOL:
            out.append(v)
    return out


def _covers(strokes: List[Stroke], horizontal: bool, fixed: float,
            lo: float, hi: float) -> bool:
    """Is there a ruling at coordinate ``fixed`` spanning [lo, hi]?"""
    mid = (lo + hi) / 2.0
    for s in strokes:
        if horizontal != _is_horizontal(s):
            continue
        if horizontal:
            y = (s.y0 + s.y1) / 2.0
            if abs(y - fixed) <= _TOL and s.x0 - _TOL <= mid <= s.x1 + _TOL:
                return True
        else:
            x = (s.x0 + s.x1) / 2.0
            if abs(x - fixed) <= _TOL and s.y0 - _TOL <= mid <= s.y1 + _TOL:
                return True
    return False


def _build_grid(strokes: List[Stroke]) -> Optional[Tuple[List[float], List[float]]]:
    hs = [s for s in strokes if _is_horizontal(s)]
    vs = [s for s in strokes if not _is_horizontal(s)]
    if len(hs) < 2 or len(vs) < 2:
        return None
    rows = _snap([(s.y0 + s.y1) / 2.0 for s in hs])
    cols = _snap([(s.x0 + s.x1) / 2.0 for s in vs])
    if len(rows) < 2 or len(cols) < 2:
        return None
    return rows, cols


def _cell_text(lines: List[Line]) -> str:
    """Recursive cell layout, text level (P17 — table/Cell.py:27-32 +
    TableBlock.parse :145-154): a cell runs the same paragraph pipeline as a
    page column (reading order → paragraph join → split → hyphen/space
    fixup) and joins its blocks with newlines. Nested tables inside cells
    are not ported (the synthetic payload model has no nested rulings)."""
    if not lines:
        return ""
    from bella_domify_spark.parsers.pdflike import pipeline
    from bella_domify_spark.parsers.pdflike.paragraphs import (
        adjust_last_word,
        join_lines_vertically,
    )

    blocks = pipeline._split_blocks(
        join_lines_vertically(reading_order_rows(lines)))
    for b in blocks:
        adjust_last_word(b.lines, delete_end_line_hyphen=True)
    return "\n".join(b.text for b in blocks)


def _table_from_strokes(group: List[Stroke], page: RawPage, consumed_ids: set,
                        is_stream: bool = False) -> Optional[TableBlock]:
    """Shared grid walk: strokes (real rulings OR finalized virtual borders)
    → snapped grid → merged cells from missing inner borders → line→cell
    assignment by center containment (Blocks.py:164-187) → recursive cell
    text. The stream path reuses this exactly like the reference feeds its
    finalized Border strokes into the same TableStructure parser
    (TablesConstructor.py:188-194)."""
    grid = _build_grid(group)
    if grid is None:
        return None
    rows, cols = grid
    n_rows, n_cols = len(rows) - 1, len(cols) - 1
    if n_rows < 1 or n_cols < 1:
        return None

    # merged-cell map: covered[i][j] = True once assigned to a cell
    covered = np.zeros((n_rows, n_cols), dtype=bool)
    cell_rows: List[List[Cell]] = [[] for _ in range(n_rows)]
    for i in range(n_rows):
        for j in range(n_cols):
            if covered[i][j]:
                continue
            # expand right while the inner vertical border is missing
            end_col = j
            while end_col + 1 < n_cols and not covered[i][end_col + 1] and \
                    not _covers(group, horizontal=False, fixed=cols[end_col + 1],
                                lo=rows[i], hi=rows[i + 1]):
                end_col += 1
            # expand down while the inner horizontal border is missing
            # across the whole [j, end_col] width
            end_row = i
            while end_row + 1 < n_rows and all(
                    not covered[end_row + 1][k] for k in range(j, end_col + 1)) and all(
                    not _covers(group, horizontal=True, fixed=rows[end_row + 1],
                                lo=cols[k], hi=cols[k + 1])
                    for k in range(j, end_col + 1)):
                end_row += 1
            covered[i:end_row + 1, j:end_col + 1] = True
            cell_rows[i].append(Cell(text="", start_row=i, end_row=end_row,
                                     start_col=j, end_col=end_col))

    # assign lines to cells by center containment (Blocks.py:164-187)
    bbox = (cols[0], rows[0], cols[-1], rows[-1])
    cell_lines: dict = {}
    for line in page.lines:
        cx = (line.bbox[0] + line.bbox[2]) / 2.0
        cy = (line.bbox[1] + line.bbox[3]) / 2.0
        if not (bbox[0] - _TOL <= cx <= bbox[2] + _TOL and
                bbox[1] - _TOL <= cy <= bbox[3] + _TOL):
            continue
        consumed_ids.add(id(line))
        for r in cell_rows:
            placed = False
            for cell in r:
                if cols[cell.start_col] - _TOL <= cx <= cols[cell.end_col + 1] + _TOL and \
                        rows[cell.start_row] - _TOL <= cy <= rows[cell.end_row + 1] + _TOL:
                    cell_lines.setdefault((cell.start_row, cell.start_col), []).append(line)
                    placed = True
                    break
            if placed:
                break

    for r in cell_rows:
        for cell in r:
            cell.text = _cell_text(
                cell_lines.get((cell.start_row, cell.start_col), []))

    return TableBlock(rows=cell_rows, bbox=bbox, page_num=[page.page_id],
                      is_stream=is_stream)


def parse_lattice_tables(page: RawPage) -> List[TableBlock]:
    """Detect lattice tables on a page; consumes the lines that fall inside a
    table region (they are removed from ``page.lines``)."""
    if not page.strokes:
        return []
    tables: List[TableBlock] = []
    consumed_ids: set = set()

    for group in _cluster_strokes(page.strokes):
        table = _table_from_strokes(group, page, consumed_ids)
        if table is not None:
            tables.append(table)
            # mark the rulings consumed: a later stream-table pass must not
            # finalize virtual borders from this lattice's strokes
            # (reference Border.py:302-316 skips determined shapes)
            for s in group:
                s.is_determined = True

    if consumed_ids:
        page.lines = [l for l in page.lines if id(l) not in consumed_ids]
    return tables


# ---------------------------------------------------------------------------
# Stream (borderless) tables — P16
# ---------------------------------------------------------------------------

def _is_flow_layout(row: List[Line],
                    threshold: float = LINE_SEPARATE_THRESHOLD) -> bool:
    """Collection.is_flow_layout (Collection.py:305-323), horizontal text:
    single column → flow; multiple x-columns → not flow; a gap ≥ threshold
    inside a physical row → not flow. Element order within physical rows
    follows input order, as in the reference."""
    if len(row) <= 1:
        return True
    if len(group_by_columns(row)) > 1:
        return False
    for prow in group_physical_rows(row):
        for a, b in zip(prow, prow[1:]):
            if abs(b.bbox[0] - a.bbox[2]) >= threshold:
                return False
    return True


def collect_stream_lines(lines: List[Line],
                         threshold: float = LINE_SEPARATE_THRESHOLD) -> List[List[Line]]:
    """Blocks.collect_stream_lines (Blocks.py:189-262) without the shading
    path (the glyph payload model has no cell fillings): group page rows,
    accumulate non-flow rows into candidate regions, close a region on a
    flow row or a ≥50 pt vertical gap (gap check runs AFTER the current row
    is accumulated — reference quirk, Blocks.py:253-257)."""
    if not lines:
        return []
    rows = group_by_rows(lines)
    res: List[List[Line]] = []
    cur: List[Line] = []

    def close():
        if cur:
            res.append(list(cur))
            cur.clear()

    ref_pos = _bbox(rows[0])[3]
    for row in rows:
        bb = _bbox(row)
        if not _is_flow_layout(row, threshold):
            cur.extend(row)
        else:
            close()
        if bb[1] - ref_pos >= 50:
            close()
        ref_pos = bb[3]
    close()
    return res


def _is_simple_structure(lines: List[Line]) -> bool:
    """TablesConstructor._is_simple_structure (TablesConstructor.py:210-222):
    one column is flow layout; two columns whose physical rows equal aligned
    rows is a plain paragraph pair."""
    num = len(group_by_columns(lines))
    if num == 1:
        return True
    if num == 2:
        return len(group_physical_rows(lines)) == len(group_by_rows(lines))
    return False


class _Border:
    """Virtual stream-table border (table/Border.py:34-239 subset): an
    h- or v-border whose position floats in ``(lrange, urange)`` until
    finalized; its extent comes from its two boundary borders. Reference-only
    borders never become strokes (their absence is what produces merged
    stream cells at grid-parse time)."""

    __slots__ = ("horizontal", "kind", "lrange", "urange", "lb", "ub",
                 "reference", "finalized", "_value")

    def __init__(self, horizontal: bool, rng: tuple, kind: str = "I",
                 reference: bool = False):
        self.horizontal = horizontal
        self.kind = kind                       # T/B/L/R outer, I inner
        self.lrange, self.urange = rng
        self.lb = self.ub = None               # boundary borders
        self.reference = reference
        self.finalized = False
        self._value = None

    @property
    def value(self) -> float:
        """Border.py:89-104: average of the range, but hugging the content
        for the top/bottom outer borders (minimal table region)."""
        if self.finalized:
            return self._value
        avg = (self.lrange + self.urange) / 2.0
        if self.kind == "T":
            return max(self.urange - 3, avg)
        if self.kind == "B":
            return min(self.lrange + 3, avg)
        return avg

    def is_valid(self, v: float) -> bool:
        return (self.lrange - MINOR_DIST) <= v <= (self.urange + MINOR_DIST)

    def finalize_by_value(self, v: float) -> bool:
        if self.finalized or not self.is_valid(v):
            return False
        self._value = v
        self.finalized = True
        self.reference = False
        return True

    def finalize_by_stroke(self, stroke: Stroke) -> None:
        """Border.py:190-228: snap to an explicit stroke in range; the
        stroke's ends also get a chance to finalize the boundary borders."""
        if self.horizontal:
            low, up, v = stroke.x0, stroke.x1, stroke.y0
        else:
            low, up, v = stroke.y0, stroke.y1, stroke.x0
        if not self.is_valid(v):
            return
        if low > self.lb.urange and up < self.ub.lrange:
            return
        self.finalize_by_value(v)
        self.lb.finalize_by_value(low)
        self.ub.finalize_by_value(up)

    def to_stroke(self) -> Optional[Stroke]:
        if self.reference:
            return None
        if self.horizontal:
            return Stroke(bbox=(self.lb.value, self.value,
                                self.ub.value, self.value))
        return Stroke(bbox=(self.value, self.lb.value,
                            self.value, self.ub.value))


MINOR_DIST = 1.0  # constants.py:11


def _outer_borders(inner_bbox: tuple, outer_bbox: tuple) -> tuple:
    """TablesConstructor._outer_borders (:261-292)."""
    x0, y0, x1, y1 = inner_bbox
    X0, Y0, X1, Y1 = outer_bbox
    top = _Border(True, (Y0, y0), kind="T")
    bottom = _Border(True, (y1, Y1), kind="B")
    left = _Border(False, (X0, x0), kind="L")
    right = _Border(False, (x1, X1), kind="R")
    top.lb, top.ub = left, right
    bottom.lb, bottom.ub = left, right
    left.lb, left.ub = top, bottom
    right.lb, right.ub = top, bottom
    return top, bottom, left, right


def _inner_borders(lines: List[Line], outer: tuple) -> List[_Border]:
    """TablesConstructor._inner_borders (:294-381), ported with the same
    recursion: group lines into columns, emit a real vertical border at each
    column gap; per column, group rows and emit horizontal borders at row
    gaps (reference-only when the level has ≤2 columns — they rebuild text
    LAYOUT, not table structure); recurse into every multi-row cell. Columns
    with a single row group emit NO horizontal borders, so their cell spans
    all row slots (the merged-stream-cell mechanism)."""
    cols_lines = group_by_columns(lines)
    group_lines = [group_by_rows(c, factor=0.1) for c in cols_lines]
    col_num = len(cols_lines)
    is_reference = col_num <= 2
    if col_num >= 2:
        for border in outer:
            border.reference = False

    borders: List[_Border] = []
    TOP, BOTTOM, LEFT, RIGHT = outer
    right = None
    for i in range(col_num):
        left = LEFT if i == 0 else right
        if i == col_num - 1:
            right = RIGHT
        else:
            gap = (_bbox(cols_lines[i])[2], _bbox(cols_lines[i + 1])[0])
            right = _Border(False, gap)
            right.lb, right.ub = TOP, BOTTOM
            borders.append(right)

        rows_lines = group_lines[i]
        row_num = len(rows_lines)
        if row_num == 1:
            continue
        bottom = None
        for j in range(row_num):
            top = TOP if j == 0 else bottom
            if j == row_num - 1:
                bottom = BOTTOM
            else:
                gap = (_bbox(rows_lines[j])[3], _bbox(rows_lines[j + 1])[1])
                bottom = _Border(True, gap, reference=is_reference)
                bottom.lb, bottom.ub = left, right
                borders.append(bottom)
            borders.extend(_inner_borders(list(rows_lines[j]),
                                          (top, bottom, left, right)))
    return borders


def _finalize_by_layout(borders: List[_Border]) -> None:
    """Borders._finalize_by_layout (Border.py:309-360): snap same-direction
    borders to shared integer coordinates, preferring positions that pass
    through the most border ranges; one position per border."""
    if not borders:
        return
    points = sorted({p for b in borders for p in (b.lrange, b.urange)})
    x_status = []
    for a, b in zip(points, points[1:]):
        x = (a + b) / 2.0
        x_status.append((x, [int(br.is_valid(x)) for br in borders]))
    x_status.sort(key=lambda item: sum(item[1]), reverse=True)

    num = len(borders)
    current = [0] * num
    for x, status in x_status:
        if sum(current) == num:
            break
        if sum(c1 * c2 for c1, c2 in zip(current, status)):
            continue  # a border range may host only one line
        current = [c1 + c2 for c1, c2 in zip(current, status)]
        for border, s in zip(borders, status):
            if s:
                border.finalize_by_value(int(x))


def _finalize_borders(borders: List[_Border], strokes: List[Stroke],
                      fills: List) -> None:
    """Borders.finalize (Border.py:244-296) without _add_full_dummy_borders
    (it only matters when explicit shapes outline cells the content doesn't
    — our payload model draws full lattices for such tables instead):
    explicit strokes first, then fill edges, then layout alignment."""
    for stroke in strokes:
        horizontal = _is_horizontal(stroke)
        for border in borders:
            if border.horizontal == horizontal:
                border.finalize_by_stroke(stroke)
    tmp: List[Stroke] = []
    for fill in fills:
        if fill.color == 0xFFFFFF:
            continue
        fx0, fy0, fx1, fy1 = fill.bbox
        tmp.extend([Stroke(bbox=(fx0, fy0, fx1, fy0)),
                    Stroke(bbox=(fx0, fy1, fx1, fy1)),
                    Stroke(bbox=(fx0, fy0, fx0, fy1)),
                    Stroke(bbox=(fx1, fy0, fx1, fy1))])
    for stroke in tmp:
        horizontal = _is_horizontal(stroke)
        for border in borders:
            if border.horizontal == horizontal:
                border.finalize_by_stroke(stroke)

    pending = [b for b in borders if not (b.finalized or b.reference)]
    _finalize_by_layout([b for b in pending
                         if b.horizontal and b.kind not in ("T", "B")])
    _finalize_by_layout([b for b in pending if not b.horizontal])


def parse_stream_tables(page: RawPage,
                        threshold: float = LINE_SEPARATE_THRESHOLD) -> List[TableBlock]:
    """Borderless tables via virtual borders (TablesConstructor.stream_tables
    :106-227): candidate regions from non-flow rows → simple-structure veto →
    recursive ``_inner_borders`` → finalize against explicit strokes/fills →
    drop reference-only borders → the SAME grid/merged-cell parser as
    lattice tables. Consumes the lines placed into table cells. Call AFTER
    parse_lattice_tables so ruled regions are already claimed."""
    cands = collect_stream_lines(page.lines, threshold)
    tables: List[TableBlock] = []
    consumed_ids: set = set()

    for cand in cands:
        if not cand:
            continue
        region = _bbox(cand)

        # vertical outer range: closest content above/below the region
        # (top_bottom_boundaries, TablesConstructor.py:124-155)
        y_lower, y_upper = 0.0, page.height
        for l in page.lines:
            if l.bbox[3] < region[1]:
                y_lower = max(y_lower, l.bbox[3])
            if l.bbox[1] > region[3]:
                y_upper = min(y_upper, l.bbox[1])
        outer_bbox = (0.0, y_lower, page.width, y_upper)

        # explicit strokes/shadings in the outer region; strokes already
        # consumed as lattice rulings are excluded so an adjacent ruled
        # table cannot contribute virtual borders here (Border.py:302-316)
        ex_strokes = [s for s in page.strokes
                      if not s.is_determined
                      and s.x0 >= outer_bbox[0] - _TOL and s.x1 <= outer_bbox[2] + _TOL
                      and s.y0 >= outer_bbox[1] - _TOL and s.y1 <= outer_bbox[3] + _TOL]
        ex_fills = [f for f in page.fills
                    if f.bbox[0] <= outer_bbox[2] and outer_bbox[0] <= f.bbox[2]
                    and f.bbox[1] <= outer_bbox[3] and outer_bbox[1] <= f.bbox[3]]

        if not (ex_strokes or ex_fills) and _is_simple_structure(cand):
            continue

        outer = _outer_borders(region, outer_bbox)
        borders = list(outer) + _inner_borders(list(cand), outer)
        _finalize_borders(borders, ex_strokes, ex_fills)
        group = [s for s in (b.to_stroke() for b in borders) if s is not None]
        if not group:
            continue

        table = _table_from_strokes(group, page, consumed_ids, is_stream=True)
        if table is None:
            continue
        tables.append(table)

    if consumed_ids:
        page.lines = [l for l in page.lines if id(l) not in consumed_ids]
    return tables
