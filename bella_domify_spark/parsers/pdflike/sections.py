"""Page margins (P11) and full section/column detection (P12).

Parity targets in /root/reference/doc_parser/dom_parser/parsers/pdf:
- ``calculate_margin``: page/RawPage.py:125-157 — union bbox of content vs
  page rect, top/bottom reduced by factor 0.5, capped at 1 inch (72 pt).
- ``parse_section``: page/RawPage.py:160-283 — row-by-row column counting
  (≤2 columns), a divide-position registry for re-grouping noisy rows
  (``detect_two_column_layout_pos`` / ``try_regroup_two_columns``,
  RawPage.py:285-319), width-ratio and sentence-end close/merge heuristics,
  and a state machine that opens/closes sections when the column count
  changes. Helpers ``is_end_sentence`` / ``is_same_font``: RawPage.py:25-36.
- ``group_by_rows`` / ``group_by_columns``: common/Collection.py:170-195 —
  connected components under any-overlap alignment predicates
  (Element.py:190-258 with factor=0).

Everything here is per-document Python running inside the Arrow UDF —
nothing shuffles; at 100 TB the cost scales with lines-per-page, not rows.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

ITP = 72.0          # inch-to-point margin cap (common/constants.py:8)
MINOR_DIST = 1.0    # common/constants.py:11
SENTENCE_END_PUNC = ".．。?？!！"  # common/constants.py:31
MIN_SECTION_HEIGHT = 20.0          # config.py:18
MARGIN_FACTOR_TOP = 0.5            # config.py:23
MARGIN_FACTOR_BOTTOM = 0.5         # config.py:24

_EPS = 1e-3


def _bbox(elements: Sequence) -> Tuple[float, float, float, float]:
    return (min(e.bbox[0] for e in elements), min(e.bbox[1] for e in elements),
            max(e.bbox[2] for e in elements), max(e.bbox[3] for e in elements))


def _group(elements: Sequence, overlaps) -> List[List]:
    """Connected components under a pairwise predicate; element order inside
    a group follows input order (Collection.group semantics,
    Collection.py:90-128). O(n²) — per-page n is tens of lines."""
    n = len(elements)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if overlaps(elements[i], elements[j]):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
    groups: dict = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(elements[i])
    return list(groups.values())


def _y_overlaps(a, b, factor: float = 0.0) -> bool:
    # horizontally_align_with: y-intersection ≥ factor·min height
    # (Element.py:229-258)
    l1 = a.bbox[3] - a.bbox[1]
    l2 = b.bbox[3] - b.bbox[1]
    span = max(a.bbox[3], b.bbox[3]) - min(a.bbox[1], b.bbox[1])
    return l1 + l2 - span + _EPS >= factor * min(l1, l2)


def _x_overlaps(a, b, factor: float = 0.0) -> bool:
    # vertically_align_with: x-intersection ≥ factor·min width
    # (Element.py:190-227)
    l1 = a.bbox[2] - a.bbox[0]
    l2 = b.bbox[2] - b.bbox[0]
    span = max(a.bbox[2], b.bbox[2]) - min(a.bbox[0], b.bbox[0])
    return l1 + l2 - span + _EPS >= factor * min(l1, l2)


def _group_by_interval(elements: Sequence, lo_idx: int, hi_idx: int) -> List[List]:
    """Connected components of any-overlap intervals via a sorted sweep —
    O(n log n), exact for the factor=0 predicates (overlap is an interval
    relation, so transitive closure = interval merging). Groups come out
    sorted by start coordinate; members keep input order."""
    n = len(elements)
    if n <= 1:
        return [list(elements)] if n else []
    lo = [e.bbox[lo_idx] for e in elements]
    hi = [e.bbox[hi_idx] for e in elements]
    order = sorted(range(n), key=lo.__getitem__)
    comp = [0] * n
    cid = -1
    run_max = -1e30
    for i in order:
        if lo[i] > run_max + _EPS:
            cid += 1
        comp[i] = cid
        if hi[i] > run_max:
            run_max = hi[i]
    groups: List[List] = [[] for _ in range(cid + 1)]
    for i, e in enumerate(elements):
        groups[comp[i]].append(e)
    return groups


def group_by_rows(elements: Sequence, factor: float = 0.0) -> List[List]:
    if factor == 0.0:
        return _group_by_interval(elements, 1, 3)
    rows = _group(elements, lambda a, b: _y_overlaps(a, b, factor))
    rows.sort(key=lambda g: _bbox(g)[1])
    return rows


def group_by_columns(elements: Sequence, sort: bool = True,
                     factor: float = 0.0) -> List[List]:
    if factor == 0.0:
        return _group_by_interval(elements, 0, 2)  # sorted by x already
    cols = _group(elements, lambda a, b: _x_overlaps(a, b, factor))
    if sort:
        cols.sort(key=lambda g: _bbox(g)[0])
    return cols


def is_end_sentence(line) -> bool:
    return bool(line) and line.text.strip().endswith(tuple(SENTENCE_END_PUNC))


def _is_same_font(col1: List, col2: List) -> bool:
    # RawPage.py:31-36: compare last span of col1's last line with first
    # span of col2's first line
    s1 = col1[-1].spans[-1] if getattr(col1[-1], "spans", None) else None
    s2 = col2[0].spans[0] if getattr(col2[0], "spans", None) else None
    if s1 is None or s2 is None or s1.is_image or s2.is_image:
        return False
    return (s1.font == s2.font and s1.pseudo_bold == s2.pseudo_bold
            and abs(s1.size - s2.size) < 0.1)


def calculate_margin(page) -> Tuple[float, float, float, float]:
    """(left, right, top, bottom) margins — RawPage.calculate_margin
    (RawPage.py:125-157): blocks ∪ ALL non-hyperlink shapes, i.e. strokes
    AND fills — a highlight fill extending past the text bbox widens the
    content bbox (and downstream x_range) exactly as in the reference.
    Our payloads carry no hyperlink shapes, so no exclusion is needed."""
    content = (list(page.lines) + list(getattr(page, "strokes", []))
               + list(getattr(page, "fills", [])))
    if not content:
        return (ITP,) * 4
    u0, v0, u1, v1 = _bbox(content)
    x0, y0, x1, y1 = 0.0, 0.0, page.width, page.height
    left = max(u0 - x0, 0.0)
    right = max(x1 - u1 - MINOR_DIST, 0.0)
    top = max(v0 - y0, 0.0) * MARGIN_FACTOR_TOP
    bottom = max(y1 - v1, 0.0) * MARGIN_FACTOR_BOTTOM
    return (min(ITP, round(left, 1)), min(ITP, round(right, 1)),
            min(ITP, round(top, 1)), min(ITP, round(bottom, 1)))


def _detect_two_column_pos(rows_cols: List[tuple]) -> set:
    out = set()
    for _row, cols in rows_cols:
        if len(cols) == 2:
            b0, b1 = _bbox(cols[0]), _bbox(cols[1])
            out.add((round(min(b0[2], b1[2]), 0), round(max(b0[0], b1[0]), 0)))
    return out


def try_regroup_two_columns(divide_pos: set, row: Sequence,
                            pre_num_col: int) -> bool:
    """RawPage.py:298-319: a >2-column row still counts as two columns when
    some adjacent element pair straddles a known divide position."""
    srow = sorted([e for e in row if getattr(e, "spans", None) is not None],
                  key=lambda e: e.bbox[0])
    for left_pos, right_pos in divide_pos:
        for cur, nxt in zip(srow, srow[1:]):
            if round(cur.bbox[2], 0) > left_pos:
                break
            if round(cur.bbox[2], 0) == left_pos and \
                    round(nxt.bbox[0], 0) == right_pos:
                return True
            if pre_num_col == 2 and round(nxt.bbox[0], 0) == right_pos and \
                    is_end_sentence(cur):
                return True
    return False


def parse_sections(lines: Sequence, x_range: Tuple[float, float],
                   min_section_height: float = MIN_SECTION_HEIGHT,
                   shapes: Sequence = ()) -> List[List[List]]:
    """Row-by-row section detection (RawPage.parse_section). Returns a list
    of sections in vertical order; each section is a list of 1 or 2 columns;
    each column is a list of lines (unsorted — the caller applies
    reading-order within a column).

    ``shapes`` (strokes/fills) participate in the row/column grouping exactly
    as in the reference (RawPage.py:170-173 collects blocks AND shapes, so a
    stroke spanning the gutter — e.g. a horizontal rule — forces a 1-column
    row) but are filtered out of the returned columns: downstream block
    building only consumes text lines."""
    elements = list(lines) + list(shapes)
    if not elements:
        return []
    X0, X1 = x_range
    sections: List[List[List]] = []

    def only_lines(elems: Sequence) -> List:
        return [e for e in elems if getattr(e, "spans", None) is not None]

    def close_section(num_col: int, elems: List) -> None:
        if not elems:
            return
        # consecutive single-column sections merge (RawPage.py:180-190)
        if sections and len(sections[-1]) == 1 and num_col == 1:
            sections[-1][0].extend(only_lines(elems))
            return
        # shape-only sections stay as (possibly empty) placeholders so the
        # single-column merge chain sees the same section structure as the
        # reference; empty columns are inert downstream
        if num_col == 2:
            cols = group_by_columns(elems)
            if len(cols) == 2:
                sections.append([only_lines(cols[0]), only_lines(cols[1])])
                return
        sections.append([only_lines(elems)])

    pre_num_col = 1
    current_num_col = 1
    collected: List = []
    # group rows/columns ONCE, shared by divide-pos detection and the walk
    rows_cols = [(r, group_by_columns(r)) for r in group_by_rows(elements)]
    divide_pos = _detect_two_column_pos(rows_cols)

    for row, cols in rows_cols:
        current_num_col = len(cols)

        if current_num_col > 2:
            current_num_col = 2 if try_regroup_two_columns(
                divide_pos, row, pre_num_col) else 1
        elif current_num_col == 2:
            # the two columns shouldn't differ too much in width
            # (RawPage.py:214-237)
            u0, _v0, u1, _v1 = _bbox(cols[0])
            m0, _n0, m1, _n1 = _bbox(cols[1])
            xm = (u1 + m0) / 2.0
            c1, c2 = xm - X0, X1 - xm
            w1, w2 = u1 - u0, m1 - m0
            f = 2.0
            if c1 <= 0 or c2 <= 0 or not (1 / f <= c1 / c2 <= f) \
                    or w1 / c1 < 0.33 or w2 / c2 < 0.33:
                short_col = cols[0] if w1 < w2 else cols[1]
                if getattr(cols[0][-1], "spans", None) and \
                        getattr(cols[1][0], "spans", None) and \
                        not _is_same_font(cols[0], cols[1]):
                    current_num_col = 2
                elif getattr(short_col[-1], "spans", None) and \
                        is_end_sentence(short_col[-1]) and pre_num_col == 2:
                    # last row of a two-column section: the shorter column
                    # may be a closing sentence (RawPage.py:226-233)
                    current_num_col = 2
                else:
                    current_num_col = 1

        if pre_num_col == 2 and current_num_col == 1:
            # the single column may pair with a virtual empty column
            # (RawPage.py:239-253)
            ccols = group_by_columns(collected)
            pos = _bbox(ccols[0])[2]
            rb = _bbox(row)
            if rb[2] <= pos or rb[0] > pos:
                current_num_col = 2
            else:
                cb = _bbox(collected)
                if cb[3] - cb[1] < min_section_height:
                    pre_num_col = 1
        elif pre_num_col == 2 and current_num_col == 2:
            # both two-column but misaligned with the collected section
            # (RawPage.py:255-259)
            if len(group_by_columns(collected + list(row), sort=False)) == 1:
                current_num_col = 1

        if current_num_col != pre_num_col:
            close_section(pre_num_col, collected)
            collected = list(row)
            pre_num_col = current_num_col
        else:
            collected.extend(row)

    close_section(current_num_col, collected)
    return sections
