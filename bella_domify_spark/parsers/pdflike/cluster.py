"""Row/column clustering and reading-order sort.

Parity targets in /root/reference/doc_parser/dom_parser/parsers/pdf/common:
- ``group_by_physical_rows`` — connected components under the centerline
  ``in_same_row`` predicate (Collection.py:198-208, Element.py:261-288).
- ``sort_in_reading_order_plus`` — group rows top-to-bottom, sort each row
  left-to-right (Collection.py:233-253); ``reading_order_rows`` keeps the
  rows, so the paragraph join does not group them again.

The reference builds an O(n²) adjacency graph + BFS (Collection.py:90-128).
``group_physical_rows`` finds the same components with one pure-Python
sweep in center order, comparing each line only with the earlier lines
whose bottom edge is still at or below its center.
"""

from __future__ import annotations

from typing import List, Sequence


def group_physical_rows(lines: Sequence, sort_rows: bool = False) -> List[List]:
    """Group elements (anything with .bbox) into physical rows.

    in_same_row(a, b): center(a) <= b.y1 and center(b) <= a.y1 — transitive
    closure over the sequence. Returned rows preserve original element order
    within a row (matching graph-BFS grouping on insertion order); rows are
    ordered by first occurrence, or by top edge when ``sort_rows``.

    The sweep visits elements by ascending center. Once the current center
    is below an earlier element's bottom edge, every later center is too,
    so that element can match nothing further and leaves the active list;
    each remaining one already meets the first half of the predicate. This
    holds for any box, degenerate (y1 < y0) ones included.
    """
    bottoms = [l.bbox[3] for l in lines]
    centers = [(l.bbox[1] + b) / 2.0 for l, b in zip(lines, bottoms)]
    parent = list(range(len(lines)))

    def root(i):
        while parent[i] != i:
            parent[i] = i = parent[parent[i]]
        return i

    active: List[int] = []
    for i in sorted(parent, key=centers.__getitem__):
        c, y1 = centers[i], bottoms[i]
        still = []
        for j in active:
            if bottoms[j] >= c:
                still.append(j)
                if centers[j] <= y1:
                    # i is still a root: it only gains children here
                    parent[root(j)] = i
        still.append(i)
        active = still
    groups: dict = {}
    for i, line in enumerate(lines):
        groups.setdefault(root(i), []).append(line)
    rows = list(groups.values())
    if sort_rows:
        rows.sort(key=row_top)
    return rows


def row_top(row: Sequence) -> float:
    """Top edge of a row: the sort key of ``sort_rows``."""
    return min(l.bbox[1] for l in row)


def sort_in_line_order(row: List) -> List:
    """Left-to-right within a physical row (Collection.py:222-230)."""
    return sorted(row, key=lambda e: (e.bbox[0], e.bbox[1], e.bbox[2]))


def reading_order_rows(lines: Sequence) -> List[List]:
    """Physical rows top-to-bottom, elements left-to-right within each row.
    They are also ``group_physical_rows`` of the flattened result."""
    return [sort_in_line_order(row)
            for row in group_physical_rows(lines, sort_rows=True)]


# Full section/column detection (P12) lives in sections.py — the simplified
# whole-page gutter test that used to sit here is superseded by the
# reference-faithful row-by-row state machine (RawPage.parse_section).
