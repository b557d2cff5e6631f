"""Invariants the pdflike pipeline's computed-once values rest on.

- ``group_physical_rows`` (one sorted sweep) equals the transitive closure
  of ``Line.in_same_row`` over all pairs: same rows, same row order, same
  order within each row, degenerate (y1 < y0) and touching boxes included.
- ``TextBlock.rows`` is memoized, and ``merge`` drops the memo. The
  paragraph join hands a block of whole rows the rows of the column's one
  grouping, and the paragraph split hands each block the rows it was built
  from; the rows a block holds are ``group_physical_rows`` of its lines.
- ``Line.text`` is memoized, so each mutator of a line's spans must leave
  the memo in step with the spans: the strip at load, the P22 style span
  split and the hyphen/space fixup.
"""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from bella_domify_spark.core.blocks import Line, Span, TextBlock
from bella_domify_spark.parsers.pdflike import glyphdoc
from bella_domify_spark.parsers.pdflike.cluster import (
    group_physical_rows,
    reading_order_rows,
)
from bella_domify_spark.parsers.pdflike.metadata import parse_text_styles
from bella_domify_spark.parsers.pdflike.paragraphs import (
    adjust_last_word,
    join_lines_vertically,
)
from bella_domify_spark.parsers.pdflike.pipeline import _split_blocks


def closure_rows(lines, sort_rows):
    """Reference grouping: BFS over the all-pairs in_same_row graph, rows in
    first-occurrence order, elements in input order."""
    n = len(lines)
    label = [None] * n
    for s in range(n):
        if label[s] is not None:
            continue
        label[s], todo = s, [s]
        while todo:
            i = todo.pop()
            for j in range(n):
                if label[j] is None and lines[i].in_same_row(lines[j]):
                    label[j] = s
                    todo.append(j)
    rows = {}
    for i, line in enumerate(lines):
        rows.setdefault(label[i], []).append(line)
    rows = list(rows.values())
    if sort_rows:
        rows.sort(key=lambda row: min(l.bbox[1] for l in row))
    return rows


# a coarse grid makes equal centers, touching edges (center == bottom) and
# degenerate boxes (y1 < y0) common; free floats cover the rest
_coord = st.one_of(st.integers(0, 24).map(lambda v: v / 2.0),
                   st.floats(-30.0, 30.0, allow_nan=False))


@st.composite
def _lines(draw):
    boxes = draw(st.lists(st.tuples(_coord, _coord, _coord), max_size=40))
    return [Line(bbox=(x, y0, x + 5.0, y1), list_type=0)
            for x, y0, y1 in boxes]


@settings(max_examples=400, deadline=None)
@given(_lines(), st.booleans())
def test_rows_equal_all_pairs_closure(lines, sort_rows):
    got = group_physical_rows(lines, sort_rows=sort_rows)
    want = closure_rows(lines, sort_rows)
    assert [[id(l) for l in row] for row in got] == \
        [[id(l) for l in row] for row in want]


def test_degenerate_box_joins_row_across_a_dropped_line():
    # a tall line, a line whose center is below it, then a degenerate box
    # (y1 < y0) whose center is still inside the tall one: a sweep that
    # retires lines by top edge alone splits the tall line from it. Far
    # rows below make the input larger than any small-input special case.
    tall = Line(bbox=(0, 0.0, 5, 10.0), list_type=0)
    low = Line(bbox=(0, 11.0, 5, 12.0), list_type=0)
    odd = Line(bbox=(0, 12.0, 5, 6.0), list_type=0)
    far = [Line(bbox=(0, 100.0 + 20 * k, 5, 110.0 + 20 * k), list_type=0)
           for k in range(8)]
    rows = group_physical_rows([tall, low, odd] + far)
    assert [[id(l) for l in row] for row in rows] == \
        [[id(tall), id(odd)], [id(low)]] + [[id(l)] for l in far]


def _ids(rows):
    return [[id(l) for l in row] for row in rows]


@st.composite
def _column(draw):
    boxes = draw(st.lists(st.tuples(st.integers(0, 8), _coord, _coord,
                                    st.sampled_from(["ab", "1. ab", "cd-",
                                                     "ab,", "(ab"])),
                          min_size=1, max_size=30))
    return [Line(spans=[Span(text=t, bbox=(60.0 * x, y0, 60.0 * x + 50, y1))],
                 bbox=(60.0 * x, y0, 60.0 * x + 50, y1)) for x, y0, y1, t in boxes]


@settings(max_examples=300, deadline=None)
@given(_column())
def test_blocks_hold_the_rows_of_their_lines(column):
    joined = join_lines_vertically(reading_order_rows(column))
    for block in joined:
        assert _ids(block.rows) == _ids(group_physical_rows(block.lines))
    for block in _split_blocks(joined):
        assert block._rows_cache is not None  # handed over by the split
        assert _ids(block.rows) == _ids(group_physical_rows(block.lines))


def test_merge_drops_the_rows_memo():
    top = TextBlock(lines=[Line(bbox=(0, 0, 5, 10), list_type=0)])
    low = TextBlock(lines=[Line(bbox=(0, 20, 5, 30), list_type=0)])
    assert len(top.rows) == 1  # memoized
    top.merge(low)
    assert _ids(top.rows) == _ids(group_physical_rows(top.lines))
    assert len(top.rows) == 2


def _synced(line):
    return line.text == "".join(s.display_text for s in line.spans)


def test_load_strip_shows_in_text_and_list_tag():
    payload = json.dumps({"pages": [{"width": 612, "height": 792, "blocks": [
        {"lines": [{"bbox": [72, 100, 300, 112], "spans": [
            {"text": "  1. ", "bbox": [72, 100, 100, 112]},
            {"text": "intro  ", "bbox": [100, 100, 300, 112]}]}]}]}]})
    (line,) = glyphdoc.load(payload)[0].lines
    assert line.text == "1. intro" and _synced(line)
    # recognized on the stripped text: the unstripped one tags "  1. "
    assert (line.list_type, line.list_tag) == (11, "1. ")


def test_style_split_drops_the_text_memo():
    bbox = (100.0, 200.0, 200.0, 211.0)
    line = Line(spans=[Span(text="abcdefghij", bbox=bbox)], bbox=bbox)
    assert line.text == "abcdefghij"  # memoized
    page = glyphdoc.RawPage(width=612.0, height=792.0)
    page.lines = [line]
    page.fills = [glyphdoc.Fill(bbox=(130.0, 199.0, 170.0, 212.0),
                                color=0xFFFF00)]
    parse_text_styles(page)
    assert [s.text for s in line.spans] == ["abc", "defg", "hij"]
    # the split keeps the text, so only the dropped memo shows the call
    assert line._text is None
    assert line.text == "abcdefghij" and _synced(line)


def _pair(first, second):
    a = Line(spans=[Span(text=first, bbox=(0, 0, 50, 10))], bbox=(0, 0, 50, 10))
    b = Line(spans=[Span(text=second, bbox=(0, 12, 50, 22))],
             bbox=(0, 12, 50, 22))
    assert a.text == first  # memoized
    return a, b


def test_hyphen_delete_shows_in_text():
    a, b = _pair("exam-", "ple")
    adjust_last_word([a, b])
    assert a.text == "exam" and _synced(a)


def test_word_space_shows_in_text():
    a, b = _pair("word", "next")
    adjust_last_word([a, b])
    assert a.text == "word " and _synced(a)


def test_out_of_page_line_is_dropped_before_its_spans_are_read():
    # the out-of-page filter reads only the line's bbox, so a malformed
    # span on a dropped line (non-numeric size, a char that is not a dict)
    # no longer fails the whole document
    bad = {"text": "x", "size": "big", "chars": ["c"]}
    payload = json.dumps({"pages": [{"width": 612, "height": 792, "blocks": [
        {"lines": [{"bbox": [700, 100, 800, 112], "spans": [bad]},
                   {"bbox": [72, 100, 300, 112], "spans": [
                       {"text": "kept", "bbox": [72, 100, 300, 112]}]}]}]}]})
    (line,) = glyphdoc.load(payload)[0].lines
    assert line.text == "kept"
