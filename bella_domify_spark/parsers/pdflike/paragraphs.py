"""Paragraph grouping, paragraph split, and hyphen/space line-join fixup.

Parity targets in /root/reference/doc_parser/dom_parser/parsers/pdf:
- ``_join_lines_vertically`` precedence chain: layout/Blocks.py:376-534
- ``split_vertically_by_text``: text/Lines.py:158-236
- ``adjust_last_word`` (hyphen delete + inter-line space): text/Lines.py:238-272
- title identification: layout/Blocks.py:570-622 (+ is_center_aligned :24-30)

This is the extraction-equality-critical cluster (SURVEY.md §2 P18/P19/P21/
P23): block text joins line texts with no separator, so the hyphen/space
fixup is what makes flattened English text readable.
"""

from __future__ import annotations

import math
import re
import string
from itertools import accumulate, count
from typing import List, Optional

from bella_domify_spark.core.blocks import (
    Line,
    TextBlock,
    lines_font_size_bold,
    most_common_insertion_ordered,
)
from bella_domify_spark.parsers.pdflike.cluster import (
    group_physical_rows,
    sort_in_line_order,
)

_UNCLOSED_END = re.compile(r".*[,，'‘“;；、·\-\[{(（【《<]$")
_OPENERS = re.compile(r"[‘“\[{(（【《]")
_CLOSERS = re.compile(r"[’”\]})）】》]")

_PUNC_EX_HYPHEN = ''.join(c for c in string.punctuation if c != '-')


def is_center_aligned(bbox, left_x: float, right_x: float) -> bool:
    """Blocks.py:24-30: width <90% of column and center within 30pt of the
    column center."""
    return right_x > 0 and (bbox[2] - bbox[0]) / (right_x - left_x + 1e-6) < 0.9 and \
        abs((bbox[2] + bbox[0]) / 2 - (right_x + left_x) / 2) < 30


def _vertical_distance(b1, b2) -> float:
    return math.ceil(max(b2.bbox[1] - b1.bbox[3], 0))


def _common_vertical_spacing(same: List[bool], dist: List[int]) -> float:
    """Most frequent inter-row gap (Blocks.py:387-396) over consecutive line
    pairs (``same``: in the same row, ``dist``: vertical distance); the
    first gap to reach the top count wins, like the reference's
    max(key=list.count)."""
    distances = [d for s, d in zip(same, dist) if not s]
    return most_common_insertion_ordered(distances)[0] if distances else 0.0


def _word_width(line: Line) -> float:
    n = max(len(line.text), 1)
    return (line.bbox[2] - line.bbox[0]) / n


def _is_retraction(bbox, text_len: int, left_x: float) -> bool:
    word_w = (bbox[2] - bbox[0]) / max(text_len, 1)
    return (bbox[0] - left_x) > 1.5 * word_w


def _whole_rows(rows: List[List[Line]]):
    """``rows`` (physical rows in reading order) flattened to lines, and a
    function giving the rows of the run ``lines[a:b]`` when the run is
    whole rows, None when it cuts a row. No pair of lines across two rows
    is in the same row, so those rows are ``group_physical_rows`` of the
    run."""
    lines = [l for row in rows for l in row]
    starts = dict(zip(accumulate(map(len, rows), initial=0), count()))

    def rows_of(a: int, b: int) -> Optional[List[List[Line]]]:
        first, stop = starts.get(a), starts.get(b)
        if first is None or stop is None:
            return None
        return rows[first:stop]
    return lines, rows_of


def _border_groups(rows: List[List[Line]], ref_dis: float):
    """cal_text_border_group (Blocks.py:410-453): group consecutive lines by
    similar spacing; per line → ((left_x, right_x), has_retraction).
    ``rows`` are the physical rows in reading order."""
    lines, rows_of = _whole_rows(rows)
    group_info = {}
    tmp: List[tuple] = []

    def flush():
        if not tmp:
            return
        x_p = (min(int(l.bbox[0]) for _, l in tmp), max(int(l.bbox[2]) for _, l in tmp))
        run_rows = rows_of(tmp[0][0], tmp[-1][0] + 1) or \
            group_physical_rows([l for _, l in tmp])
        # Reference is_retraction on a Lines row (Blocks.py:399-407) measures
        # word width from the row's FIRST line only, against the row-union
        # left edge.
        retraction = any(
            (min(l.bbox[0] for l in row) - x_p[0]) >
            1.5 * ((row[0].bbox[2] - row[0].bbox[0]) / max(len(row[0].text), 1))
            for row in run_rows
        )
        for i, _ in tmp:
            group_info[i] = (x_p, retraction)
        tmp.clear()

    for i, line in enumerate(lines):
        pre_line = tmp[-1][1] if tmp else None
        # Reference quirk (Blocks.py:441): cal_text_border_group reads
        # pre_pre_line from the enclosing `lines` list, which is still empty
        # when the grouping runs — the spacing-delta branch is dead there.
        # Pinned as None for parity (test_pdflike.py border-group test).
        pre_pre_line = None
        if not pre_line or pre_line.in_same_row(line):
            pass
        elif pre_pre_line is not None and \
                _vertical_distance(pre_line, line) - _vertical_distance(pre_pre_line, pre_line) < 3:
            pass
        elif _vertical_distance(pre_line, line) <= ref_dis:
            pass
        else:
            flush()
        tmp.append((i, line))
    flush()
    return group_info


def join_lines_vertically(rows: List[List[Line]]) -> List[TextBlock]:
    """Port of the `_join_lines_vertically` precedence chain
    (Blocks.py:472-534) over a column's physical rows in reading order
    (cluster.reading_order_rows). A block of whole rows is handed them."""
    if not rows:
        return []
    lines, rows_of = _whole_rows(rows)
    blocks: List[TextBlock] = []
    cur: List[Line] = []

    def close(end: int) -> None:
        if cur:
            whole = rows_of(end - len(cur), end)
            blocks.append(TextBlock.from_rows(whole) if whole
                          else TextBlock(lines=list(cur)))
            cur.clear()

    g_left = min(int(l.bbox[0]) for l in lines)
    g_right = max(int(l.bbox[2]) for l in lines)
    # per consecutive pair (lines[k], lines[k + 1]), computed once
    same = [a.in_same_row(b) for a, b in zip(lines, lines[1:])]
    dist = [_vertical_distance(a, b) for a, b in zip(lines, lines[1:])]
    ref_dis = _common_vertical_spacing(same, dist)
    groups = _border_groups(rows, ref_dis)

    for idx, line in enumerate(lines):
        # cur is the run lines[idx - len(cur):idx]
        ref_line = cur[-1] if cur else None
        vec_dis = dist[idx - 1] if ref_line else None
        pre_vec_dis = dist[idx - 2] if len(cur) > 1 else None
        next_vec_dis = dist[idx] if idx < len(cur) - 1 else None
        word_w = _word_width(line)

        if not ref_line or same[idx - 1]:
            start_new = False
        elif line.has_image or ref_line.has_image:
            start_new = True
        elif line.is_list:
            start_new = True
        elif cur[0].is_list and groups[idx][0][0] - cur[-1].bbox[2] < 1.5 * word_w \
                and line.bbox[0] - cur[0].bbox[0] < (word_w * (len(cur[0].list_tag or "") + 1.5)):
            start_new = False
        elif _UNCLOSED_END.match(ref_line.text):
            start_new = False
        elif len(_OPENERS.findall(ref_line.text)) > len(_CLOSERS.findall(ref_line.text)) \
                and len(_OPENERS.findall(ref_line.text + line.text)) == \
                len(_CLOSERS.findall(ref_line.text + line.text)):
            start_new = False
        elif pre_vec_dis is not None and vec_dis - pre_vec_dis < 3:
            start_new = False
        elif groups[idx][1]:
            start_new = _is_retraction(line.bbox, len(line.text), groups[idx][0][0])
        elif next_vec_dis is not None and vec_dis - next_vec_dis > 5:
            start_new = True
        elif is_center_aligned(line.bbox, g_left, g_right) != \
                is_center_aligned(ref_line.bbox, g_left, g_right):
            start_new = True
        elif vec_dis <= ref_dis + 1.0:
            start_new = False
        else:
            start_new = True

        if start_new:
            close(idx)
        cur.append(line)
    close(len(lines))
    return blocks


def split_block_by_text(block: TextBlock, text_left_x: float, text_right_x: float) -> List[TextBlock]:
    """Port of Lines.split_vertically_by_text (Lines.py:158-236): split a
    merged block into paragraphs at indents / font changes / short last
    lines; returns blocks carrying start/end-of-paragraph flags."""
    rows = block.rows
    if len(rows) == 1:
        is_list = rows[0][0].is_list
        return [TextBlock.from_rows([rows[0]],
                                    first_line_start_of_paragraph=True,
                                    last_line_end_of_paragraph=bool(is_list))]

    res: List[TextBlock] = []
    cur: List[List[Line]] = []  # rows of the open paragraph
    start_of_para = end_of_para = False
    prev_row: Optional[List[Line]] = None
    prev_fsb = None  # lines_font_size_bold(prev_row), once computed

    def flush(start: bool, end: bool) -> None:
        res.append(TextBlock.from_rows(list(cur),
                                       first_line_start_of_paragraph=start,
                                       last_line_end_of_paragraph=end))
        cur.clear()

    for row in rows:
        row = sort_in_line_order(row)
        word_w = _word_width(row[0])
        fsb = None
        head = cur[0][0] if cur else None  # the open paragraph's first line

        if row and not row[0].is_list and head is not None and head.is_list and \
                text_right_x - head.bbox[2] < 1.5 * word_w and \
                row[0].bbox[0] - head.bbox[0] < (word_w * (len(head.list_tag or "") + 1.5)):
            start_of_para = False
        elif row and row[0].bbox[0] - text_left_x > (word_w * 1.5):
            start_of_para = True
        elif prev_row:
            prev_size = prev_bold = None
            if prev_row[-1].spans and not prev_row[-1].spans[-1].is_image:
                if prev_fsb is None:
                    prev_fsb = lines_font_size_bold(prev_row)
                _, prev_size, prev_bold = prev_fsb
            cur_size = cur_bold = None
            if row and row[-1].spans and not row[-1].spans[0].is_image:
                fsb = lines_font_size_bold(row)
                _, cur_size, cur_bold = fsb
            if prev_size and cur_size:
                if abs(prev_size - cur_size) > 0.5 or prev_bold != cur_bold:
                    start_of_para = True

        if text_right_x - row[-1].bbox[2] > 2 * word_w:
            end_of_para = True

        # NOTE: the reference stamps the flushed block with the *current*
        # row's start_of_para value (Lines.py:219-235) — replicated exactly.
        if start_of_para and cur:
            flush(start_of_para, True)
        cur.append(row)
        if end_of_para:
            flush(start_of_para, end_of_para)
        start_of_para = end_of_para = False
        prev_row, prev_fsb = row, fsb

    if cur:
        flush(start_of_para, end_of_para)
    return res


def adjust_last_word(lines: List[Line], delete_end_line_hyphen: bool = True) -> None:
    """Port of Lines.adjust_last_word (Lines.py:238-272): drop a trailing
    hyphen when the next line starts lowercase; insert a space between
    adjacent English word boundaries. Mutates span texts in place."""
    def is_end_of_english_word(c: str) -> bool:
        return bool(c) and (c.isalnum() or c in _PUNC_EX_HYPHEN)

    for i, line in enumerate(lines[:-1]):
        if not line.spans or line.spans[-1].is_image:
            continue
        end_span = line.spans[-1]
        if not end_span.text:
            continue
        nxt = lines[i + 1]
        if not nxt.spans or nxt.spans[0].is_image:
            continue
        start_span = nxt.spans[0]
        if not start_span.text:
            continue
        end_char = end_span.text[-1]
        next_start_char = start_span.text[0]

        if delete_end_line_hyphen and end_char == '-' and next_start_char.islower():
            end_span.text = end_span.text[:-1]
            end_char = ''
            line.spans_changed()

        if is_end_of_english_word(end_char) and is_end_of_english_word(next_start_char):
            end_span.text += ' '
            line.spans_changed()


def identify_titles(blocks: List) -> None:
    """Port of Blocks._identify_title (Blocks.py:570-622). Mutates is_title
    on text blocks. ``blocks`` may mix TextBlock and TableBlock."""
    if not blocks:
        return
    text_blocks = [b for b in blocks if getattr(b, "is_text_block", False)]
    if not text_blocks:
        return
    text_left_x = min(b.bbox[0] for b in text_blocks)
    text_right_x = max(b.bbox[2] for b in text_blocks)

    for block, next_block in zip(blocks, blocks[1:]):
        if not getattr(block, "is_text_block", False) or block.lines[0].has_image:
            continue
        if any(l.is_in_catalog for l in block.lines):
            block.is_title = True
            continue
        cur_is_center = is_center_aligned(block.bbox, text_left_x, text_right_x)
        if not getattr(next_block, "is_text_block", False) or next_block.lines[0].has_image:
            if cur_is_center:
                block.is_title = True
            continue
        cur_font, cur_size, cur_bold = block.font_size_bold()
        next_font, next_size, next_bold = next_block.font_size_bold()
        next_is_center = is_center_aligned(next_block.bbox, text_left_x, text_right_x)
        if cur_is_center and not next_is_center:
            block.is_title = True
        if cur_is_center and (
                (next_size and cur_size and abs(cur_size - next_size) > 0)
                or (cur_bold and not next_bold)
                or (cur_font and next_font and cur_font != next_font)):
            block.is_title = True
    # last block: cannot be judged (reference appends it unchanged)
