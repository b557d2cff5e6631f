"""List-item recognition: ordered-list regex cascade + special-leading-char rule.

Semantics parity with the reference's list recognizer
(/root/reference/doc_parser/dom_parser/parsers/pdf/text/Lines.py:21-104):
the *first* matching pattern index (1-based) is the list type; its matched
prefix is the list tag. Lines starting with a "special" character (not
alnum/space/CJK/common punctuation) are unordered list items typed by that
character itself.
"""

from __future__ import annotations

import re
from typing import Optional, Tuple, Union

# Port of Lines.ORDERED_LIST_PATTERN (Lines.py:21-64), order preserved —
# the rule index is the list *type*, so ordering is semantics.
ORDERED_LIST_PATTERN = [
    r'^\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*',  # 1.2.3.4.5.6.
    r'^\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*',       # 1.2.3.4.5.6
    r'^\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*',             # 1.2.3.4.5.
    r'^\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*',                  # 1.2.3.4.5
    r'^\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*',                        # 1.2.3.4.
    r'^\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*',                             # 1.2.3.4
    r'^\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*\.\s*',                                   # 1.2.3.
    r'^\s*\d+\s*\.\s*\d+\s*\.\s*\d+\s*',                                        # 1.2.3
    r'^\s*\d+\s*\.\s*\d+\s*\.\s*',                                              # 1.2.
    r'^\s*\d+\s*\.\s*\d+\s*',                                                   # 1.2
    r'^\s*\d+\s*\.\s*',                                                         # 1.
    r'^\s*[⒈-⒛]\s*',                # ⒈..⒛ digit + full stop
    r'^\s*\d+、\s*',                           # digit + 顿号
    r'^\s*[一二三四五六七八九十百千万]+、\s*',    # CJK numeral + 顿号
    r'^\s*\d+[\)\]】）]\s*',                   # digit + closing bracket
    r'^\s*[\(\[【（]\d+[\)\]】）]\s*',          # bracketed digit
    r'^\s*[一二三四五六七八九十百千万]+[\)\]】）]\s*',
    r'^\s*[\(\[【（][一二三四五六七八九十百千万]+[\)\]】）]\s*',
    r'^\s*[a-z][\)\]】）]\s*',
    r'^\s*[A-Z][\)\]】）]\s*',
    r'^\s*[①-⑳]\s*',                # ①..⑳
    r'^\s*[⑴-⒇]\s*',                # ⑴..⒇
    r'^\s*[Ⓐ-ⓩ]\s*',                # Ⓐ..ⓩ
    r'^\s*\[\d+\]\s*',                        # [1],[2],...
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)篇\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)章\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)节\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)条\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)项\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)步\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)点\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)部分\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)部\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)段\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)例\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)个\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)阶段\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)层面\s*",
    r"^\s*第(?:[一二三四五六七八九十百千万]+|\d+)方面\s*",
    r".*\s*(.)\1{9,}\s*\d+\s*$",              # TOC leader line "text......12"
]

_COMPILED = [re.compile(p) for p in ORDERED_LIST_PATTERN]

# Unordered-list "special leading char": not word char / whitespace / CJK /
# common punctuation (Lines.py:91-98).
_SPECIAL_START = re.compile(r'^[^\w\s一-鿿.,!?;:\[\](){}\\/\'"“”‘’]')

# --- first-char gating (pure optimization; selection by first non-space
# char class preserves the reference's first-match-wins index exactly,
# because every rule except the TOC-leader anchors on a specific class) ---
_CJK_NUM = set("一二三四五六七八九十百千万")
_TOC_IDX = len(ORDERED_LIST_PATTERN) - 1  # ".*(.)\\1{9,}\\d+$" — any first char
# regex \d (Nd category), NOT str.isdigit() — circled digits like ① are
# isdigit()-True but \d-False
_DIGIT = re.compile(r"\d")


def _candidate_indices(first: str):
    if _DIGIT.match(first):
        return (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14)
    if first in _CJK_NUM:
        return (13, 16)
    if first in "([【（":
        return (15, 17, 23)
    if "a" <= first <= "z":
        return (18,)
    if "A" <= first <= "Z":
        return (19,)
    if "⒈" <= first <= "⒛":
        return (11,)
    if "①" <= first <= "⑳":
        return (20,)
    if "⑴" <= first <= "⒇":
        return (21,)
    if "Ⓐ" <= first <= "ⓩ":
        return (22,)
    if first == "第":
        return tuple(range(24, 40))
    return ()


def recognize_list(text: str) -> Tuple[Optional[Union[int, str]], Optional[str]]:
    """Return ``(list_type, list_tag)`` for a line's text.

    ``list_type`` is the 1-based ordered-pattern index, or the special leading
    character for unordered items, or ``None``. ``list_tag`` is the matched
    marker prefix. Semantics identical to testing all 41 rules in order.
    """
    stripped = text.lstrip() if text else ""
    first = stripped[:1]
    if first:
        for index in _candidate_indices(first):
            m = _COMPILED[index].match(text)
            if m:
                return index + 1, m.group(0)
        # the TOC-leader rule ends in "\d+\s*$", so it can only match when
        # the last non-space char is a \d (str.rstrip and the regex \s
        # agree on what is space); skipping it otherwise also skips its
        # quadratic backtracking on long lines
        if _DIGIT.match(text.rstrip()[-1:]):
            m = _COMPILED[_TOC_IDX].match(text)
            if m:
                return _TOC_IDX + 1, m.group(0)
        m = _SPECIAL_START.match(text)
        if m:
            ch = m.group(0)
            return ch, ch
    return None, None


def recognize_list_reference(text: str):
    """Ungated reference implementation (kept for equivalence testing)."""
    for index, rule in enumerate(_COMPILED):
        m = rule.match(text)
        if m:
            return index + 1, m.group(0)
    m = _SPECIAL_START.match(text) if text else None
    if m:
        ch = m.group(0)
        return ch, ch
    return None, None
