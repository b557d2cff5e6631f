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
# maximal runs of >= 10 equal chars other than "\n" (the rule's
# "(.)\1{9,}"): the greedy repeat consumes each whole run
_RUN10 = re.compile(r"(.)\1{9,}")
_FIRST_NON_SPACE = re.compile(r"\S")
# the lookbehind keeps the search linear: only a run's first digit starts
# a \d+ attempt
_TRAILING_DIGITS = re.compile(r"(?<!\d)\d+$")


def _toc_leader(text: str, end: int) -> bool:
    """Whether rule 41, ``.*\\s*(.)\\1{9,}\\s*\\d+\\s*$``, matches ``text``,
    in linear time; ``end`` is ``len(text.rstrip())`` and ``text[end - 1]``
    is a ``\\d``. A match always spans the whole text (the last ``\\s*``
    takes the trailing whitespace, a final newline included), so this is
    all the caller needs.

    The rule decomposes ``text`` as P + S1 + c*k + S2 + D + S3: P holds no
    newline (``.*``), S1-S3 are whitespace, c is not a newline, k >= 10 and D
    is digits. So the c-run may start at any index up to the first non-space
    char after the first newline, and the remainder after its k-th char must
    be S2 + D + S3: that remainder starts at or after the whitespace run
    before the trailing digits and before ``end``. Each maximal run of a
    char therefore qualifies iff it starts early enough, leaves room for
    ten chars and a digit before ``end``, and reaches that whitespace run.
    """
    newline = text.find("\n")
    if newline < 0:
        start_limit = len(text)
    else:
        m = _FIRST_NON_SPACE.search(text, newline)
        start_limit = m.start() if m else len(text)
    digits = _TRAILING_DIGITS.search(text, 0, end).start()
    gap = len(text[:digits].rstrip())
    for run in _RUN10.finditer(text):
        if run.start() > start_limit or run.start() + 11 > end:
            break
        if run.end() >= gap:
            return True
    return False


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
        # agree on what is space); _toc_leader decides the rest in linear
        # time, where the regex backtracks quadratically on long lines
        end = len(text.rstrip())
        if _DIGIT.match(text, end - 1, end) and _toc_leader(text, end):
            return _TOC_IDX + 1, text
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
