"""Property test: the first-char-gated list recognizer is exactly equivalent
to the reference's test-all-41-rules-in-order implementation, it never
tries the TOC-leader rule on text that cannot end in its page number, and
it decides that rule in linear time."""

import os
import subprocess
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bella_domify_spark.functions import listmark
from bella_domify_spark.functions.listmark import (
    recognize_list,
    recognize_list_reference,
)

_interesting = st.sampled_from([
    "1. item", "1.2.3 nested", "12、chinese", "一、cjk", "(3) paren",
    "（三）cjk paren", "a) alpha", "Z) upper", "① circled", "⑴ paren-circ",
    "Ⓐ ringed", "[7] cite", "第三章 chapter", "第3步 step", "⒈ dotted",
    "Introduction..........3", "plain words", "• bullet", "★ star",
    "  1. indented", "\t第一节 tabbed", "", " ", "。start punct",
    "#hash", "-dash", "_under", "你好 world", "3", "(", "第",
])

_random = st.text(
    alphabet=st.characters(codec="utf-8", categories=(
        "Lu", "Ll", "Nd", "Po", "Ps", "Pe", "Zs", "So", "No", "Lo")),
    max_size=24)

# multi-line payloads whose tails exercise the TOC-leader rule's
# "\d+\s*$": dot leaders, trailing whitespace and newlines (incl. the
# non-ASCII spaces \s and str.rstrip both accept), digit-terminated text
# with non-ASCII \d like ٣
_tail = st.sampled_from([
    "", "3", "12", "٣", "١٢", "３", "3 ", "3\n", "3\n\n", "3\t\r\n", "3\u3000",
    "3\u2028", "3\x85", "3\x1c", "3.", "3a", "①", "x", " ", "\n",
])
_leader = st.builds(lambda title, ch, n: title + ch * n,
                    st.text(max_size=6), st.sampled_from(".·-_ …"),
                    st.integers(8, 12))
_multiline = st.builds(lambda lines, tail: "\n".join(lines) + tail,
                       st.lists(st.one_of(_interesting, _random, _leader),
                                max_size=4), _tail)


# lines built from runs of one char (5-24 long, around the rule's
# 10-char minimum), so the TOC-leader rule's runs, whitespace, newlines and
# trailing digits meet in every order. Kept under ~200 chars: on runs of
# spaces or digits the reference regex backtracks cubically.
_run_char = st.sampled_from([".", "·", " ", "\t", "\n", "\u3000", "a", "1",
                             "٣", "-"])
_runs = st.lists(st.tuples(_run_char, st.integers(1, 24)), min_size=1,
                 max_size=8).map(lambda rs: "".join(c * n for c, n in rs))
_long = st.builds(lambda head, body, tail: head + body + tail,
                  st.sampled_from(["", "Intro", "第三章 x", "1. ", "  ", "\n"]),
                  _runs, _tail)


@settings(max_examples=600, deadline=None)
@given(st.one_of(_interesting, _random, _multiline, _long))
def test_gated_equals_reference(text):
    assert recognize_list(text) == recognize_list_reference(text)


def test_long_digit_terminated_lines_equal_reference():
    # 2000 chars where the reference is quadratic, 150 where it is cubic
    for text in ["a" * 2000 + "b1", "." * 2000 + "1", "ab" * 1000 + "3\n",
                 "Intro" + "." * 2000 + " 12 \n", "x\ny" + "." * 1500 + "7",
                 ("." * 9 + "x") * 200 + "1", "x\n" + " " * 150 + "." * 10 + "7",
                 "1" * 150 + "a1", " " * 150 + "x1", "\n" * 150 + "." * 10 + "1",
                 "." * 10 + "\n" * 150 + "1\n",
                 # a run of digits is its own page number only past 10
                 "1" * 10, "1" * 11, "x" + "1" * 10, "٣" * 10 + " \n"]:
        assert recognize_list(text) == recognize_list_reference(text), text[:20]


def test_long_digit_terminated_line_is_fast():
    # the TOC-leader regex backtracks quadratically on this line (minutes);
    # the linear matcher answers in milliseconds. A child process keeps a
    # slow implementation from hanging the suite.
    code = ("import time\n"
            "from bella_domify_spark.functions.listmark import recognize_list\n"
            "text = 'a' * 200000 + 'b1'\n"
            "t0 = time.perf_counter()\n"
            "assert recognize_list(text) == (None, None)\n"
            "print(time.perf_counter() - t0)\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run([sys.executable, "-c", code], cwd=root,
                             capture_output=True, text=True, check=True,
                             timeout=30).stdout
    except subprocess.TimeoutExpired:
        pytest.fail("recognize_list took over 30 s on a 200k-char line")
    assert float(out) < 1.0


def test_toc_rule_tried_only_on_digit_tails(monkeypatch):
    calls = []
    rule = listmark._toc_leader

    def spy(text, end):
        calls.append(text)
        return rule(text, end)

    monkeypatch.setattr(listmark, "_toc_leader", spy)
    for text in ["Intro..........x", "Intro..........12a", "a" * 8000,
                 "plain words", "٣ ends in a letter", "12 \n\n x",
                 "• bullet", "第三章 chapter x"]:
        recognize_list(text)
    assert calls == []
    assert recognize_list("Intro..........12\n")[0] == listmark._TOC_IDX + 1
    assert recognize_list("Intro..........٣")[0] == listmark._TOC_IDX + 1
    assert calls == ["Intro..........12\n", "Intro..........٣"]
