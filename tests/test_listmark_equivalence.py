"""Property test: the first-char-gated list recognizer is exactly equivalent
to the reference's test-all-41-rules-in-order implementation, and it never
tries the TOC-leader rule on text that cannot end in its page number."""

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


@settings(max_examples=600, deadline=None)
@given(st.one_of(_interesting, _random, _multiline))
def test_gated_equals_reference(text):
    assert recognize_list(text) == recognize_list_reference(text)


def test_toc_rule_tried_only_on_digit_tails(monkeypatch):
    calls = []
    rule = listmark._COMPILED[listmark._TOC_IDX]

    class Spy:
        def match(self, text):
            calls.append(text)
            return rule.match(text)

    spied = list(listmark._COMPILED)
    spied[listmark._TOC_IDX] = Spy()
    monkeypatch.setattr(listmark, "_COMPILED", spied)
    for text in ["Intro..........x", "Intro..........12a", "a" * 8000,
                 "plain words", "٣ ends in a letter", "12 \n\n x",
                 "• bullet", "第三章 chapter x"]:
        recognize_list(text)
    assert calls == []
    assert recognize_list("Intro..........12\n")[0] == listmark._TOC_IDX + 1
    assert recognize_list("Intro..........٣")[0] == listmark._TOC_IDX + 1
    assert calls == ["Intro..........12\n", "Intro..........٣"]
