"""Differential test: the plaintext, markdown and pptx records that the
extraction path emits without building a tree are the records of the tree
path they replace — ``txt.parse`` / ``markdown.parse`` + ``to_json`` for
``domtree_json`` and the txt tree's flatten for ``extracted_text`` — down
to the ``error:*`` status of a payload the JSON encoder rejects."""

from hypothesis import given, settings
from hypothesis import strategies as st

from bella_domify_spark import synthdocs as sd
from bella_domify_spark.parsers import markdown, pptxlike, txt
from bella_domify_spark.parsers.dispatch import (FMT_MD, FMT_PPTX, FMT_TXT,
                                                 PARSERS, parse_record)

FIELDS = ("extracted_text", "domtree_json", "n_nodes", "status")


def _tree_txt(text, _image_provider):
    tree = txt.parse(text)
    return tree.to_json(), tree.to_markdown()


def _tree_md(text, _image_provider):
    extracted = txt.parse(text).to_markdown()
    return markdown.parse(text).to_json(), extracted


def _tree_pptx(text, _image_provider):
    extracted = pptxlike.flat_text(text)
    return txt.parse(extracted).to_json(), extracted


def _assert_same(text, formats=((FMT_TXT, _tree_txt), (FMT_MD, _tree_md))):
    # both formats on every input, whatever detect_format would pick
    for fmt, tree_path in formats:
        got = parse_record(fmt, PARSERS[fmt], text)
        want = parse_record(fmt, tree_path, text)
        assert {k: got[k] for k in FIELDS} == {k: want[k] for k in FIELDS}


_PIECES = [
    "# h1", "## h2 ##", "### h3", "#### h4", "##### h5", "###### h6",
    "####### seven", "#no-space", "```python", "```", "~~~", "~~~~ x",
    "| a | b |", "| --- | --- |", "|:-:|---:|", "| 1 | 2 |", "|x|",
    "- item", "* item", "+ item", "-no-space", "1. one", "2) two",
    "1.2.3 nested", "123456789. big", "para text", "目录", "目 录",
    "第一章 总则", "一、cjk", "（三）cjk", "① circled", "⒈ dot", "[7] cite",
    "Intro..........12", "Intro..........12  ", "Intro..........٣",
    "• bullet", "★ star", "", " ", "\t", "\r", "a\rb", "\x00", "\x1f",
    '"quoted"', "back\\slash", "\u2028", "\u2029", "\x85", "\ufeff",
    "\ud800", "\udfff", "٣", "text 3", "emoji 😀",
]

_line = st.one_of(st.sampled_from(_PIECES), st.text(max_size=12))
_doc = st.builds(lambda lines, sep: sep.join(lines),
                 st.lists(_line, max_size=14), st.sampled_from(["\n", "\n\n"]))
_any_char = st.text(alphabet=st.characters(min_codepoint=0,
                                           max_codepoint=0x10FFFF,
                                           exclude_categories=()),
                    max_size=40)


@settings(max_examples=500, deadline=None)
@given(st.one_of(_doc, _any_char, st.sampled_from(_PIECES)))
def test_direct_records_equal_tree_records(text):
    _assert_same(text)


def test_interesting_cases():
    cases = [
        "1. x", "# Title", "## Heading\n\nbody", "para\n\n- x\n\n- y",
        "- x without a paragraph", "# A\n\n## B\n\npara\n\n# C\n\n- d",
        "# A\n\n### deep\n\n## back up\n\n- under title",
        "intro\n\n```python\nx = 1", "intro\n\n~~~\nunclosed\n\n# h",
        "| a | b |\n| --- | --- |\n| 1 | 2 |\n\ntail",
        "目录\n\n第一章 ......... 1\n\n第二章 ......... 9",
        "1. one\n2. two\n\n- bullet after ordered",
        "#" * 7 + " seven\n\n- x", "a\r\nb\r\n\r\n- c\r",
        "quote \" and \\ and \x00 and \u2028", "lone \ud800 surrogate",
        "- \ud800 in a bullet", "Intro..........12", "x" * 30 + "٣",
    ]
    for text in cases:
        _assert_same(text)
    # a lone surrogate is rejected by the JSON encoder on both paths
    assert parse_record(FMT_MD, PARSERS[FMT_MD],
                        "# h\n\n\ud800")["status"].startswith("error:")


def test_generated_turns():
    for seed in range(60):
        _assert_same(sd.gen_plaintext(sd._Rng(12_000 + seed)))
        _assert_same(sd.gen_markdown(sd._Rng(13_000 + seed)))
        _assert_same(sd.gen_pptxlike(sd._Rng(14_000 + seed)),
                     formats=((FMT_PPTX, _tree_pptx),))
