"""Plain-text parser: whole payload becomes ONE text node under root.

Parity: /root/reference/doc_parser/dom_parser/parsers/txt/converter.py:13-36
(single TextBlock holding the whole content as one span) and the flat layout
path /root/reference/doc_parser/layout_parser/txt_parser.py (single TEXT
SimpleBlock). Flatten therefore yields ``text + "\\n\\n"``.

``parse`` builds that tree; ``record`` emits the same tree's JSON and
flatten without building it (the extraction path's plaintext parser,
pinned to ``parse`` by tests/test_direct_emit.py).
"""

from __future__ import annotations

from bella_domify_spark.core.blocks import Line, Span, TextBlock
from bella_domify_spark.core.tree import (DomTree, Node, add_child_dict,
                                          root_dict, text_node_dict)
from bella_domify_spark.functions import fastjson
from bella_domify_spark.functions.listmark import recognize_list


def parse(text: str) -> DomTree:
    # bbox [0,1,0,1] placeholder as in TxtConverter._build_text_block.
    # NOTE: list recognition intentionally applies to the whole content
    # (Lines.restore → recognize_list), so a payload starting with e.g. "1. "
    # is typed List and flattens as "# 1. ..." — reference-faithful quirk.
    span = Span(text=text, bbox=(0.0, 1.0, 0.0, 1.0))
    line = Line(spans=[span], bbox=(0.0, 1.0, 0.0, 1.0))
    tree = DomTree()
    tree.root.add_child(Node(TextBlock(lines=[line], page_num=[0])))
    return tree


def layout_type(text: str) -> str:
    """The one node's layout type: List when the whole content is
    recognized as a list item, else Text."""
    return "List" if recognize_list(text)[0] else "Text"


def flatten(text: str, layout: str) -> str:
    """``parse(text).to_markdown()``: a List node sits at level 1 and so
    gains the "# " prefix."""
    return ("# " + text if layout == "List" else text) + "\n\n"


def record(text: str) -> tuple:
    """``(parse(text).to_json(), parse(text).to_markdown())`` without the
    tree."""
    layout = layout_type(text)
    root = root_dict()
    add_child_dict(root, text_node_dict(text, layout))
    return fastjson.dumps({"root": root}), flatten(text, layout)
