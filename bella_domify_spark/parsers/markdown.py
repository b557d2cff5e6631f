"""Markdown block tokenizer → DomTree (north-star axis B).

The reference routes ``.md`` through its txt converter at domtree level
(/root/reference/services/parse_manager.py:143-153), so the *extraction
equality target* for markdown payloads is the plain-text rule. This module
provides the richer block-level state machine the north star asks for:
ATX headings, fenced code, GFM pipe tables, bullet/ordered list items and
paragraphs become typed tree nodes.

Flatten-stability contract (tested): for canonical markdown (blocks separated
by blank lines, well-nested heading levels, "- " bullets directly following a
paragraph), ``parse(text).to_markdown() == canonical(text)`` under the
reference flatten (tree.py). Pipe tables and ordered lists keep their raw
text as Text nodes so stability holds for them too; their parsed structure is
exposed via node metadata instead of the Table layout type.

``parse`` builds the tree; ``record`` emits the same tree's JSON from
``build``'s rule without it (the extraction path, pinned to ``parse`` by
tests/test_direct_emit.py).
"""

from __future__ import annotations

import re
from typing import List, Tuple

from bella_domify_spark.core.blocks import Line, Span, TextBlock
from bella_domify_spark.core.tree import (DomTree, Node, add_child_dict,
                                          root_dict, text_node_dict)
from bella_domify_spark.functions import fastjson

_ATX = re.compile(r"^(#{1,6})\s+(.*?)\s*#*\s*$")
_FENCE = re.compile(r"^(```+|~~~+)\s*(\S*)\s*$")
_BULLET = re.compile(r"^([-*+])\s+(.*)$")
_ORDERED = re.compile(r"^(\d{1,9})[.)]\s+(.*)$")
_TABLE_ROW = re.compile(r"^\s*\|.*\|\s*$")
_TABLE_SEP = re.compile(r"^\s*\|(\s*:?-{1,}:?\s*\|)+\s*$")


def _node(text: str, layout: str) -> Node:
    # list_type 0 keeps list recognition off; a bullet's explicit
    # unordered list type is its marker char
    bullet = layout == "List"
    line = Line(spans=[Span(text=text, bbox=(0.0, 1.0, 0.0, 1.0))],
                bbox=(0.0, 1.0, 0.0, 1.0), list_type="-" if bullet else 0,
                list_tag="- " if bullet else None)
    return Node(TextBlock(lines=[line], page_num=[0],
                          is_title=layout == "Title",
                          layout_override="Code" if layout == "Code" else None))


def tokenize(text: str) -> List[Tuple[str, str]]:
    """Split markdown into typed blocks: (kind, raw_or_payload) where kind ∈
    {heading<N>, code, table, bullet, ordered, paragraph}."""
    lines = text.split("\n")
    blocks: List[Tuple[str, str]] = []
    i, n = 0, len(lines)
    para: List[str] = []

    def flush_para():
        nonlocal para
        if para:
            blocks.append(("paragraph", "\n".join(para)))
            para = []

    while i < n:
        ln = lines[i]
        if not ln.strip():
            flush_para()
            i += 1
            continue
        m = _ATX.match(ln)
        if m:
            flush_para()
            blocks.append((f"heading{len(m.group(1))}", m.group(2)))
            i += 1
            continue
        m = _FENCE.match(ln)
        if m:
            flush_para()
            fence = m.group(1)[0] * 3
            buf = [ln]
            i += 1
            while i < n:
                buf.append(lines[i])
                if lines[i].startswith(fence):
                    i += 1
                    break
                i += 1
            blocks.append(("code", "\n".join(buf)))
            continue
        if _TABLE_ROW.match(ln) and i + 1 < n and _TABLE_SEP.match(lines[i + 1]):
            flush_para()
            buf = [ln]
            i += 1
            while i < n and _TABLE_ROW.match(lines[i]):
                buf.append(lines[i])
                i += 1
            blocks.append(("table", "\n".join(buf)))
            continue
        m = _BULLET.match(ln)
        if m:
            flush_para()
            blocks.append(("bullet", m.group(2)))
            i += 1
            continue
        m = _ORDERED.match(ln)
        if m:
            flush_para()
            blocks.append(("ordered", ln))
            i += 1
            continue
        para.append(ln)
        i += 1
    flush_para()
    return blocks


def parse_table_rows(raw: str) -> List[List[str]]:
    """Parse a GFM pipe table into rows of cell texts (separator row dropped)."""
    rows = []
    for j, ln in enumerate(raw.split("\n")):
        if j == 1 and _TABLE_SEP.match(ln):
            continue
        cells = [c.strip() for c in ln.strip().strip("|").split("|")]
        rows.append(cells)
    return rows


def build(text: str, root, node, add_child):
    """The one heading-stack and bullet-attachment rule over ``tokenize``,
    shared by ``parse`` (Node trees) and ``record`` (``to_dict``-form
    dicts): ``node(text, layout_type)`` makes a node and
    ``add_child(parent, child)`` attaches it. Returns ``root``."""
    stack = [(0, root)]  # (heading level, node)
    last_para = None

    for kind, payload in tokenize(text):
        if kind.startswith("heading"):
            level = int(kind[len("heading"):])
            while stack[-1][0] >= level:
                stack.pop()
            child = node(payload, "Title")
            add_child(stack[-1][1], child)
            stack.append((level, child))
            last_para = None
        elif kind == "bullet":
            if last_para is not None:
                add_child(last_para, node(payload, "List"))
            else:
                # no preceding paragraph: keep raw for flatten stability
                add_child(stack[-1][1], node("- " + payload, "Text"))
        elif kind == "code":
            add_child(stack[-1][1], node(payload, "Code"))
            last_para = None
        elif kind == "table":
            # raw text node typed "Table" via metadata-free Text (stability);
            # structure available via parse_table_rows for consumers
            add_child(stack[-1][1], node(payload, "Text"))
            last_para = None
        else:  # paragraph / ordered
            child = node(payload, "Text")
            add_child(stack[-1][1], child)
            last_para = child
    return root


def parse(text: str) -> DomTree:
    tree = DomTree()
    build(text, tree.root, _node, Node.add_child)
    return tree


def record(text: str) -> str:
    """``parse(text).to_json()`` without the tree."""
    return fastjson.dumps({"root": build(text, root_dict(), text_node_dict,
                                         add_child_dict)})
