"""Document tree (DomTree/Node) with the reference's exact flatten semantics.

Parity targets in /root/reference:
- Node ancestry rules (``is_child_of`` chain):
  doc_parser/dom_parser/domtree/domtree.py:60-159
- Markdown flatten: domtree/domtree.py:219-273 (duplicated 293-332)
- Order numbering ("1.2.1"): domtree/domtree.py:275-291

Spark note: Spark SQL types cannot be recursive, so the tree never crosses a
row boundary as a struct — it is serialized to a JSON string column
(``to_dict``) plus the flattened ``to_markdown`` text, computed inside the
Arrow UDF.
"""

from __future__ import annotations

import json

from bella_domify_spark.functions import fastjson
from typing import List, Optional

from bella_domify_spark.core.blocks import TableBlock, TextBlock
from bella_domify_spark.functions.textutils import CATALOG_ITEM_PATTERN, squash_spaces


class Node:
    def __init__(self, element=None, is_root: bool = False):
        self.element = element
        self.child: List[Node] = []
        self.parent: Optional[Node] = None
        self.is_root = is_root
        self.order_num_str: Optional[str] = None

    # ----- ancestry rules (domtree.py:60-159) -----

    def identify_catalog_by_mulu(self):
        if "目录" in squash_spaces(self.element.text):
            self._set_catalog()

    def identify_catalog_by_father(self, father_node):
        if father_node.element is not None and father_node.element.is_catalog:
            self._set_catalog()

    def _set_catalog(self):
        for line in getattr(self.element, "lines", []):
            line.is_catalog = True

    def is_child_of(self, node: "Node") -> bool:
        if node.is_root:
            return True
        if not self._judge_by_catalog(node):
            return False
        if not self._judge_by_title(node):
            return False
        if self._judge_by_text_font(node):
            return True
        if not self._judge_by_order_list(node):
            return False
        return True

    def _judge_by_title(self, node: "Node") -> bool:
        # A Title can only be the child of another Title, never of plain text.
        if self.element.is_title and not node.element.is_title:
            return False
        return True

    def _judge_by_catalog(self, node: "Node") -> bool:
        # Children of a "目录" (TOC) node must look like TOC items:
        # dot-leader text or a hyperlink first line.
        if "目录" in squash_spaces(node.element.text):
            stripped = squash_spaces(self.element.text.strip())
            if not CATALOG_ITEM_PATTERN.search(stripped) and not self._first_line_link():
                return False
        return True

    def _first_line_link(self) -> bool:
        lines = getattr(self.element, "lines", None)
        if not lines or not lines[0].spans:
            return False
        return bool(lines[0].spans[0].uri)

    def _judge_by_text_font(self, node: "Node") -> bool:
        if not isinstance(self.element, TextBlock) or not isinstance(node.element, TextBlock):
            return False
        # image-only blocks have no text spans → no font comparison
        if self.element.is_image_block or node.element.is_image_block:
            return False
        _, cur_size, cur_bold = self.element.font_size_bold()
        _, node_size, node_bold = node.element.font_size_bold()
        if cur_size is None or node_size is None:
            return False
        if cur_size < node_size:
            return True
        if cur_size <= node_size and (not cur_bold) and node_bold:
            return True
        return False

    def _judge_by_order_list(self, node: "Node") -> bool:
        # Same list level → siblings, not parent/child.
        return self.element.list_type() != node.element.list_type()

    def recursion_find_same_list_type_node(self, node: "Node") -> Optional["Node"]:
        if self._same_list_type_node(node):
            return node
        if node.parent and not node.parent.is_root:
            return self.recursion_find_same_list_type_node(node.parent)
        return None

    def _same_list_type_node(self, node: "Node") -> bool:
        return (not node.is_root) and self.element.list_type() == node.element.list_type()

    def add_child(self, node: "Node"):
        self.child.append(node)
        node.parent = self


class DomTree:
    def __init__(self):
        self.root = Node(None, is_root=True)

    # ----- flatten (domtree.py:219-273, ported rule-for-rule) -----

    def to_markdown(self) -> str:
        out: List[str] = []

        def walk(node: Node, level: int, parent_order: str, order: int, low_than_text: int = 0):
            cur_order = parent_order
            child_low_than_text = 0
            if node.element is not None:
                cur_order = f"{parent_order}.{order}" if parent_order else f"{order}"
                node.order_num_str = cur_order
                el = node.element
                lt = el.layout_type
                image_link = getattr(el, "image_link", None)
                if lt == "Figure" and image_link:
                    out.append(f"![Figure]({image_link})\n\n")
                    ocr = getattr(el, "image_ocr_result", "") or ""
                    quoted = "\n".join("> " + ln for ln in ocr.split("\n"))
                    out.append(f"{quoted}\n\n")
                elif lt == "Table":
                    table_md = el.to_html()
                    nxt = el.next_continuous_table
                    while nxt is not None:
                        table_md += nxt.to_html()
                        nxt = nxt.next_continuous_table
                    out.append(f"{table_md}\n\n")
                elif level <= 6 and (lt == "Title" or (lt == "List" and not low_than_text)):
                    out.append("#" * level + f" {el.text}\n\n")
                elif lt == "Title":
                    out.append(f"{el.text}\n\n")
                elif lt == "Text":
                    out.append(f"{el.text}\n\n")
                    child_low_than_text = low_than_text + 1
                elif lt == "List":
                    out.append("\t" * (low_than_text - 1) + f"- {el.text}\n\n")
                else:  # Formula / Catalog / Code / Figure-without-link ...
                    out.append(f"{el.text}\n\n")

            for i, ch in enumerate(node.child, start=1):
                walk(ch, level + 1, cur_order, i, child_low_than_text)

        walk(self.root, 0, "", 1)
        return "".join(out)

    # ----- order numbering (domtree.py:275-291, printing dropped) -----

    def assign_order_numbers(self):
        def walk(node: Node, parent_order: str, order: int):
            cur_order = parent_order
            if node.element is not None:
                cur_order = f"{parent_order}.{order}" if parent_order else f"{order}"
                node.order_num_str = cur_order
            for i, ch in enumerate(node.child, start=1):
                walk(ch, cur_order, i)

        walk(self.root, "", 1)

    # ----- serialization (NodeModel projection, domtree.py:19-47) -----

    def to_dict(self) -> dict:
        self.assign_order_numbers()

        def element_dict(el):
            if el is None:
                return None
            if isinstance(el, TableBlock):
                return {
                    "block_type": "table",
                    "layout_type": el.layout_type,
                    "bbox": list(el.bbox),
                    "rows": [
                        [
                            {
                                "text": c.text,
                                "start_row": c.start_row,
                                "end_row": c.end_row,
                                "start_col": c.start_col,
                                "end_col": c.end_col,
                            }
                            for c in row
                        ]
                        for row in el.rows
                    ],
                    "page_num": list(el.page_num),
                }
            d = {
                "block_type": "image" if el.is_image_block else "text",
                "layout_type": el.layout_type,
                "bbox": list(el.bbox),
                "text": None if el.is_image_block else el.text,
                "page_num": list(el.page_num),
            }
            # P25 placeholder fidelity: Figure nodes pin the image span's
            # position/size and byte-payload metadata (ImageSpanExtend
            # fields / ImagesExtractor recovery stand-in), plus provider
            # results when an image_provider ran
            if el.is_image_block:
                span = next((s for ln in getattr(el, "lines", [])
                             for s in ln.spans if s.is_image), None)
                if span is not None:
                    img = {"bbox": list(span.bbox)}
                    if span.image_meta:
                        img.update(span.image_meta)
                    d["image"] = img
                if getattr(el, "image_link", None):
                    d["image_link"] = el.image_link
                    d["ocr_result"] = el.image_ocr_result or ""
            # P24 alignment & spacing metadata (emitted only when parsed)
            if getattr(el, "alignment", None) is not None:
                d["alignment"] = el.alignment
                for k in ("left_space", "right_space", "first_line_space",
                          "before_space", "line_space"):
                    v = getattr(el, k, None)
                    if v is not None:
                        d[k] = round(float(v), 2)
            # P22 span styles (hyperlink/highlight/underline/strike)
            styles = [s for ln in getattr(el, "lines", [])
                      for sp in ln.spans for s in sp.style]
            if styles:
                d["styles"] = styles
            return d

        def node_dict(node: Node) -> dict:
            return {
                "order_num": node.order_num_str,
                "element": element_dict(node.element),
                "child": [node_dict(c) for c in node.child],
            }

        return {"root": node_dict(self.root)}

    def to_json(self) -> str:
        return fastjson.dumps(self.to_dict())


# ----- the to_dict form built directly (no Node/TextBlock objects) -----
#
# The txt and markdown trees hold only one-span text blocks with the
# [0,1,0,1] placeholder bbox on page 0, so their ``to_dict`` output is
# fully determined by each node's text, layout type and position; these
# build that output for the parsers that emit it without a tree.

def root_dict() -> dict:
    return {"order_num": None, "element": None, "child": []}


def text_node_dict(text: str, layout_type: str) -> dict:
    return {"order_num": None,
            "element": {"block_type": "text", "layout_type": layout_type,
                        "bbox": [0.0, 1.0, 0.0, 1.0], "text": text,
                        "page_num": [0]},
            "child": []}


def add_child_dict(parent: dict, child: dict) -> None:
    """Attach ``child`` and number it as ``assign_order_numbers`` does:
    "1", "2" under the root, "2.1" under "2"."""
    kids = parent["child"]
    kids.append(child)
    order = parent["order_num"]
    child["order_num"] = f"{order}.{len(kids)}" if order else str(len(kids))
