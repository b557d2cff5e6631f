"""Cross-page relations + stack-based DOM tree construction.

Parity targets in /root/reference/doc_parser/dom_parser:
- caption search: parsers/pdf/extend/table/TableBlockExtend.py:16-22,91-123
  and extend/image/ImageSpanExtend.py:7-13,28-59 (±2 blocks around element)
- reference search: TableBlockExtend.py:125-138, ImageSpanExtend.py:61-74
- cross-page continuation: extend/page/PageExtend.py:15-29,
  TextBlockExtend.py:155-163 (paragraph), TableBlockExtend.py:82-85 (table)
- stack tree build: parsers/pdf/domtree_parser.py:57-164 (tables/images
  attach to first referencing block or previous text node; text blocks walk
  the ancestry stack; parent promotion to Title when it gains a child —
  judge_title_by_child :34-40)
"""

from __future__ import annotations

import re
from typing import List, Optional

from bella_domify_spark.core.blocks import TableBlock, TextBlock
from bella_domify_spark.core.tree import DomTree, Node

TABLE_CAPTION_PATTERN = re.compile(r'^\s*(表|图表|table|Table|tab|Tab)\s*[0-9|-]+')
FIGURE_CAPTION_PATTERN = re.compile(r'^\s*(图|Figure|figure|Fig|fig)\s*[0-9|-]+')


def construct_relations(pages_blocks: List[List]) -> None:
    """R1/R2 (captions & references) + R3/R4 (cross-page continuation).
    ``pages_blocks``: per-page lists of TextBlock/TableBlock in reading order.
    Mutates blocks in place."""
    # --- captions & references, per page (R1/R2) ---
    for page_blocks in pages_blocks:
        for pos, block in enumerate(page_blocks):
            if isinstance(block, TableBlock):
                _attach_caption(block, page_blocks, pos, TABLE_CAPTION_PATTERN, table=True)
            elif block.is_image_block:
                _attach_caption(block, page_blocks, pos, FIGURE_CAPTION_PATTERN, table=False)

    # references across all pages
    all_text_blocks = [
        b for pb in pages_blocks for b in pb
        if isinstance(b, TextBlock) and b.is_text_block
    ]
    for page_blocks in pages_blocks:
        for block in page_blocks:
            caption = getattr(block, "_caption_text", None)
            if not caption:
                continue
            refed = [tb for tb in all_text_blocks
                     if caption in tb.text and tb is not block.caption_block]
            block.refed_blocks = refed

    # --- cross-page continuation (R3/R4, PageExtend.py:15-29) ---
    for prev_blocks, next_blocks in zip(pages_blocks, pages_blocks[1:]):
        if not prev_blocks or not next_blocks:
            continue
        last, first = prev_blocks[-1], next_blocks[0]
        if isinstance(last, TableBlock) and isinstance(first, TableBlock):
            last.next_continuous_table = first
        elif isinstance(last, TextBlock) and isinstance(first, TextBlock) and \
                last.is_text_block and first.is_text_block:
            if not last.last_line_end_of_paragraph and not first.first_line_start_of_paragraph:
                last.next_continuous_paragraph = first


def _attach_caption(block, page_blocks: List, pos: int, pattern, table: bool) -> None:
    """Search ±2 *text* blocks around the element for a caption line."""
    text_blocks: List[TextBlock] = []
    el_index = None
    for b in page_blocks:
        if isinstance(b, TextBlock) and b.is_text_block:
            text_blocks.append(b)
        if b is block:
            text_blocks.append(b)  # placeholder keeps relative position
            el_index = len(text_blocks) - 1
    if el_index is None:
        return
    for i in range(1, 3):
        prev_b = text_blocks[el_index - i] if el_index - i > 0 else None
        next_b = text_blocks[el_index + i] if el_index + i < len(text_blocks) else None
        if prev_b is None and next_b is None:
            break
        for cand in (prev_b, next_b):
            if cand is None or not isinstance(cand, TextBlock):
                continue
            m = pattern.match(cand.text)
            if m:
                block.caption_block = cand
                block._caption_text = m.group(0)
                if table:
                    cand.is_table_name = True
                else:
                    cand.is_figure_name = True
                return


def build_tree(pages_blocks: List[List]) -> DomTree:
    """Stack walk (domtree_parser.py:57-164)."""
    tree = DomTree()
    stack_path: List[Node] = [tree.root]
    prev_text_node: Optional[Node] = None
    searched = set()
    node_dict = {}
    elements = [b for pb in pages_blocks for b in pb
                if not _is_header_footer(b)]

    for element in elements:
        if id(element) in searched:
            continue
        node = Node(element)
        searched.add(id(element))
        node_dict[id(element)] = node

        if isinstance(element, TableBlock):
            # merge the continuation chain rows into this table; the chain
            # pointer is kept (the reference then *also* renders the chained
            # tables in to_markdown — replicated quirk, domtree_parser:74-80
            # + domtree.py:243-248)
            cur = element
            while cur.next_continuous_table is not None:
                nxt = cur.next_continuous_table
                searched.add(id(nxt))
                element.rows.extend(nxt.rows)
                cur = nxt
            if element.refed_blocks and id(element.refed_blocks[0]) in node_dict \
                    and id(element.caption_block) not in searched:
                ref_node = node_dict[id(element.refed_blocks[0])]
                ref_node.add_child(node)
                ref_node.add_child(Node(element.caption_block))
                searched.add(id(element.caption_block))
            elif prev_text_node is not None:
                prev_text_node.add_child(node)
                _judge_title_by_child(prev_text_node)
            else:
                tree.root.add_child(node)
            continue

        if element.is_image_block:
            if element.refed_blocks and id(element.refed_blocks[0]) in node_dict \
                    and id(element.caption_block) not in searched:
                ref_node = node_dict[id(element.refed_blocks[0])]
                ref_node.add_child(node)
                ref_node.add_child(Node(element.caption_block))
                searched.add(id(element.caption_block))
            elif prev_text_node is not None:
                prev_text_node.add_child(node)
                _judge_title_by_child(prev_text_node)
            else:
                tree.root.add_child(node)
            continue

        # text block: merge cross-page continuation chain first
        cur = element
        while cur.next_continuous_paragraph is not None:
            nxt = cur.next_continuous_paragraph
            searched.add(id(nxt))
            element.merge(nxt)
            cur = nxt

        while True:
            if node.is_child_of(stack_path[-1]):
                parent_node = stack_path[-1]
                if node.element.list_type():
                    same = node.recursion_find_same_list_type_node(stack_path[-1])
                    if same is not None:
                        parent_node = same.parent
                        stack_path.pop()
                        stack_path.append(parent_node)
                parent_node.add_child(node)
                _judge_title_by_child(parent_node)
                node.identify_catalog_by_mulu()
                node.identify_catalog_by_father(parent_node)
                stack_path.append(node)
                prev_text_node = node
                break
            else:
                stack_path.pop()
    return tree


def _judge_title_by_child(parent_node: Node) -> None:
    """Non-root, text, non-catalog parents with short text become Titles once
    they gain a child (domtree_parser.py:34-40)."""
    if (not parent_node.is_root
            and parent_node.element.is_text_block
            and not parent_node.element.is_catalog
            and len(parent_node.element.text) < 25):
        parent_node.element.is_title = True


def _is_header_footer(block) -> bool:
    if isinstance(block, TextBlock):
        return any(l.is_header or l.is_footer for l in block.lines)
    return False
