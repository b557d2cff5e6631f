"""StandardDomTree wire protocol: normalized tree serialization.

Parity: /root/reference/server/protocol/standard_domtree.py:6-375 —
- layout_type mapping (List→ListItem, FigureNote/TableNote→Text, :6-21)
- StandardNode {source_file, summary, tokens, path, element, children}
- FigureName/TableName merge into the adjacent Figure/Table sibling (name,
  tokens, positions); unmerged name nodes degrade to type 'text'
  (lowercase — reference quirk at :212)
- paths computed AFTER the merge pass, 1-based per level (:150-168)
- table cells carry path [start_row, end_row, start_col, end_col] and a
  single Text sub-node with path [1] (:303-345)
- tokens: reference uses tiktoken (utils/tokens_util.py:24-30); tiktoken is
  not available here, so ``count_tokens`` is a deterministic proxy
  (word + punctuation count) — structure and summation semantics identical.
"""

from __future__ import annotations

import re
from typing import List, Optional

from bella_domify_spark.core.blocks import TableBlock
from bella_domify_spark.core.tree import DomTree, Node

LAYOUT_TYPE_MAPPING = {
    "Catalog": "Catalog",
    "Title": "Title",
    "List": "ListItem",
    "Formula": "Formula",
    "Code": "Code",
    "Text": "Text",
    "Figure": "Figure",
    "FigureName": "FigureName",
    "FigureNote": "Text",
    "Table": "Table",
    "TableName": "TableName",
    "TableNote": "Text",
}

_TOKEN_RE = re.compile(r"\w+|[^\w\s]")


def count_tokens(text: Optional[str]) -> int:
    """Deterministic token-count proxy (tiktoken unavailable in-container)."""
    if not text:
        return 0
    return len(_TOKEN_RE.findall(text))


def _positions(el) -> List[dict]:
    page = el.page_num[0] if el.page_num else 0
    return [{"bbox": list(el.bbox), "page": page}]


def _node_to_standard(node: Node) -> Optional[dict]:
    el = node.element
    if el is None:
        return None
    mapped = LAYOUT_TYPE_MAPPING.get(el.layout_type, "Text")
    text = ""
    if isinstance(el, TableBlock):
        rows = []
        cell_texts = []
        for row in el.rows:
            cells = []
            for c in row:
                cell_texts.append(c.text)
                cells.append({
                    "path": [c.start_row, c.end_row, c.start_col, c.end_col],
                    "text": c.text,
                    "nodes": [{
                        "summary": "", "tokens": count_tokens(c.text),
                        "path": [1], "children": [],
                        "element": {"type": "Text", "positions": [],
                                    "text": c.text},
                    }],
                })
            rows.append({"cells": cells})
        text = " ".join(cell_texts)
        element = {"type": mapped, "positions": _positions(el), "name": "",
                   "description": "", "rows": rows}
    elif el.is_image_block:
        # StandardImage {type, url, base64, file_id}
        # (standard_domtree.py:35-39,280-299): the reference emits
        # image_url + url when a provider ran. Engine extension (r6):
        # also surface the provider's content-addressed upload key as
        # file_id — it equals the image payload's byte fingerprint
        # (span.image_meta['sha']), so the image element round-trips
        # identity without the bytes.
        image = None
        link = getattr(el, "image_link", None)
        if link:
            image = {"type": "image_url", "url": link}
            span = next((s for ln in getattr(el, "lines", [])
                         for s in ln.spans if s.is_image), None)
            meta = (span.image_meta or {}) if span is not None else {}
            if meta.get("sha"):
                image["file_id"] = str(meta["sha"])
        text = getattr(el, "image_ocr_result", "") or ""
        element = {"type": mapped, "positions": _positions(el), "name": "",
                   "description": "", "text": text, "image": image}
    else:
        text = el.text or ""
        element = {"type": mapped, "positions": _positions(el), "text": text}

    std = {"summary": "", "tokens": 0, "path": [], "element": element,
           "children": []}
    for child in node.child:
        sc = _node_to_standard(child)
        if sc:
            std["children"].append(sc)
    std["tokens"] = count_tokens(text) + sum(c["tokens"] for c in std["children"])
    return std


def _merge_name_nodes(node: dict) -> None:
    """FigureName/TableName → name of the adjacent Figure/Table sibling;
    unmerged name nodes degrade to type 'text' (standard_domtree.py:172-224)."""
    children = node.get("children") or []
    new_children = []
    for i, cur in enumerate(children):
        el = cur.get("element")
        if el and el.get("type") in ("FigureName", "TableName"):
            target_type = "Figure" if el["type"] == "FigureName" else "Table"
            merged = False
            for sib in ((children[i - 1],) if i > 0 else ()) + \
                       ((children[i + 1],) if i < len(children) - 1 else ()):
                sel = sib.get("element")
                if sel and sel.get("type") == target_type:
                    sel["name"] = el.get("text")
                    sib["tokens"] += cur["tokens"]
                    sel["positions"] = sel.get("positions", []) + el.get("positions", [])
                    merged = True
                    break
            if not merged:
                el["type"] = "text"
                new_children.append(cur)
        else:
            new_children.append(cur)
    node["children"] = new_children
    for child in node["children"]:
        _merge_name_nodes(child)


def _calc_paths(node: dict, parent_path: Optional[List[int]] = None) -> None:
    parent_path = parent_path or []
    for i, child in enumerate(node.get("children") or [], start=1):
        child["path"] = parent_path + [i]
        _calc_paths(child, child["path"])


def to_standard(tree: DomTree, source_file: Optional[dict] = None) -> dict:
    root = {"source_file": source_file, "summary": "", "tokens": 0,
            "path": None, "element": None, "children": []}
    for child in tree.root.child:
        sc = _node_to_standard(child)
        if sc:
            root["children"].append(sc)
    _merge_name_nodes(root)
    _calc_paths(root)
    root["tokens"] = sum(c["tokens"] for c in root["children"])
    return {"root": root}
