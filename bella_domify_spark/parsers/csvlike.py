"""CSV payload parser.

Parity: /root/reference/doc_parser/layout_parser/csv_parser.py
- ``layout_parse`` (:19-40): rows re-joined with "," after csv parsing,
  embedded newlines replaced by U+2028, lines joined with "\\n" plus a
  trailing "\\n".
- ``markdown_parse`` (:43-64): GFM pipe table with a "---" separator row
  inserted after the header.
"""

from __future__ import annotations

import csv
import io
from typing import List


def _records(text: str) -> List[List[str]]:
    return list(csv.reader(io.StringIO(text)))


def normalize_text(text: str) -> str:
    """csv_parser.layout_parse string semantics."""
    lines = []
    for record in _records(text):
        lines.append(",".join(record).replace("\n", " "))
    return "\n".join(lines) + "\n"


def to_markdown_table(text: str) -> str:
    """csv_parser.markdown_parse semantics: pipe rows + '---' separator after
    the first (header) row."""
    lines = []
    for i, record in enumerate(_records(text)):
        if i == 1:
            lines.append("| " + " | ".join(["---"] * len(record)) + " |")
        lines.append("| " + " | ".join(record) + " |")
    return "\n".join(lines)
