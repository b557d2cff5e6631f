"""Document-level scans: header/footer frequency vote, catalog.

Parity: /root/reference/doc_parser/dom_parser/parsers/pdf/page/Pages.py
- header/footer vote: :251-401 (candidate zone → de-numbered text + IoU>0.7
  position frequency vote, rate ≥0.4 & count ≥2, first 30 pages, then strip
  the whole confirmed zone)
- cover: :145-187 is not ported — its result only drops page 1 when the
  reference's ``filter_cover`` is on, and production leaves it off
- catalog: :190-248 (dot-leader regex on ≥3 consecutive physical rows within
  the first max(3, n/3) pages; title "目录/目次" row prepended)
- title marking from catalog titles: :135-142

These are *per-document* group-bys — inside the Arrow UDF they are pandas/
dict aggregations; no Spark shuffle is involved (SURVEY.md §2 P7-P10).
"""

from __future__ import annotations

import re
from typing import List

from bella_domify_spark.core.blocks import (
    IMAGE_PLACEHOLDER,
    Line,
    most_common_insertion_ordered,
)
from bella_domify_spark.functions.textutils import (
    CATALOG_ITEM_PATTERN,
    is_position_matching,
    remove_number,
    squash_spaces,
)
from bella_domify_spark.parsers.pdflike.cluster import group_physical_rows
from bella_domify_spark.parsers.pdflike.glyphdoc import RawPage, Stroke

FREQUENCY_THRESHOLD_TIMES = 2
FREQUENCY_THRESHOLD_RATE = 0.4


def _first_rule_height(page: RawPage):
    """First wide horizontal rule in the top quarter (Pages.py:425-443)."""
    for stroke in page.strokes:
        if (stroke.x1 - stroke.x0) > page.width * 2 / 3 and \
                (stroke.y1 - stroke.y0) < 3 and stroke.y1 < page.height / 4:
            return stroke.y1
    return 0


def _possible_header_height(pages: List[RawPage]) -> float:
    heights = []
    for p in pages:
        h = _first_rule_height(p)
        heights.append(h + 5 if h else p.height / 10)
    value, freq = most_common_insertion_ordered(heights)
    if value is None:
        return 0
    if freq / len(heights) >= FREQUENCY_THRESHOLD_RATE and freq >= FREQUENCY_THRESHOLD_TIMES:
        return value
    return 0


def _vote(pages: List[RawPage], candidates_per_page: List[List[Line]], header: bool):
    """Frequency vote shared by header & footer identification."""
    # each candidate line's (image flag, de-numbered text, bbox), keyed once
    keyed = [[(IMAGE_PLACEHOLDER in l.text, remove_number(l.text), l.bbox)
              for l in pl] for pl in candidates_per_page]
    possible = [(l, k) for pl, pk in zip(candidates_per_page[:30], keyed)
                for l, k in zip(pl, pk)]
    n_pages = len(pages)
    for cand, (is_image, key, bbox) in possible:
        if not (is_image or cand.text):
            continue
        cnt = 0
        for page_keys in keyed:
            for l_image, l_key, l_bbox in page_keys:
                if (l_image if is_image else l_key == key) and \
                        is_position_matching(l_bbox, bbox):
                    cnt += 1
                    break
        if cnt / n_pages >= FREQUENCY_THRESHOLD_RATE and cnt >= FREQUENCY_THRESHOLD_TIMES:
            if header:
                cand.is_header = True
            else:
                cand.is_footer = True
    return [c for c, _ in possible if (c.is_header if header else c.is_footer)]


def identify_header_footer(pages: List[RawPage]) -> None:
    """Mark and then strip header/footer lines (Pages.py:251-401). Landscape
    first page disables the scan (Pages.py:254-256)."""
    if not pages:
        return
    if pages[0].height < pages[0].width:
        return

    # --- header ---
    header_height = _possible_header_height(pages)
    header_cands = [
        [l for l in p.lines if l.bbox[3] != 0 and l.bbox[3] < header_height]
        for p in pages
    ]
    confirmed = _vote(pages, header_cands, header=True)
    if confirmed:
        zone = max(l.bbox[3] for l in confirmed)
        for p in pages:
            for line in p.lines:
                if IMAGE_PLACEHOLDER in line.text:
                    if line.bbox[3] != 0 and line.bbox[1] <= zone:
                        line.is_header = True
                elif line.bbox[3] != 0 and (line.bbox[1] + line.bbox[3]) / 2 <= zone:
                    line.is_header = True

    # --- footer ---
    footer_height = (pages[0].height * 8 / 10) - 10
    footer_cands = [
        [l for l in p.lines if l.bbox[1] != 0 and l.bbox[1] > footer_height]
        for p in pages
    ]
    confirmed = _vote(pages, footer_cands, header=False)
    if confirmed:
        zone = min(l.bbox[1] for l in confirmed)
        for p in pages:
            for line in p.lines:
                if line.bbox[1] >= zone:
                    line.is_footer = True

    # strip confirmed lines from pages (Pages.py:260-264)
    for p in pages:
        p.lines = [l for l in p.lines if not l.is_header and not l.is_footer]


def parse_catalog(pages: List[RawPage]) -> List[str]:
    """TOC detection (Pages.py:190-248): scan physical rows in the first
    max(3, n/3) pages; ≥3 consecutive dot-leader rows (or one row matching
    ≥3 times) confirm a catalog; the preceding "目录/目次" row is included.
    Returns extracted catalog titles (leader+page-number stripped) and
    removes catalog lines from the pages."""
    search_range = max(3, len(pages) // 3)
    rows = []
    for p in pages[:search_range]:
        rows.extend(group_physical_rows(p.lines, sort_rows=True))

    found_catalog = False
    catalog_rows: List[List[Line]] = []
    previous_row = None
    for row in rows:
        text = "".join(squash_spaces(l.text.strip()) for l in row)
        n_items = len(CATALOG_ITEM_PATTERN.findall(text))
        if n_items >= 3:
            found_catalog = True
            catalog_rows.append(row)
            if _is_catalog_title(previous_row):
                catalog_rows.insert(0, previous_row)
            continue
        if n_items:
            catalog_rows.append(row)
            if len(catalog_rows) == 3 and _is_catalog_title(previous_row):
                catalog_rows.insert(0, previous_row)
        else:
            if len(catalog_rows) >= 3 or found_catalog:
                break
            catalog_rows = []
            previous_row = row

    titles: List[str] = []
    if len(catalog_rows) >= 3 or found_catalog:
        for row in catalog_rows:
            row[0].is_catalog = True
            item = "".join(l.text for l in row)
            titles.append(re.sub(CATALOG_ITEM_PATTERN, '', squash_spaces(item.strip())))
        catalog_ids = {id(l) for row in catalog_rows for l in row}
        for p in pages[:search_range]:
            p.lines = [l for l in p.lines if id(l) not in catalog_ids]
    return titles


def _is_catalog_title(row) -> bool:
    return bool(row) and squash_spaces("".join(l.text for l in row).strip()) in ("目录", "目次")


def mark_titles_from_catalog(pages: List[RawPage], catalog_titles: List[str]) -> None:
    """Pages.py:135-142 — lines whose squashed text appears in the catalog
    title list are flagged is_in_catalog (promoted to Title later)."""
    title_set = set(catalog_titles)
    for p in pages:
        for line in p.lines:
            line.is_in_catalog = squash_spaces(line.text.strip()) in title_set
