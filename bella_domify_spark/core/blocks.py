"""Lightweight value objects for document geometry used inside Arrow UDFs.

These mirror the *semantics* of the reference's Line/TextBlock/TableBlock
object model (/root/reference/doc_parser/dom_parser/parsers/pdf/text/Line.py,
text/TextBlock.py, table/TableBlock.py, extend/text/TextBlockExtend.py) but
are plain Python dataclasses sized for per-turn documents — they never cross
a Spark row boundary; Spark sees only the flattened outputs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Union

from bella_domify_spark.functions.listmark import recognize_list
from bella_domify_spark.parsers.pdflike.cluster import group_physical_rows

IMAGE_PLACEHOLDER = "<image>"

BOLD_FLAG = 2 ** 4  # PyMuPDF span flag bit for bold


@dataclass
class Span:
    """Text or image span. Image spans render as ``<image>`` in line text
    (Line.py:63-67)."""
    text: str = ""
    bbox: tuple = (0.0, 0.0, 0.0, 0.0)
    font: str = ""
    size: float = 12.0
    flags: int = 0
    pseudo_bold: bool = False
    is_image: bool = False
    # image spans: payload metadata standing in for the raw bytes —
    # n_bytes/sha/width/height (ImageSpan.py image + ImagesExtractor P25;
    # consumed by providers.ImageStorageProvider and the domtree JSON)
    image_meta: Optional[dict] = None
    uri: Optional[str] = None  # hyperlink target, used by the catalog rule
    style: List[dict] = field(default_factory=list)  # P22 (TextSpan.style)
    line_height: Optional[float] = None  # P6 font-metric enrichment

    @property
    def display_text(self) -> str:
        return IMAGE_PLACEHOLDER if self.is_image else self.text

    @property
    def is_bold(self) -> bool:
        return bool(self.flags & BOLD_FLAG) or self.pseudo_bold


@dataclass
class Line:
    """One physical text line (Line.py:32-133 semantics)."""
    spans: List[Span] = field(default_factory=list)
    bbox: tuple = (0.0, 0.0, 0.0, 0.0)
    dir: tuple = (1.0, 0.0)
    list_type: Union[int, str, None] = None
    list_tag: Optional[str] = None
    is_header: bool = False
    is_footer: bool = False
    is_catalog: bool = False
    is_in_catalog: bool = False
    page: int = 0
    # derived from ``spans``: set here and by ``spans_changed``
    has_image: bool = field(default=False, init=False, repr=False,
                            compare=False)
    _text: Optional[str] = field(default=None, init=False, repr=False,
                                 compare=False)  # ``text`` memo

    def __post_init__(self):
        self.has_image = any(s.is_image for s in self.spans)
        if self.list_type is None:
            self.list_type, self.list_tag = recognize_list(self.text)

    @property
    def text(self) -> str:
        text = self._text
        if text is None:
            text = self._text = "".join(s.display_text for s in self.spans)
        return text

    def spans_changed(self) -> None:
        """Re-derive ``has_image`` and drop the memoized ``text``: call after
        replacing ``spans`` or editing a span's text in place."""
        self.has_image = any(s.is_image for s in self.spans)
        self._text = None

    @property
    def raw_text(self) -> str:
        return "".join(s.text for s in self.spans if not s.is_image)

    @property
    def is_list(self) -> bool:
        return self.list_type is not None

    def in_same_row(self, other: "Line") -> bool:
        """Centerline-overlap test (Element.py:261-288): in the same physical
        row iff each box's vertical center is above the other's bottom."""
        c1 = (self.bbox[1] + self.bbox[3]) / 2.0
        c2 = (other.bbox[1] + other.bbox[3]) / 2.0
        return c1 <= other.bbox[3] and c2 <= self.bbox[3]


def most_common_insertion_ordered(values):
    """``(value, count)`` of ``Counter(values).most_common(1)`` with
    Python's insertion-ordered tie-breaking (the first value to reach the
    top count wins) — the reference relies on it (Lines.py:115-136,
    Pages.py:425-443); ``(None, -1)`` when ``values`` is empty."""
    counts = {}
    for v in values:
        counts[v] = counts.get(v, 0) + 1
    best_v, best_n = None, -1
    for v, n in counts.items():
        if n > best_n:
            best_v, best_n = v, n
    return best_v, best_n


def lines_font_size_bold(lines: List[Line]):
    """Most-common font & size across spans; bold only when *all* spans are
    bold (Lines.py:115-136)."""
    fonts, sizes = [], []
    all_bold = all_pseudo = True
    for ln in lines:
        for s in ln.spans:
            if s.is_image:
                continue
            fonts.append(s.font)
            sizes.append(s.size)
            if not s.flags & BOLD_FLAG:
                all_bold = False
            if not s.pseudo_bold:
                all_pseudo = False
    font = most_common_insertion_ordered(fonts)[0]
    size = most_common_insertion_ordered(sizes)[0]
    return font, size, bool(fonts) and (all_bold or all_pseudo)


@dataclass
class TextBlock:
    """A paragraph-level block of lines (TextBlock.py + TextBlockExtend.py)."""
    lines: List[Line] = field(default_factory=list)
    is_title: bool = False
    first_line_start_of_paragraph: bool = False
    last_line_end_of_paragraph: bool = False
    page_num: List[int] = field(default_factory=list)
    # extend-layer relations
    next_continuous_paragraph: Optional["TextBlock"] = None
    caption_of: Optional[object] = None   # set when this block is a table/figure caption
    caption_block: Optional["TextBlock"] = None   # image blocks: their caption
    refed_blocks: List["TextBlock"] = field(default_factory=list)
    is_table_name: bool = False
    is_figure_name: bool = False
    # image provider results (TextBlockExtend.py:84-85,137-143): set by
    # pipeline.parse when an image_provider is configured; drive the
    # Figure markdown path (domtree.py:239-242)
    image_link: Optional[str] = None
    image_ocr_result: Optional[str] = None
    # non-PDF parsers (markdown tokenizer) may force a layout type, e.g. "Code"
    layout_override: Optional[str] = None
    # P24 alignment & spacing metadata (TextBlock.py:179-400)
    alignment: Optional[str] = None
    left_space: Optional[float] = None
    right_space: Optional[float] = None
    first_line_space: Optional[float] = None
    before_space: Optional[float] = None
    line_space: Optional[float] = None
    # memoization (invalidated by merge)
    _rows_cache: Optional[list] = field(default=None, repr=False, compare=False)
    _fsb_cache: Optional[tuple] = field(default=None, repr=False, compare=False)
    _bbox_cache: Optional[tuple] = field(default=None, repr=False, compare=False)
    _img_cache: Optional[bool] = field(default=None, repr=False, compare=False)

    @classmethod
    def from_rows(cls, rows: List[List[Line]], **kwargs) -> "TextBlock":
        """A block of whole physical rows, given in first-occurrence order:
        its ``rows`` are known without grouping its lines again."""
        block = cls(lines=[l for row in rows for l in row], **kwargs)
        block._rows_cache = rows
        return block

    @property
    def rows(self) -> List[List[Line]]:
        """Physical rows of ``lines`` in first-occurrence order (memoized)."""
        cached = self._rows_cache
        if cached is None:
            cached = self._rows_cache = group_physical_rows(self.lines)
        return cached

    @property
    def bbox(self) -> tuple:
        cached = self._bbox_cache
        if cached is not None:
            return cached
        if not self.lines:
            return (0.0, 0.0, 0.0, 0.0)
        bbs = [l.bbox for l in self.lines]
        out = (
            min(b[0] for b in bbs),
            min(b[1] for b in bbs),
            max(b[2] for b in bbs),
            max(b[3] for b in bbs),
        )
        self._bbox_cache = out
        return out

    @property
    def text(self) -> str:
        return "".join(l.text for l in self.lines)

    @property
    def raw_text(self) -> str:
        return "".join(l.raw_text for l in self.lines)

    @property
    def is_image_block(self) -> bool:
        cached = self._img_cache
        if cached is None:
            cached = any(l.has_image for l in self.lines)
            self._img_cache = cached
        return cached

    @property
    def is_text_block(self) -> bool:
        return not self.is_image_block

    @property
    def is_table_block(self) -> bool:
        return False

    @property
    def is_catalog(self) -> bool:
        return any(l.is_catalog for l in self.lines)

    def list_type(self):
        for line in self.lines:
            if line.list_type:
                return line.list_type
        return None

    def font_size_bold(self):
        # memoized: called repeatedly by title rules and the tree build;
        # invalidated when lines change (merge)
        cached = self._fsb_cache
        if cached is None:
            cached = lines_font_size_bold(self.lines)
            self._fsb_cache = cached
        return cached

    def merge(self, other: "TextBlock") -> None:
        self.lines.extend(other.lines)
        self._rows_cache = None
        self._fsb_cache = None
        self._bbox_cache = None
        self._img_cache = None
        for p in other.page_num:
            if p not in self.page_num:
                self.page_num.append(p)

    @property
    def layout_type(self) -> str:
        """Priority chain Catalog > Figure > TableName > FigureName > Title >
        List > Text (TextBlockExtend.py:112-132). ``layout_override`` wins
        (engine extension for non-PDF tokenizers)."""
        if self.layout_override:
            return self.layout_override
        if self.is_catalog:
            return "Catalog"
        if self.is_image_block:
            return "Figure"
        if self.is_table_name:
            return "TableName"
        if self.is_figure_name:
            return "FigureName"
        if self.is_title:
            return "Title"
        if self.list_type():
            return "List"
        return "Text"


@dataclass
class Cell:
    text: str = ""
    start_row: int = 0
    end_row: int = 0
    start_col: int = 0
    end_col: int = 0


@dataclass
class TableBlock:
    """Table block: rows of cells with merge spans (table/TableBlock.py)."""
    rows: List[List[Cell]] = field(default_factory=list)
    bbox: tuple = (0.0, 0.0, 0.0, 0.0)
    page_num: List[int] = field(default_factory=list)
    next_continuous_table: Optional["TableBlock"] = None
    caption_block: Optional[TextBlock] = None
    refed_blocks: List[TextBlock] = field(default_factory=list)
    is_stream: bool = False  # STREAM_TABLE vs LATTICE_TABLE (Block.py type)

    @property
    def is_image_block(self) -> bool:
        return False

    @property
    def is_text_block(self) -> bool:
        return False

    @property
    def is_table_block(self) -> bool:
        return True

    @property
    def is_title(self) -> bool:
        return False

    @property
    def is_catalog(self) -> bool:
        return False

    @property
    def text(self):
        return [[c.text for c in row] for row in self.rows]

    @property
    def layout_type(self) -> str:
        return "Table"

    def list_type(self):
        return None

    def to_html(self) -> str:
        """HTML rendering used by the markdown flatten (domtree.py:339-350)."""
        parts = ["<table>"]
        for row in self.rows:
            parts.append("<tr>")
            for cell in row:
                rowspan = cell.end_row - cell.start_row + 1
                colspan = cell.end_col - cell.start_col + 1
                parts.append(
                    f"<td rowspan='{rowspan}' colspan='{colspan}'>{cell.text}</td>"
                )
            parts.append("</tr>")
        parts.append("</table>")
        return "".join(parts)
