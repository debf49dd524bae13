"""HTML main-content extraction — DOM-heuristic boilerplate stripper.

New engine component required by the north star (BASELINE.json): "a
DOM-heuristic boilerplate stripper (tag-density + link-density scoring,
block classification, main-content selection) for HTML bytes". The
reference has no HTML path; the operator style mirrors its
pattern-count profiling (A3) and header/footer repetition detection (A8)
— block-level conditional aggregation followed by classification.

Pure stdlib (``html.parser``); deterministic; no network, no lxml/bs4.
Algorithm (boilerpipe-style densitometry, public literature:
Kohlschütter et al., WSDM 2010):

1. Parse into text blocks at block-level element boundaries, tracking
   per-block: text length, anchor-text length, tag count, heading level.
2. Score each block: link_density = anchor_len/text_len; text_density =
   text_len / (1 + inner tag count).
3. Classify CONTENT when text is long enough and link-sparse; headings
   attach to the following content block.
4. Select the main-content span: all content blocks, with isolated
   short gaps smoothed in; drop leading/trailing boilerplate.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import cached_property
from html.parser import HTMLParser
from typing import List, Optional

BLOCK_TAGS = {
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "td", "th",
    "article", "section", "main", "blockquote", "pre", "figcaption",
    "dd", "dt", "tr", "table", "ul", "ol", "br", "hr",
}
SKIP_TAGS = {"script", "style", "noscript", "svg", "template", "iframe"}
BOILERPLATE_CONTAINERS = {"nav", "header", "footer", "aside"}
HEADING_TAGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}

MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 0.33

# Same result as ``\s+`` -> " ", but a lone space is not rewritten: a
# match is a space plus more whitespace, or a whole run that starts with
# another whitespace character.
_WS = re.compile(r" \s+|[^\S ]\s*")


@dataclass
class Block:
    """One candidate text block with densitometry features."""
    text_parts: List[str] = field(default_factory=list)
    anchor_chars: int = 0
    tag_count: int = 0
    heading_level: int = 0
    in_boilerplate_container: bool = False

    # Built once: first read in ``_BlockParser._flush``, after the
    # block's last mutation (the parser moves on to a fresh Block).
    @cached_property
    def text(self) -> str:
        return _WS.sub(" ", "".join(self.text_parts)).strip()

    @property
    def text_len(self) -> int:
        return len(self.text)

    @property
    def link_density(self) -> float:
        n = self.text_len
        return (self.anchor_chars / n) if n else 1.0

    @property
    def text_density(self) -> float:
        return self.text_len / (1.0 + self.tag_count)

    def is_content(self) -> bool:
        """Block classification: long-enough, link-sparse, not inside a
        structural boilerplate container; headings classify separately.
        """
        if self.in_boilerplate_container:
            return False
        if self.heading_level:
            return bool(self.text)
        return (self.text_len >= MIN_CONTENT_CHARS
                and self.link_density <= MAX_LINK_DENSITY)


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: List[Block] = []
        self.current = Block()
        self.title_parts: List[str] = []
        self._skip_depth = 0
        self._bp_depth = 0
        self._anchor_depth = 0
        self._in_title = False

    def _flush(self) -> None:
        if self.current.text:
            self.blocks.append(self.current)
        self.current = Block(in_boilerplate_container=self._bp_depth > 0)

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "title":
            self._in_title = True
            return
        if tag in BOILERPLATE_CONTAINERS:
            self._flush()
            self._bp_depth += 1
            self.current.in_boilerplate_container = True
            return
        if tag in BLOCK_TAGS:
            self._flush()
            if tag in HEADING_TAGS:
                self.current.heading_level = HEADING_TAGS[tag]
        else:
            self.current.tag_count += 1
            if tag == "a":
                self._anchor_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "title":
            self._in_title = False
            return
        if tag in BOILERPLATE_CONTAINERS:
            self._flush()
            self._bp_depth = max(0, self._bp_depth - 1)
            self.current.in_boilerplate_container = self._bp_depth > 0
            return
        if tag in BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        self.current.text_parts.append(data)
        if self._anchor_depth:
            self.current.anchor_chars += len(_WS.sub(" ", data).strip())

    def close(self) -> None:  # noqa: D102
        super().close()
        self._flush()


def parse_blocks(html_text: str) -> "tuple[str, List[Block]]":
    """Parse HTML into (title, blocks)."""
    parser = _BlockParser()
    try:
        parser.feed(html_text)
        parser.close()
    except Exception:
        # Malformed input: keep whatever blocks were accumulated.
        parser._flush()
    title = _WS.sub(" ", "".join(parser.title_parts)).strip()
    return title, parser.blocks


def select_main_content(blocks: List[Block]) -> List[Block]:
    """Main-content selection: content blocks plus smoothed-in short
    gaps (a non-content block surrounded by content on both sides), and
    headings that introduce content.
    """
    flags = [b.is_content() for b in blocks]

    # Smoothing: promote isolated gaps between content blocks.
    for i in range(1, len(blocks) - 1):
        if not flags[i] and flags[i - 1] and flags[i + 1] and blocks[i].text_len > 0:
            if blocks[i].link_density <= MAX_LINK_DENSITY:
                flags[i] = True

    # Headings count only when followed by a content block.
    selected: List[Block] = []
    for i, b in enumerate(blocks):
        if not flags[i]:
            continue
        if b.heading_level:
            nxt = next((j for j in range(i + 1, len(blocks)) if blocks[j].text), None)
            if nxt is None or not flags[nxt] or blocks[nxt].heading_level:
                continue
        selected.append(b)
    return selected


def extract_html_text(payload: bytes, include_title: bool = True,
                      encoding: Optional[str] = None) -> str:
    """Full HTML extraction: decode → block parse → densitometry
    classify → main-content select → newline-joined plain text.
    """
    text = payload.decode(encoding or "utf-8", errors="replace")
    title, blocks = parse_blocks(text)
    main = select_main_content(blocks)
    lines = [b.text for b in main if b.text]
    if include_title and title:
        lines.insert(0, title)
    return "\n".join(lines)
