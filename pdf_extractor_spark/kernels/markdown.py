"""Markdown rendering (the convert-md surface, SURVEY.md §3.2).

Reproduces /root/reference/src/converters/markdown_converter.py:40-509:
title/TOC generation with GitHub anchors, chapter/section formatting,
sentence-continuation paragraph rejoin, per-line cleanup, table
rendering, and title normalization. The paragraph-merge fold (:267-297)
is a lag-window decision + group-concat relationally; kept in-kernel for
byte-identity.
"""

from __future__ import annotations

import re
from typing import Dict, List

_SENT_END = re.compile(r"[.!?]\s*$")
_LOWER_START = re.compile(r"^[a-z]")
_CONTINUATION = re.compile(
    r"^(and|or|but|nor|for|yet|so|the|a|an|in|on|at|to|of|with)\b"
)
_CLAUSE_END = re.compile(r"[,;:]$")
_MULTI_SPACE = re.compile(r" {2,}")  # same result as " +", no 1:1 rewrites
_MANY_NL = re.compile(r"\n{3,}")
_SPACED3 = re.compile(r"\b([A-Za-z])\s+([A-Za-z])\s+([A-Za-z])")
_DND = re.compile(r"D\s*&\s*D")
_DUNGEONS = re.compile(r"Dungeons\s*&\s*Dragons")
_WS2 = re.compile(r"\s{2,}")
_ANCHOR_STRIP = re.compile(r"[^\w-]")
_TRAIL_PAGE = re.compile(r"\.{2,}.*?\d+$")
_ELLIPSES = re.compile(r"\.{3,}")
_INNER_GAP = re.compile(r"([A-Za-z])\s+([A-Za-z])")
_CAMEL_BOUNDARY = re.compile(r"([a-z])([A-Z])")
_SPACE_HYPHEN = re.compile(r"[\s\-]+")

_RUN_TOGETHER_WORDS = [
    "and", "the", "you", "your", "with", "that", "this", "from", "they",
    "have", "what", "were", "when", "will", "whom", "their",
]
# Precompiled per-word split patterns (application order preserved).
_RUN_TOGETHER_PATS = [(re.compile(rf"\b{w}([a-z])"), f"{w} \\1")
                      for w in _RUN_TOGETHER_WORDS]
# Hot-spot precheck (byte-equivalence pinned by
# TestCleanContentFastEquivalence): one alternation scan standing in for
# all 16 sequential split passes — if it has no match on the incoming
# line, pass 1 cannot match, leaves the line unchanged, so pass 2 sees
# the same line, … (induction): all 16 are no-ops and are skipped.
_RUN_PRECHECK = re.compile(
    r"\b(?:" + "|".join(_RUN_TOGETHER_WORDS) + r")[a-z]")
_WS_ANY = re.compile(r"\s+")


def create_anchor(text: str) -> str:
    """GitHub-style anchor (markdown_converter.py:420-431)."""
    return _ANCHOR_STRIP.sub("", text.lower().replace(" ", "-"))


def normalize_title(title: str) -> str:
    """Title normalization (markdown_converter.py:465-509)."""
    if not title:
        return "Untitled Section"
    title = _TRAIL_PAGE.sub("", title)
    title = _ELLIPSES.sub("", title)
    if " " in title:
        words: List[str] = []
        for word in title.split():
            if len(word) == 1 and word.isalpha():
                if words and len(words[-1]) == 1:
                    words[-1] += word
                else:
                    words.append(word)
            else:
                words.append(_INNER_GAP.sub(
                    lambda m: m.group(1) + m.group(2), word))
        title = " ".join(words)
    title = _CAMEL_BOUNDARY.sub(
        lambda m: m.group(1) + " " + m.group(2), title)
    title = _SPACE_HYPHEN.sub(" ", title).strip()
    title = title.replace("D & D", "D&D")
    words = title.split()
    if words:
        title = " ".join(w.capitalize() for w in words)
    return title


def clean_content_text(text: str) -> str:
    """Per-line cleanup (markdown_converter.py:306-371): cautious
    spaced-word collapse, D&D fixes, run-together splits after common
    words.

    The reference's short-prefix gap fix (join ``<word> <letter>`` when
    the word has at most 2 letters and the join is one of 7 whitelist
    words) is omitted: the join has at most 3 letters and every
    whitelist word has 4, so it never fires.
    """
    if not text or len(text) < 3:
        return text
    cur = text.strip()

    while True:
        m = _SPACED3.search(cur)
        if not m:
            break
        full = m.group(0)
        if len(full) >= 5 and all(len(c) == 1 for c in full.split() if c.isalpha()):
            cur = cur.replace(full, _WS_ANY.sub("", full))
        else:
            break

    if "&" in cur:  # both patterns require a literal ampersand
        cur = _DND.sub("D&D", cur)
        cur = _DUNGEONS.sub("Dungeons & Dragons", cur)

    if _RUN_PRECHECK.search(cur):
        for pat, repl in _RUN_TOGETHER_PATS:
            cur = pat.sub(repl, cur)

    return _WS2.sub(" ", cur).strip()


def format_paragraphs(lines: List[str]) -> str:
    """Sentence-continuation paragraph rejoin
    (markdown_converter.py:250-304). Relational analog: lag() merge flag
    + running-sum group + concat_ws; in-kernel for byte-identity.
    """
    if not lines:
        return ""
    cleaned = [c for c in (clean_content_text(l) for l in lines) if c]

    paragraphs: List[str] = []
    current: List[str] = []
    for line in cleaned:
        if not line.strip():
            if current:
                paragraphs.append(" ".join(current))
                current = []
            continue
        if current:
            prev = current[-1]
            if (not _SENT_END.search(prev)
                    or _LOWER_START.match(line)
                    or _CONTINUATION.match(line.lower())
                    or _CLAUSE_END.search(prev)):
                current.append(line)
                continue
        if current:
            paragraphs.append(" ".join(current))
        current = [line]
    if current:
        paragraphs.append(" ".join(current))

    text = "\n\n".join(paragraphs)
    text = _MULTI_SPACE.sub(" ", text)
    return _MANY_NL.sub("\n\n", text)


def format_table(table: Dict) -> List[str]:
    """Markdown table block (markdown_converter.py:373-409)."""
    out: List[str] = []
    if "table_type" not in table or "columns" not in table or "rows" not in table:
        return out
    out.append(f"**{table.get('table_type', 'Table').replace('_', ' ').title()}**")
    out.append("")
    columns, rows = table["columns"], table["rows"]
    if not columns or not rows:
        return out
    out.append("| " + " | ".join(columns) + " |")
    out.append("| " + " | ".join(["---"] * len(columns)) + " |")
    for row in rows:
        padded = row + [""] * (len(columns) - len(row))
        out.append("| " + " | ".join(str(c) for c in padded[: len(columns)]) + " |")
    out.append("")
    return out


def _format_subchapter(sub: Dict) -> List[str]:
    """Subchapter block (markdown_converter.py:233-248)."""
    out = [f"### {sub.get('title', 'Untitled Section')}", ""]
    if sub.get("lines"):
        out.append(format_paragraphs(sub["lines"]))
        out.append("")
    return out


def format_chapter(chapter: Dict) -> List[str]:
    """Chapter block (markdown_converter.py:171-231), covering both the
    sections format and the chapter-fold content format.
    """
    out: List[str] = []
    num = chapter.get("number", "")
    title = normalize_title(chapter.get("title", "Untitled Chapter"))
    out.append(f"## {num}. {title}" if num else f"## {title}")
    out.append("")

    if chapter.get("sections"):
        for section in chapter["sections"]:
            stitle = section.get("title")
            scontent = section.get("content", "")
            if stitle and stitle != "Main Content":
                out.append(f"### {stitle}")
                out.append("")
            if scontent:
                if section.get("is_table"):
                    out.append(scontent)
                else:
                    out.append(format_paragraphs(scontent.split("\n")))
                out.append("")
    elif "content" in chapter:
        content = chapter["content"]
        if content.get("main_content"):
            out.append(format_paragraphs(content["main_content"]))
            out.append("")
        for table in content.get("tables") or []:
            out.extend(format_table(table))
            out.append("")
        for sub in content.get("subchapters") or []:
            out.extend(_format_subchapter(sub))
    return out


def clean_filename(filename: str) -> str:
    """Filename → document title (markdown_converter.py:411-418)."""
    title = filename.rsplit(".", 1)[0] if "." in filename else filename
    return title.replace("_", " ").replace("-", " ").title()


def _toc_lines(content_data: Dict) -> List[str]:
    """TOC block (markdown_converter.py:67-127)."""
    out = ["## Table of Contents", ""]
    if content_data.get("table_of_contents"):
        for entry in content_data["table_of_contents"]:
            etype = entry.get("type", "chapter")
            num = entry.get("number", "")
            letter = entry.get("letter", "")
            title = normalize_title(entry.get("title", "Untitled"))
            if etype == "appendix" and letter:
                anchor = create_anchor(f"appendix-{letter}-{title}")
                out.append(f"- [Appendix {letter}: {title}](#{anchor})")
            else:
                anchor = create_anchor(f"{num}-{title}")
                out.append(f"- [{num}. {title}](#{anchor})")
            for section in entry.get("sections") or []:
                stitle = section.get("title", "")
                if stitle and stitle != "Main Content":
                    out.append(f"  - [{stitle}](#{create_anchor(f'{num}-{stitle}')})")
    elif content_data.get("chapters"):
        for chapter in content_data["chapters"]:
            num = chapter.get("number", "")
            title = normalize_title(chapter.get("title", "Untitled Chapter"))
            out.append(f"- [{num}. {title}](#{create_anchor(f'{num}-{title}')})")
            if chapter.get("sections"):
                for section in chapter["sections"]:
                    stitle = section.get("title", "")
                    if stitle and stitle != "Main Content":
                        out.append(
                            f"  - [{stitle}](#{create_anchor(f'{num}-{stitle}')})"
                        )
            elif "content" in chapter and "subchapters" in chapter["content"]:
                for sub in chapter["content"]["subchapters"]:
                    stitle = normalize_title(sub.get("title", "Untitled Section"))
                    out.append(
                        f"  - [{stitle}](#{create_anchor(f'{num}-{stitle}')})"
                    )
    out.append("")
    return out


def convert_to_markdown(data: Dict, toc: bool = True) -> str:
    """Envelope → markdown document (markdown_converter.py:40-169)."""
    out: List[str] = []
    out.append(f"# {clean_filename(data.get('filename', 'Untitled Document'))}")
    out.append("")
    out.append(f"*Extracted on: {data.get('extraction_date', 'Unknown date')}*")
    out.append("")

    content_data = data.get("content")
    if isinstance(content_data, dict):
        if toc:
            out.extend(_toc_lines(content_data))
        for chapter in content_data.get("chapters") or []:
            out.extend(format_chapter(chapter))
        for appendix in content_data.get("appendices") or []:
            letter = appendix.get("letter", "A")
            title = normalize_title(appendix.get("title", "Appendix"))
            out.append(f"## Appendix {letter}: {title}")
            out.append("")
            if appendix.get("sections"):
                for section in appendix["sections"]:
                    stitle = section.get("title")
                    scontent = section.get("content", "")
                    if stitle and stitle != "Main Content":
                        out.append(f"### {stitle}")
                        out.append("")
                    if scontent:
                        out.append(format_paragraphs(scontent.split("\n")))
                        out.append("")
            elif "content" in appendix:
                out.append(appendix["content"])
                out.append("")
    elif isinstance(content_data, str):
        out.append(content_data)
    return "\n".join(out)
