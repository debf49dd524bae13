"""Chapter segmentation — the reference's core ordered stateful fold
(operators O1, P4-P12, A2; quirks Q1-Q3).

Reproduces /root/reference/src/processing/chapter_processor.py:72-177
and its helpers. The Spark relational mapping of this fold is
flag → running-sum sessionization (operators/sessionize.py); this kernel
is the byte-identity path run per document inside ``mapInPandas``.

Pinned quirks (SURVEY.md §2.11):
- Q1: the FINAL buffer is processed (clean/table-detect, extending
  ``main_content``) and then **overwritten** with the raw buffer when no
  subchapter is open; a detected trailing table is still appended first.
  The cleanup therefore survives only inside an open subchapter, so it
  runs only there; table detection (and the Q12 raise) runs always.
- Q2: mid-document chapter closes assign the raw buffer directly —
  ``_process_content`` runs only for the trailing buffer.
- Q3: ``clean_content_line`` deletes the space at alternating lowercase
  word boundaries (non-overlapping ``([a-z])\\s([a-z])`` matches).
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional

from . import tables
from .spaced import collapse_spaced_text, has_spaced_text
from .validator import validate_chapter

# P6 — chapter-title patterns (chapter_processor.py:206-236).
_CHAPTER_TITLE_PATTERNS = [
    re.compile(r"^Chapter\s+\d+\s*:?\s*\w", re.IGNORECASE),
    re.compile(r"^\d+\s*$", re.IGNORECASE),
    re.compile(
        r"^(Races|Classes|Equipment|Spells|Combat|Adventuring|Spellcasting)\s*$",
        re.IGNORECASE,
    ),
    re.compile(r"(?i)st\s*[e\s]*p\s*[b\s]*y\s*[s\s]*t\s*e\s*p\s*characters"),
]
_TOC_INDICATORS = [
    re.compile(r"\.\.\.\.\.*\d+$"),
    re.compile(r"\s\d+$"),
]

_STEP_BY_STEP = re.compile(r"(?i)st\s*[e\s]*p\s*[b\s]*y\s*[s\s]*t\s*e\s*p\s*characters")
_CH_PERSONALITY = re.compile(r"^Chapter\s+(\d+)\s*:?\s*([Pp]ersonalityand\s*.*)$")
_CH_TITLED = re.compile(r"^Chapter\s+(\d+)\s*:?\s*(.+)$", re.IGNORECASE)
_CH_BARE_NUM = re.compile(r"^(\d+)\s*$")
_CAMEL_SPLIT = re.compile(r"[A-Z][^A-Z]*")

# P12 cleanup patterns (chapter_processor.py:475-505).
_SPACED_SEGMENT = re.compile(r"\b([A-Za-z](\s+[A-Za-z]){2,})\b")
_DND = re.compile(r"D\s*&\s*D")
_DUNGEONS = re.compile(r"Dungeons\s*&\s*Dragons")
_LOWER_GAP = re.compile(r"([a-z])\s([a-z])")
_MULTI_SPACE = re.compile(r"\s{2,}")
_WS_RUN = re.compile(r"\s+")


def _empty_content() -> Dict[str, Any]:
    return {"info": {}, "main_content": [], "subchapters": [], "tables": []}


def is_chapter_title(line: str) -> bool:
    """P6 predicate: chapter-title disjunction AND NOT a TOC line."""
    for pat in _TOC_INDICATORS:
        if pat.search(line):
            return False
    return any(pat.search(line) for pat in _CHAPTER_TITLE_PATTERNS)


def extract_chapter_info(line: str) -> Dict[str, Any]:
    """P7 — parse (number, title) with the reference's 4 special cases
    (chapter_processor.py:238-314), incl. the ``Personalityand`` fix.
    """
    line = line.strip()
    if _STEP_BY_STEP.search(line):
        number, title = 1, "Step-by-Step Characters"
    else:
        m = _CH_PERSONALITY.match(line)
        if m:
            number = int(m.group(1))
            title = re.sub(r"([Pp]ersonalityand)", r"Personality and",
                           m.group(2)).strip()
        else:
            m = _CH_TITLED.match(line)
            if m:
                number, title = int(m.group(1)), m.group(2).strip()
            else:
                m = _CH_BARE_NUM.match(line)
                if m:
                    number, title = int(m.group(1)), f"Chapter {m.group(1)}"
                else:
                    number, title = 0, line
    return {"number": number, "title": title, "original_line": line,
            "content": _empty_content()}


def detect_subchapter(line: str) -> Optional[Dict[str, Any]]:
    """P8 — spaced-line subchapter title (chapter_processor.py:43-70)."""
    if not has_spaced_text(line):
        return None
    cleaned = collapse_spaced_text(line)
    if len(cleaned) > 50:
        return None
    words = cleaned.split()
    looks_like_title = (
        (len(words) == 1 and words[0][0].isupper())
        or (len(words) >= 2 and all(w[0].isupper() for w in words))
    )
    if not looks_like_title:
        return None
    title_words: List[str] = []
    for w in words:
        title_words.extend(_CAMEL_SPLIT.findall(w))
    return {"title": " ".join(title_words), "original_line": line}


def clean_content_line(line: str) -> str:
    """P12 — content-line cleanup with quirk Q3
    (chapter_processor.py:475-505): spaced-segment collapse (len>5 only),
    D&D fixes, the alternating lowercase-gap delete, double-space collapse.
    """
    if not line or not line.strip():
        return ""
    line = line.strip()
    if _SPACED_SEGMENT.search(line):
        for seg in _SPACED_SEGMENT.findall(line):
            spaced = seg[0]
            if len(spaced) > 5:
                line = line.replace(spaced, _WS_RUN.sub("", spaced))
    if "&" in line:  # both patterns require a literal ampersand
        line = _DND.sub("D&D", line)
        line = _DUNGEONS.sub("Dungeons & Dragons", line)
    # Q3: alternating-boundary delete. Callable replacement instead
    # of the r"\1\2" template: identical bytes by definition,
    # skips the per-match expand_template machinery (the r03
    # textnorm precedent, ~1.8x per match) - this sub fires on
    # every lowercase gap of every content line.
    line = _LOWER_GAP.sub(lambda m: m.group(1) + m.group(2), line)
    line = _MULTI_SPACE.sub(" ", line)
    return line.strip()


def _trailing_table(lines: List[str], parse_tables: bool) -> Optional[Dict]:
    """The table half of ``_process_content`` (chapter_processor.py:
    456-473) for the final buffer: the parsed table when A3 detects one,
    else None (the caller then applies the per-line P12 cleanup).

    ``parse_tables=True`` is the Q12 intent path (the reference would
    crash here on any detected table; see kernels/tables.py docstring).
    """
    if tables.detect_table(lines):
        if parse_tables:
            parsed = tables.parse_table(lines)
            if parsed["type"] == "table":
                return parsed
        else:
            raise TypeError(
                "detect_table returned True: reference-reachable behavior "
                "is a crash (quirk Q12)"
            )
    return None


def segment_chapters(lines: List[str], parse_tables: bool = True,
                     with_validation: bool = True) -> Dict:
    """O1 — the ordered chapter fold (chapter_processor.py:72-177).

    One scan over the line list: a spaced chapter-title line closes the
    current chapter; a spaced subchapter-title line closes the current
    subchapter; everything else buffers. Reproduces Q1/Q2 flush
    semantics exactly (see module docstring).
    """
    chapters: List[Dict] = []
    current: Dict[str, Any] = {
        "number": 0, "title": "Front Matter", "original_line": None,
        "content": _empty_content(),
    }
    buf: List[str] = []
    sub: Optional[Dict[str, Any]] = None

    for line in lines:
        cleaned_line = line
        if has_spaced_text(cleaned_line):
            cleaned_line = collapse_spaced_text(cleaned_line)
            if is_chapter_title(cleaned_line):
                # Close the previous chapter (Q2: raw buffer, no cleanup).
                if sub is not None:
                    sub["lines"] = buf
                    current["content"]["subchapters"].append(sub)
                    sub = None
                else:
                    current["content"]["main_content"] = buf
                current["content"]["info"]["line_count"] = len(buf)
                chapters.append(current)
                current = extract_chapter_info(cleaned_line)
                buf = []
                continue
            maybe_sub = detect_subchapter(line)
            if maybe_sub is not None:
                if sub is not None:
                    sub["lines"] = buf
                    current["content"]["subchapters"].append(sub)
                    buf = []
                sub = maybe_sub
                continue
        buf.append(cleaned_line)

    # Trailing buffer: processed (table-elevated, else cleaned) ...
    if buf:
        table = _trailing_table(buf, parse_tables)
        if table is not None:
            current["content"]["tables"].append(table)
        elif sub is not None:  # Q1 below discards the cleanup otherwise
            current["content"]["main_content"].extend(
                c for c in (clean_content_line(l) for l in buf) if c)

    # ... then Q1: overwritten with the raw buffer when no subchapter open.
    if sub is not None:
        sub["lines"] = buf
        current["content"]["subchapters"].append(sub)
    else:
        current["content"]["main_content"] = buf
    current["content"]["info"]["line_count"] = len(buf)
    chapters.append(current)

    validation: List[Dict] = []
    if with_validation:
        for ch in chapters:
            v = validate_chapter(ch)
            if any([v["main_content"], v["subchapters"], v["tables"]]):
                validation.append(v)

    n = len(chapters)
    total_len = sum(
        len(c["content"]["main_content"])
        + sum(len(s["lines"]) for s in c["content"]["subchapters"])
        for c in chapters
    )
    return {
        "chapters": chapters,
        "validation": validation,
        "stats": {
            "total_chapters": n,
            "avg_chapter_length": (total_len / n) if n else 0,
        },
    }
