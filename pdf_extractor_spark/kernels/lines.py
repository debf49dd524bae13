"""Line-level processing (operators P2, P3, A1).

Reproduces the reference's ``LineProcessor`` (/root/reference/src/
processing/line_processor.py:14-83): newline split, per-line whitespace
collapse, long-line re-chunking at sentence boundaries, and per-document
line stats.
"""

from __future__ import annotations

import re
from typing import Dict, List

MAX_LINE_LENGTH = 2000  # line_processor.py:12

# Same result as ``\s+`` -> " ", but a lone space is not rewritten: a
# match is a space plus more whitespace, or a whole run that starts with
# another whitespace character.
_WS = re.compile(r" \s+|[^\S ]\s*")
_SENT_SPLIT = re.compile(r"([.!?])\s+")


def clean_line(line: str) -> str:
    """Collapse all whitespace runs to single spaces (P2, :51-54)."""
    return _WS.sub(" ", line.strip())


def split_long_line(line: str, max_length: int = MAX_LINE_LENGTH) -> List[str]:
    """Greedy sentence-boundary re-chunking of over-long lines (P3, :56-83).

    Mirrors the reference's accounting exactly, including the ``+ 1``
    space allowance while filling and the capture-group split that keeps
    terminal punctuation tokens at odd indices.
    """
    if len(line) <= max_length:
        return [line]

    out: List[str] = []
    buf: List[str] = []
    buf_len = 0
    parts = _SENT_SPLIT.split(line)
    for i in range(0, len(parts), 2):
        sent = parts[i]
        punct = parts[i + 1] if i + 1 < len(parts) else ""
        if buf_len + len(sent) + len(punct) + 1 <= max_length:
            buf.append(sent + punct)
            buf_len += len(sent) + len(punct) + 1
        else:
            if buf:
                out.append(" ".join(buf))
            buf = [sent + punct]
            buf_len = len(sent) + len(punct)
    if buf:
        out.append(" ".join(buf))
    return out


def split_lines(text: str) -> List[str]:
    """Full line pass (P2+P3, :14-41): split, clean, drop empties, re-chunk."""
    out: List[str] = []
    for raw in text.split("\n"):
        ln = clean_line(raw)
        if not ln:
            continue
        if len(ln) > MAX_LINE_LENGTH:
            out.extend(split_long_line(ln))
        else:
            out.append(ln)
    return out


def line_stats(lines: List[str]) -> Dict:
    """Per-document line statistics (A1, :42-49)."""
    n = len(lines)
    return {
        "total_lines": n,
        "avg_line_length": (sum(len(l) for l in lines) / n) if n else 0,
        "max_line_length": max((len(l) for l in lines), default=0),
    }


def process_lines(text: str) -> Dict:
    """``LineProcessor.process`` equivalent: lines + stats envelope."""
    lines = split_lines(text)
    return {"lines": lines, "stats": line_stats(lines)}
