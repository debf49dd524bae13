"""Table detection and parsing (operator A3 + the intent path of Q12).

Reproduces /root/reference/src/processing/table_processor.py. Note quirk
Q12 (SURVEY.md §2.11): in the reference the live path treats
``detect_table``'s boolean as a parsed-table dict and would crash on any
detected table, so table parsing is unreachable there. This kernel keeps
``detect_table`` as the boolean predicate and exposes ``parse_table`` as
the documented *intent*, used by the engine behind ``parse_tables=True``
(the default pipeline keeps reference-reachable behavior by feeding it
only fixture content where ``detect_table`` is False).
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

# Per-line column-content patterns (table_processor.py:19-27).
COLUMN_PATTERNS = {
    "level": r"^\d{1,2}(?:st|nd|rd|th)?$",
    "number": r"^[+-]?\d+$",
    "modifier": r"^[+-]\d+$",
    "feature": r"^[A-Z][a-zA-Z\s,]+$",
    "class_name": r"^[A-Z][a-zA-Z]+$",
    "hit_die": r"^d\d+$",
    "ability": (
        r"^(?:Strength|Dexterity|Constitution|Intelligence|Wisdom|Charisma)"
        r"(?:\s*(?:&|\+)\s*(?:Strength|Dexterity|Constitution|Intelligence|Wisdom|Charisma))?$"
    ),
}

_COMPILED = {k: re.compile(v, re.IGNORECASE) for k, v in COLUMN_PATTERNS.items()}

# Known table shapes (table_processor.py:30-52): header list + the key
# patterns whose per-line match counts identify the type.
TABLE_TYPES = {
    "class_table": {
        "columns": ["Class", "Description", "Hit Die", "Primary Ability",
                    "Saving Throws", "Proficiencies"],
        "patterns": ["class_name", "hit_die", "ability"],
    },
    "level_progression": {
        "columns": ["Level", "Proficiency Bonus", "Features", "Rages",
                    "Rage Damage"],
        "patterns": ["level", "modifier", "feature"],
    },
}


def _pattern_counts(lines: List[str]) -> Dict[str, int]:
    """Conditional-aggregation profile (A3): per-pattern match counts.

    Spark analog: ``sum(when(rlike(p),1))`` pivot — see operators.textstats.
    """
    counts = {name: 0 for name in COLUMN_PATTERNS}
    for line in lines:
        s = line.strip()
        for name, pat in _COMPILED.items():
            if pat.match(s):
                counts[name] += 1
    return counts


def detect_table(lines: List[str], min_rows: int = 5) -> bool:
    """Boolean table predicate (table_processor.py:54-75)."""
    if len(lines) < min_rows:
        return False
    # Same boolean as testing every type against full _pattern_counts,
    # but all() stops a type at its first short pattern, so a pattern is
    # counted only while its type is still possible (``feature`` scans
    # whole sentences and rarely needs counting). No two types share a
    # pattern, so none is counted twice.
    stripped = [line.strip() for line in lines]
    for spec in TABLE_TYPES.values():
        if all(sum(1 for s in stripped if _COMPILED[p].match(s))
               >= min_rows / 4 for p in spec["patterns"]):
            return True
    return False


def identify_table_type(lines: List[str]) -> Optional[str]:
    """Table-type classification (table_processor.py:92-109)."""
    counts = _pattern_counts(lines)
    for name, spec in TABLE_TYPES.items():
        if all(counts[p] >= 3 for p in spec["patterns"]):
            return name
    return None


def parse_table(lines: List[str]) -> Dict:
    """Structured parse (table_processor.py:77-90) — the Q12 intent path."""
    ttype = identify_table_type(lines)
    if not ttype:
        return {"type": "text", "lines": lines}
    columns = TABLE_TYPES[ttype]["columns"]
    if ttype == "class_table":
        return _parse_class_table(lines, columns)
    return _parse_level_table(lines, columns)


def _parse_class_table(lines: List[str], columns: List[str]) -> Dict:
    """Row assembly keyed on class-name lines (table_processor.py:111-148)."""
    rows: List[List[str]] = []
    row: List[str] = []
    in_class = False
    for raw in lines:
        s = raw.strip()
        if not s:
            continue
        if _COMPILED["class_name"].match(s):
            if row:
                rows.append(row)
            row = [s]
            in_class = True
        elif in_class:
            if not _COMPILED["hit_die"].match(s) and not _COMPILED["ability"].match(s):
                if len(row) == 1:
                    row.append(s)
                else:
                    row[-1] = f"{row[-1]} {s}"
            else:
                row.append(s)
    if row:
        rows.append(row)
    return {"type": "table", "table_type": "class_table",
            "columns": columns, "rows": rows}


def _matches_level_column(value: str, header: str) -> bool:
    """Column-specific value predicate (table_processor.py:183-193)."""
    if header == "Level":
        return bool(_COMPILED["level"].match(value))
    if header in ("Proficiency Bonus", "Rage Damage"):
        return bool(_COMPILED["modifier"].match(value))
    if header == "Rages":
        return bool(_COMPILED["number"].match(value)) or value.lower() == "unlimited"
    if header == "Features":
        return bool(_COMPILED["feature"].match(value))
    return False


def _parse_level_table(lines: List[str], columns: List[str]) -> Dict:
    """Positional row assembly (table_processor.py:150-181)."""
    rows: List[List[str]] = []
    row: List[str] = []
    col = 0
    for raw in lines:
        s = raw.strip()
        if not s:
            continue
        if _matches_level_column(s, columns[0]):
            if row:
                rows.append(row)
            row = [s]
            col = 1
        elif row:
            if col < len(columns) and _matches_level_column(s, columns[col]):
                row.append(s)
                col += 1
            else:
                row[-1] = f"{row[-1]} {s}"
    if row:
        rows.append(row)
    return {"type": "table", "table_type": "level_progression",
            "columns": columns, "rows": rows}
