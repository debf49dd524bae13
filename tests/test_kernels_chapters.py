"""Unit tests for the chapter fold (O1) and its pinned quirks Q1-Q3, Q12."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.kernels import chapters as kch
from pdf_extractor_spark.kernels import tables as ktab
from pdf_extractor_spark.kernels.spaced import (collapse_spaced_text,
                                                has_spaced_text)
from pdf_extractor_spark.kernels.validator import validate_chapter


class TestChapterPredicates:
    def test_is_chapter_title(self):
        assert kch.is_chapter_title("Chapter 3: Equipment")
        assert kch.is_chapter_title("Races")
        assert kch.is_chapter_title("7")

    def test_toc_lines_rejected(self):
        assert not kch.is_chapter_title("Chapter 3: Equipment ....... 12")
        assert not kch.is_chapter_title("Chapter 3: Equipment 12")

    def test_extract_info_standard(self):
        info = kch.extract_chapter_info("Chapter 4: Personality and Background")
        assert (info["number"], info["title"]) == (4, "Personality and Background")

    def test_extract_info_personalityand_fix(self):
        info = kch.extract_chapter_info("Chapter 4: Personalityand Background")
        assert info["title"] == "Personality and Background"

    def test_extract_info_step_by_step(self):
        info = kch.extract_chapter_info("Step by Step Characters")
        assert (info["number"], info["title"]) == (1, "Step-by-Step Characters")

    def test_extract_info_bare_number(self):
        info = kch.extract_chapter_info("5")
        assert (info["number"], info["title"]) == (5, "Chapter 5")

    def test_extract_info_fallback(self):
        info = kch.extract_chapter_info("Some Random Heading")
        assert (info["number"], info["title"]) == (0, "Some Random Heading")


class TestSubchapter:
    def test_detect_spaced_subchapter(self):
        sub = kch.detect_subchapter("H i l l D w a r f")
        assert sub and sub["title"] == "Hill Dwarf"

    def test_too_long_rejected(self):
        line = " ".join(list("A" + "b" * 60))
        assert kch.detect_subchapter(line) is None

    def test_non_spaced_rejected(self):
        assert kch.detect_subchapter("Hill Dwarf") is None


class TestCleanContentLineQ3:
    def test_q3_alternating_lowercase_gap_delete(self):
        # Non-overlapping matches delete alternating boundaries:
        # "the cat sat" → "thecat sat" → wait: matches at (e,c) and (t,s)
        assert kch.clean_content_line("the cat sat") == "thecatsat"

    def test_spaced_segment_collapse_threshold(self):
        out = kch.clean_content_line("see D u n g e o n s now")
        assert "Dungeons" in out

    def test_dnd_fix(self):
        assert "D&D" in kch.clean_content_line("D & D")


class TestSegmentChapters:
    LINES = [
        "Welcome to the book.",
        "C h a p t e r 1 : R a c e s",
        "Everything here is about races.",
        "H i l l D w a r f",
        "Dwarves are stout.",
        "They live long.",
        "C h a p t e r 2 : Classes",
        "Classes matter greatly.",
    ]

    def test_front_matter_and_chapters(self):
        res = kch.segment_chapters(self.LINES, with_validation=False)
        chs = res["chapters"]
        assert [c["number"] for c in chs] == [0, 1, 2]
        assert chs[0]["title"] == "Front Matter"
        assert chs[1]["title"] == "Races"
        # Reference behavior: opening the FIRST subchapter does not flush
        # the buffer to main_content — buffered pre-subchapter lines ride
        # into the subchapter (chapter_processor.py:124-133 keeps
        # current_content when no previous subchapter exists).
        assert chs[1]["content"]["main_content"] == []
        sub = chs[1]["content"]["subchapters"][0]
        assert sub["title"] == "Hill Dwarf"
        assert sub["lines"] == ["Everything here is about races.",
                                "Dwarves are stout.", "They live long."]

    def test_q2_mid_doc_flush_is_raw(self):
        lines = ["C h a p t e r 1 : R a c e s", "m ore text here",
                 "C h a p t e r 2 : Classes", "end content"]
        res = kch.segment_chapters(lines, with_validation=False)
        # Mid-doc close: NO _process_content cleanup (raw buffer kept).
        assert res["chapters"][1]["content"]["main_content"] == ["m ore text here"]

    def test_q1_final_buffer_overwritten_with_raw(self):
        lines = ["C h a p t e r 1 : R a c e s", "the cat sat"]
        res = kch.segment_chapters(lines, with_validation=False)
        final = res["chapters"][-1]["content"]["main_content"]
        # Q1: cleaned lines ("thecatsat") are appended then OVERWRITTEN
        # by the raw buffer.
        assert final == ["the cat sat"]

    def test_q1_trailing_table_still_appended(self):
        # A detected trailing table survives the Q1 overwrite.
        table_lines = (["Barbarian", "d12", "Strength"] * 3)[:9]
        lines = ["C h a p t e r 1 : R a c e s"] + table_lines
        assert ktab.detect_table(table_lines)
        res = kch.segment_chapters(lines, with_validation=False)
        final = res["chapters"][-1]["content"]
        assert final["tables"] and final["tables"][0]["type"] == "table"
        assert final["main_content"] == table_lines  # Q1 raw overwrite

    def test_q12_strict_mode_raises_like_reference(self):
        table_lines = (["Barbarian", "d12", "Strength"] * 3)[:9]
        lines = ["C h a p t e r 1 : R a c e s"] + table_lines
        with pytest.raises(TypeError):
            kch.segment_chapters(lines, parse_tables=False,
                                 with_validation=False)

    def test_stats(self):
        res = kch.segment_chapters(self.LINES, with_validation=False)
        assert res["stats"]["total_chapters"] == 3


def _fold_always_cleans(lines, parse_tables=True, with_validation=True):
    """The chapter fold as it was before the Q1-discarded trailing
    cleanup was skipped: the final buffer is always cleaned (or
    table-elevated) and extended into main_content, then Q1 applies."""
    def process_trailing_content(lines, parse_tables):
        if ktab.detect_table(lines):
            if parse_tables:
                parsed = ktab.parse_table(lines)
                if parsed["type"] == "table":
                    return parsed
            else:
                raise TypeError(
                    "detect_table returned True: reference-reachable "
                    "behavior is a crash (quirk Q12)"
                )
        cleaned = [c for c in (kch.clean_content_line(l) for l in lines)
                   if c]
        return {"type": "text", "lines": cleaned}

    chapters = []
    current = {
        "number": 0, "title": "Front Matter", "original_line": None,
        "content": kch._empty_content(),
    }
    buf = []
    sub = None

    for line in lines:
        cleaned_line = line
        if has_spaced_text(cleaned_line):
            cleaned_line = collapse_spaced_text(cleaned_line)
            if kch.is_chapter_title(cleaned_line):
                if sub is not None:
                    sub["lines"] = buf
                    current["content"]["subchapters"].append(sub)
                    sub = None
                else:
                    current["content"]["main_content"] = buf
                current["content"]["info"]["line_count"] = len(buf)
                chapters.append(current)
                current = kch.extract_chapter_info(cleaned_line)
                buf = []
                continue
            maybe_sub = kch.detect_subchapter(line)
            if maybe_sub is not None:
                if sub is not None:
                    sub["lines"] = buf
                    current["content"]["subchapters"].append(sub)
                    buf = []
                sub = maybe_sub
                continue
        buf.append(cleaned_line)

    if buf:
        processed = process_trailing_content(buf, parse_tables)
        if processed["type"] == "table":
            current["content"]["tables"].append(processed)
        else:
            current["content"]["main_content"].extend(processed["lines"])

    if sub is not None:
        sub["lines"] = buf
        current["content"]["subchapters"].append(sub)
    else:
        current["content"]["main_content"] = buf
    current["content"]["info"]["line_count"] = len(buf)
    chapters.append(current)

    validation = []
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


def _both(lines, parse_tables):
    """(old, new) results of the fold; a raise is compared by type."""
    out = []
    for fold in (_fold_always_cleans, kch.segment_chapters):
        try:
            out.append(fold(list(lines), parse_tables=parse_tables))
        except TypeError as exc:
            out.append(type(exc))
    return out


_FOLD_LINES = [
    "C h a p t e r 1 : R a c e s", "C h a p t e r 2 : Classes",
    "C h a p t e r 3",                                  # chapter titles
    "H i l l D w a r f", "W o o d E l f", "T r a i t s",  # subchapters
    "Barbarian", "d12", "Strength", "Fighter", "d10",    # table rows
    "Dexterity & Wisdom", "1st", "+2", "Rage, Unarmored Defense",
    "the cat sat", "m ore text here", "see D u n g e o n s now",
    "D & D rules", "Dungeons  &  Dragons", "  padded   line  ",
    "a b c d e f", "Plain Sentence.", "   ",            # plain lines
]


class TestTrailingCleanupSkip:
    """segment_chapters cleans the final buffer only when a subchapter
    is open (Q1 discards the cleanup otherwise); it must agree with the
    always-cleaning fold on every input, raises included."""

    ENDS_IN_SUBCHAPTER = ["C h a p t e r 1 : R a c e s", "H i l l D w a r f",
                          "the cat sat", "see D u n g e o n s now"]

    def test_cleaned_lines_survive_in_open_subchapter(self):
        old, new = _both(self.ENDS_IN_SUBCHAPTER, True)
        assert new == old
        final = new["chapters"][-1]["content"]
        assert final["subchapters"][0]["lines"] == \
            self.ENDS_IN_SUBCHAPTER[2:]
        assert final["main_content"] == [
            kch.clean_content_line(l) for l in self.ENDS_IN_SUBCHAPTER[2:]]
        assert final["main_content"] != self.ENDS_IN_SUBCHAPTER[2:]

    def test_trailing_table_in_open_subchapter(self):
        lines = self.ENDS_IN_SUBCHAPTER[:2] + ["Barbarian", "d12",
                                               "Strength"] * 3
        old, new = _both(lines, True)
        assert new == old and new["chapters"][-1]["content"]["tables"]
        assert _both(lines, False) == [TypeError, TypeError]

    @settings(max_examples=400, deadline=None)
    @given(st.lists(st.sampled_from(_FOLD_LINES), max_size=30),
           st.booleans())
    def test_matches_always_cleaning_fold(self, lines, parse_tables):
        old, new = _both(lines, parse_tables)
        assert new == old


def _detect_full(lines, min_rows=5):
    """detect_table over the full per-pattern profile."""
    if len(lines) < min_rows:
        return False
    counts = ktab._pattern_counts(lines)
    return any(all(counts[p] >= min_rows / 4 for p in spec["patterns"])
               for spec in ktab.TABLE_TYPES.values())


class TestDetectTableLazy:
    MIX = ["Barbarian", "d12", "d8", "Strength", "Charisma & Wisdom",
           "1st", "2nd", "+2", "-1", "Rage, Unarmored Defense",
           "  Fighter  ", "Primal Path", "A plain sentence, with words.",
           "42", "", "the cat sat."]

    @settings(max_examples=500, deadline=None)
    @given(st.lists(st.sampled_from(MIX), max_size=24),
           st.integers(min_value=0, max_value=9))
    def test_matches_full_profile(self, lines, min_rows):
        assert ktab.detect_table(lines, min_rows) == \
            _detect_full(lines, min_rows)


class TestTables:
    LEVEL_ROWS = ["1st", "+2", "Rage, Unarmored Defense",
                  "2nd", "+2", "Reckless Attack",
                  "3rd", "+2", "Primal Path"]

    def test_detect_table_true(self):
        assert ktab.detect_table(self.LEVEL_ROWS)

    def test_detect_table_below_min_rows(self):
        assert not ktab.detect_table(self.LEVEL_ROWS[:4])

    def test_identify_type(self):
        assert ktab.identify_table_type(self.LEVEL_ROWS) == "level_progression"

    def test_parse_level_table(self):
        t = ktab.parse_table(self.LEVEL_ROWS)
        assert t["type"] == "table"
        assert t["rows"][0][:2] == ["1st", "+2"]

    def test_parse_class_table(self):
        lines = ["Barbarian", "A fierce warrior", "d12", "Strength",
                 "Bard", "An inspiring magician", "d8", "Charisma",
                 "Cleric", "A priestly champion", "d8", "Wisdom"]
        t = ktab.parse_table(lines)
        assert t["table_type"] == "class_table"
        assert t["rows"][0][0] == "Barbarian"
