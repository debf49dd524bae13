"""Unit tests for the north-star extraction kernels: doctype, HTML
boilerplate stripping, PDF layout parsing, envelopes."""

import re

from pdf_extractor_spark.kernels import (
    doctype,
    envelope as kenv,
    htmlx,
    pdfgen,
    pdfx,
)

HTML_DOC = b"""<!DOCTYPE html><html><head><title>Sample Page</title>
<script>var x=1;</script><style>.a{}</style></head><body>
<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/c">C</a></nav>
<header><div>SiteName portal navigation</div></header>
<main><h1>The Article Title</h1>
<p>This is the first paragraph of the main content, long enough to count.</p>
<p>Second paragraph, also long enough to be treated as real content here.</p>
<div class="share"><a href="#">share</a> <a href="#">tweet</a></div>
<p>Third paragraph closes out the body of the article with a thought.</p></main>
<footer>Copyright 2026 <a href="#">Privacy</a> <a href="#">Terms</a></footer>
</body></html>"""


class TestDoctype:
    def test_pdf(self):
        assert doctype.detect_doctype(b"%PDF-1.4\n...") == "pdf"

    def test_html(self):
        assert doctype.detect_doctype(b"  <!DOCTYPE html><html>") == "html"
        assert doctype.detect_doctype(b"<html><body>") == "html"

    def test_text(self):
        assert doctype.detect_doctype(b"plain words") == "text"

    def test_empty(self):
        assert doctype.detect_doctype(b"") == "empty"

    def test_bom(self):
        assert doctype.detect_doctype(b"\xef\xbb\xbf<html>") == "html"


class TestHtmlExtraction:
    def test_main_content_selected(self):
        text = htmlx.extract_html_text(HTML_DOC)
        assert "first paragraph" in text
        assert "Second paragraph" in text
        assert "Third paragraph" in text

    def test_boilerplate_dropped(self):
        text = htmlx.extract_html_text(HTML_DOC)
        assert "Home" not in text          # nav
        assert "Copyright" not in text     # footer
        assert "share" not in text         # link-dense div

    def test_title_and_heading_kept(self):
        text = htmlx.extract_html_text(HTML_DOC)
        assert text.splitlines()[0] == "Sample Page"
        assert "The Article Title" in text

    def test_script_style_skipped(self):
        text = htmlx.extract_html_text(HTML_DOC)
        assert "var x" not in text and ".a{}" not in text

    def test_deterministic(self):
        assert htmlx.extract_html_text(HTML_DOC) == \
            htmlx.extract_html_text(HTML_DOC)

    def test_malformed_html_no_crash(self):
        out = htmlx.extract_html_text(b"<p>ok " * 10)
        assert isinstance(out, str)

    def test_link_density(self):
        b = htmlx.Block(text_parts=["click here now"], anchor_chars=14)
        assert b.link_density == 1.0

    def test_cached_block_text_matches_fresh_on_golden_html(self):
        """Block.text is built once, on its first read in _flush; for
        every HTML golden input it equals a recomputation from the
        block's final parts."""
        from pdf_extractor_spark.sources.pages import (build_extra_records,
                                                       build_pages_records)
        from tools.make_goldens import (EXTRA_N, EXTRA_SEED, GOLDEN_N,
                                        GOLDEN_SEED)
        records = (build_pages_records(GOLDEN_N, GOLDEN_SEED)
                   + build_extra_records(EXTRA_N, EXTRA_SEED))
        html = [r for r in records if r["url"].endswith(".html")]
        assert html
        n_blocks = 0
        for r in html:
            _, blocks = htmlx.parse_blocks(
                r["html"].decode("utf-8", errors="replace"))
            for b in blocks:
                assert "text" in vars(b)  # cached before the parse ended
                assert b.text == re.sub(r"\s+", " ",
                                        "".join(b.text_parts)).strip()
                n_blocks += 1
        assert n_blocks


class TestPdfRoundtrip:
    def test_single_page(self):
        pdf = pdfgen.simple_pdf(["Hello world.", "Second line."])
        assert pdfx.extract_pdf_text(pdf) == "Hello world.\nSecond line."

    def test_multi_page_join(self):
        lines = [f"Line {i} of the page body text." for i in range(85)]
        text = pdfx.extract_pdf_text(pdfgen.simple_pdf(lines))
        assert text.count("\n\n") == 2  # 3 pages joined with blank line
        assert text.splitlines()[0] == "Line 0 of the page body text."

    def test_two_column_reading_order(self):
        lines = [f"L{i:02d}" for i in range(60)]
        text = pdfx.extract_pdf_text(pdfgen.simple_pdf(lines, two_column=True))
        got = text.split("\n\n")[0].splitlines()
        assert got[:2] == ["L00", "L01"] and got[40] == "L40"

    def test_header_footer_stripped(self):
        lines = [f"Body line {i} continues onward." for i in range(85)]
        pdf = pdfgen.simple_pdf(lines, header="Running Header",
                                footer="Running Footer", page_numbers=True)
        text = pdfx.extract_pdf_text(pdf)
        assert "Running Header" not in text
        assert "Running Footer" not in text

    def test_dehyphenation(self):
        pdf = pdfgen.simple_pdf(["A wonder-", "ful day outside."])
        assert "wonderful day" in pdfx.extract_pdf_text(pdf)

    def test_no_text_layer_raises(self):
        import pytest
        with pytest.raises(pdfx.PdfParseError):
            pdfx.extract_pdf_text_builtin(b"%PDF-1.4\nnot really a pdf")

    def test_escaped_parens(self):
        pdf = pdfgen.simple_pdf(["Paren (test) and \\ backslash."])
        assert "(test)" in pdfx.extract_pdf_text(pdf)

    def test_deterministic_bytes(self):
        a = pdfgen.simple_pdf(["same input"])
        b = pdfgen.simple_pdf(["same input"])
        assert a == b


class TestEnvelope:
    def test_title_from_name(self):
        assert kenv.title_from_name("players_handbook.pdf") == "Players Handbook"

    def test_format_table_content_padding(self):
        t = {"columns": ["A", "B"], "rows": [["1"]]}
        assert "| 1 |  |" in kenv.format_table_content(t)

    def test_build_processed_q8_path(self):
        chapter_content = {"chapters": [{
            "number": 1, "title": "Races",
            "content": {"main_content": ["body"], "subchapters": [
                {"title": "Hill Dwarf", "lines": ["stout folk"]}],
                "tables": [], "info": {}},
        }]}
        doc = kenv.build_processed(chapter_content, "raw", "my_book.pdf")
        # Q8: the title comes from the document name, not 'Player's Handbook'.
        assert doc["metadata"]["title"] == "My Book"
        titles = [s["title"] for s in doc["chapters"][0]["sections"]]
        assert titles == ["Main Content", "Hill Dwarf"]
        # TOC excludes Main Content sections.
        assert doc["table_of_contents"][0]["sections"] == [
            {"title": "Hill Dwarf"}]

    def test_build_processed_fallback_runs_text_processor(self):
        doc = kenv.build_processed(None, "Contents\nChapter 1: A 5\n", "x.pdf")
        assert doc["metadata"]["title"] == "Player's Handbook"

    def test_validate_envelope(self):
        env = kenv.make_envelope("f.pdf", "processed", {
            "metadata": {}, "table_of_contents": [], "chapters": [],
            "appendices": []})
        assert kenv.validate_envelope(env) == []
        assert kenv.validate_envelope({"content": {}}) != []


class TestS5FallbackChain:
    """S2/S3 library lanes (pdf_extractor.py:50-54,73-81): when
    fitz/pypdf import on an executor they are preferred over the
    builtin parser, first non-empty text wins, and a failing or
    empty-text library falls through to the next lane."""

    def _pdf(self):
        from pdf_extractor_spark.kernels import pdfgen
        return pdfgen.simple_pdf(["builtin parser saw this line"])

    def test_fitz_lane_preferred(self, monkeypatch):
        from pdf_extractor_spark.kernels import pdfx

        class FakePage:
            def get_text(self):
                return "fitz text"

        class FakeDoc(list):
            pass

        class FakeFitz:
            @staticmethod
            def open(stream=None, filetype=None):
                return FakeDoc([FakePage(), FakePage()])

        monkeypatch.setattr(pdfx, "fitz", FakeFitz)
        assert pdfx.extract_pdf_text(self._pdf()) == "fitz text\n\nfitz text"

    def test_pypdf_lane_after_fitz_failure(self, monkeypatch):
        from pdf_extractor_spark.kernels import pdfx

        class BrokenFitz:
            @staticmethod
            def open(stream=None, filetype=None):
                raise RuntimeError("corrupt")

        class FakePdfPage:
            def extract_text(self):
                return "pypdf text"

        class FakeReader:
            def __init__(self, _fh):
                self.pages = [FakePdfPage()]

        class FakePypdf:
            PdfReader = FakeReader

        monkeypatch.setattr(pdfx, "fitz", BrokenFitz)
        monkeypatch.setattr(pdfx, "pypdf", FakePypdf)
        assert pdfx.extract_pdf_text(self._pdf()) == "pypdf text"

    def test_empty_library_text_falls_to_builtin(self, monkeypatch):
        from pdf_extractor_spark.kernels import pdfx

        class EmptyFitz:
            @staticmethod
            def open(stream=None, filetype=None):
                return []

        class EmptyReader:
            def __init__(self, _fh):
                self.pages = []

        class EmptyPypdf:
            PdfReader = EmptyReader

        monkeypatch.setattr(pdfx, "fitz", EmptyFitz)
        monkeypatch.setattr(pdfx, "pypdf", EmptyPypdf)
        # first-non-empty-wins: both libs yield empty -> builtin parses
        assert "builtin parser saw this line" in \
            pdfx.extract_pdf_text(self._pdf())
