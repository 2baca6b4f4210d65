"""The job's per-document row function parses each document once.

``extract_pages(pages, template)`` derives the extracted text and the
template's chunks from one parse; these tests count the parses and check
that the chunks are the template's chunks of the document.
"""

import pytest

from ragflow_spark.extractlib import htmltext, pdfplain, readability
from ragflow_spark.extractlib import templates as T
from ragflow_spark.extractlib.htmlparse import extract_html, html_sections
from ragflow_spark.extractlib.pdfgen import build_pdf
from ragflow_spark.extractlib.pdfrules import (parse_positions,
                                               pdf_to_sections, remove_tag)
from ragflow_spark.extractlib.xxh64 import chunk_id
from ragflow_spark.job.extract import _extract_rows

TEMPLATES = ["naive", "book", "one", "paper", "laws"]

_BODY = " ".join(["the scan reads every row of the page table and the "
                  "batch writer commits each bucket once"] * 3)
HTML = ("<html><head><title>Storage Law</title></head><body><article>"
        + "".join(f"<h2>Article {i}</h2><p>{_BODY} {i}.</p>"
                  for i in range(1, 7))
        + "</article><div class='sidebar'>share this</div></body></html>"
        ).encode()
PDF = build_pdf("Paper 9", [(f"{i} Part {i}", f"{_BODY} {i}.")
                            for i in range(1, 7)])


def _counter(monkeypatch, *targets):
    n = [0]
    for module, name in targets:
        orig = getattr(module, name)

        def counted(*args, _orig=orig, **kwargs):
            n[0] += 1
            return _orig(*args, **kwargs)
        monkeypatch.setattr(module, name, counted)
    return n


def _row(template, blob):
    [row] = _extract_rows(template)("u", blob)
    return row


@pytest.mark.parametrize("template", TEMPLATES)
def test_html_row_parses_like_extract_html_alone(monkeypatch, template):
    parses = _counter(monkeypatch, (readability, "parse_html"),
                      (htmltext, "parse_html"))
    extract_html(HTML)
    alone, parses[0] = parses[0], 0
    row = _row(template, HTML)
    assert alone >= 1 and parses[0] == alone
    assert row[2] == extract_html(HTML)


@pytest.mark.parametrize("template", TEMPLATES)
def test_pdf_row_parses_boxes_once(monkeypatch, template):
    parses = _counter(monkeypatch, (pdfplain, "parse_pdf_boxes"))
    row = _row(template, PDF)
    assert parses[0] == 1
    assert row[1:5] == T.extract_pdf_text(PDF) + ("pdf",)
    assert row[5], "every template chunks this paper"


def _raw_chunks(template, blob):
    """Raw chunks of the template over a parse of their own."""
    if blob.startswith(b"%PDF-"):
        return T.chunk_sections(template, pdf_to_sections(blob), True)[0]
    return T.chunk_sections(template, html_sections(blob), False)[0]


@pytest.mark.parametrize("blob", [HTML, PDF], ids=["html", "pdf"])
@pytest.mark.parametrize("template", TEMPLATES)
def test_row_chunks_match_binary_chunkers(template, blob):
    chunks = _row(template, blob)[5]
    raw = [c for c in _raw_chunks(template, blob) if c.strip()]
    assert [c["chunk_text"] for c in chunks] == [remove_tag(c) for c in raw]
    assert [c["page_nums"] for c in chunks] == [
        sorted({p for pos in parse_positions(c) for p in pos[0]})
        for c in raw]
    assert all(c["chunk_id"] == chunk_id(c["chunk_text"], "u")
               for c in chunks)
    ends = [c["span_end"] for c in chunks]
    assert [c["span_start"] for c in chunks] == ([0] + ends)[:len(chunks)]
    if template == "paper" and blob is HTML:
        assert chunks == []
    else:
        assert chunks and ("merge_mode" in chunks[0]) == (template == "book")



def test_bytes_in_chunkers_are_parse_then_chunk():
    html, pdf = html_sections(HTML), pdf_to_sections(PDF)
    assert T.chunk_naive_html(HTML) == T.chunk_sections("naive", html,
                                                        False)[0]
    assert T.chunk_naive_pdf(PDF, keep_tags=True) == \
        T.chunk_sections("naive", pdf, True)[0]
    assert T.chunk_paper_pdf(PDF, True) == \
        T.chunk_sections("paper", pdf, True)[0]
