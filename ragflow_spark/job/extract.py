"""Vectorized extraction operators: pages -> extracted / chunks.

The whole §2 operator chain (codec -> DOM -> readability -> html-text ->
template merge) runs *inside* Arrow-batched ``mapInPandas`` UDFs — one
Python invocation per batch of rows, no per-row Python UDFs, no driver-side
loops (BASELINE.json input_hint). A document is the atomicity unit, exactly
as in the reference where one task owns one page range
(rag/svr/task_executor.py:217-246).

Every operator here is the one batch adapter (``_batches``) over a
per-document row function, and each document is parsed once: with a
template, ``extract_pages`` derives the extracted text and the template's
chunks from the same parse. Physical plan shape of one job wave
(SURVEY.md §4.2):

    Scan parquet/iceberg (url, html[, lang])   <- column pruning: only the
      -> [optional salted Repartition]            columns the UDF declares
      -> MapInPandas(extract + chunk)          -> persist
      -> write extracted/  (chunks column dropped)
      -> write chunks/     (inline(chunks))

The extraction is embarrassingly parallel: no shuffle is required at all
unless the caller wants host-salted balancing (job/salting.py) — at 100 TB
the scan partitioning (Iceberg split planning) is already the right unit,
and AQE coalesces small post-shuffle partitions when a repartition is used.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

EXTRACTED_SCHEMA = ("url string, title string, extracted_text string, "
                    "n_sections int, parser string")

CHUNKS_SCHEMA = ("url string, chunk_seq int, chunk_text string, "
                 "chunk_id string, span_start long, span_end long, "
                 "page_nums array<int>")

BOOK_CHUNKS_SCHEMA = CHUNKS_SCHEMA + ", merge_mode string"

TABLES_SCHEMA = "url string, kind string, seq int, content string"

OFFICE_SCHEMA = "url string, seq int, kind string, text string"

RowFn = Callable[[str, bytes], list]


def _names(schema: str) -> list[str]:
    return [field.split()[0] for field in schema.split(", ")]


def _is_pdf(blob: bytes) -> bool:
    # content sniffing replaces the reference's filename-regex dispatch
    # (rag/app/naive.py:335-464) — a CC-style table has no filenames,
    # only bytes
    return blob.startswith(b"%PDF-")


def _batches(row_fn: RowFn, columns: list[str] | None):
    """The one Arrow batch adapter: ``row_fn(url, blob)`` sniffs the
    document's format and returns its output rows (tuples in ``columns``
    order); every input batch yields one (possibly empty) frame."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for url, blob in zip(pdf["url"], pdf["html"]):
                rows.extend(row_fn(url, bytes(blob)))
            yield pd.DataFrame(rows, columns=columns)
    return gen


def _chunk_structs(url: str, raw: list[str], mode: str,
                   book: bool) -> list[dict]:
    """Raw template chunks -> chunk structs. Position tags parse out into
    page numbers and strip for chunk_text (rag/nlp/__init__.py:321-333
    add_positions semantics); spans are character offsets into the
    concatenated chunk stream of this url (the north rule's span output).
    chunk_seq is the chunk's index in ``raw``, so per-url order is carried
    by the column — no window function / global sort (SURVEY.md §2.9)."""
    from ragflow_spark.extractlib.pdfrules import parse_positions, remove_tag
    from ragflow_spark.extractlib.xxh64 import chunk_id

    out, offset = [], 0
    for seq, tagged in enumerate(raw):
        if not tagged.strip():
            continue
        text = remove_tag(tagged)
        row = {"chunk_seq": seq, "chunk_text": text,
               # id mirrors task_executor.py:266, url standing in for doc_id
               "chunk_id": chunk_id(text, url),
               "span_start": offset, "span_end": offset + len(text),
               "page_nums": sorted({p for pos in parse_positions(tagged)
                                    for p in pos[0]})}
        if book:
            row["merge_mode"] = mode
        out.append(row)
        offset += len(text)
    return out


def _extract_rows(template: str | None) -> RowFn:
    def rows(url: str, blob: bytes) -> list:
        from ragflow_spark.extractlib import templates as T

        pdf = _is_pdf(blob)
        if pdf:
            from ragflow_spark.extractlib.pdfrules import pdf_to_sections
            sections = pdf_to_sections(blob)
            title, text, n = T.pdf_text(sections)
        else:
            from ragflow_spark.extractlib.codec import decode_blob
            from ragflow_spark.extractlib.htmlparse import parse_html_text
            title, content = parse_html_text(decode_blob(blob))
            text = f"{title}\n{content}"
            sections = [s for s in text.split("\n") if s]
            n = len(sections)
        row = (url, title, text, n, "pdf" if pdf else "html")
        if template is None:
            return [row]
        raw, mode = T.chunk_sections(template, sections, pdf)
        return [row + (_chunk_structs(url, raw, mode, template == "book"),)]
    return rows


def extract_pages(pages: DataFrame, template: str | None = None) -> DataFrame:
    """pages(url, html, ...) -> (url, title, extracted_text, n_sections,
    parser). The byte-identity invariant binds extracted_text per url.

    With a ``template``, each row also carries ``chunks``, an array of the
    ``chunk_pages`` fields but url, computed from the same parse."""
    schema, columns = EXTRACTED_SCHEMA, _names(EXTRACTED_SCHEMA)
    if template is not None:
        chunk = (BOOK_CHUNKS_SCHEMA if template == "book"
                 else CHUNKS_SCHEMA).split(", ", 1)[1]
        schema += f", chunks array<struct<{chunk}>>"
        columns.append("chunks")
    return pages.select("url", "html").mapInPandas(
        _batches(_extract_rows(template), columns), schema=schema)


def chunk_pages(pages: DataFrame, template: str = "naive") -> DataFrame:
    """pages -> exploded chunk rows for one template chunker."""
    return extract_pages(pages, template).select("url", F.inline("chunks"))


def _table_rows(html: bool) -> RowFn:
    def rows(url: str, blob: bytes) -> list:
        if not _is_pdf(blob):
            return []
        from ragflow_spark.extractlib.pdftables import pdf_to_sections_tables
        _secs, tables, figures = pdf_to_sections_tables(blob,
                                                        return_html=html)
        if html:
            out = [(url, "table_html", ti, t) for ti, t in enumerate(tables)]
        else:
            out = [(url, "table", ri, row) for tbl in tables
                   for ri, row in enumerate(tbl)]
        return out + [(url, "figure", fi, t) for fi, t in enumerate(figures)]
    return rows


def extract_pdf_tables(pages: DataFrame, html: bool = False) -> DataFrame:
    """pages -> popped-out table/figure content rows: desc-row strings
    per table row (reference _render_desc) or one HTML string per table
    (``html=True``), plus caption+text per figure.  Same map-only plan
    shape as extract_pages — the whole table grid lives inside one
    document, so no shuffle ever carries cell boxes."""
    return pages.select("url", "html").mapInPandas(
        _batches(_table_rows(html), _names(TABLES_SCHEMA)),
        schema=TABLES_SCHEMA)


def _office_rows(url: str, blob: bytes) -> list:
    from ragflow_spark.extractlib.officegen import sniff_office

    def numbered(kind_out, texts):
        return [(url, i, kind_out, t) for i, t in enumerate(texts)]

    def slides(texts):
        # presentation template: one chunk per slide
        # (rag/app/presentation.py:96-128)
        return [(url, i, "slide", t) for i, t in enumerate(texts)
                if t.strip()]

    kind = sniff_office(blob)
    if kind == "docx":
        from ragflow_spark.extractlib.docxparse import docx_sections
        texts, lines = docx_sections(blob)
        return numbered("para", texts) + numbered("table", lines)
    if kind == "xlsx":
        from ragflow_spark.extractlib.xlsxparse import xlsx_rows
        return numbered("row", xlsx_rows(blob))
    if kind == "pptx":
        from ragflow_spark.extractlib.pptxparse import parse_pptx
        return slides(parse_pptx(blob))
    if kind == "doc":
        from ragflow_spark.extractlib.docparse import DocError, doc_lines
        # reference .doc branch (rag/app/naive.py:449-460): tika content
        # split to non-empty lines = sections; a malformed FIB degrades
        # to zero rows, never a crash
        try:
            return numbered("para", doc_lines(blob))
        except DocError:
            return []
    if kind == "ppt":
        from ragflow_spark.extractlib.pptparse import PptError, parse_ppt
        # beyond-reference: legacy deck through the same one-chunk-per-
        # slide presentation shape
        try:
            return slides(parse_ppt(blob))
        except PptError:
            return []
    return []


def chunk_office(pages: DataFrame) -> DataFrame:
    """pages with DOCX/XLSX byte payloads -> flat content rows
    (paragraphs + composed table lines / sheet row lines). Magic-byte
    dispatch replaces the reference's filename-extension dispatch
    (rag/app/naive.py:335-464), same map-only plan as extract_pages."""
    return pages.select("url", "html").mapInPandas(
        _batches(_office_rows, _names(OFFICE_SCHEMA)), schema=OFFICE_SCHEMA)
