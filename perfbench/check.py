"""Output checks of one finished (crashed and resumed) job.

* Exactly one extracted row per input url, and no other url.
* sha256 of the url-sorted ``extracted`` and ``chunks`` tables: equal
  across the repetitions of a run and, for the seeds frozen in
  ``digests.json``, equal to the frozen value.
* A fixed sample of urls re-extracted in process with
  ``htmlparse.extract_html`` / ``templates.extract_pdf_text`` and
  re-chunked with the naive chunker must match the job's rows.

Every failure raises ``CheckError``.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

from ragflow_spark.extractlib import pdfrules, templates
from ragflow_spark.extractlib.htmlparse import extract_html

EXTRACTED_COLS = ("url", "title", "extracted_text", "n_sections", "parser")
CHUNK_COLS = ("url", "chunk_seq", "chunk_text", "chunk_id", "span_start",
              "span_end", "page_nums")

SAMPLE = 8


class CheckError(AssertionError):
    pass


def _rows(path: str, cols: tuple[str, ...], key) -> list[tuple]:
    table = pq.read_table(path, columns=list(cols))
    rows = list(zip(*(table.column(c).to_pylist() for c in cols)))
    rows.sort(key=key)
    return rows


def _sha(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, ensure_ascii=False).encode())
        h.update(b"\n")
    return h.hexdigest()


def read_outputs(out_dir: str) -> tuple[list[tuple], list[tuple]]:
    extracted = _rows(os.path.join(out_dir, "extracted"), EXTRACTED_COLS,
                      lambda r: r[0])
    chunks_dir = os.path.join(out_dir, "chunks")
    chunks = (_rows(chunks_dir, CHUNK_COLS, lambda r: (r[0], r[1]))
              if os.path.isdir(chunks_dir) else [])
    return extracted, chunks


def digests(extracted, chunks) -> dict[str, str]:
    return {"extracted": _sha(extracted), "chunks": _sha(chunks)}


def check_rows(extracted, urls) -> None:
    got = [r[0] for r in extracted]
    if len(got) != len(set(got)):
        raise CheckError(f"{len(got) - len(set(got))} urls have more than "
                         "one extracted row")
    missing, extra = set(urls) - set(got), set(got) - set(urls)
    if missing or extra:
        raise CheckError(f"{len(missing)} input urls have no extracted row, "
                         f"{len(extra)} extracted urls are not in the input "
                         f"(e.g. {sorted(missing or extra)[:3]})")


def check_frozen(got: dict, frozen: dict | None, label: str) -> None:
    if frozen is not None and got != frozen:
        raise CheckError(f"{label}: output digests {got} differ from the "
                         f"frozen {frozen}")


def _naive_chunk_texts(blob: bytes) -> list[str]:
    """chunk_text of the naive template, as job.extract writes it."""
    raw = (templates.chunk_naive_pdf(blob, keep_tags=True)
           if blob.startswith(b"%PDF-") else templates.chunk_naive_html(blob))
    return [pdfrules.remove_tag(c) for c in raw if c.strip()]


def check_sample(extracted, chunks, pages: dict[str, bytes]) -> int:
    """Re-derive a fixed sample of urls in process (naive template);
    returns the sample size."""
    by_url = {r[0]: r for r in extracted}
    chunk_texts: dict[str, list[str]] = {}
    for r in chunks:
        chunk_texts.setdefault(r[0], []).append(r[2])
    urls = sorted(pages)
    sample = urls[::max(1, len(urls) // SAMPLE)][:SAMPLE]
    for url in sample:
        blob = pages[url]
        row = by_url[url]
        if blob.startswith(b"%PDF-"):
            title, text, n = templates.extract_pdf_text(blob)
            want = (url, title, text, n, "pdf")
        else:
            text = extract_html(blob)
            want = (url, row[1], text,
                    len([s for s in text.split("\n") if s]), "html")
            if not text.startswith(row[1] + "\n"):
                raise CheckError(f"{url}: title {row[1]!r} is not the "
                                 "first line of the extracted text")
        if tuple(row) != want:
            raise CheckError(f"{url}: job row differs from in-process "
                             f"extraction:\n job  {row!r:.300}\n want "
                             f"{want!r:.300}")
        want_chunks = _naive_chunk_texts(blob)
        if chunk_texts.get(url, []) != want_chunks:
            raise CheckError(f"{url}: job chunks differ from in-process "
                             f"chunking ({len(chunk_texts.get(url, []))} vs "
                             f"{len(want_chunks)} chunks)")
    return len(sample)
