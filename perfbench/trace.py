"""Spans around the job layer and an in-process split of the parse layers.

Nothing here edits the program.  ``JobTracer`` swaps, for the duration of
a ``with`` block, the module attributes that ``run_extract.run_job`` looks
up at call time (``_write_partitioned``, ``extract_pages``,
``ck.load_done_buckets``, ``ck.append_lineage``) for timing wrappers, and
keeps the spans in memory.  A wave span runs from the wave's
``extract_pages`` call to the end of its ``append_lineage``; the
read-back span is the gap between the wave's last write and its lineage
append.  Wave times therefore come from spans, not from the lineage
``wall_ms`` column, which stamps the wave's time on every bucket row.

``html_split`` and ``pdf_split`` time each parse layer's public function
over a sample of documents, and count parses through the name each caller looks
up (``readability.parse_html``, ``htmltext.parse_html``,
``pdfplain.parse_pdf_boxes``).
"""

from __future__ import annotations

import contextlib
import statistics
import time

from ragflow_spark.extractlib import (codec, dom, htmltext, merge, pdfplain,
                                      pdfrules, readability, templates)
from ragflow_spark.extractlib.htmlparse import extract_html
from ragflow_spark.job import checkpoint, run_extract


class Span:
    __slots__ = ("name", "start", "end", "parent", "wave")

    def __init__(self, name, start, end=None, parent=None, wave=None):
        self.name, self.start, self.end = name, start, end
        self.parent, self.wave = parent, wave

    def as_dict(self, t0: float, **extra) -> dict:
        return {"name": self.name, "start": self.start - t0,
                "end": self.end - t0, "parent": self.parent,
                "wave": self.wave, **extra}


def _patched(module, name, wrapper_factory):
    """Context manager swapping ``module.name`` for a wrapper of it."""
    @contextlib.contextmanager
    def cm():
        orig = getattr(module, name)
        setattr(module, name, wrapper_factory(orig))
        try:
            yield
        finally:
            setattr(module, name, orig)
    return cm()


class JobTracer:
    """Spans of one ``run_job`` call (use one tracer per call)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.job: Span | None = None
        self._wave: Span | None = None
        self._waves = 0
        self._last_write_end: float | None = None

    # -- wrappers ----------------------------------------------------------
    def _timed(self, name_of):
        def factory(orig):
            def wrapper(*args, **kwargs):
                name = name_of(args)
                wave = self._wave
                sp = Span(name, time.perf_counter(),
                          parent="wave" if wave else "job",
                          wave=wave.wave if wave else None)
                try:
                    return orig(*args, **kwargs)
                finally:
                    sp.end = time.perf_counter()
                    self.spans.append(sp)
                    if name.startswith("job.run_extract.write_"):
                        self._last_write_end = sp.end
            return wrapper
        return factory

    def _wave_start(self, orig):
        def wrapper(*args, **kwargs):
            self._wave = Span("job.run_extract.wave", time.perf_counter(),
                              parent="job", wave=self._waves)
            self._waves += 1
            return orig(*args, **kwargs)
        return wrapper

    def _lineage(self, orig):
        timed = self._timed(lambda a: "job.checkpoint.append_lineage")(orig)

        def wrapper(*args, **kwargs):
            wave = self._wave
            if wave is not None and self._last_write_end is not None:
                self.spans.append(Span(
                    "job.run_extract.readback", self._last_write_end,
                    time.perf_counter(), parent="wave", wave=wave.wave))
            try:
                return timed(*args, **kwargs)
            finally:
                if wave is not None:
                    wave.end = time.perf_counter()
                    self.spans.append(wave)
                    self._wave = None
                    self._last_write_end = None
        return wrapper

    @contextlib.contextmanager
    def tracing(self):
        def write_name(args):
            return "job.run_extract.write_" + args[1].rstrip("/") \
                .rsplit("/", 1)[-1]
        with contextlib.ExitStack() as stack:
            stack.enter_context(_patched(run_extract, "_write_partitioned",
                                         self._timed(write_name)))
            stack.enter_context(_patched(run_extract, "extract_pages",
                                         self._wave_start))
            stack.enter_context(_patched(
                checkpoint, "load_done_buckets",
                self._timed(lambda a: "job.checkpoint.load_done_buckets")))
            stack.enter_context(_patched(checkpoint, "append_lineage",
                                         self._lineage))
            yield self

    @contextlib.contextmanager
    def job_span(self):
        self.job = Span("job.run_extract.run_job", time.perf_counter())
        try:
            yield
        finally:
            self.job.end = time.perf_counter()
            self.spans.append(self.job)

    # -- summaries ---------------------------------------------------------
    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def wave_times(self) -> list[float]:
        return [s.end - s.start for s in self.spans
                if s.name == "job.run_extract.wave"]

    def uncovered(self) -> float:
        """Job wall time outside every wave and lineage-load span."""
        covered = sum(self.wave_times()) + \
            self.total("job.checkpoint.load_done_buckets")
        return self.job.end - self.job.start - covered


# ---------------------------------------------------------------------------
# in-process layer split
# ---------------------------------------------------------------------------

def _count(module, name, counter: list):
    def factory(orig):
        def wrapper(*args, **kwargs):
            counter[0] += 1
            return orig(*args, **kwargs)
        return wrapper
    return _patched(module, name, factory)


def _ms(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, (time.perf_counter() - t) * 1000.0


def html_split(blobs: list[bytes]) -> dict[str, float]:
    """Mean ms/doc per HTML layer, per-doc ms of extract + chunk, and
    DOM parses per document for extract + chunk."""
    acc = {k: 0.0 for k in ("codec.decode_blob", "dom.parse_html",
                            "readability.summary_node",
                            "htmltext.extract_text_from_node",
                            "merge.naive_merge",
                            "templates.chunk_naive_html")}
    doc_ms = []
    for blob in blobs:
        txt, ms = _ms(codec.decode_blob, blob)
        acc["codec.decode_blob"] += ms
        acc["dom.parse_html"] += _ms(dom.parse_html, txt)[1]
        # title() parses and summary_node() takes that tree, as in
        # htmlparse.parse_html_text, so this span includes one parse
        t = time.perf_counter()
        doc = readability.Document(txt)
        title = doc.title()
        node = doc.summary_node(html_partial=True)
        acc["readability.summary_node"] += (time.perf_counter() - t) * 1000
        content, ms = _ms(htmltext.extract_text_from_node, node)
        acc["htmltext.extract_text_from_node"] += ms
        sections = [(s, "") for s in f"{title}\n{content}".split("\n") if s]
        acc["merge.naive_merge"] += _ms(merge.naive_merge, sections, 128,
                                        "\n!?。；！？")[1]
        _, ms_chunk = _ms(templates.chunk_naive_html, blob)
        acc["templates.chunk_naive_html"] += ms_chunk
        doc_ms.append(_ms(extract_html, blob)[1] + ms_chunk)
    out = {f"extractlib.{k}_ms": v / len(blobs) for k, v in acc.items()}
    parses = [0]
    with _count(readability, "parse_html", parses), \
            _count(htmltext, "parse_html", parses):
        for blob in blobs:
            extract_html(blob)
            templates.chunk_naive_html(blob)
    out["extractlib.dom.parses_per_doc"] = parses[0] / len(blobs)
    return out, doc_ms


def pdf_split(blobs: list[bytes], template: str) -> dict[str, float]:
    """Mean ms/doc per PDF layer, per-doc ms of extract + chunk, and PDF
    box parses per document for extract + the job's chunker."""
    chunk = (templates.chunk_paper_pdf if template == "paper"
             else templates.chunk_naive_pdf)
    acc = {k: 0.0 for k in ("pdfplain.parse_pdf_boxes",
                            "pdfrules.pdf_to_sections",
                            "templates.chunk_paper_pdf")}
    doc_ms = []
    for blob in blobs:
        acc["pdfplain.parse_pdf_boxes"] += _ms(pdfplain.parse_pdf_boxes,
                                               blob, True)[1]
        acc["pdfrules.pdf_to_sections"] += _ms(pdfrules.pdf_to_sections,
                                               blob)[1]
        acc["templates.chunk_paper_pdf"] += _ms(templates.chunk_paper_pdf,
                                                blob, True)[1]
        doc_ms.append(_ms(templates.extract_pdf_text, blob)[1]
                      + _ms(chunk, blob, True)[1])
    out = {f"extractlib.{k}_ms": v / len(blobs) for k, v in acc.items()}
    parses = [0]
    with _count(pdfplain, "parse_pdf_boxes", parses):
        for blob in blobs:
            templates.extract_pdf_text(blob)
            chunk(blob, True)
    out["extractlib.pdfplain.parses_per_doc"] = parses[0] / len(blobs)
    return out, doc_ms


def p99(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[98]
