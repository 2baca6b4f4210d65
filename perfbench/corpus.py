"""Seeded inputs for the benchmark workloads and the traced PDF sample.

Every page is a pure function of ``(workload, seed)``: the same seed gives
the same parquet bytes on any host.  The source documents copy the shape
of the sf0.1 testdata ``documents`` table (a 31-word vocabulary, 10-100
words, five languages) and are turned into pages by a Python twin of
``ragflow_spark.corpus.gen`` (url, title, paragraph split, the five HTML
families and their charsets; the PDF family via ``pdfgen.build_pdf``), so
``checkpoint_resume`` is the native sf0.1 page shape.  ``smoke_test.py``
pins the twin against ``corpus.gen.build_pages`` / ``build_pdf_pages``.

``html_web`` pages and the ``pdf_papers`` sample (the PDF layers of the
traced split on html_web) are built from the same paragraphs, scaled to
Common-Crawl / paper sizes.  Their size schedules are fixed and only the
order and the words vary with the seed, so every seed costs about the
same.

Pages are cached as parquet under ``<cache_root>/v<CORPUS_VERSION>/``,
keyed by workload and seed; the cache is built before any timing starts.
"""

from __future__ import annotations

import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ragflow_spark.corpus.gen import (_BOILER_FOOTER, _BOILER_NAV,
                                      DOUBLE_NEWLINE_FAMILIES)
from ragflow_spark.extractlib import pdfgen

# Bump when any page byte changes: it keys the cache and the frozen
# output digests (digests.json).
CORPUS_VERSION = "1"

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en",) * 41 + ("zh",) * 15 + ("es",) * 15 + ("fr",) * 15 + \
    ("de",) * 14

# input files per workload: a scan split is one task, so one file per
# task slot, with the pages spread so that the files hold equal bytes
N_FILES = 2

# ---------------------------------------------------------------------------
# documents + the corpus.gen derivation (Python twin)
# ---------------------------------------------------------------------------

def documents(rng: random.Random, n: int, first_id: int = 0):
    """(doc_id, text, lang) rows shaped like the testdata documents."""
    for i in range(n):
        words = " ".join(rng.choice(VOCAB)
                         for _ in range(rng.randint(10, 100)))
        yield first_id + i, words, rng.choice(LANGS)


def _row_score(p: str) -> float:
    return 2.0 + min(len(p) / 100.0, 3.0) if len(p) >= 25 else 0.0


def derive(doc_id: int, text: str, lang: str) -> dict:
    """corpus.gen._with_derived for one document."""
    words = text.split(" ")
    k = 8 + doc_id % 13
    n_paras = math.ceil(len(words) / k)
    paras0 = [" ".join(words[i * k:i * k + k]) for i in range(n_paras)]
    fam = doc_id % 5
    if fam == 3:
        scores = [_row_score(p) for p in paras0]
        if not sum(scores) / 2.0 > max(scores):
            fam = 0
    host = 0 if doc_id % 5 == 0 else doc_id % 50
    title = f"文档 {doc_id}" if lang == "zh" else f"Document {doc_id}"
    paras = ([f"Section {i + 1} {p}" for i, p in enumerate(paras0)]
             if fam == 4 else paras0)
    return {"doc_id": doc_id, "lang": lang, "family": fam, "title": title,
            "url": f"https://host{host}.example.com/doc/{doc_id}",
            "pdf_url": f"https://host{host}.example.com/pdf/{doc_id}",
            "paras0": paras0, "paras": paras}


def _charset(d: dict) -> str:
    if d["lang"] == "zh" and d["doc_id"] % 2 == 0:
        return "gbk"
    if d["doc_id"] % 20 == 3:
        return "utf-16"
    return "utf-8"


def sf_html(d: dict) -> bytes:
    """corpus.gen._html_column + charset for one derived document."""
    paras, fam = d["paras"], d["family"]
    p_body = "".join(f"<p>{p}</p>" for p in paras)
    if fam == 1:
        body = (_BOILER_NAV + '<div class="article-content">' + p_body
                + "</div>" + _BOILER_FOOTER)
    elif fam == 2:
        body = "<div>" + "<br><br>".join(paras) + "</div>"
    elif fam == 3:
        body = ("<table>" + "".join(f"<tr><td>{p}</td></tr>" for p in paras)
                + "</table>")
    else:
        body = "<article>" + p_body + "</article>"
    html = (f"<html><head><title>{d['title']}</title></head><body>{body}"
            "</body></html>")
    return html.encode(_charset(d))


def sf_pdf(d: dict) -> bytes:
    """corpus.gen.build_pdf_pages for one derived document."""
    sections = [(f"{i + 1} Part {i + 1}", p) for i, p in enumerate(d["paras0"])]
    return pdfgen.build_pdf(f"Paper {d['doc_id']}", sections)


def expected_sf_text(d: dict) -> str:
    """corpus.gen.expected_extracted for one derived document."""
    sep = "\n\n" if d["family"] in DOUBLE_NEWLINE_FAMILIES else "\n"
    return d["title"] + "\n" + sep.join(d["paras"])


# ---------------------------------------------------------------------------
# html_web: Common-Crawl-shaped pages, 4 KB .. 256 KB
# ---------------------------------------------------------------------------

HTML_WEB_PAGES = 24
HTML_MIN_KB, HTML_MAX_KB = 4, 256
# size quantile u -> KB: log-spaced, skewed so the median page is ~20 KB
HTML_SIZE_SKEW = 1.37


def html_sizes(n: int = HTML_WEB_PAGES) -> list[int]:
    """The fixed size schedule (bytes) every html_web seed uses."""
    lo, hi = math.log(HTML_MIN_KB * 1024), math.log(HTML_MAX_KB * 1024)
    return [int(math.exp(lo + (hi - lo) * ((i + 0.5) / n) ** HTML_SIZE_SKEW))
            for i in range(n)]


_SCRIPT = ("<script type='text/javascript'>var _q=window._q||[];"
           "_q.push(['track','{i}']);function f{i}(a){{return a&&a.length}}"
           "</script>")
_STYLE = ("<style>.nav a{{color:#{i:03x}}} .footer{{margin:{i}px}} "
          "@media (max-width:600px){{.sidebar{{display:none}}}}</style>")


def _nav(rng: random.Random, n_links: int) -> str:
    links = "".join(f"<li><a href='/c/{rng.randrange(10**6)}'>"
                    f"{rng.choice(VOCAB)} {rng.choice(VOCAB)}</a></li>"
                    for _ in range(n_links))
    return f"<div class='nav menu'><ul>{links}</ul></div>"


def _web_page(rng: random.Random, page_id: int, slot: int, size: int,
              docs) -> bytes:
    """One page; ``slot`` (the page's place in the size schedule) fixes
    its layout and charset, so a seed changes words and order only."""
    shape = slot % 6
    zh = slot % 7 == 2
    utf16 = slot % 13 == 6
    if utf16:
        size //= 2          # size is in encoded bytes
    title = f"文档 {page_id}" if zh else f"Document {page_id}"
    head = ""
    if shape in (0, 3, 5):
        head += ("<!DOCTYPE html>\n<!--[if lt IE 9]><script src='shim.js'>"
                 "</script><![endif]-->\n")
    head += (f"<html><head><meta charset='utf-8'><title>{title}"
             + ("\x0c" if slot % 11 == 4 else "") + "</title>"
             + _STYLE.format(i=page_id) + _SCRIPT.format(i=page_id)
             + "</head><body>")
    # boilerplate is ~15% of the page: link farms, sidebar, scripts
    nav = _nav(rng, max(5, size // 2600))
    side = ("<div class='sidebar'>" + _nav(rng, max(3, size // 5200))
            + "</div>")
    foot = (_BOILER_FOOTER + _SCRIPT.format(i=page_id + 1)
            + "</body></html>")
    if slot % 4 == 1:
        foot += "\n<script>trailing.junk()</script><p>after html</p>"
    budget = size - len(head) - len(nav) - len(side) - len(foot)
    paras: list[str] = []
    used = 0
    while used < budget:
        for p in derive(*next(docs))["paras"]:
            if used >= budget:
                break
            if slot % 9 == 5 and len(paras) % 17 == 3:
                p = p.replace(" ", "\x0b", 1)
            paras.append(p)
            used += len(p) + 9
    if shape == 0:      # clean article
        body = "<article>" + "".join(f"<p>{p}</p>" for p in paras) + \
            "</article>"
    elif shape == 1:    # boilerplate around an article-content div
        body = ("<div class='article-content'>"
                + "".join(f"<p>{p}</p>" for p in paras) + "</div>")
    elif shape == 2:    # one div, paragraphs split by <br><br>
        body = "<div>" + "<br><br>".join(paras) + "</div>"
    elif shape == 3:    # 1990s table layout
        body = ("<table>" + "".join(f"<tr><td>{p}</td></tr>" for p in paras)
                + "</table>")
    elif shape == 4:    # headed sections
        body = "".join(f"<h2>Section {i + 1}</h2><p>{p}</p>"
                       for i, p in enumerate(paras))
    else:               # unclosed structures, nested wrappers
        body = ("<div class='content'>" + "<div>" * 12
                + "".join(f"<p>{p}" for p in paras))
    html = head + nav + side + body + foot
    if zh:
        return html.encode("gbk")
    return html.encode("utf-16" if utf16 else "utf-8")


def html_web(seed: int) -> list[tuple[str, bytes]]:
    rng = random.Random(f"html_web/{seed}")
    slots = list(enumerate(html_sizes()))
    rng.shuffle(slots)
    docs = documents(rng, 10**6)
    base = seed * 10**6
    return [(f"https://web{i % 23}.example.org/{base + i}/article.html",
             _web_page(rng, base + i, slot, size, docs))
            for i, (slot, size) in enumerate(slots)]


# ---------------------------------------------------------------------------
# pdf_papers: multi-page papers from the pdfgen families
# ---------------------------------------------------------------------------

PDF_PAPERS = 8
PDF_MIN_SECTIONS, PDF_MAX_SECTIONS = 10, 150

_PDF_FAMILIES = (
    lambda t, s: pdfgen.build_pdf(t, s),
    lambda t, s: pdfgen.build_pdf_two_col(t, s),
    lambda t, s: pdfgen.build_pdf(t, s, fragment=True),
    lambda t, s: pdfgen.build_pdf(t, s, header_footer=True),
)


def pdf_section_counts(n: int = PDF_PAPERS) -> list[int]:
    """The fixed sections-per-paper schedule every pdf_papers seed uses."""
    span = PDF_MAX_SECTIONS - PDF_MIN_SECTIONS
    return [PDF_MIN_SECTIONS + int(span * ((i + 0.5) / n) ** 1.5)
            for i in range(n)]


def pdf_papers(seed: int) -> list[tuple[str, bytes]]:
    rng = random.Random(f"pdf_papers/{seed}")
    counts = pdf_section_counts()
    rng.shuffle(counts)
    docs = documents(rng, 10**6)
    base = seed * 10**6
    out = []
    for i, n_sec in enumerate(counts):
        paras: list[str] = []
        while len(paras) < n_sec:
            paras.extend(derive(*next(docs))["paras0"])
        sections = [(f"{j + 1} Part {j + 1}", p)
                    for j, p in enumerate(paras[:n_sec])]
        build = _PDF_FAMILIES[i % len(_PDF_FAMILIES)]
        out.append((f"https://papers{i % 11}.example.org/{base + i}.pdf",
                    build(f"Paper {base + i}", sections)))
    return out


# ---------------------------------------------------------------------------
# checkpoint_resume: the native small sf0.1 pages, HTML and PDF mixed
# ---------------------------------------------------------------------------

RESUME_HTML_DOCS = 800
RESUME_PDF_DOCS = 200


def checkpoint_resume(seed: int) -> list[tuple[str, bytes]]:
    rng = random.Random(f"checkpoint_resume/{seed}")
    docs = [derive(*row) for row in
            documents(rng, RESUME_HTML_DOCS, first_id=seed * 10**6)]
    return ([(d["url"], sf_html(d)) for d in docs]
            + [(d["pdf_url"], sf_pdf(d)) for d in docs[:RESUME_PDF_DOCS]])


MAKERS = {"html_web": html_web, "checkpoint_resume": checkpoint_resume}


def pages(workload: str, seed: int) -> list[tuple[str, bytes]]:
    return MAKERS[workload](seed)


def pages_dir(cache_root: str, workload: str, seed: int) -> str:
    """Parquet dir (url string, html binary) for (workload, seed), built
    on first use; files are written under a temp name, then renamed."""
    path = os.path.join(cache_root, f"v{CORPUS_VERSION}",
                        f"{workload}-{seed}")
    if os.path.isdir(path):
        return path
    rows = pages(workload, seed)
    files: list[list] = [[] for _ in range(N_FILES)]
    loads = [0] * N_FILES
    for url, blob in sorted(rows, key=lambda r: (-len(r[1]), r[0])):
        f = loads.index(min(loads))
        files[f].append((url, blob))
        loads[f] += len(blob)
    rng = random.Random(f"files/{workload}/{seed}")
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for f, part in enumerate(files):
        rng.shuffle(part)
        table = pa.table({"url": [u for u, _ in part],
                          "html": pa.array([b for _, b in part],
                                           pa.binary())})
        pq.write_table(table, os.path.join(tmp, f"part-{f:02d}.parquet"))
    os.replace(tmp, path)
    return path


def read_pages(path: str) -> dict[str, bytes]:
    """url -> blob of a cached pages dir."""
    t = pq.read_table(path)
    return dict(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
