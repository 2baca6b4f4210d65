"""Smoke tests of the benchmark itself (not part of the tier-1 suite).

    python3 -m pytest perfbench/smoke_test.py -q

The end-to-end tests start one Spark JVM per run and take minutes.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

from perfbench import check, corpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args):
    return subprocess.run([sys.executable, RUN, *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)


def test_pages_are_a_function_of_the_seed():
    for workload in ("html_web", "checkpoint_resume"):
        a, b = corpus.pages(workload, 3), corpus.pages(workload, 3)
        assert a == b
        assert a != corpus.pages(workload, 4)
    sizes = [len(blob) for _, blob in corpus.pages("html_web", 3)]
    assert 4 * 1024 <= min(sizes) and max(sizes) <= 256 * 1024
    assert 16 * 1024 <= sorted(sizes)[len(sizes) // 2] <= 32 * 1024


def test_twin_matches_corpus_gen(tmp_path):
    """corpus.py's page twin is byte-identical to corpus.gen on the same
    documents table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ragflow_spark.corpus.gen import build_pages, build_pdf_pages
    from ragflow_spark.job.session import get_spark

    docs = list(corpus.documents(random.Random(5), 60))
    pq.write_table(pa.table({"doc_id": [d[0] for d in docs],
                             "text": [d[1] for d in docs],
                             "lang": [d[2] for d in docs]}),
                   str(tmp_path / "documents.parquet"))
    derived = [corpus.derive(*d) for d in docs]
    spark = get_spark(master="local[1]")
    try:
        html = {r["url"]: bytes(r["html"]) for r in
                build_pages(spark, str(tmp_path)).collect()}
        pdf = {r["url"]: bytes(r["html"]) for r in
               build_pdf_pages(spark, str(tmp_path)).collect()}
    finally:
        spark.stop()
    assert html == {d["url"]: corpus.sf_html(d) for d in derived}
    assert pdf == {d["pdf_url"]: corpus.sf_pdf(d) for d in derived}
    from ragflow_spark.extractlib.htmlparse import extract_html
    for d in derived:
        assert extract_html(corpus.sf_html(d)) == corpus.expected_sf_text(d)


def test_row_check_catches_missing_and_duplicate_urls():
    rows = [("u1", "t", "x", 1, "html"), ("u2", "t", "y", 1, "html")]
    check.check_rows(rows, ["u1", "u2"])
    with pytest.raises(check.CheckError):
        check.check_rows(rows, ["u1", "u2", "u3"])
    with pytest.raises(check.CheckError):
        check.check_rows(rows + rows[:1], ["u1", "u2"])


@pytest.mark.parametrize("workload", ["html_web", "checkpoint_resume"])
@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(workload, trace):
    spec = _bench_spec()
    assert workload in [w["name"] for w in spec["workloads"]]
    res = _run("--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", str(trace))
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == \
        {k: v["unit"] for k, v in result["metrics"].items()}
    for m in want:
        value = result["metrics"][m["name"]]["value"]
        assert any(ln == f"{m['name']} {value:.6g} {m['unit']}"
                   for ln in lines)


def test_corrupted_digest_fails_the_run(tmp_path):
    bad = tmp_path / "digests.json"
    bad.write_text(json.dumps({
        "corpus_version": corpus.CORPUS_VERSION,
        "digests": {"html_web": {"1": {"extracted": "0" * 64,
                                       "chunks": "0" * 64}}}}))
    res = _run("--workload", "html_web", "--seed", "1", "--seconds", "1",
               "--digests", str(bad))
    assert res.returncode == 1
    assert "CHECK FAILED" in res.stderr
    assert json.loads(res.stdout.strip().splitlines()[-1])["correct"] is \
        False


def test_bare_directory_fails_without_a_result(tmp_path):
    """Run from a directory holding only the benchmark: no program to
    measure, so a non-zero exit and no result line."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        src = os.path.join(ROOT, "perfbench", name)
        if os.path.isfile(src):
            (bench / name).write_bytes(open(src, "rb").read())
    (tmp_path / "BENCHMARK.json").write_bytes(
        open(os.path.join(ROOT, "BENCHMARK.json"), "rb").read())
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "html_web",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert res.returncode != 0
    assert '"correct"' not in res.stdout
