"""End-to-end benchmark of the resumable extraction job (``run_job``).

    python3 perfbench/run.py --workload html_web --seed 1 --seconds 21 \\
        --trace 0

Run from the repository root.  One run:

1. builds (or reuses) the seeded pages of the workload as parquet under
   ``.perfbench/cache`` (see corpus.py);
2. starts a fresh Spark JVM at ``local[2]`` through ``job.session.get_spark``
   and runs a job that imports extractlib in both Python workers --
   together the set-up time;
3. repeats, about ``--seconds`` long (a fixed number of repetitions per
   workload, see REP_SECONDS), on a fresh output directory: ``run_job``
   crashed after its first wave commits (``fail_after_wave=0``), then the
   resumed ``run_job``;
4. checks every repetition's output (check.py);
5. prints one ``name value unit`` line per metric, then the result JSON as
   the last line.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced repetitions, reports the per-layer metrics (job-layer
spans, process-tree CPU and memory, an in-process split of the parse
layers) and writes the spans to ``.perfbench/trace/``.
``--freeze-seeds A-B`` runs one repetition per seed in one session and
records the output digests of those seeds in digests.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".perfbench")
DIGESTS = os.path.join(BENCH_DIR, "digests.json")

SLOTS = 2
# run_job arguments per workload (both use the naive template)
WORKLOADS = {
    "html_web": {"n_buckets": 8, "waves": 1},
    "checkpoint_resume": {"n_buckets": 64, "waves": 8},
}
# nominal seconds of one repetition on a 4-CPU host: --seconds buys
# round(seconds / REP_SECONDS) repetitions.  The count must not depend on
# the measured speed: the JVM keeps compiling for the first minutes, so
# each repetition runs faster than the one before, and a run that did more
# repetitions would report a warmer median.
REP_SECONDS = {"html_web": 7.0, "checkpoint_resume": 30.0}
# in-process layer split: documents per type; html_web, which has no PDFs,
# takes its PDF sample from seeded multi-page papers
SPLIT_DOCS = 8


def _configure_env(run_tag: str) -> None:
    """Keep every file Spark and Python write inside the checkout, silence
    the console progress bar and point the workers at this tree."""
    local = os.path.join(STATE, "spark-local", run_tag)
    tmp = os.path.join(STATE, "tmp", run_tag)
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # every JVM, the spark-submit launcher's included
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def _warm(it):
    import ragflow_spark.extractlib.htmlparse  # noqa: F401
    import ragflow_spark.extractlib.pdfrules  # noqa: F401
    import ragflow_spark.extractlib.templates  # noqa: F401
    import ragflow_spark.job.extract  # noqa: F401
    yield from it


def setup() -> tuple[object, float, float]:
    """Fresh session + warm-up job; returns (spark, get_spark_s,
    warmup_s).  The JVM's scan and write paths are left cold: the first
    timed run_job pays for compiling them, as a user's first job does."""
    from ragflow_spark.job.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    # barrier: both tasks run at once, so both Python workers import
    spark.range(0, SLOTS, numPartitions=SLOTS).mapInPandas(
        _warm, "id long", barrier=True).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_spark(spark, own_pid: int) -> None:
    """Stop the session and its JVM and wait until the whole process tree
    under this process has ended."""
    from pyspark import SparkContext
    from perfbench.probe import descendants, wait_gone
    tree = descendants(own_pid)
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the JVM exits on stdin EOF
            proc.wait(timeout=60)
    left = wait_gone(tree, 20)
    for pid in left:
        try:
            os.kill(pid, 15)
        except ProcessLookupError:
            pass
    left = wait_gone(left, 10)
    if left:
        raise RuntimeError(f"processes {left} outlived the run")


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def _job(spark, cfg, inp, out, tracer, **kwargs):
    from ragflow_spark.job.run_extract import run_job
    args = dict(template="naive", n_buckets=cfg["n_buckets"],
                waves=cfg["waves"], **kwargs)
    t0 = time.perf_counter()
    if tracer is None:
        summary = run_job(spark, inp, out, **args)
    else:
        with tracer.tracing(), tracer.job_span():
            summary = run_job(spark, inp, out, **args)
    return summary, time.perf_counter() - t0


def one_rep(spark, cfg: dict, inp: str, out: str, tracers=None) -> dict:
    """One repetition on a fresh output dir: run_job crashed after its
    first wave commits, then the resumed run_job.  Returns both walls and
    the written files and bytes."""
    from perfbench.check import CheckError
    tracers = tracers or (None, None)
    t0 = time.perf_counter()
    try:
        _job(spark, cfg, inp, out, tracers[0], fail_after_wave=0)
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise CheckError("the injected crash did not happen")
    crash_s = time.perf_counter() - t0
    summary, resume_s = _job(spark, cfg, inp, out, tracers[1])
    n_buckets = cfg["n_buckets"]
    done = n_buckets // cfg["waves"]
    if summary["buckets_done_prior"] != done or \
            summary["buckets_run"] != n_buckets - done:
        raise CheckError("resume did not skip exactly the committed "
                         f"buckets: {summary}")
    usage = [_dir_usage(os.path.join(out, d))
             for d in ("extracted", "chunks", "_checkpoint")]
    return {"job_s": crash_s + resume_s, "resume_s": resume_s,
            "files": sum(u[0] for u in usage),
            "bytes": sum(u[1] for u in usage)}


def _frozen(workload: str, seed: int) -> dict | None:
    from perfbench.corpus import CORPUS_VERSION
    with open(DIGESTS) as f:
        data = json.load(f)
    if data.get("corpus_version") != CORPUS_VERSION:
        return None
    return data["digests"].get(workload, {}).get(str(seed))


def verify(out: str, pages: dict, label: str, frozen: dict | None,
           first: dict | None) -> dict:
    from perfbench import check
    extracted, chunks = check.read_outputs(out)
    check.check_rows(extracted, pages)
    got = check.digests(extracted, chunks)
    check.check_frozen(got, frozen, label)
    if first is None:
        check.check_sample(extracted, chunks, pages)
    elif got != first:
        raise check.CheckError(f"{label}: digests changed between "
                               f"repetitions: {first} -> {got}")
    return got


def _median(xs):
    return statistics.median(xs)


def layer_split(seed: int, pages: dict) -> dict:
    from perfbench import corpus, trace
    html = [pages[u] for u in sorted(pages)
            if not pages[u].startswith(b"%PDF-")]
    pdf = [pages[u] for u in sorted(pages) if pages[u].startswith(b"%PDF-")]
    # the job's chunker for PDFs; html_web's papers go through "paper"
    pdf_template = "naive"
    if not pdf:
        pdf = [b for _, b in sorted(corpus.pdf_papers(seed))]
        pdf_template = "paper"

    def sample(blobs):
        return blobs[::max(1, len(blobs) // SPLIT_DOCS)][:SPLIT_DOCS]

    out, html_ms = trace.html_split(sample(html))
    vals, pdf_ms = trace.pdf_split(sample(pdf), pdf_template)
    out.update(vals)
    out["extractlib.doc_ms.p99"] = trace.p99(html_ms + pdf_ms)
    return out


def per_layer(traced: list[dict], untraced: list[dict], setup_times,
              split: dict) -> dict[str, tuple[float, str]]:
    def med(key):
        return _median([r[key] for r in traced])

    untraced = untraced[1:]     # drop the cold first repetition

    m = {
        "job.run_extract.run_job_s": (med("traced_job_s"), "s"),
        "job.resume_s": (_median([r["resume_s"] for r in untraced]), "s"),
        "job.run_extract.write_extracted_s": (med("write_extracted"), "s"),
        "job.run_extract.write_chunks_s": (med("write_chunks"), "s"),
        "job.run_extract.readback_s": (med("readback"), "s"),
        "job.checkpoint.append_lineage_s": (med("append_lineage"), "s"),
        "job.checkpoint.load_done_buckets_s": (med("load_done"), "s"),
        "job.run_extract.wave_s.p50": (med("wave_p50"), "s"),
        "job.run_extract.wave_s.max": (med("wave_max"), "s"),
        "job.run_extract.uncovered_s": (med("uncovered"), "s"),
        "job.parse_share": (med("parse_share"), "ratio"),
        "job.commit_share": (med("commit_share"), "ratio"),
        "job.files_written": (med("files"), "count"),
        "job.waves": (med("waves"), "count"),
        "job.session.get_spark_s": (setup_times[0], "s"),
        "job.warmup_s": (setup_times[1], "s"),
        "spark.python_worker_cpu_s": (med("py_cpu"), "s"),
        "spark.jvm_cpu_s": (med("jvm_cpu"), "s"),
        "spark.cpu_util": (med("cpu_util"), "ratio"),
        "trace.untraced_docs_per_s": (
            _median([r["docs_per_s"] for r in untraced]), "1/s"),
        "trace.traced_docs_per_s": (med("docs_per_s"), "1/s"),
    }
    for k, v in split.items():
        m[k] = (v, "count" if k.endswith("parses_per_doc") else "ms")
    return m


def _trace_summary(tracers) -> dict:
    """Span totals of one traced repetition (its timed run_job calls)."""
    job_s = sum(t.job.end - t.job.start for t in tracers)
    waves = [w for t in tracers for w in t.wave_times()]
    r = {
        "traced_job_s": job_s,
        "write_extracted": sum(t.total("job.run_extract.write_extracted")
                               for t in tracers),
        "write_chunks": sum(t.total("job.run_extract.write_chunks")
                            for t in tracers),
        "readback": sum(t.total("job.run_extract.readback")
                        for t in tracers),
        "append_lineage": sum(t.total("job.checkpoint.append_lineage")
                              for t in tracers),
        "load_done": sum(t.total("job.checkpoint.load_done_buckets")
                         for t in tracers),
        "wave_p50": _median(waves), "wave_max": max(waves),
        "waves": len(waves),
        "uncovered": sum(t.uncovered() for t in tracers),
    }
    r["parse_share"] = (r["write_extracted"] + r["write_chunks"]) / job_s
    r["commit_share"] = (r["readback"] + r["append_lineage"]
                         + r["load_done"]) / job_s
    return r


def run(args) -> int:
    from perfbench import corpus, probe, trace
    from perfbench.check import CheckError

    cfg = WORKLOADS[args.workload]
    pid = os.getpid()
    tag = f"{args.workload}-{args.seed}-{pid}"
    inp = corpus.pages_dir(os.path.join(STATE, "cache"), args.workload,
                           args.seed)
    pages = corpus.read_pages(inp)
    n_docs = len(pages)
    input_bytes = sum(len(b) for b in pages.values())
    frozen = _frozen(args.workload, args.seed)
    work = os.path.join(STATE, "work", tag)
    label = f"{args.workload} seed {args.seed}"

    host = probe.host_info()
    steal0, total0 = probe.cpu_jiffies()
    spark, get_spark_s, warmup_s = setup()
    reps: list[dict] = []
    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    try:
        first = None
        with probe.TreeSampler(pid) as sampler:
            t_start = time.perf_counter()
            # traced runs: untraced, traced, untraced, ...; the first,
            # cold repetition is left out of the traced/untraced comparison
            n_reps = max(1 + 2 * args.trace,
                         round(args.seconds / REP_SECONDS[args.workload]))
            for i in range(n_reps):
                traced = args.trace == 1 and i % 2 == 1
                tracers = (trace.JobTracer(), trace.JobTracer()) \
                    if traced else None
                out = os.path.join(work, f"rep{len(reps)}")
                cpu0, t0 = probe.tree_cpu(pid), time.perf_counter()
                rep = one_rep(spark, cfg, inp, out, tracers)
                cpu1, t1 = probe.tree_cpu(pid), time.perf_counter()
                result["attempted"] += n_docs
                first = verify(out, pages, label, frozen, first)
                rep.update(
                    traced=traced, docs_per_s=n_docs / rep["job_s"],
                    py_cpu=cpu1["python"] - cpu0["python"],
                    jvm_cpu=cpu1["jvm"] - cpu0["jvm"])
                rep["cpu_util"] = (rep["py_cpu"] + rep["jvm_cpu"]) / (
                    (t1 - t0) * SLOTS)
                if traced:
                    tracers = [t for t in tracers if t.job is not None]
                    rep.update(_trace_summary(tracers))
                    rep["spans"] = [s.as_dict(t_start, rep=len(reps))
                                    for t in tracers for s in t.spans]
                reps.append(rep)
                shutil.rmtree(out)
            elapsed = time.perf_counter() - t_start
        steal1, total1 = probe.cpu_jiffies()
        host["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        host["reps"] = len(reps)
        host["window_s"] = elapsed
        host.update({f"peak_rss_mb.{r}": v / 2**20
                     for r, v in sampler.peak.items()})

        plain = [r for r in reps if not r["traced"]]
        if args.trace == 0:
            metrics = {
                "docs_per_s": (_median([r["docs_per_s"] for r in plain]),
                               "1/s"),
                "setup_s": (get_spark_s + warmup_s, "s"),
                "python_worker_peak_rss_mb": (
                    sampler.peak["python"] / 2**20, "MB"),
                "written_bytes_per_input_byte": (
                    _median([r["bytes"] for r in plain]) / input_bytes,
                    "ratio"),
                "extracted_doc_frac": (1.0, "ratio"),
            }
        else:
            split = layer_split(args.seed, pages)
            traced_reps = [r for r in reps if r["traced"]]
            metrics = per_layer(traced_reps, plain,
                                (get_spark_s, warmup_s), split)
            metrics["tree.peak_rss_mb"] = (sampler.peak_tree / 2**20, "MB")
            metrics["spark.jvm_peak_rss_mb"] = (
                sampler.peak["jvm"] / 2**20, "MB")
            _write_spans(tag, args, traced_reps)
        result["correct"] = True
        result["metrics"] = {k: {"value": v, "unit": u}
                             for k, (v, u) in metrics.items()}
    except CheckError as e:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
        result["failed"] = n_docs
    finally:
        stop_spark(spark, pid)
        shutil.rmtree(work, ignore_errors=True)

    _record(tag, args, host, reps, result)
    for k, v in sorted(host.items()):
        print(f"host.{k} {v}")
    print(f"input.docs {n_docs} count")
    print(f"input.bytes {input_bytes} B")
    for k, m in result["metrics"].items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _write_spans(tag, args, traced_reps) -> None:
    path = os.path.join(STATE, "trace", f"{tag}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in traced_reps:
            for s in r["spans"]:
                f.write(json.dumps({"workload": args.workload,
                                    "seed": args.seed, **s}) + "\n")


def _record(tag, args, host, reps, result) -> None:
    path = os.path.join(STATE, "runs", f"{tag}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "host": host,
                   "reps": [{k: v for k, v in r.items() if k != "spans"}
                            for r in reps],
                   "result": result}, f, indent=1)


def freeze(args) -> int:
    """Record the output digests of a seed range in digests.json."""
    from perfbench import check, corpus
    lo, hi = (int(x) for x in args.freeze_seeds.split("-"))
    cfg = WORKLOADS[args.workload]
    with open(DIGESTS) as f:
        data = json.load(f)
    if data.get("corpus_version") != corpus.CORPUS_VERSION:
        data = {"corpus_version": corpus.CORPUS_VERSION, "digests": {}}
    table = data["digests"].setdefault(args.workload, {})
    spark, _, _ = setup()
    try:
        for seed in range(lo, hi + 1):
            inp = corpus.pages_dir(os.path.join(STATE, "cache"),
                                   args.workload, seed)
            pages = corpus.read_pages(inp)
            out = os.path.join(STATE, "work", f"freeze-{args.workload}-{seed}")
            shutil.rmtree(out, ignore_errors=True)
            one_rep(spark, cfg, inp, out)
            table[str(seed)] = verify(out, pages,
                                      f"{args.workload} seed {seed}",
                                      None, None)
            shutil.rmtree(out)
            print(args.workload, seed, table[str(seed)], flush=True)
    except check.CheckError as e:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
        return 1
    finally:
        stop_spark(spark, os.getpid())
        with open(DIGESTS, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=21)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digests", default=None,
                    help="frozen digests file (default perfbench/"
                         "digests.json)")
    ap.add_argument("--freeze-seeds", default=None, metavar="A-B")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ragflow_spark", "job",
                                       "run_extract.py")):
        print(f"error: {ROOT} holds no ragflow_spark package to benchmark",
              file=sys.stderr)
        return 2
    global DIGESTS
    if args.digests:
        DIGESTS = os.path.abspath(args.digests)
    _configure_env(f"{args.workload}-{args.seed}-{os.getpid()}")
    sys.path.insert(0, ROOT)
    try:
        return freeze(args) if args.freeze_seeds else run(args)
    finally:
        for d in ("spark-local", "tmp"):
            shutil.rmtree(os.path.join(STATE, d, f"{args.workload}-"
                                       f"{args.seed}-{os.getpid()}"),
                          ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
