#!/usr/bin/env python3
"""Extraction benchmark: one seeded workload, end-to-end metrics, ledger.

    python3 extract_bench/run.py --workload batch-mixed --seed 1 --seconds 15 --trace 0

Run from the repository root. The benchmark drives the engine only from
outside, through its public entry points (``corpus`` builders,
``extract_pages``, ``io.write_result`` / ``io.filter_pending``,
``stream_warc_pages`` / ``stream_extract``). It builds its inputs from
``--seed``, measures for ``--seconds``, checks every committed row
against the oracle (extract_bench/check.py) outside the timed section,
and prints exactly one JSON line on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a
separate traced run and reports the per-layer ledger (defined in
extract_bench/metrics.json). Everything else, including the input's
properties and the ledger table, goes to stderr.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".extract_bench_work"
WORKLOADS = ("batch-mixed", "batch-html", "stream-append")
N_BUCKETS = 8
SETUP_REPEATS = 3
WARM_JOBS = 2  # JIT warm-up still pays off on the second job
INPUT_FILES_PER_BUCKET = 2
DRIVER_MEM = "2g"
DEADLINE_S = 170  # the run must end well inside 180 s


_T0 = time.perf_counter()


@functools.cache
def layer_defs() -> dict:
    """Per-layer metric definitions: unit, ledger row, layer map."""
    with open(ROOT / "extract_bench" / "metrics.json", encoding="utf-8") as fh:
        return json.load(fh)["per_layer"]


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pin_environment(work: Path) -> int:
    """Pin threads, temp dirs and the Python path before numpy, pandas or
    the JVM start; return k for local[k]."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    paths = [str(ROOT), str(ROOT / "tests")]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit starts first would otherwise keep
    # its performance-counter file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    ).strip()
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    return min(4, len(os.sched_getaffinity(0)))


def spark_conf(work: Path) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed, pre-touched heap (as an executor's is) keeps the JVM's
        # resident size from swinging with garbage-collector timing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }


def quartiles(xs: list[float]) -> tuple[float, float]:
    """(median, 75th percentile); one sample is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[1], q[2]


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


class Bench:
    """One benchmark run: session, inputs, timed section, check."""

    def __init__(self, args, work: Path, k: int):
        self.args = args
        self.work = work
        self.k = k
        self.session_s = 0.0
        self.spark = None

    # ------------------------------------------------------------ session
    def start_session(self, k: int) -> None:
        """A SparkContext at local[k]; a second call replaces the first in
        the same JVM."""
        from pdf_extractor_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            "extract_bench", master=f"local[{k}]", shuffle_partitions=self.k, extra_conf=spark_conf(self.work)
        )
        self.session_s = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark, the JVM and every process below this one, and wait
        for each of them to end."""
        from extract_bench.trace import descendants

        before = descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                SparkContext._gateway = None
                SparkContext._jvm = None
                gateway.shutdown()
                proc = gateway.proc
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
        deadline = time.monotonic() + 20
        alive = set(before)
        while alive and time.monotonic() < deadline:
            alive = {p for p in alive if _running(p)}
            time.sleep(0.1)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 5
            while alive and time.monotonic() < end:
                alive = {p for p in alive if _running(p)}
                time.sleep(0.1)
        if alive:
            raise RuntimeError(f"processes still running after shutdown: {sorted(alive)}")

    # --------------------------------------------------------------- jobs
    def batch_job(self, inp: str, out: str) -> tuple[float, dict]:
        """The flagship one-shot job: scan → extract_pages → write_result."""
        from pdf_extractor_spark import io as pio
        from pdf_extractor_spark.operators.extract import extract_pages

        t0 = time.perf_counter()
        res = pio.write_result(
            extract_pages(self.spark.read.parquet(inp)), out, n_buckets=N_BUCKETS, input_bucketed=True
        )
        return time.perf_counter() - t0, res

    def noop_job(self, df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def seed_snapshot(self, rows: list[dict], out: str) -> None:
        import pandas as pd

        from pdf_extractor_spark import io as pio
        from pdf_extractor_spark.operators.extract import extract_pages
        from pdf_extractor_spark.schemas import PAGES_SCHEMA

        pages = self.spark.createDataFrame(
            pd.DataFrame(rows, columns=PAGES_SCHEMA.fieldNames()), schema=PAGES_SCHEMA
        )
        pio.write_result(extract_pages(pages), out, n_buckets=N_BUCKETS)

    def stream(self, archives: list[str], root: Path, seconds: float) -> tuple[float, list, int]:
        """Closed-loop stream: deliver one archive at a time into a landing
        directory and wait until the query has committed it, until
        ``seconds`` have passed (at least two archives) or none are left.
        Returns the wall time to the last commit, the progress of every
        micro-batch that carried data, and how many archives went in."""
        from pdf_extractor_spark.streaming.pipeline import stream_extract, stream_warc_pages

        landing = root / "landing"
        landing.mkdir(parents=True)
        t0 = time.perf_counter()
        query = stream_extract(
            stream_warc_pages(self.spark, str(landing), max_files=1),
            str(root / "out"),
            str(root / "checkpoint"),
            n_buckets=N_BUCKETS,
            available_now=False,
        )
        fed = 0
        try:
            for path in archives:
                if fed >= 2 and time.perf_counter() - t0 >= seconds:
                    break
                os.rename(path, landing / os.path.basename(path))
                fed += 1
                query.processAllAvailable()
            elapsed = time.perf_counter() - t0
            progress = [p for p in query.recentProgress if p.numInputRows > 0]
        finally:
            query.stop()
        return elapsed, progress, fed

    # -------------------------------------------------------------- check
    def check(self, rows: list[dict], out: str) -> tuple[int, int, list[tuple]]:
        """Compare the committed table in ``out`` (every row, failures
        too) and its manifest with the oracle for ``rows``; returns rows
        expected, wrong rows and the committed (url, parse_ok,
        outline_json) rows."""
        from extract_bench.check import compare, expected_outputs
        from pdf_extractor_spark import io as pio

        df = pio.read_result(self.spark, out, include_failed=True)
        committed = [tuple(r) for r in df.select("url", "parse_ok", "outline_json").collect()]
        with open(os.path.join(out, "_lineage", "manifest.json"), encoding="utf-8") as fh:
            manifest = json.load(fh)
        expected = expected_outputs(rows, self.k)
        wrong, problems = compare(expected, committed, manifest)
        for p in problems:
            log(f"check: {p}")
        log(f"check: {len(committed)} rows committed, {len(expected)} expected, wrong_rows={wrong}")
        return len(expected), wrong, committed


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            state = fh.read().rsplit(b")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in (b"Z", b"X")


# ------------------------------------------------------------ workloads
def run_batch(bench: Bench, sampler, html_only: bool) -> tuple[dict, int, int]:
    from extract_bench import trace, workloads

    args, work = bench.args, bench.work
    size = workloads.SIZES[args.size]
    t0 = time.perf_counter()
    frac = workloads.HTML_ONLY if html_only else workloads.DEFAULT_HTML_FRACTION
    inputs = workloads.batch_inputs(args.seed, size["batch_docs"], frac)
    gen_s = time.perf_counter() - t0
    log(f"input: {json.dumps(inputs.properties())}")
    mats = []
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        workloads.materialize_bucketed(
            bench.spark, inputs.rows, str(work / f"in{r}"), N_BUCKETS, INPUT_FILES_PER_BUCKET
        )
        mats.append(time.perf_counter() - t0)
    inp = str(work / "in0")
    warm_s = sum(bench.batch_job(inp, str(work / "warm"))[0] for _ in range(WARM_JOBS))
    setup_s = bench.session_s + gen_s + statistics.median(mats) + warm_s
    log(f"setup: session {bench.session_s:.2f}s gen {gen_s:.2f}s materialize {mats} warm {warm_s:.2f}s")
    n = len(inputs.rows)
    out = str(work / "out")

    if not args.trace:
        jobs, last = [], None
        end = time.perf_counter() + args.seconds
        while len(jobs) < 2 or time.perf_counter() < end:
            dt, last = bench.batch_job(inp, out)
            jobs.append(dt)
        sampler.stop()
        log(f"rss: {sampler.describe()}")
        p50, p75 = quartiles(jobs)
        log(f"jobs: {len(jobs)} samples {[round(j, 3) for j in jobs]}")
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "docs_per_s": metric(n / p50, "docs/s"),
            "commit_p50_s": metric(p50, "s"),
            "commit_p75_s": metric(p75, "s"),
            "failed_share": metric(last["parse_failures"] / last["rows_in"], "share"),
            "peak_rss_mb": metric(sampler.peaks_mb()["total"], "MB"),
        }
        attempted, wrong, _ = bench.check(inputs.rows, out)
        return metrics, attempted, wrong

    # ---- traced run: interleaved untraced / traced jobs, then differentials
    sc = bench.spark.sparkContext
    untraced, traced, lineage, tasks = [], [], [], []
    end = time.perf_counter() + args.seconds
    while len(traced) < 2 or time.perf_counter() < end:
        # alternate which side runs first so drift does not favour one
        for side in ("untraced", "traced")[:: 1 if len(traced) % 2 == 0 else -1]:
            if side == "untraced":
                untraced.append(bench.batch_job(inp, out)[0])
                continue
            acc = sc.accumulator([], trace.ListParam())
            with trace.extraction_traced(acc, f"job{len(traced)}"):
                dt, res = bench.batch_job(inp, out)
            traced.append(dt)
            lineage.append(res["lineage_sec"])
            tasks.extend(acc.value)
    spans, counts = trace.merge_tasks(tasks)
    reps = len(traced)
    pages = lambda: bench.spark.read.parquet(inp).select("url", "html")  # noqa: E731
    scan = [bench.noop_job(bench.spark.read.parquet(inp)) for _ in range(3)]
    arrow = [bench.noop_job(pages().mapInPandas(trace.identity_batches, "url string, html binary")) for _ in range(3)]
    from pdf_extractor_spark.operators.extract import extract_pages

    stage = []
    for i in range(3):
        acc = sc.accumulator([], trace.ListParam())
        with trace.extraction_traced(acc, f"noop{i}"):
            stage.append(bench.noop_job(extract_pages(pages())))
    s, a, e = statistics.median(scan), statistics.median(arrow), statistics.median(stage)
    wall = statistics.median(traced)
    layers = {name: t / reps for name, t in trace.extraction_layers(spans).items()}
    lineage_s = statistics.median(lineage)
    ledger = {
        "spark.scan_s": s,
        "spark.arrow_roundtrip_s": a - s,
        **layers,
        "io.write_s": wall - lineage_s - e,
        "io.lineage_s": lineage_s,
    }
    files, nbytes = _table_files(out)
    payload_bytes = sum(len(r["html"]) for r in inputs.rows)
    sampler.stop()
    peaks = sampler.peaks_mb()

    # per-core baseline for the scaling ratio, in a local[1] context
    t_k = statistics.median(untraced)
    bench.start_session(1)
    bench.batch_job(inp, str(work / "warm1"))
    t_1, _ = bench.batch_job(inp, str(work / "out1"))
    scaling = (n / t_k) / (bench.k * n / t_1)

    per_layer = dict.fromkeys(layer_defs(), 0.0)
    per_layer.update(ledger)
    per_layer.update(_counts(counts, reps))
    per_layer.update(
        {
            "operators.extract.stage_s": e - a,
            "io.files_written": files,
            "io.bytes_written_per_payload_byte": nbytes / payload_bytes,
            "spark.python_worker_peak_rss_mb": peaks["workers"],
            "spark.jvm_peak_rss_mb": peaks["jvm"],
            "spark.scaling_eff_1_k": scaling,
            "trace_overhead_share": wall / statistics.median(untraced) - 1,
            "ledger.wall_s": wall,
        }
    )
    log(f"jobs: untraced {[round(x, 3) for x in untraced]} traced {[round(x, 3) for x in traced]}")
    log(f"differentials: scan {scan} arrow {arrow} extract {stage}; local[1] job {t_1:.3f}s")
    trace.write_spans(str(WORK_ROOT / f"trace-{args.workload}-{args.seed}.jsonl"), spans)
    attempted, wrong, _ = bench.check(inputs.rows, out)
    return _finish_ledger(per_layer), attempted, wrong


def run_stream(bench: Bench, sampler) -> tuple[dict, int, int]:
    from extract_bench import trace, workloads

    args, work = bench.args, bench.work
    size = workloads.SIZES[args.size]
    per_file = size["warc_new_docs"]
    t0 = time.perf_counter()
    inputs = workloads.stream_inputs(args.seed, size["seed_docs"], size["warc_files"], per_file)
    warm = workloads.stream_inputs(
        args.seed, 0, size["warm_files"], size["warm_new_docs"], first_id=10_000_000
    )
    gen_s = time.perf_counter() - t0
    mats, copies = [], []
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        root = work / f"stream{r}"
        archives = workloads.write_archives(inputs.warc_files, str(root / "archives"))
        bench.seed_snapshot(inputs.seed_rows, str(root / "out"))
        mats.append(time.perf_counter() - t0)
        copies.append((root, archives))
    t0 = time.perf_counter()
    warm_archives = workloads.write_archives(warm.warc_files, str(work / "warm-archives"))
    bench.stream(warm_archives, work / "warm", float("inf"))
    warm_s = time.perf_counter() - t0
    setup_s = bench.session_s + gen_s + statistics.median(mats) + warm_s
    log(f"setup: session {bench.session_s:.2f}s gen {gen_s:.2f}s materialize {mats} warm {warm_s:.2f}s")

    def measured(root: Path, archives: list[str]):
        wall, progress, fed = bench.stream(archives, root, args.seconds)
        fed_inputs = workloads.stream_prefix(inputs, fed, per_file)
        log(f"input: {json.dumps(fed_inputs.properties())}")
        commits = [p.durationMs["triggerExecution"] / 1000 for p in progress]
        log(f"stream: {wall:.3f}s, {len(commits)} micro-batches, trigger latencies {commits}")
        return wall, progress, fed_inputs

    if not args.trace:
        wall, progress, fed_inputs = measured(*copies[0])
        sampler.stop()
        log(f"rss: {sampler.describe()}")
        out = str(copies[0][0] / "out")
        attempted, wrong, committed = bench.check(fed_inputs.seed_rows + fed_inputs.rows, out)
        new_urls = {r["url"] for r in fed_inputs.rows}
        stream_rows = [c for c in committed if c[0] in new_urls]
        p50, p75 = quartiles([p.durationMs["triggerExecution"] / 1000 for p in progress])
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "docs_per_s": metric(len(stream_rows) / wall, "docs/s"),
            "commit_p50_s": metric(p50, "s"),
            "commit_p75_s": metric(p75, "s"),
            "failed_share": metric(sum(not ok for _u, ok, _j in stream_rows) / len(stream_rows), "share"),
            "peak_rss_mb": metric(sampler.peaks_mb()["total"], "MB"),
        }
        return metrics, attempted, wrong

    # ---- traced run: an untraced stream, then a traced one on a second copy
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdf_extractor_spark import io as pio
    from pdf_extractor_spark.sources import warc

    untraced_wall, _, untraced_inputs = measured(*copies[0])
    untraced_rate = len(untraced_inputs.rows) / untraced_wall
    acc = bench.spark.sparkContext.accumulator([], trace.ListParam())
    driver = trace.Recorder("stream")
    observations, results = [], []
    filter_pending, write_result = pio.filter_pending, pio.write_result

    def traced_filter_pending(pages, out_dir):
        t0 = time.perf_counter()
        df = filter_pending(pages, out_dir)
        driver.add("io.filter_pending", t0, time.perf_counter())
        obs = Observation()
        observations.append(obs)
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def traced_write_result(*a, **kw):
        t0 = time.perf_counter()
        res = write_result(*a, **kw)
        driver.add("io.write_result", t0, time.perf_counter())
        results.append(res)
        return res

    with trace.extraction_traced(acc, "stream"), trace.swapped(
        pio, "filter_pending", traced_filter_pending
    ), trace.swapped(pio, "write_result", traced_write_result), trace.swapped(
        warc, "parse_content_batches", trace.traced_warc_batches(acc, "stream")
    ):
        wall, progress, fed_inputs = measured(*copies[1])
    sampler.stop()
    peaks = sampler.peaks_mb()
    spans, counts = trace.merge_tasks(acc.value)
    spans += driver.spans
    layers = trace.extraction_layers(spans)
    warc_s = trace.union(spans, trace.WARC)
    dur = lambda key: sum(p.durationMs.get(key, 0) for p in progress) / 1000  # noqa: E731
    fp_s = trace.busy(spans, "io.filter_pending")
    wr_s = trace.busy(spans, "io.write_result")
    ledger = {
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.offsets_s": dur("latestOffset") + dur("getBatch") + dur("commitOffsets"),
        "streaming.add_batch_s": dur("addBatch") - fp_s - wr_s,
        "io.filter_pending_s": fp_s,
        "sources.warc.parse_s": warc_s,
        **layers,
        "io.write_s": sum(r["write_sec"] for r in results) - warc_s - sum(layers.values()),
        "io.lineage_s": sum(r["lineage_sec"] for r in results),
    }
    surviving = sum(int(o.get["rows"]) for o in observations)
    attempted, wrong = 0, 0
    for root, rows in ((copies[0][0], untraced_inputs), (copies[1][0], fed_inputs)):
        n, w, _ = bench.check(rows.seed_rows + rows.rows, str(root / "out"))
        attempted, wrong = attempted + n, wrong + w
    files, nbytes = _table_files(str(copies[1][0] / "out"))
    payload_bytes = sum(len(r["html"]) for r in fed_inputs.seed_rows + fed_inputs.rows)
    per_layer = dict.fromkeys(layer_defs(), 0.0)
    per_layer.update(ledger)
    per_layer.update(_counts(counts, 1))
    per_layer.update(
        {
            "io.files_written": files,
            "io.bytes_written_per_payload_byte": nbytes / payload_bytes,
            "io.pending_share": surviving / counts["records"],
            "sources.warc.records": counts["records"],
            "streaming.batches": len(progress),
            "streaming.dedup_dropped": surviving - len(fed_inputs.rows),
            "spark.python_worker_peak_rss_mb": peaks["workers"],
            "spark.jvm_peak_rss_mb": peaks["jvm"],
            # traced vs untraced docs/s of the two streams
            "trace_overhead_share": untraced_rate / (len(fed_inputs.rows) / wall) - 1,
            "ledger.wall_s": wall,
        }
    )
    trace.write_spans(str(WORK_ROOT / f"trace-{args.workload}-{args.seed}.jsonl"), spans)
    return _finish_ledger(per_layer), attempted, wrong


def _table_files(out: str) -> tuple[int, int]:
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(os.path.join(out, "result")):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, name))
    return files, nbytes


def _counts(counts, reps: int) -> dict[str, float]:
    """Per-job document and block counts from the worker counters."""
    return {
        "operators.analyzer.blocks_in": counts["blocks_in"] / reps,
        "operators.span_merge.blocks_out": counts["blocks_out"] / reps,
        "operators.html_extract.html_docs": counts["html_docs"] / reps,
        "sources.payload.docs_spandoc": counts["docs_spandoc"] / reps,
        "sources.payload.docs_pdf": counts["docs_pdf"] / reps,
        "sources.payload.docs_html": counts["docs_html"] / reps,
        "sources.payload.docs_other": (counts["docs_unknown"] + counts["docs_empty"]) / reps,
    }


def _finish_ledger(values: dict[str, float]) -> dict:
    """Close the ledger with unattributed_s, print it, and attach units."""
    defs = layer_defs()
    rows = [n for n, d in defs.items() if d.get("ledger") and n != "unattributed_s"]
    wall = values["ledger.wall_s"]
    values["unattributed_s"] = wall - sum(values[n] for n in rows)
    log(f"ledger (wall {wall:.4f}s):")
    for n in rows + ["unattributed_s"]:
        if values[n]:
            log(f"  {n:<36} {values[n]:9.4f}s {100 * values[n] / wall:6.1f}%")
    return {n: metric(values[n], defs[n]["unit"]) for n in defs}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: self-test inputs")
    args = ap.parse_args(argv)

    missing = [p for p in ("pdf_extractor_spark/operators/extract.py", "tests/refimpl.py") if not (ROOT / p).is_file()]
    if missing:
        log(f"error: the engine is not in this checkout (missing {', '.join(missing)})")
        return 2

    # stdout carries exactly one JSON line: point fd 1 (inherited by the
    # JVM and the Python workers) at stderr and keep a private copy
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    def on_deadline(signum, frame):
        raise TimeoutError(f"benchmark exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    work = WORK_ROOT / f"run-{os.getpid()}"
    k = pin_environment(work)
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    from extract_bench.trace import RssSampler

    bench = Bench(args, work, k)
    log(f"workload {args.workload} seed {args.seed} size {args.size} trace {args.trace}: local[{k}], {N_BUCKETS} buckets")
    try:
        with RssSampler() as sampler:
            bench.start_session(k)
            if args.workload == "stream-append":
                metrics, attempted, wrong = run_stream(bench, sampler)
            else:
                metrics, attempted, wrong = run_batch(bench, sampler, html_only=args.workload == "batch-html")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        log("stopping")
        try:
            bench.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    result = {"correct": wrong == 0, "attempted": attempted, "failed": wrong, "metrics": metrics}
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
