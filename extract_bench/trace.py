"""Spans, counters and memory sampling for the traced run.

Spans are recorded only from this benchmark's code, around the calls
into each layer; the engine itself is not modified:

- in the Python workers, the traced run swaps in wrappers for the module
  attributes that ``operators/extract.py`` calls through
  (``_process_batch``, ``payload.parse_payload``,
  ``span_merge.merge_doc_spans``, ``analyzer.analyze_batch``,
  ``html_extract.extract_html``) and around
  ``sources.warc.parse_content_batches``. Wrappers are installed at the
  start of a task and removed at its end, so untraced jobs in the same
  reused worker run the plain engine;
- in the driver, around ``io.filter_pending`` and ``io.write_result`` as
  the streaming commit calls them.

A span is (name, start, end, parent, run id). Starts and ends are
``time.perf_counter()`` readings, which on Linux share one monotonic
clock across processes. Worker spans travel to the driver through a
Spark accumulator when their task ends; everything is kept in memory and
written to one file when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import Counter

from pyspark.accumulators import AccumulatorParam

BATCH = "operators.extract.batch"
PARSE_SPANS = {
    "spandoc": "sources.payload.parse_spandoc",
    "pdf": "sources.pdfparse.parse_pdf",
}
MERGE = "operators.span_merge.merge"
ANALYZE = "operators.analyzer.analyze"
HTML = "operators.html_extract.extract"
WARC = "sources.warc.parse"
EXTRACT_CHILDREN = (*PARSE_SPANS.values(), MERGE, ANALYZE, HTML)


class ListParam(AccumulatorParam):
    """Accumulator of (spans, counts) pairs, one per finished task."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class Recorder:
    """Spans and counts of one task (or of the driver)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple] = []
        self.counts: Counter = Counter()
        self.parent = -1

    def add(self, name: str, start: float, end: float) -> None:
        self.spans.append((name, start, end, self.parent, self.run_id))


def _wrap_extract(rec: Recorder) -> list[tuple]:
    """Wrappers for the layers ``_process_batch`` calls; returns what to
    restore."""
    from pdf_extractor_spark.operators import analyzer, extract, html_extract, span_merge
    from pdf_extractor_spark.sources import payload

    perf = time.perf_counter
    process_batch = extract._process_batch
    parse_payload = payload.parse_payload
    detect_kind = payload.detect_kind
    merge_doc_spans = span_merge.merge_doc_spans
    analyze_batch = analyzer.analyze_batch
    extract_html = html_extract.extract_html

    def traced_process_batch(pdf):
        start = perf()
        rec.parent = len(rec.spans)
        rec.spans.append(None)  # reserve the parent's slot
        try:
            return process_batch(pdf)
        finally:
            rec.spans[rec.parent] = (BATCH, start, perf(), -1, rec.run_id)
            rec.parent = -1

    def traced_parse_payload(raw):
        kind = detect_kind(raw)
        rec.counts["docs_" + kind] += 1
        name = PARSE_SPANS.get(kind)
        if name is None:
            return parse_payload(raw)
        start = perf()
        try:
            return parse_payload(raw)
        finally:
            rec.add(name, start, perf())

    def traced_merge(pages):
        start = perf()
        out = merge_doc_spans(pages)
        rec.add(MERGE, start, perf())
        rec.counts["blocks_out"] += len(out[0])
        return out

    def traced_analyze(blocks):
        rec.counts["blocks_in"] += len(blocks)
        it = analyze_batch(blocks)
        while True:
            start = perf()
            try:
                item = next(it)
            except StopIteration:
                rec.add(ANALYZE, start, perf())
                return
            rec.add(ANALYZE, start, perf())
            yield item

    def traced_html(raw):
        start = perf()
        out = extract_html(raw)
        rec.add(HTML, start, perf())
        rec.counts["html_docs"] += 1
        return out

    swaps = [
        (extract, "_process_batch", process_batch, traced_process_batch),
        (payload, "parse_payload", parse_payload, traced_parse_payload),
        (span_merge, "merge_doc_spans", merge_doc_spans, traced_merge),
        (analyzer, "analyze_batch", analyze_batch, traced_analyze),
        (html_extract, "extract_html", extract_html, traced_html),
    ]
    for mod, attr, _orig, new in swaps:
        setattr(mod, attr, new)
    return [(mod, attr, orig) for mod, attr, orig, _new in swaps]


def traced_run_batches(acc, run_id: str):
    """A drop-in for ``extract._run_batches`` that records the extraction
    layers of every task into ``acc``."""

    def run(batches):
        from pdf_extractor_spark.operators import extract

        rec = Recorder(run_id)
        restore = _wrap_extract(rec)
        try:
            yield from extract._run_batches(batches)
        finally:
            for mod, attr, orig in restore:
                setattr(mod, attr, orig)
            acc.add([(rec.spans, dict(rec.counts))])

    return run


def extraction_traced(acc, run_id: str):
    """While active, ``extract_pages`` plans run the traced extraction."""
    from pdf_extractor_spark.operators import extract

    return swapped(extract, "_run_batches", traced_run_batches(acc, run_id))


def traced_warc_batches(acc, run_id: str):
    """A drop-in for ``warc.parse_content_batches`` timing each batch of
    parsed records (the time to pull the archive bytes in included)."""

    def run(batches):
        from pdf_extractor_spark.sources import warc

        rec = Recorder(run_id)
        it = warc.parse_content_batches(batches)
        try:
            while True:
                start = time.perf_counter()
                try:
                    out = next(it)
                except StopIteration:
                    rec.add(WARC, start, time.perf_counter())
                    return
                rec.add(WARC, start, time.perf_counter())
                rec.counts["records"] += len(out)
                yield out
        finally:
            acc.add([(rec.spans, dict(rec.counts))])

    return run


def identity_batches(batches):
    """The Arrow round trip alone: batches out exactly as they came in."""
    yield from batches


@contextlib.contextmanager
def swapped(mod, attr: str, new):
    orig = getattr(mod, attr)
    setattr(mod, attr, new)
    try:
        yield
    finally:
        setattr(mod, attr, orig)


def merge_tasks(items: list) -> tuple[list[tuple], Counter]:
    spans: list[tuple] = []
    counts: Counter = Counter()
    for task_spans, task_counts in items:
        spans.extend(s for s in task_spans if s is not None)
        counts.update(task_counts)
    return spans, counts


def busy(spans: list[tuple], name: str) -> float:
    """Summed duration of every span called ``name`` (task-seconds)."""
    return sum(e - s for n, s, e, _p, _r in spans if n == name)


def union(spans: list[tuple], name: str) -> float:
    """Wall-clock seconds during which at least one ``name`` span ran."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for n, s, e, _p, _r in spans if n == name):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def extraction_layers(spans: list[tuple]) -> dict[str, float]:
    """Self time of each extraction layer, in wall seconds.

    Worker spans run on up to k cores at once, so their summed durations
    are task-seconds. Each layer gets the share of the wall time during
    which a batch was running that its task-seconds have of all batch
    task-seconds; ``operators.extract.self_s`` is the batch time its
    child spans do not cover (block frame, JSON render, glue)."""
    total = busy(spans, BATCH)
    scale = union(spans, BATCH) / total if total else 0.0
    child = {name: busy(spans, name) for name in EXTRACT_CHILDREN}
    out = {f"{name}_s": t * scale for name, t in child.items()}
    out["operators.extract.self_s"] = (total - sum(child.values())) * scale
    return out


def write_spans(path: str, spans: list[tuple]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for name, start, end, parent, run_id in spans:
            fh.write(
                json.dumps({"name": name, "start": start, "end": end, "parent": parent, "run": run_id})
                + "\n"
            )


# ------------------------------------------------------------ memory
def _proc_table() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) for every visible process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read().decode("utf-8", "replace")
        except OSError:
            continue
        # "pid (comm) state ppid ..."; comm may itself contain spaces
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        table[int(entry)] = (ppid, comm)
    return table


def descendants(root: int) -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) of every process below ``root``."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in table.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[int, str]] = {}
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid]
        todo.extend(children.get(pid, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (``VmHWM``) of this process and everything it
    started. ``VmHWM`` is each process's own peak; sampling keeps the
    last reading of processes that exit before the end."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb: dict[int, tuple[int, str]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        for pid, (ppid, comm) in [(me, (0, "driver")), *descendants(me).items()]:
            # the JVM is this process's child; the JVM's own short-lived
            # forks (helpers before they exec) report the JVM's peak, so
            # only the JVM and the Python processes count
            if not (pid == me or comm.startswith("python") or (comm == "java" and ppid == me)):
                continue
            kb = _vm_hwm_kb(pid)
            if kb > self.peak_kb.get(pid, (0, ""))[0]:
                self.peak_kb[pid] = (kb, comm)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        """End sampling (idempotent); peaks stay readable."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()

    def __exit__(self, *exc):
        self.stop()

    def describe(self) -> str:
        return ", ".join(f"{comm}:{pid}={kb // 1024}MB" for pid, (kb, comm) in sorted(self.peak_kb.items()))

    def peaks_mb(self) -> dict[str, float]:
        jvm = sum(kb for kb, comm in self.peak_kb.values() if comm == "java")
        workers = sum(kb for kb, comm in self.peak_kb.values() if comm.startswith("python"))
        total = sum(kb for kb, _comm in self.peak_kb.values())
        return {"total": total / 1024, "jvm": jvm / 1024, "workers": workers / 1024}
