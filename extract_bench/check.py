"""Output correctness check, run outside the timed section.

The oracle for every spandoc and %PDF row is the plain-Python reference
implementation in ``tests/refimpl.py`` (``render_json(extract_document(
pages))``); the committed ``outline_json`` must match it byte for byte.
A %PDF payload is turned into pages by the engine's own pure-Python
parser, since the reference has no PDF parser of its own. HTML rows are
compared against the engine's ``html_extract.extract_html`` run in a
plain process: that part is a plumbing check that no row is lost,
duplicated or swapped between urls on its way through Spark.
"""

from __future__ import annotations

import gc
import json
import multiprocessing
import zlib
from multiprocessing import resource_tracker
from collections import Counter
from typing import Iterable, Optional

from extract_bench.workloads import SPANDOC_MAGIC, payload_kind


def oracle(payload: bytes) -> Optional[str]:
    """Expected ``outline_json`` of one document; None = failure row."""
    kind = payload_kind(payload)
    if kind == "corrupt":
        return None
    if kind == "html":
        from pdf_extractor_spark.operators import html_extract

        res = html_extract.extract_html(payload)
        return json.dumps(
            {"title": res["title"], "outline": res["outline"]}, indent=2, ensure_ascii=False
        )
    import refimpl

    if kind == "spandoc":
        pages = json.loads(zlib.decompress(payload[len(SPANDOC_MAGIC):]).decode("utf-8"))
    else:
        from pdf_extractor_spark.sources import pdfparse

        try:
            pages = pdfparse.extract_spans(payload)
        except Exception:  # a %PDF the parser rejects is a failure row
            return None
    doc = refimpl.extract_document(pages)
    return None if doc is None else refimpl.render_json(doc)


def expected_outputs(rows: Iterable[dict], processes: int) -> dict[str, Optional[str]]:
    """url → expected outline_json (None for an expected failure row),
    computed in ``processes`` spawned workers."""
    rows = list(rows)
    pool = multiprocessing.get_context("spawn").Pool(processes)
    try:
        outs = pool.map(oracle, [r["html"] for r in rows], chunksize=32)
    finally:
        pool.close()
        pool.join()
    # the pool's semaphores started multiprocessing's resource tracker
    # process: release them, then end the tracker now rather than when
    # this process exits
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    return {r["url"]: out for r, out in zip(rows, outs)}


def compare(
    expected: dict[str, Optional[str]],
    committed: list[tuple[str, bool, Optional[str]]],
    manifest: dict,
) -> tuple[int, list[str]]:
    """Count wrong rows of a committed table against the oracle.

    ``committed`` holds (url, parse_ok, outline_json) for every row of the
    table, failure rows included. A row is wrong when its url is not
    expected, is committed more than once, or its success/failure or
    JSON differs from the oracle; every expected url that is missing is
    wrong too. The lineage manifest must count exactly the expected rows
    and failures; each unit of difference is one more wrong row.
    Returns (wrong_rows, up to ten descriptions)."""
    wrong = 0
    problems: list[str] = []

    def bad(msg: str) -> None:
        nonlocal wrong
        wrong += 1
        if len(problems) < 10:
            problems.append(msg)

    seen: Counter = Counter()
    for url, ok, js in committed:
        seen[url] += 1
        if seen[url] > 1:
            bad(f"duplicate row for {url}")
            continue
        if url not in expected:
            bad(f"unexpected url {url}")
            continue
        want = expected[url]
        if want is None:
            if ok:
                bad(f"expected a failure row for {url}")
        elif not ok:
            bad(f"unexpected failure row for {url}")
        elif js != want:
            bad(f"outline_json differs for {url}")
    for url in expected:
        if url not in seen:
            bad(f"missing row for {url}")
    totals = manifest.get("totals", {})
    want_failures = sum(v is None for v in expected.values())
    for key, want in (("rows_in", len(expected)), ("parse_failures", want_failures)):
        got = int(totals.get(key, -1))
        if got != want:
            wrong += abs(got - want)
            if len(problems) < 10:
                problems.append(f"manifest {key}={got}, expected {want}")
    return wrong, problems
