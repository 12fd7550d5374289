"""Seeded input generator for the extraction benchmark.

Every input is built in this process from ``corpus`` builders and the
``--seed`` argument; the engine only ever sees the files written here.
The same (workload, seed, size) always yields byte-identical inputs.

Workloads (why each exists is recorded in BENCHMARK.json):

- ``batch-mixed``: the default Common-Crawl-style mix of
  ``corpus.build_pages_row`` (about 57% spandoc, 16% %PDF, 25% HTML and
  the planted 2.4% corrupt slice) as url-hash-bucketed parquet.
- ``batch-html``: the same job shape with HTML-only pages plus the same
  corrupt slice.
- ``stream-append``: gzip-member WARC archives landing one per
  micro-batch on top of an already committed seed snapshot, with planted
  re-shipped urls (already committed, committed by an earlier
  micro-batch, or duplicated inside one micro-batch).
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field

from pdf_extractor_spark import corpus

SPANDOC_MAGIC = b"SPANDOC1"
CORRUPT_MAGIC = b"GARBAGE"

# Per-size knobs. ``full`` is what the benchmark runs; ``tiny`` only
# exists so the self-tests can exercise every code path in seconds.
SIZES = {
    "full": {
        "batch_docs": 4000,
        "seed_docs": 600,
        "warc_files": 16,
        "warc_new_docs": 90,
        "warm_files": 3,
        "warm_new_docs": 30,
    },
    "tiny": {
        "batch_docs": 120,
        "seed_docs": 60,
        "warc_files": 3,
        "warc_new_docs": 20,
        "warm_files": 1,
        "warm_new_docs": 10,
    },
}
# planted re-ships per WARC file
RESHIP_COMMITTED = 5  # url already in the seed snapshot
RESHIP_EARLIER = 2  # url committed by an earlier micro-batch of the stream
DUP_IN_BATCH = 3  # url shipped twice inside the same archive / micro-batch

HTML_ONLY = 1.0
DEFAULT_HTML_FRACTION = 0.25


def payload_kind(payload: bytes) -> str:
    """Kind as the generator produced it (not as the engine detects it)."""
    if payload.startswith(SPANDOC_MAGIC):
        return "spandoc"
    if payload.startswith(b"%PDF"):
        return "pdf"
    if payload.startswith(CORRUPT_MAGIC):
        return "corrupt"
    return "html"


@dataclass
class Inputs:
    """Everything one workload run feeds the engine, plus its truth."""

    rows: list[dict]  # the documents the engine must end up committing
    warc_files: list[list[dict]] = field(default_factory=list)
    seed_rows: list[dict] = field(default_factory=list)
    planted: dict = field(default_factory=dict)

    def properties(self) -> dict:
        docs = self.seed_rows + self.rows
        kinds = Counter(payload_kind(r["html"]) for r in docs)
        nbytes = Counter()
        for r in docs:
            nbytes[payload_kind(r["html"])] += len(r["html"])
        return {
            "docs": len(docs),
            "docs_per_kind": dict(sorted(kinds.items())),
            "bytes_per_kind": dict(sorted(nbytes.items())),
            "planted_corrupt_share": round(kinds["corrupt"] / max(1, len(docs)), 6),
            "seed_snapshot_rows": len(self.seed_rows),
            **self.planted,
        }


def batch_inputs(seed: int, n_docs: int, html_fraction: float) -> Inputs:
    rows = [corpus.build_pages_row(i, seed, html_fraction) for i in range(n_docs)]
    return Inputs(rows=rows)


def stream_inputs(
    seed: int, n_seed: int, n_files: int, per_file: int, first_id: int = 0
) -> Inputs:
    """Seed snapshot rows plus ``n_files`` archives of fresh documents
    with the planted re-ships mixed in. ``first_id`` shifts the document
    ids so a warm-up stream never overlaps the measured one."""
    rng = random.Random(seed * 7919 + first_id)
    seed_rows = [corpus.build_pages_row(first_id + i, seed) for i in range(n_seed)]
    next_id = first_id + n_seed
    files: list[list[dict]] = []
    fresh: list[dict] = []
    for _ in range(n_files):
        new = [corpus.build_pages_row(next_id + j, seed) for j in range(per_file)]
        next_id += per_file
        chunk = list(new)
        chunk += rng.sample(seed_rows, min(RESHIP_COMMITTED, len(seed_rows)))
        chunk += rng.sample(new, DUP_IN_BATCH)
        chunk += rng.sample(fresh, min(RESHIP_EARLIER, len(fresh)))
        rng.shuffle(chunk)
        files.append(chunk)
        fresh += new
    return Inputs(rows=fresh, warc_files=files, seed_rows=seed_rows)


def stream_prefix(inputs: Inputs, n_files: int, per_file: int) -> Inputs:
    """The inputs as far as the first ``n_files`` archives reach, with
    their planted re-ship counts."""
    files = inputs.warc_files[:n_files]
    records = sum(len(c) for c in files)
    fresh = n_files * per_file
    committed = sum(min(RESHIP_COMMITTED, len(inputs.seed_rows)) for _ in files)
    dup = DUP_IN_BATCH * n_files
    earlier = records - fresh - committed - dup
    planted = {
        "warc_files": n_files,
        "warc_records": records,
        "reship_committed": committed,
        "reship_earlier_batch": earlier,
        "dup_in_batch": dup,
        "reship_share": round((records - fresh) / max(1, records), 6),
    }
    return Inputs(
        rows=inputs.rows[:fresh], warc_files=files, seed_rows=inputs.seed_rows, planted=planted
    )


def write_archives(files: list[list[dict]], out_dir: str) -> list[str]:
    """One gzip-member WARC archive per file; returns their paths in
    delivery order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, chunk in enumerate(files):
        path = os.path.join(out_dir, f"crawl-{i:05d}.warc.gz")
        with open(path, "wb") as fh:
            fh.write(corpus.rows_to_warc(chunk))
        paths.append(path)
    return paths


def materialize_bucketed(spark, rows: list[dict], out_dir: str, n_buckets: int, files_per_bucket: int = 2) -> None:
    """The generated rows as url-hash-bucketed parquet (the Iceberg
    ``bucket(N, url)`` ingest shape the batch job reads shuffle-free)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_extractor_spark import io as pio
    from pdf_extractor_spark.schemas import PAGES_SCHEMA

    df = spark.createDataFrame(pd.DataFrame(rows, columns=PAGES_SCHEMA.fieldNames()), schema=PAGES_SCHEMA)
    salt = F.pmod(F.xxhash64("url", F.lit("file_salt")), F.lit(files_per_bucket))
    (
        pio.with_bucket(df, n_buckets)
        .repartition(n_buckets * files_per_bucket, "bucket", salt)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )
