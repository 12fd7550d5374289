"""Canonical StructTypes for every stage of the pipeline.

Data model (SURVEY.md §1): the unit of work is one document (= one row
of the ``pages`` table, per BASELINE.json input_hint). Inside a
document, ordered spans merge into ordered TextBlocks; order is
load-bearing, so it is always materialized as explicit index columns
(``page_num, line_idx, span_idx`` / ``block_idx``) — Spark rows have
no implicit order.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- pages
# Common-Crawl-style input table (BASELINE.json: input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),  # raw payload bytes (PDF span-doc or HTML)
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------- spans
# Output of the payload parser; input of the span-merge fold.
# Mirrors the reference's transient span dict (extract_outline.py:37-46):
# text/bbox/font/size/italic, plus ordering + doc columns.
SPANS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_num", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("line_idx", T.IntegerType(), False),
        T.StructField("span_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("font", T.StringType(), False),
        T.StructField("size", T.DoubleType(), False),
        T.StructField("x0", T.DoubleType(), False),
        T.StructField("y0", T.DoubleType(), False),
        T.StructField("x1", T.DoubleType(), False),
        T.StructField("y1", T.DoubleType(), False),
        T.StructField("page_width", T.DoubleType(), False),
    ]
)

# ---------------------------------------------------------------- blocks
# Merged spans = TextBlock rows (analysis_new.py:5-25). ``block_idx`` is
# the insertion order of the reference's text_blocks list.
BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("block_idx", T.IntegerType(), False),
        T.StructField("page_num", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("font_size", T.DoubleType(), False),
        T.StructField("font_name", T.StringType(), False),
        T.StructField("x0", T.DoubleType(), False),
        T.StructField("y0", T.DoubleType(), False),
        T.StructField("x1", T.DoubleType(), False),
        T.StructField("y1", T.DoubleType(), False),
        T.StructField("is_italic", T.BooleanType(), False),
        T.StructField("page_width", T.DoubleType(), False),
    ]
)

# -------------------------------------------------------------- outline
OUTLINE_ENTRY = T.StructType(
    [
        T.StructField("level", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
    ]
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("outline", T.ArrayType(OUTLINE_ENTRY), True),
        # byte-identical JSON (json.dumps indent=2 ensure_ascii=False);
        # Spark's to_json cannot render indent=2, so this is produced in
        # the same Arrow stage that computes the outline.
        T.StructField("outline_json", T.StringType(), True),
        # HTML rows: boilerplate-stripped main content (north rule)
        T.StructField("main_text", T.StringType(), True),
        T.StructField("parse_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("payload_kind", T.StringType(), True),
        T.StructField("payload_bytes", T.LongType(), True),
    ]
)

# The committed result table (io.write_result): RESULT_SCHEMA plus the
# two partition columns. Every engine read of the table passes it, so
# no read pays a schema-inference job over the table's files.
TABLE_SCHEMA = T.StructType(
    RESULT_SCHEMA.fields
    + [
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("ok", T.IntegerType(), True),
    ]
)

# HTML main-content extraction result (north-rule addition, SURVEY §2.11)
HTML_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("main_text", T.StringType(), True),
        T.StructField("outline", T.ArrayType(OUTLINE_ENTRY), True),
        T.StructField("n_blocks_kept", T.IntegerType(), True),
        T.StructField("n_blocks_dropped", T.IntegerType(), True),
        T.StructField("parse_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)
