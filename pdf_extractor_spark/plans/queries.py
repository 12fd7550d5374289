"""Named operator queries + DuckDB oracles for the correctness gate.

Every SQL-expressible operator from SURVEY.md §2 is registered here as
  QUERIES[name]  : (spark, sf_dir) -> DataFrame   (native DataFrame plan)
  ORACLES[name]  : ANSI SQL string for DuckDB over the same parquet
Column names and types are aligned on both sides (the driver sorts
columns by name and hashes values). Order-dependent folds that cannot
be expressed relationally (M1 exact, G3/G4/G8, byte-identity paths)
are covered by the pytest differential suite instead and appear in
__spark_entry__ as rows-only queries.
"""

from __future__ import annotations

import logging
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import relational as R

_log = logging.getLogger(__name__)

QUERIES: dict = {}
ORACLES: dict = {}


def register(name: str, oracle=None):
    """Register a query and (optionally) its DuckDB oracle. ``oracle``
    may be the SQL string or a zero-arg callable returning it (or
    None): generated oracles (pdf_parse_stats, outline_stats) cost
    ~0.5s of reference-implementation work to build, which every
    import of this module would pay eagerly — resolve_oracles() defers
    that to the one consumer that actually compares."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def resolve_oracles() -> dict[str, str]:
    """ORACLES with callables resolved to SQL; entries whose generator
    returns None (context unavailable) are dropped → rows-only."""
    out: dict[str, str] = {}
    for name, sql in ORACLES.items():
        if callable(sql):
            sql = sql()
        if sql is not None:
            out[name] = sql
    return out


def _blocks(spark, sf_dir):
    return R.derived_blocks(spark, sf_dir)


_PFX = R.DERIVED_BLOCKS_CTE


# ------------------------------------------------------------- scans/D*
@register(
    "d_block_projection",
    _PFX
    + """
SELECT doc_id, block_idx, page_num, block_text, char_count, font_size,
       is_bold, numbering, x0, y0, x1, y1
FROM blocks2""",
)
def d_block_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1-D6: the derived-column projection itself (scan + project +
    regexp classification), fully pushdown-friendly."""
    return _blocks(spark, sf_dir)


# ------------------------------------------------------------ windows
@register(
    "w12_window_features",
    _PFX
    + """
SELECT doc_id, block_idx,
       CASE WHEN lag(page_num) OVER w = page_num
            THEN y0 - lag(y1) OVER w ELSE 0.0 END AS space_above,
       (abs(306.0 - (x0 + x1) / 2) < 122.4) AS is_centered
FROM blocks2 WINDOW w AS (PARTITION BY doc_id ORDER BY block_idx)""",
)
def w12_window_features(spark, sf_dir):
    """W1+W2 in one pass: the space-above lag window over insertion
    order (analysis_new.py:60-63) and the centered-vs-page-width
    predicate (analysis_new.py:64). One window, one projection — both
    ops value-hash-checked in a single driver row (the round-2 driver
    caps the artifact at 50 rows, so related same-grain ops share a
    row)."""
    w = W.partitionBy("doc_id").orderBy("block_idx")
    b = _blocks(spark, sf_dir)
    return b.select(
        "doc_id",
        "block_idx",
        F.when(
            F.lag("page_num").over(w) == F.col("page_num"),
            F.col("y0") - F.lag("y1").over(w),
        )
        .otherwise(0.0)
        .alias("space_above"),
        (F.abs(F.lit(306.0) - (F.col("x0") + F.col("x1")) / 2) < F.lit(122.4)).alias("is_centered"),
    )


# --------------------------------------------------------- aggregates
@register("a2_modal_baseline", _PFX + "," + R._BASELINE_SQL + "\nSELECT doc_id, baseline FROM baseline")
def a2_modal_baseline(spark, sf_dir):
    """A2: modal font size with first-encountered tie-break — the
    tie-break needs min(block_idx) in the ranking (analysis_new.py:69)."""
    return R._baseline(_blocks(spark, sf_dir))


@register(
    "a4_heading_tiers",
    _PFX + "," + R._BASELINE_SQL + "," + R._TIERS_SQL + "\nSELECT doc_id, tier_index, tier_size FROM tiers",
)
def a4_heading_tiers(spark, sf_dir):
    """A4+A5: tier selection + outlier trim (analysis_new.py:74-86)."""
    return R._tiers(_blocks(spark, sf_dir))


@register(
    "a678_doc_rollup",
    _PFX
    + """
SELECT doc_id, count(DISTINCT page_num)::BIGINT AS n_pages,
       string_agg(lower(block_text), ' ' ORDER BY block_idx) AS doc_text,
       bool_or(numbering IS NOT NULL) AS has_numbering
FROM blocks2 GROUP BY doc_id""",
)
def a678_doc_rollup(spark, sf_dir):
    """A6+A7+A8 in one per-doc aggregate row: exact distinct page
    count (analysis_new.py:123), order-sensitive text concatenation
    (analysis_new.py:243 — collect_list has no order guarantee, so
    order is materialized via array_sort over (block_idx, text)
    structs), and any-numbering-exists (analysis_new.py:239). Same
    grain, one groupBy — all three ops value-hash-checked in a single
    driver row."""
    return (
        _blocks(spark, sf_dir)
        .select(
            "doc_id",
            "page_num",
            "numbering",
            F.struct(F.col("block_idx"), F.lower("block_text").alias("t")).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("page_num").alias("n_pages"),
            F.concat_ws(" ", F.expr("transform(array_sort(collect_list(s)), x -> x.t)")).alias(
                "doc_text"
            ),
            F.bool_or(F.col("numbering").isNotNull()).alias("has_numbering"),
        )
    )


# ------------------------------------------------------------ scoring
@register(
    "c_scoring_chain",
    R.oracle_prefix() + "\nSELECT doc_id, block_idx, heading_score FROM scored",
)
def c_scoring_chain(spark, sf_dir):
    """C1-C8: the full additive heading-score when-chain (SURVEY §2.7),
    whole-stage-codegen on the Spark side."""
    return R.scored_blocks(spark, sf_dir).select("doc_id", "block_idx", "heading_score")


@register(
    "f_candidate_filter",
    R.oracle_prefix()
    + """
SELECT doc_id, block_idx, block_text, heading_score
FROM scored
WHERE heading_score >= 20
  AND regexp_matches(block_text, '[A-Za-z]')
  AND NOT regexp_matches(block_text, '(?i)^Version [0-9]+\\.[0-9]+')
  AND (numbering IS NOT NULL OR font_size >= baseline * 1.05)""",
)
def f_candidate_filter(spark, sf_dir):
    """F1+F2+F4: candidate gates (analysis_new.py:126-143)."""
    s = R.scored_blocks(spark, sf_dir)
    return s.filter(
        (F.col("heading_score") >= 20)
        & F.col("block_text").rlike("[A-Za-z]")
        & ~F.col("block_text").rlike(r"(?i)^Version [0-9]+\.[0-9]+")
        & (F.col("numbering").isNotNull() | (F.col("font_size") >= F.col("baseline") * 1.05))
    ).select("doc_id", "block_idx", "block_text", "heading_score")


@register(
    "g10_top1_heading",
    R.oracle_prefix()
    + """
SELECT doc_id, block_text AS heading, y0 FROM (
  SELECT doc_id, block_text, y0,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY y0 ASC, font_size DESC, block_idx ASC) AS rn
  FROM scored WHERE heading_score >= 20
) WHERE rn = 1""",
)
def g10_top1_heading(spark, sf_dir):
    """G10: top-1 heading by (y, -size) (analysis_new.py:322-326)."""
    s = R.scored_blocks(spark, sf_dir).filter(F.col("heading_score") >= 20)
    w = W.partitionBy("doc_id").orderBy(F.asc("y0"), F.desc("font_size"), F.asc("block_idx"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", F.col("block_text").alias("heading"), "y0")
    )


@register(
    "g11_level_clusters",
    R.oracle_prefix()
    + """
SELECT doc_id, round_size, is_bold,
       'H' || CAST(least(rk, 6) AS VARCHAR) AS level
FROM (
  SELECT doc_id, round_size, is_bold,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round_size DESC, is_bold DESC) AS rk
  FROM (
    SELECT DISTINCT doc_id, CAST(round(font_size) AS BIGINT) AS round_size, is_bold
    FROM scored WHERE heading_score >= 20 AND numbering IS NULL
  )
)""",
)
def g11_level_clusters(spark, sf_dir):
    """G11: font-cluster level map — distinct (round(size), bold)
    clusters ranked by size desc, capped at H6 (analysis_new.py:330-359)."""
    s = R.scored_blocks(spark, sf_dir).filter(
        (F.col("heading_score") >= 20) & F.col("numbering").isNull()
    )
    clusters = s.select(
        "doc_id", F.round("font_size").cast("bigint").alias("round_size"), "is_bold"
    ).distinct()
    w = W.partitionBy("doc_id").orderBy(F.desc("round_size"), F.desc("is_bold"))
    return clusters.withColumn("rk", F.row_number().over(w)).select(
        "doc_id",
        "round_size",
        "is_bold",
        F.concat(F.lit("H"), F.least(F.col("rk"), F.lit(6)).cast("string")).alias("level"),
    )


@register(
    "g12_level_assign",
    R.oracle_prefix()
    + """
SELECT s.doc_id, s.block_idx,
       CASE WHEN s.numbering = 'x.' THEN 'H1'
            WHEN s.numbering = 'x.y.' THEN 'H2'
            WHEN s.tier_index IS NOT NULL THEN 'H' || CAST(s.tier_index + 1 AS VARCHAR)
            ELSE 'H4' END AS level
FROM scored s WHERE s.heading_score >= 20""",
)
def g12_level_assign(spark, sf_dir):
    """G12: numbering→level map with tier fallback (analysis_new.py:370-385)."""
    s = R.scored_blocks(spark, sf_dir).filter(F.col("heading_score") >= 20)
    return s.select(
        "doc_id",
        "block_idx",
        F.when(F.col("numbering") == "x.", "H1")
        .when(F.col("numbering") == "x.y.", "H2")
        .when(
            F.col("tier_index").isNotNull(),
            F.concat(F.lit("H"), (F.col("tier_index") + 1).cast("string")),
        )
        .otherwise("H4")
        .alias("level"),
    )


@register(
    "g14_first_match_y",
    _PFX
    + """
SELECT doc_id, block_idx,
       first_value(y0) OVER (PARTITION BY doc_id, block_text
                             ORDER BY block_idx) AS first_match_y
FROM blocks2""",
)
def g14_first_match_y(spark, sf_dir):
    """G14: the sort key's first-text-match y lookup — a per-(doc,text)
    first_value window ≡ self-join on text + min(block_idx)
    (analysis_new.py:395)."""
    b = _blocks(spark, sf_dir)
    w = W.partitionBy("doc_id", "block_text").orderBy("block_idx")
    return b.select("doc_id", "block_idx", F.first("y0").over(w).alias("first_match_y"))


@register(
    "f6_title_anti_join",
    R.oracle_prefix()
    + """
, titles AS (
  SELECT doc_id, block_text FROM (
    SELECT doc_id, block_text,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY font_size DESC, block_idx ASC) AS rn
    FROM blocks2 WHERE page_num = 0
  ) WHERE rn = 1
)
SELECT s.doc_id, count(*)::BIGINT AS n_candidates
FROM scored s
LEFT JOIN titles t ON s.doc_id = t.doc_id AND s.block_text = t.block_text
WHERE s.heading_score >= 20 AND s.page_num > 0 AND t.block_text IS NULL
GROUP BY s.doc_id""",
)
def f6_title_anti_join(spark, sf_dir):
    """F6: outline emission excludes title texts + first page — the
    title-text exclusion is a left-anti join (analysis_new.py:363-365)."""
    b = _blocks(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy(F.desc("font_size"), F.asc("block_idx"))
    titles = (
        b.filter(F.col("page_num") == 0)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", "block_text")
    )
    s = R.scored_blocks(spark, sf_dir).filter(
        (F.col("heading_score") >= 20) & (F.col("page_num") > 0)
    )
    return (
        s.join(F.broadcast(titles), ["doc_id", "block_text"], "left_anti")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_candidates"))
    )


# ----------------------------------------------- M1 relational skeleton
@register(
    "m1_sessionize_events",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, count(DISTINCT session_id)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id""",
)
def m1_sessionize_events(spark, sf_dir):
    """M1's relational skeleton: gaps-and-islands sessionization (lag →
    break flag → running sum → segment id), the same pattern as the
    span-merge fold minus its mutating baseline (SURVEY §2.3)."""
    e = R.load(spark, sf_dir, "events")
    # microsecond-exact epoch on both sides (duckdb epoch_us); a
    # seconds-granularity cast would truncate and flip edge gaps
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (us - F.lag(us).over(w) > 1_800_000_000) | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, 0)
    sess = flagged.withColumn("session_id", F.sum("new_session").over(w2))
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------- classic OLAP proof
@register(
    "tpch_q1_agg",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
)
def tpch_q1_agg(spark, sf_dir):
    """Scan+filter+hash-agg proof query (pushdown visible in explain)."""
    l = R.load(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q3_topk",
    """
SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""",
)
def tpch_q3_topk(spark, sf_dir):
    """Broadcast-join + agg + top-k proof query."""
    c = R.load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = R.load(spark, sf_dir, "orders")
    l = R.load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ====================================================================
# Training-data pipeline operators (dedup / similarity / text analysis)
# ====================================================================
from ..operators import dedup as D  # noqa: E402
from ..operators import similarity as S  # noqa: E402
from ..operators import textstats as T  # noqa: E402

_SHINGLE_CTE = """
WITH lists AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
  FROM lists, LATERAL unnest(generate_series(1, greatest(len(l) - 2, 0))) AS s(i)
)
"""


@register(
    "dedup_exact",
    """
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*)::BIGINT AS n_docs
FROM documents GROUP BY md5(text)""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy (hash-shuffle on digest)."""
    return D.exact_duplicates(R.load(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    _SHINGLE_CTE
    + """,
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
freq AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle)),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
  FROM shf x JOIN shf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.2""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs via shingle self-join (MapReduce
    inclusion-exclusion — never an all-pairs cross join)."""
    return D.ngram_jaccard_pairs(R.load(spark, sf_dir, "documents"), threshold=0.2)


def _minhash_oracle_sql(k: int = 8, band_size: int = 4) -> str:
    """DuckDB twin of dedup.minhash_signatures/minhash_band_pairs,
    generated from the SAME affine-permutation constants."""
    P = D.MINHASH_PRIME
    mins = ",\n         ".join(
        f"min(({D.MINHASH_A[j]} * h + {D.MINHASH_B[j]}) % {P}) AS mh{j}" for j in range(k)
    )
    nb = k // band_size
    band_selects = []
    for bi in range(nb):
        cols = ", ".join(f"mh{j}" for j in range(bi * band_size, (bi + 1) * band_size))
        band_selects.append(
            f"SELECT doc_id, {bi} AS band_id, concat_ws('_', {cols}) AS band_key FROM sig"
        )
    return (
        _SHINGLE_CTE
        + f""",
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {P} AS h FROM sh
),
sig AS (
  SELECT doc_id, {mins}
  FROM hashed GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(band_selects)}
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bands x JOIN bands y
  ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id < y.doc_id"""
    )


@register("dedup_minhash_bands", _minhash_oracle_sql(8, 4))
def dedup_minhash_bands(spark, sf_dir):
    """MinHash(k=8) + LSH banding (2 bands × 4 rows): candidate pairs
    from band-key equality joins — the 10^12-document dedup path."""
    return D.minhash_band_pairs(R.load(spark, sf_dir, "documents"), k=8, band_size=4)


@register(
    "dedup_simhash32",
    """
WITH w AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> ''
),
wh AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h FROM w
),
votes AS (
  SELECT doc_id, t.b,
         sum(CASE WHEN CAST(floor(h / power(2, t.b)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM wh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) t
  GROUP BY doc_id, t.b
)
SELECT doc_id, sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id""",
)
def dedup_simhash32(spark, sf_dir):
    """32-bit SimHash per document (bit-vote aggregation)."""
    return D.simhash32(R.load(spark, sf_dir, "documents"))


@register(
    "ann_cosine_topk",
    """
WITH q AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS qv FROM embeddings WHERE vec_id = 0
),
c AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings WHERE vec_id <> 0
)
SELECT vec_id,
       round(list_sum(list_transform(list_zip(v, qv), z -> z[1] * z[2]))
             / (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cosine
FROM c, q
ORDER BY cosine DESC, vec_id ASC LIMIT 10""",
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs vec_id=0 — the ANN exactness
    baseline (zip_with dot product, all JVM-side)."""
    return S.cosine_topk(R.load(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


@register(
    "emb_neardup_lsh",
    """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
elem AS (
  SELECT vec_id, t.i - 1 AS i, v[t.i] AS x
  FROM e, LATERAL unnest(generate_series(1, len(v))) AS t(i)
),
proj AS (
  SELECT vec_id, p.j, sum(x * CASE WHEN ('0x' || substr(md5(CAST(p.j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 2 = 1 THEN 1 ELSE -1 END) AS p
  FROM elem CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) p
  GROUP BY vec_id, p.j
),
buckets AS (
  SELECT vec_id, sum(CASE WHEN p > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)::BIGINT AS bucket
  FROM proj GROUP BY vec_id
),
withv AS (SELECT b.vec_id, b.bucket, e.v FROM buckets b JOIN e ON b.vec_id = e.vec_id),
pairs AS (
  SELECT x.vec_id AS a, y.vec_id AS b, x.v AS va, y.v AS vb
  FROM withv x JOIN withv y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT DISTINCT a, b,
       round(list_sum(list_transform(list_zip(va, vb), z -> z[1] * z[2]))
             / (sqrt(list_sum(list_transform(va, x -> x * x)))
                * sqrt(list_sum(list_transform(vb, x -> x * x)))), 6) AS cosine
FROM pairs
WHERE round(list_sum(list_transform(list_zip(va, vb), z -> z[1] * z[2]))
            / (sqrt(list_sum(list_transform(va, x -> x * x)))
               * sqrt(list_sum(list_transform(vb, x -> x * x)))), 6) >= 0.3""",
)
def emb_neardup_lsh(spark, sf_dir):
    """Embedding near-dup: 8-bit random-hyperplane LSH buckets →
    bucket-equality join → exact-cosine filter (the scale path; the
    bucket join replaces the all-pairs cross join)."""
    return S.neardup_lsh(
        R.load(spark, sf_dir, "embeddings"), threshold=0.3, n_bits=8, dims=64
    )


@register(
    "text_quality",
    """
WITH base AS (
  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS l FROM documents
),
feat AS (
  SELECT doc_id,
         len(l)::BIGINT AS n_words,
         length(text) / greatest(len(l), 1) AS mean_word_len,
         len(list_distinct(l)) / greatest(len(l), 1)::DOUBLE AS distinct_ratio,
         len(list_filter(l, x -> list_contains(['the','and','of','is','a','to','in','it','that','for'], x)))
               / greatest(len(l), 1)::DOUBLE AS stop_ratio
  FROM base
),
uni AS (
  SELECT doc_id, max(c) / sum(c) AS top_word_frac FROM (
    SELECT doc_id, g, count(*) AS c FROM (
      SELECT doc_id, unnest(l) AS g FROM base
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
),
bi AS (
  SELECT doc_id, max(c) / sum(c) AS top_bigram_frac FROM (
    SELECT doc_id, g, count(*) AS c FROM (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 1),
                                   i -> l[i] || ' ' || l[i + 1])) AS g
      FROM base WHERE len(l) >= 2
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT f.doc_id, f.n_words, f.mean_word_len, f.distinct_ratio, f.stop_ratio,
       coalesce(u.top_word_frac, 0.0) AS top_word_frac,
       coalesce(b.top_bigram_frac, 0.0) AS top_bigram_frac,
       least(f.n_words / 100.0, 1.0) * 0.4 + f.stop_ratio * 2.0 * 0.3
             + f.distinct_ratio * 0.3 AS quality
FROM feat f
LEFT JOIN uni u ON f.doc_id = u.doc_id
LEFT JOIN bi b ON f.doc_id = b.doc_id""",
)
def text_quality(spark, sf_dir):
    """Prose-quality scoring (length/stopword/vocabulary signals)."""
    return T.quality_features(R.load(spark, sf_dir, "documents"))


@register(
    "lang_id",
    """
WITH lex(lang, word) AS (VALUES
  ('en','the'),('en','and'),('en','of'),('en','is'),('en','a'),('en','to'),('en','in'),('en','it'),('en','that'),('en','for'),
  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ein'),('de','ist'),('de','zu'),('de','von'),('de','mit'),('de','nicht'),
  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','un'),('fr','est'),('fr','de'),('fr','du'),('fr','pour'),('fr','que'),
  ('es','el'),('es','la'),('es','los'),('es','las'),('es','y'),('es','es'),('es','de'),('es','un'),('es','por'),('es','que')
),
words AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> ''
),
hits AS (
  SELECT w.doc_id, l.lang, count(*) AS hits
  FROM words w JOIN lex l ON w.word = l.word
  GROUP BY w.doc_id, l.lang
),
best AS (
  SELECT doc_id, lang, hits FROM (
    SELECT doc_id, lang, hits,
           row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
    FROM hits
  ) WHERE rn = 1
)
SELECT d.doc_id,
       coalesce(b.lang, 'und') AS predicted_lang,
       coalesce(b.hits, 0)::BIGINT AS lex_hits,
       len(list_filter(string_split(d.text, ' '), x -> x <> ''))::BIGINT AS ws_tokens,
       len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))::BIGINT AS re_tokens
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id""",
)
def lang_id(spark, sf_dir):
    """n-gram/stopword-hit language ID (broadcast lexicon join +
    map-side-combinable argmax) PLUS the whitespace / BPE-ish-regex
    pre-tokenizer counts, one row per document.

    The two ops (language ID, token counting) were separate driver
    rows through round 3; they share the per-doc grain and the token
    columns are pure per-row expressions riding the same scan, so
    they are one registry entry now — freeing a slot under the 50-row
    driver artifact cap for the flagship `outline_stats` row
    (VERDICT r3 next-round #1). Both operators remain independent
    functions (textstats.language_id / token_counts) with their own
    unit tests."""
    docs = R.load(spark, sf_dir, "documents")
    return T.language_id(
        docs,
        extra_cols={
            "ws_tokens": F.size(T._words(F.col("text"))).cast("bigint"),
            "re_tokens": F.size(
                F.regexp_extract_all(F.col("text"), F.lit(T.TOKEN_PATTERN), 0)
            ).cast("bigint"),
        },
    )


@register(
    "fingerprint_kmin",
    _SHINGLE_CTE
    + """,
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS h FROM sh
),
ranked AS (
  SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h ASC) AS rn
  FROM hashed
)
SELECT doc_id, string_agg(CAST(h AS VARCHAR), '_' ORDER BY rn) AS fingerprint
FROM ranked WHERE rn <= 4 GROUP BY doc_id""",
)
def fingerprint_kmin(spark, sf_dir):
    """Bottom-k sketch fingerprint (4 smallest shingle hashes)."""
    return T.fingerprint_kmin(R.load(spark, sf_dir, "documents"), k=4)


@register(
    "s4_lineage_counts",
    """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END)::BIGINT AS n_short,
       sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY source""",
)
def s4_lineage_counts(spark, sf_dir):
    """S4 lineage analogue: per-source row/failure/byte counts — the
    same aggregation shape io.write_result emits per partition."""
    d = R.load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).alias("n_short"),
        F.sum("n_chars").alias("total_chars"),
    )


# -------------------------------------------------------- multimodal
# Payload DECODE work is pixel-dependent (no SQL twin; covered by the
# numpy-reference pytest suite), but the synthesis + schema PLUMBING
# is a pure function of doc_id — so meta projection, frame-sampling
# cardinality, and audio duration all get full value-hash oracles.
from ..operators import multimodal as MM  # noqa: E402


@register(
    "mm_image_audio_meta",
    """
SELECT doc_id AS media_id,
       (16 + doc_id % 48)::INT AS width,
       (16 + (doc_id * 7) % 48)::INT AS height,
       3::INT AS channels,
       16000 AS sample_rate,
       ((1000 + (doc_id * 31) % 4000) // 16)::INT AS duration_ms,
       (((4 + doc_id % 12) + 1) // 2)::BIGINT AS n_sampled,
       (((4 + doc_id % 12) + 1) // 2 - 1) * 2 AS max_frame_idx
FROM documents""",
)
def mm_image_audio_meta(spark, sf_dir):
    """Multimodal plumbing, image + audio + video in one row (the
    former ``mm_frame_sample`` entry is merged here — same per-media_id
    grain, same documents scan — to keep the 50-row driver artifact cap
    while freeing a slot for ``html_stats`` / ``warc_ingest_stats``,
    VERDICT r4 next-round #1/#3): image rows with typed meta struct,
    audio decode features (sample_rate + duration from the packed
    header), and the video frame-sampling cardinality contract (every
    2nd frame → sampled count + max sampled index), all joined on
    media_id. Every column is deterministic in doc_id (multimodal.py
    synthesis contract), so the distributed synthesis + struct
    projection + explode paths are value-hash-checked against SQL in a
    single driver row."""
    docs = R.load(spark, sf_dir, "documents")
    img = MM.media_from_documents(docs, kind="image").select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.channels").alias("channels"),
    )
    aud = MM.audio_features(MM.media_from_documents(docs, kind="audio")).select(
        "media_id", "sample_rate", "duration_ms"
    )
    vids = MM.media_from_documents(docs, kind="video")
    frames = MM.sample_frames(vids, every_k=2).groupBy("media_id").agg(
        F.count("*").alias("n_sampled"),
        F.max("frame_idx").cast("long").alias("max_frame_idx"),
    )
    return img.join(aud, "media_id").join(frames, "media_id")


# --------------------------------------------------------- streaming
# The streaming transformations are plain DataFrame functions, so the
# SAME code is registered here in batch mode with DuckDB oracles; the
# streaming execution path (file source → watermark → availableNow →
# foreachBatch commit) is exercised by tests/test_streaming.py.
from ..streaming import pipeline as STRM  # noqa: E402


@register(
    "stream_windowed_counts",
    """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2""",
)
def stream_windowed_counts(spark, sf_dir):
    """Tumbling 1h window + watermark aggregation (batch twin)."""
    out = STRM.windowed_event_counts(R.load(spark, sf_dir, "events"))
    # NTZ for the oracle compare (session tz is UTC, so this is lossless)
    return out.withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))


@register(
    "stream_session_windows",
    """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, session_id""",
)
def stream_session_windows(spark, sf_dir):
    """F.session_window gap sessionization (batch twin of the
    streaming stateful operator; new session at gap >= 30 min)."""
    out = STRM.session_windows(R.load(spark, sf_dir, "events"))
    return out.withColumn("session_start", F.col("session_start").cast("timestamp_ntz")) \
              .withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))


# --------------------------------------------- remaining §2 line items
@register(
    "a1_body_subset",
    _PFX
    + """
SELECT doc_id,
       sum(CASE WHEN char_count > 10 AND font_size >= 8 THEN 1 ELSE 0 END)::BIGINT AS n_body,
       (sum(CASE WHEN char_count > 10 AND font_size >= 8 THEN 1 ELSE 0 END) = 0) AS used_fallback
FROM blocks2 GROUP BY doc_id""",
)
def a1_body_subset(spark, sf_dir):
    """A1: body-subset filter with empty-fallback flag
    (analysis_new.py:67)."""
    b = _blocks(spark, sf_dir)
    is_body = F.when((F.col("char_count") > 10) & (F.col("font_size") >= 8), 1).otherwise(0)
    return b.groupBy("doc_id").agg(
        F.sum(is_body).alias("n_body"),
        (F.sum(is_body) == 0).alias("used_fallback"),
    )


@register(
    "g1g2_title_rank",
    _PFX
    + """
SELECT doc_id, block_idx,
       row_number() OVER (PARTITION BY doc_id
                          ORDER BY font_size DESC, y0 ASC, block_idx ASC) AS rank,
       (font_size >= 0.85 * max(font_size) OVER (PARTITION BY doc_id))
         AS is_title_cand
FROM blocks2 WHERE page_num = 0""",
)
def g1g2_title_rank(spark, sf_dir):
    """G1+G2 in one first-page pass: blocks ranked by (−font_size, y)
    (analysis_new.py:146-151) plus the ≥0.85·max-size title-candidate
    predicate (analysis_new.py:156-161) as a flag instead of a filter
    — both window ops over the same doc partition, one driver row."""
    b = _blocks(spark, sf_dir).filter(F.col("page_num") == 0)
    w = W.partitionBy("doc_id").orderBy(F.desc("font_size"), F.asc("y0"), F.asc("block_idx"))
    wmax = W.partitionBy("doc_id")
    return b.select(
        "doc_id",
        "block_idx",
        F.row_number().over(w).alias("rank"),
        (F.col("font_size") >= 0.85 * F.max("font_size").over(wmax)).alias("is_title_cand"),
    )


@register(
    "f5_poster_field_drop",
    _PFX + "," + R._BASELINE_SQL
    + """
SELECT b.doc_id, b.block_idx
FROM blocks2 b JOIN baseline USING (doc_id)
WHERE NOT regexp_matches(upper(b.block_text), '^(ADDRESS:|RSVP:|DATE:|TIME:|FOR:)')
  AND NOT regexp_matches(b.block_text, 'www\\.|\\.com|@|[0-9]{5}|\\([0-9]{3}\\)')
  AND NOT (b.char_count > 50 AND b.font_size < baseline.baseline)""",
)
def f5_poster_field_drop(spark, sf_dir):
    """F5: poster field-label / URL / phone / long-small drops
    (analysis_new.py:253-260)."""
    b = _blocks(spark, sf_dir)
    base = R._baseline(b)
    return (
        b.join(F.broadcast(base), "doc_id")
        .filter(
            ~F.upper("block_text").rlike("^(ADDRESS:|RSVP:|DATE:|TIME:|FOR:)")
            & ~F.col("block_text").rlike(r"www\.|\.com|@|[0-9]{5}|\([0-9]{3}\)")
            & ~((F.col("char_count") > 50) & (F.col("font_size") < F.col("baseline")))
        )
        .select("doc_id", "block_idx")
    )


@register(
    "g7_poster_detect",
    _PFX
    + """,
doc_text AS (
  SELECT doc_id, string_agg(lower(block_text), ' ' ORDER BY block_idx) AS t
  FROM blocks2 GROUP BY doc_id
)
SELECT doc_id,
       ((CASE WHEN t LIKE '%party%' THEN 1 ELSE 0 END +
         CASE WHEN t LIKE '%invited%' THEN 1 ELSE 0 END +
         CASE WHEN t LIKE '%rsvp%' THEN 1 ELSE 0 END +
         CASE WHEN t LIKE '%hope%' THEN 1 ELSE 0 END +
         CASE WHEN t LIKE '%see you%' THEN 1 ELSE 0 END +
         CASE WHEN t LIKE '%address:%' THEN 1 ELSE 0 END) >= 2
        OR
        (CASE WHEN t LIKE '%date:%' THEN 1 ELSE 0 END +
         CASE WHEN t LIKE '%time:%' THEN 1 ELSE 0 END +
         CASE WHEN t LIKE '%for:%' THEN 1 ELSE 0 END +
         CASE WHEN t LIKE '%address:%' THEN 1 ELSE 0 END +
         CASE WHEN t LIKE '%rsvp:%' THEN 1 ELSE 0 END) >= 3) AS is_poster
FROM doc_text""",
)
def g7_poster_detect(spark, sf_dir):
    """G7: keyword-vote poster/form detection over A7's concatenated
    text (analysis_new.py:241-249)."""
    b = _blocks(spark, sf_dir)
    t = (
        b.select("doc_id", F.struct("block_idx", F.lower("block_text").alias("t")).alias("s"))
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.expr("transform(array_sort(collect_list(s)), x -> x.t)")).alias("t"))
    )
    def has(kw):
        return F.when(F.col("t").contains(kw), 1).otherwise(0)
    party = sum([has(k) for k in ["party", "invited", "rsvp", "hope", "see you", "address:"]], F.lit(0))
    fields = sum([has(k) for k in ["date:", "time:", "for:", "address:", "rsvp:"]], F.lit(0))
    return t.select("doc_id", ((party >= 2) | (fields >= 3)).alias("is_poster"))


@register(
    "g9_best_phrase",
    _PFX
    + """
SELECT doc_id, block_idx AS best_block, block_text
FROM (
  SELECT doc_id, block_idx, block_text,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY font_size DESC, char_count DESC, block_idx ASC) AS rn
  FROM blocks2
) WHERE rn = 1""",
)
def g9_best_phrase(spark, sf_dir):
    """G9: top-1 'best phrase' by (max size, weight) — the max_by /
    row_number top-k pattern (analysis_new.py:295-306)."""
    b = _blocks(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy(F.desc("font_size"), F.desc("char_count"), F.asc("block_idx"))
    return (
        b.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", F.col("block_idx").alias("best_block"), "block_text")
    )


@register(
    "g13_outline_decorate",
    _PFX
    + """
SELECT doc_id, block_idx, rtrim(block_text) || ' ' AS decorated
FROM blocks2""",
)
def g13_outline_decorate(spark, sf_dir):
    """G13: outline text decoration — strip then guarantee one
    trailing space (analysis_new.py:387-390)."""
    return _blocks(spark, sf_dir).select(
        "doc_id", "block_idx", F.concat(F.rtrim("block_text"), F.lit(" ")).alias("decorated")
    )


@register(
    "tpch_q5_join_chain",
    """
SELECT n.n_name AS nation, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name""",
)
def tpch_q5_join_chain(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join chain with small-dim broadcasts —
    exercises Catalyst join reordering + broadcast strategy."""
    c = R.load(spark, sf_dir, "customer")
    o = R.load(spark, sf_dir, "orders")
    l = R.load(spark, sf_dir, "lineitem")
    s = R.load(spark, sf_dir, "supplier")
    n = R.load(spark, sf_dir, "nation")
    r = R.load(spark, sf_dir, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(l.l_extendedprice * (1 - l.l_discount)), 4).alias("revenue"))
    )


# ------------------------------------------------------ skew handling
from ..operators import skew as SK  # noqa: E402


@register(
    "skew_salted_topk",
    """
SELECT lang, doc_id, n_chars, rank FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents
) WHERE rank <= 5""",
)
def skew_salted_topk(spark, sf_dir):
    """Salted two-phase per-key top-k (north rule: skewed-host guard).
    The oracle is the DIRECT window rank — proving the salted plan is
    result-identical while bounding task size under key skew."""
    d = R.load(spark, sf_dir, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    return SK.salted_topk(
        d.select("lang", "doc_id", "doc_key", "n_chars"),
        key="lang", order_col="n_chars", tiebreak="doc_key", k=5, salt=8,
    ).select("lang", "doc_id", "n_chars", "rank")


@register(
    "skew_distinct_count",
    """
SELECT lang, count(DISTINCT source)::BIGINT AS n_distinct
FROM documents GROUP BY lang""",
)
def skew_distinct_count(spark, sf_dir):
    """Two-stage exact distinct count — the skew-safe COUNT(DISTINCT)
    rewrite (shuffle on high-cardinality (key, val) first)."""
    return SK.salted_distinct_count(R.load(spark, sf_dir, "documents"), "lang", "source")


# ------------------------------------------------------------ IVF ANN
@register(
    "ann_ivf_topk",
    """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM vecs WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT s.vec_id, c.cell_id,
           row_number() OVER (PARTITION BY s.vec_id ORDER BY
             (list_sum(list_transform(list_zip(s.v, c.cv), z -> z[1] * z[2]))
              / (sqrt(list_sum(list_transform(s.v, x -> x * x)))
                 * sqrt(list_sum(list_transform(c.cv, x -> x * x))))) DESC,
             c.cell_id ASC) AS rn
    FROM vecs s CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
qcells AS (
  SELECT cell_id FROM cents, q
  ORDER BY (list_sum(list_transform(list_zip(cv, qv), z -> z[1] * z[2]))
            / (sqrt(list_sum(list_transform(cv, x -> x * x)))
               * sqrt(list_sum(list_transform(qv, x -> x * x))))) DESC,
           cell_id ASC
  LIMIT 4
)
SELECT vec_id,
       round(list_sum(list_transform(list_zip(v, qv), z -> z[1] * z[2]))
             / (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cosine
FROM vecs s
JOIN assign USING (vec_id)
JOIN qcells USING (cell_id)
CROSS JOIN q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10""",
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN: coarse-cell assignment + nprobe-cell exact search
    — the scale path next to the ann_cosine_topk brute-force baseline.
    The oracle replicates the same algorithm, so results match exactly
    (recall vs brute force is a separate, measured property)."""
    return S.ivf_topk(R.load(spark, sf_dir, "embeddings"), query_vec_id=0,
                      k=10, n_cells=16, nprobe=4)


# ------------------------------------------- §2.10 breadth: rollup/date/json
@register(
    "rollup_lineitem",
    """
SELECT l_returnflag, l_linestatus,
       count(*)::BIGINT AS n, round(sum(l_extendedprice), 4) AS total
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def rollup_lineitem(spark, sf_dir):
    """GROUPING SETS/ROLLUP: hierarchical subtotals in one pass
    (partial-aggregated by Catalyst like any hash agg)."""
    return (
        R.load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 4).alias("total"))
    )


@register(
    "events_date_json",
    """
SELECT event_type,
       strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
       dayofweek(ts)::INT AS dow,
       count(*)::BIGINT AS n,
       round(avg(value), 6) AS avg_value,
       sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS sum_k
FROM events GROUP BY 1, 2, 3""",
)
def events_date_json(spark, sf_dir):
    """Date/time + JSON function surface in one grouped aggregate:
    date_trunc/day-of-week extraction over timestamps AND JVM-side
    JSON field extraction (get_json_object — no Python) summed per
    group. Both §2.10 breadth ops value-hash-checked in one row."""
    e = R.load(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-dd").alias("month"),
        # Spark dayofweek: Sunday=1; shifted to DuckDB's Sunday=0 convention
        (F.dayofweek("ts") - 1).alias("dow"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
    )


@register(
    "fingerprint_winnow",
    """
WITH grams AS (
  SELECT doc_id, s.i AS pos,
         ('0x' || substr(md5(substr(text, s.i::INT, 8)), 1, 8))::BIGINT AS h
  FROM documents,
       LATERAL unnest(generate_series(1, greatest(length(text) - 7, 0))) AS s(i)
),
winmin AS (
  SELECT doc_id, pos, h,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
  FROM grams
)
SELECT DISTINCT doc_id, wmin AS fingerprint
FROM winmin WHERE pos >= 4""",
)
def fingerprint_winnow(spark, sf_dir):
    """Winnowing rolling-hash fingerprint (k=8 char grams, window=4):
    sliding-window minima of rolling k-gram hashes — the standard
    local document fingerprint for plagiarism/overlap detection."""
    return T.fingerprint_winnow(R.load(spark, sf_dir, "documents"), k=8, window=4)


@register("pdf_payload_extract")  # rows-only: Arrow-stage pipeline over real %PDF bytes
def pdf_payload_extract(spark, sf_dir):
    """Real-%PDF path end-to-end under the driver gate: synthesize
    deterministic minimal PDFs on the executors (corpus.random_pdf —
    classic xref + FlateDecode + Helvetica content streams), parse
    them with sources/pdfparse.py inside the extraction stage, and
    emit (url, title, outline_json). Deterministic in (doc count,
    seed); byte-level correctness of the analysis on PDF-derived
    spans is gated by tests/test_pdfparse.py +
    tests/test_refimpl_vs_reference.py."""
    import pandas as pd

    from .. import corpus as corpus_mod
    from ..operators.extract import extract_pages

    n = 500

    def gen(batches):
        import random

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                r = random.Random(77_000 + int(i))
                rows.append(
                    {"url": f"https://pdf.example.com/doc/{int(i):06d}",
                     "html": corpus_mod.random_pdf(r)}
                )
            yield pd.DataFrame(rows)

    pages = spark.range(0, n, 1, 16).mapInPandas(gen, schema="url string, html binary")
    return extract_pages(pages).select("url", "title", "outline_json", "parse_ok")


def _pdf_stats_oracle(n: int = 300) -> str:
    """DuckDB twin of pdf_parse_stats: an inline VALUES table of the
    generator's ground truth (corpus.pdf_truth_stats — the line plan
    the PDFs were CONSTRUCTED from, independent of the parser). Inline
    so the oracle needs no filesystem access in the driver's DuckDB."""
    from .. import corpus as corpus_mod

    rows = [corpus_mod.pdf_truth_stats(i) for i in range(n)]
    vals = ",\n".join(
        "('%s', %d, %d, '%s')" % (r["url"], r["n_pages"], r["n_spans"], r["content_md5"])
        for r in rows
    )
    return (
        "SELECT url, n_pages::BIGINT AS n_pages, n_spans::BIGINT AS n_spans, content_md5\n"
        f"FROM (VALUES {vals}) AS t(url, n_pages, n_spans, content_md5)"
    )


@register("pdf_parse_stats", _pdf_stats_oracle)
def pdf_parse_stats(spark, sf_dir):
    """Hash-matched driver row for the real-%PDF parser (VERDICT r2
    'What's wrong' #3): synthesize deterministic %PDF bytes on the
    executors, parse them with sources/pdfparse.py, emit one row per
    text span, then aggregate per url JVM-side (countDistinct pages,
    span count, md5 of the order-sensitive 'size:text' concat). The
    oracle is the generator's OWN line plan (corpus.pdf_truth_stats),
    so a value-hash match proves the parse reproduces exactly what the
    PDFs were constructed from — no parser-vs-itself circularity."""
    import pandas as pd

    from .. import corpus as corpus_mod
    from ..sources import payload as payload_mod

    n = 300

    def gen(batches):
        import random

        for b in batches:
            out = []
            for i in b["id"]:
                i = int(i)
                pdf_bytes = corpus_mod.random_pdf(random.Random(77_000 + i))
                pages = payload_mod.parse_pdf(pdf_bytes)
                url = f"https://pdf.example.com/doc/{i:06d}"
                k = 0
                for pnum, pg in enumerate(pages):
                    for blk in pg["blocks"]:
                        for line in blk:
                            for sp in line:
                                out.append(
                                    {
                                        "url": url,
                                        "span_idx": k,
                                        "page_num": pnum,
                                        "size": float(sp["size"]),
                                        "text": sp["text"],
                                    }
                                )
                                k += 1
            yield pd.DataFrame(out)

    spans = spark.range(0, n, 1, 16).mapInPandas(
        gen, schema="url string, span_idx int, page_num int, size double, text string"
    )
    line = F.concat(F.col("size").cast("int").cast("string"), F.lit(":"), F.col("text"))
    return (
        spans.select("url", "page_num", F.struct(F.col("span_idx"), line.alias("l")).alias("s"))
        .groupBy("url")
        .agg(
            F.countDistinct("page_num").alias("n_pages"),
            F.count("*").alias("n_spans"),
            F.md5(
                F.concat_ws("\n", F.expr("transform(array_sort(collect_list(s)), x -> x.l)"))
            ).alias("content_md5"),
        )
    )


def _outline_stats_oracle(n: int = 400, seed_base: int = 88_000) -> str | None:
    """DuckDB twin of outline_stats: an inline VALUES table of per-url
    digests computed by tests/refimpl.py — the clean-room row-at-a-time
    oracle that tests/test_refimpl_vs_reference.py pins byte-identical
    to the ACTUAL reference code (extract_outline.py + analysis_new.py).
    refimpl shares NO code with the distributed path under test
    (operators/analyzer.py is vectorized pandas/numpy; refimpl is
    stdlib row loops), so a hash match is construction-vs-execution
    evidence for the flagship analyzer, same pattern as
    pdf_parse_stats. Returns None when tests/refimpl.py is not on disk
    (shipped-zip context) — the query then runs rows-only."""
    import hashlib
    import importlib.util
    import random
    from pathlib import Path as _Path

    tests_dir = _Path(__file__).resolve().parents[2] / "tests"
    if not (tests_dir / "refimpl.py").exists():
        return None
    # load by path — mutating sys.path here would let tests/ shadow
    # same-named modules for the rest of the process
    spec = importlib.util.spec_from_file_location(
        "pdfx_refimpl_oracle", tests_dir / "refimpl.py"
    )
    refimpl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(refimpl)

    from .. import corpus as corpus_mod

    def _md5(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    rows = []
    for i in range(n):
        pages = corpus_mod.random_spandoc(random.Random(seed_base + i))
        res = refimpl.extract_document(pages)
        if res is None:
            continue  # failed docs produce NO output (S4) on both sides
        ol = res["outline"]
        concat = "\n".join(f"{e['level']}:{e['text']}:{e['page']}" for e in ol)
        rows.append(
            (
                f"https://span.example.com/doc/{i:06d}",
                len(ol),
                sum(1 for e in ol if e["level"] == "H1"),
                sum(1 for e in ol if e["level"] == "H2"),
                sum(1 for e in ol if e["level"] == "H3"),
                _md5(res["title"] or ""),
                _md5(concat),
                _md5(refimpl.render_json(res)),
            )
        )
    vals = ",\n".join(
        "('%s', %d, %d, %d, %d, '%s', '%s', '%s')" % r for r in rows
    )
    return (
        "SELECT url, n_outline::BIGINT AS n_outline, n_h1::BIGINT AS n_h1,\n"
        "       n_h2::BIGINT AS n_h2, n_h3::BIGINT AS n_h3,\n"
        "       title_md5, outline_md5, json_md5\n"
        f"FROM (VALUES {vals}) AS t(url, n_outline, n_h1, n_h2, n_h3,"
        " title_md5, outline_md5, json_md5)"
    )


@register("outline_stats", _outline_stats_oracle)
def outline_stats(spark, sf_dir):
    """Hash-matched driver row for the FLAGSHIP analyzer (VERDICT r3
    next-round #1): synthesize the deterministic spandoc corpus on the
    executors, run the FULL production extraction (payload parse →
    span-merge fold → 3-pass analyzer → byte-exact JSON render), then
    reduce each url's outline_json to scalar digests entirely JVM-side
    (from_json + higher-order functions — no Python after the one
    Arrow extraction stage, no shuffle: the result stays one row per
    url). json_md5 commits to the BYTE-identical reference sink format
    per url; title/outline digests and per-level counts localize any
    divergence. Reference: extract_outline.py:131-137,
    utils/analysis_new.py:396."""
    import pandas as pd

    from .. import corpus as corpus_mod
    from ..operators.extract import extract_pages

    n = 400

    def gen(batches):
        import random

        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                pages = corpus_mod.random_spandoc(random.Random(88_000 + i))
                rows.append(
                    {
                        "url": f"https://span.example.com/doc/{i:06d}",
                        "html": corpus_mod.spandoc_to_payload(pages),
                    }
                )
            yield pd.DataFrame(rows)

    pages = spark.range(0, n, 1, 16).mapInPandas(gen, schema="url string, html binary")
    res = extract_pages(pages).filter(F.col("parse_ok"))
    o = F.from_json(
        F.col("outline_json"),
        "struct<title:string, outline:array<struct<level:string,text:string,page:int>>>",
    )
    outline = o.getField("outline")

    def _lvl(level: str):
        return F.size(F.filter(outline, lambda x: x.getField("level") == F.lit(level)))

    entry_str = F.transform(
        outline,
        lambda x: F.concat_ws(
            ":",
            x.getField("level"),
            x.getField("text"),
            x.getField("page").cast("string"),
        ),
    )
    return res.select(
        "url",
        F.size(outline).cast("bigint").alias("n_outline"),
        _lvl("H1").cast("bigint").alias("n_h1"),
        _lvl("H2").cast("bigint").alias("n_h2"),
        _lvl("H3").cast("bigint").alias("n_h3"),
        F.md5(F.coalesce(o.getField("title"), F.lit("")).cast("binary")).alias("title_md5"),
        F.md5(F.concat_ws("\n", entry_str).cast("binary")).alias("outline_md5"),
        F.md5(F.col("outline_json").cast("binary")).alias("json_md5"),
    )


_HTML_STATS_N_GEN = 151
_HTML_STATS_SEED = 77_000
_HTML_GOLDEN_DIR = Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "html_golden"


def _html_digest_rows(items: list[tuple[str, dict | None]]):
    """Shared digest computation for the html_stats oracle: each item is
    (url, extract_html-result-or-expected-entry). A None entry means the
    S4 routing rejected the payload (parse_ok=false row)."""
    import hashlib
    import json as _json

    def _md5(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    rows = []
    for url, e in items:
        if e is None:
            rows.append((url, False, None, None, None, None, None, None, None, None))
            continue
        ol = [
            {"level": x["level"], "text": x["text"], "page": x["page"]}
            for x in e["outline"]
        ]
        concat = "\n".join(f"{x['level']}:{x['text']}:{x['page']}" for x in ol)
        js = _json.dumps({"title": e["title"], "outline": ol}, indent=2, ensure_ascii=False)
        rows.append(
            (
                url,
                True,
                len(ol),
                sum(1 for x in ol if x["level"] == "H1"),
                sum(1 for x in ol if x["level"] == "H2"),
                sum(1 for x in ol if x["level"] == "H3"),
                _md5(e["title"] or ""),
                _md5(e["main_text"] or ""),
                _md5(concat),
                _md5(js),
            )
        )
    return rows


def _html_stats_oracle() -> str | None:
    """DuckDB twin of html_stats, two slices:

    * the committed adversarial golden corpus
      (tests/fixtures/html_golden): digests computed from the FROZEN
      expected.json — regeneration-proof tests pin those bytes, so this
      slice is reviewed-construction truth, independent of what the
      executors compute today. The two deliberately-degenerate fixtures
      (empty / whitespace-only payloads) are parse_ok=false rows: the
      S4 routing rejects a payload with no content, mirrored here by
      the byte-level ``strip()`` test rather than by calling the
      production detector.
    * N deterministic generated pages (corpus.random_html): digests
      from a LOCAL single-process extract_html run at registration —
      this slice proves local-vs-distributed execution equivalence of
      the full html path (Arrow batching, binary round-trip, batch
      isolation), complementing the frozen slice.

    Returns None when tests/fixtures is not on disk (shipped-zip
    context) — the query then runs rows-only."""
    import json as _json
    import random

    fix = _HTML_GOLDEN_DIR
    if not (fix / "expected.json").exists():
        return None
    from ..operators.html_extract import extract_html
    from .. import corpus as corpus_mod

    expected = _json.loads((fix / "expected.json").read_text(encoding="utf-8"))
    items: list[tuple[str, dict | None]] = []
    for name in sorted(expected):
        payload = (fix / f"{name}.html").read_bytes()
        if not payload:
            # Spark's binaryFile source yields no row for a 0-byte file,
            # so the empty-payload fixture cannot appear in this query's
            # input; the empty-payload S4 path is pytest-covered
            # (test_html_golden). whitespace_only still rides here as
            # the parse_ok=false routing commitment.
            continue
        items.append((name, expected[name] if payload.strip() else None))
    for i in range(_HTML_STATS_N_GEN):
        payload = corpus_mod.random_html(random.Random(_HTML_STATS_SEED + i))
        items.append((f"gen/{i:06d}", extract_html(payload)))

    vals = []
    for r in _html_digest_rows(items):
        url, ok = r[0], "true" if r[1] else "false"
        rest = ", ".join(
            "NULL" if v is None else (f"'{v}'" if isinstance(v, str) else str(v))
            for v in r[2:]
        )
        vals.append(f"('{url}', {ok}, {rest})")
    return (
        "SELECT url, parse_ok,\n"
        "       n_outline::BIGINT AS n_outline, n_h1::BIGINT AS n_h1,\n"
        "       n_h2::BIGINT AS n_h2, n_h3::BIGINT AS n_h3,\n"
        "       title_md5, text_md5, outline_md5, json_md5\n"
        f"FROM (VALUES {','.join(vals)}) AS t(url, parse_ok, n_outline, n_h1,"
        " n_h2, n_h3, title_md5, text_md5, outline_md5, json_md5)"
    )


@register("html_stats", _html_stats_oracle)
def html_stats(spark, sf_dir):
    """Hash-matched driver row for the HTML boilerplate path (VERDICT r4
    next-round #1 — the outline_stats pattern applied to the last
    rows-only flagship): run the FULL production extraction
    (parse_payload routing → extract_html → byte-exact JSON render)
    over the committed 49-fixture adversarial golden corpus PLUS
    deterministic generated boilerplate pages, all on the executors,
    then reduce each url's result to scalar digests entirely JVM-side
    (from_json + higher-order functions — no Python after the one Arrow
    extraction stage, no shuffle). json_md5 commits to the byte-exact
    sink format per url; text_md5 commits to the extracted main_text
    (the north rule's tier-extraction output); the degenerate fixtures
    stay as parse_ok=false rows committing to the S4 routing.
    Reference scope: SURVEY §2.11."""
    import pandas as pd

    from .. import corpus as corpus_mod
    from ..operators.extract import extract_pages

    fix = _HTML_GOLDEN_DIR
    fixtures = None
    if fix.exists():
        fixtures = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.html")
            .load(str(fix))
            .select(
                F.regexp_replace(
                    F.element_at(F.split("path", "/"), -1), r"\.html$", ""
                ).alias("url"),
                F.col("content").alias("html"),
            )
        )
    else:
        # shipped-zip context (tests/ not on disk): the oracle generator
        # returns None there too, so the query degrades to a rows-only
        # run over the generated slice instead of crashing on a
        # nonexistent path — say so, a rows-only pass is not a hash match
        _log.warning(
            "html_stats: golden fixtures not found at %s; running rows-only "
            "over the generated pages",
            fix,
        )

    def gen(batches):
        import random

        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                rows.append(
                    {
                        "url": f"gen/{i:06d}",
                        "html": corpus_mod.random_html(
                            random.Random(_HTML_STATS_SEED + i)
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    gen_pages = spark.range(0, _HTML_STATS_N_GEN, 1, 8).mapInPandas(
        gen, schema="url string, html binary"
    )
    pages = gen_pages if fixtures is None else fixtures.unionByName(gen_pages)
    res = extract_pages(pages)
    o = F.from_json(
        F.col("outline_json"),
        "struct<title:string, outline:array<struct<level:string,text:string,page:int>>>",
    )
    outline = o.getField("outline")

    def _lvl(level: str):
        return F.size(F.filter(outline, lambda x: x.getField("level") == F.lit(level)))

    ok = F.col("parse_ok")

    def _ifok(c):
        return F.when(ok, c)

    return res.select(
        "url",
        "parse_ok",
        _ifok(F.size(outline).cast("bigint")).alias("n_outline"),
        _ifok(_lvl("H1").cast("bigint")).alias("n_h1"),
        _ifok(_lvl("H2").cast("bigint")).alias("n_h2"),
        _ifok(_lvl("H3").cast("bigint")).alias("n_h3"),
        _ifok(
            F.md5(F.coalesce(o.getField("title"), F.lit("")).cast("binary"))
        ).alias("title_md5"),
        _ifok(F.md5(F.coalesce(F.col("main_text"), F.lit("")).cast("binary"))).alias(
            "text_md5"
        ),
        _ifok(
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(
                        outline,
                        lambda x: F.concat_ws(
                            ":",
                            x.getField("level"),
                            x.getField("text"),
                            x.getField("page").cast("string"),
                        ),
                    ),
                ).cast("binary")
            )
        ).alias("outline_md5"),
        _ifok(F.md5(F.col("outline_json").cast("binary"))).alias("json_md5"),
    )


_WARC_STATS_N_PER = 30
_WARC_STATS_N_ARCH = 4


def _warc_stats_dir() -> str:
    """Materialize the deterministic WARC archive set for
    warc_ingest_stats under /tmp (bytes depend only on the corpus seed;
    rows_to_warc pins gzip mtime=0, so repeated runs write identical
    files). Archives alternate the two Common-Crawl layouts:
    member-gzip .warc.gz and plain concatenated .warc. Includes the
    corpus's deterministic corrupt-payload slice (i % 41 == 7) —
    ingest must deliver those bytes intact for the downstream S4 path,
    not drop them."""
    import tempfile
    from pathlib import Path as _Path

    from .. import corpus as corpus_mod

    import os as _os

    d = _Path(tempfile.gettempdir()) / "pdfx_warc_ingest_stats_v1"
    d.mkdir(exist_ok=True)
    for k in range(_WARC_STATS_N_ARCH):
        rows = [
            corpus_mod.build_pages_row(i)
            for i in range(k * _WARC_STATS_N_PER, (k + 1) * _WARC_STATS_N_PER)
        ]
        gz = k % 2 == 0
        target = d / f"arch{k}.{'warc.gz' if gz else 'warc'}"
        data = corpus_mod.rows_to_warc(rows, member_gzip=gz)
        if target.exists() and target.stat().st_size == len(data):
            continue  # bytes are deterministic: same size == same content
        # temp-write + atomic rename: a concurrent session scanning the
        # shared dir must never see a torn archive
        tmp = target.with_suffix(target.suffix + f".tmp{_os.getpid()}")
        tmp.write_bytes(data)
        _os.replace(tmp, target)
    return str(d)


def _warc_ingest_stats_oracle() -> str:
    """DuckDB twin of warc_ingest_stats from CONSTRUCTION truth: the
    expected url / timestamp / byte-count / payload-md5 per record come
    from corpus.build_pages_row directly — the writer's input, never
    the reader's output — so a hash match proves record iteration,
    member-gzip vs plain framing, HTTP body extraction, and WARC-Date
    round-trip on the full production pages_from_warc path."""
    import hashlib

    from .. import corpus as corpus_mod

    vals = []
    for i in range(_WARC_STATS_N_PER * _WARC_STATS_N_ARCH):
        r = corpus_mod.build_pages_row(i)
        vals.append(
            "('%s', %d, '%s', %d, '%s')"
            % (
                r["url"],
                i // _WARC_STATS_N_PER,
                r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%S"),
                len(r["html"]),
                hashlib.md5(r["html"]).hexdigest(),
            )
        )
    return (
        "SELECT url, archive_id::INT AS archive_id, ts_s,\n"
        "       n_bytes::BIGINT AS n_bytes, payload_md5\n"
        f"FROM (VALUES {','.join(vals)}) AS t(url, archive_id, ts_s,"
        " n_bytes, payload_md5)"
    )


@register("warc_ingest_stats", _warc_ingest_stats_oracle)
def warc_ingest_stats(spark, sf_dir):
    """Hash-matched driver row for the Common-Crawl WARC ingest edge
    (VERDICT r4 next-round #3): deterministic archives in BOTH CC
    layouts (member-gzip + plain), including the corrupt-payload
    slice, read by the production pages_from_warc source (binaryFile →
    one Arrow batch per archive → record iteration + HTTP body
    extraction), then digested per url entirely JVM-side. archive_id
    is recomputed from the url's doc index (archive membership is a
    construction invariant), ts_s commits to the WARC-Date round-trip,
    payload_md5 to byte-intact body extraction.
    Reference scope: SURVEY §2 S1 ingest edge; sources/warc.py."""
    from ..sources.warc import pages_from_warc

    pages = pages_from_warc(spark, _warc_stats_dir())
    return pages.select(
        "url",
        F.floor(
            F.regexp_extract("url", r"/doc/(\d{6})", 1).cast("int")
            / _WARC_STATS_N_PER
        )
        .cast("int")
        .alias("archive_id"),
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_s"),
        F.length("html").cast("bigint").alias("n_bytes"),
        F.md5("html").alias("payload_md5"),
    )


@register(
    "ann_batch_topk",
    """
WITH q AS (
  SELECT vec_id AS qid, list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM embeddings WHERE vec_id IN (0, 7, 42, 123)
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
scored AS (
  SELECT q.qid, e.vec_id,
         list_sum(list_transform(list_zip(e.v, q.qv), z -> z[1] * z[2]))
         / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
            * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT qid, vec_id, round(cosine, 6) AS cosine FROM ranked WHERE rn <= 10""",
)
def ann_batch_topk(spark, sf_dir):
    """Batched multi-query exact ANN: ONE corpus pass answers 4 query
    vectors via a vectorized numpy matmul inside an Arrow stage with
    per-batch top-k pruning, then a tiny window merge — the
    scatter-gather serving shape (similarity.batch_cosine_topk)."""
    from ..operators import similarity as S_

    return S_.batch_cosine_topk(
        R.load(spark, sf_dir, "embeddings"), query_vec_ids=[0, 7, 42, 123], k=10
    )


@register(
    "layout_reading_order",
    _PFX
    + """,
bands AS (
  SELECT doc_id, block_idx, page_num, block_text,
         CAST(floor(y0 / 120.0) AS BIGINT) AS y_band
  FROM blocks2
),
pages AS (
  SELECT doc_id, count(DISTINCT page_num) AS n_pages FROM bands GROUP BY doc_id
),
rec AS (
  SELECT doc_id, y_band, block_text, count(DISTINCT page_num) AS n_occ_pages
  FROM bands GROUP BY doc_id, y_band, block_text
),
furn AS (
  SELECT b.doc_id, b.block_idx,
         (p.n_pages >= 3 AND r.n_occ_pages >= p.n_pages * 0.6) AS is_furniture
  FROM bands b
  JOIN rec r ON b.doc_id = r.doc_id AND b.y_band = r.y_band AND b.block_text = r.block_text
  JOIN pages p ON b.doc_id = p.doc_id
),
ro AS (
  SELECT doc_id, page_num, block_idx,
         least(greatest(CAST(floor(x0 / 306.0) AS INT), 0), 1) AS col_idx,
         CAST(row_number() OVER (
           PARTITION BY doc_id, page_num
           ORDER BY least(greatest(CAST(floor(x0 / 306.0) AS INT), 0), 1) ASC,
                    y0 ASC, x0 ASC, block_idx ASC
         ) AS INT) AS read_order
  FROM blocks2
)
SELECT ro.doc_id, ro.page_num, ro.block_idx, ro.col_idx, ro.read_order,
       f.is_furniture
FROM ro JOIN furn f ON ro.doc_id = f.doc_id AND ro.block_idx = f.block_idx""",
)
def layout_reading_order(spark, sf_dir):
    """Page-layout ops in one per-block row (the former
    ``layout_header_footer`` entry is merged here — same block grain,
    same derived-blocks scan — freeing a driver-artifact slot for the
    round-5 evidence rows): 2-column reading-order reconstruction
    (column-major ordering by x0 band then y0 per page; one window
    keyed by (doc_id, page_num), shuffle-free on a doc-bucketed table)
    joined with the header/footer suppression flags (same text in the
    same vertical band recurring on >=60% of a >=3-page document's
    pages is page furniture — the standard main-content heuristic the
    north star names; groupBy/join keyed by doc_id only). Both from
    operators/layout.py."""
    from ..operators import layout as L

    blocks = R.derived_blocks(spark, sf_dir)
    return L.multicol_reading_order(blocks).join(
        L.header_footer_flags(blocks), ["doc_id", "block_idx"]
    )
