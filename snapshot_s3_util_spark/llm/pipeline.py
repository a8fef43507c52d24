"""End-to-end training-data curation pipeline as ONE Catalyst plan.

The canonical 100 TB pre-training data flow — quality-gate, exact-dedup,
corpus accounting — composed from the same primitives the standalone
operators expose (`llm_quality_score`, `llm_dedup_exact`,
`llm_token_count`), but fused so Catalyst plans it as a single job:

  narrow map (per-doc metrics)                       [no shuffle]
  -> window over text digest (dedup keeper election) [shuffle 1: digest]
  -> groupBy(lang, source) funnel aggregation        [shuffle 2: tiny]

Two shuffles total for the whole pipeline, both map-side combined where
possible; nothing touches the driver. At 100 TB the digest shuffle is
the cost center — it carries one row per document (not per token), and
AQE handles digest-bucket skew (duplicate-heavy crawls).

The funnel output per (lang, source) — raw docs, quality survivors,
post-dedup keepers, kept-token budget — is exactly the report a data
curation run publishes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_table
from snapshot_s3_util_spark.plans.rank import global_order_stats
from snapshot_s3_util_spark.registry import register

# Gate thresholds — shared verbatim with llm_quality_score's gate.
_MIN_TOKENS, _MAX_TOKENS = 20, 1000
_MIN_DISTINCT = 0.2

_PIPELINE_ORACLE = f"""
WITH m AS (
  SELECT doc_id, lang, source, n_chars,
         CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(LEN(LIST_DISTINCT(string_split(text, ' '))) AS DOUBLE)
           / LEN(string_split(text, ' ')) AS dr,
         CAST(LIST_AGGREGATE(list_transform(string_split(text, ' '),
              x -> CAST(CEIL(LENGTH(x) / 4.0) AS BIGINT)), 'sum') AS BIGINT)
           AS bpe,
         MD5(LOWER(TRIM(text))) AS digest
  FROM documents
),
flagged AS (
  SELECT *,
         (n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
          AND dr >= {_MIN_DISTINCT}) AS keep,
         ROW_NUMBER() OVER (
           PARTITION BY digest
           ORDER BY CASE WHEN (n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
                               AND dr >= {_MIN_DISTINCT}) THEN 0 ELSE 1 END,
                    doc_id) AS rn
  FROM m
)
SELECT lang, source,
       COUNT(*) AS n_raw,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN keep AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep AND rn = 1 THEN bpe ELSE 0 END) AS BIGINT)
         AS kept_bpe_tokens,
       CAST(SUM(CASE WHEN keep AND rn = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars,
       ROUND(AVG(CASE WHEN keep AND rn = 1 THEN dr END), 6) AS kept_distinct_ratio
FROM flagged
GROUP BY lang, source
"""


@register("llm_pipeline_curate", oracle=_PIPELINE_ORACLE, category="llm")
def llm_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel: quality gate -> exact dedup -> corpus report.

    Keeper election happens INSIDE each digest group ordered by
    (quality-pass first, then min doc_id), so a duplicate cluster keeps
    a quality-passing copy whenever one exists — filter-then-dedup
    semantics without a second pass over the corpus.
    """
    d = load_table(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    m = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.expr("size(toks)").cast("bigint").alias("n_tokens"),
        F.expr("cast(size(array_distinct(toks)) AS double) / size(toks)").alias("dr"),
        F.expr(
            "aggregate(transform(toks, x -> cast(ceil(length(x) / 4.0) AS bigint)), "
            "0L, (a, v) -> a + v)"
        ).alias("bpe"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("digest"),
    )
    keep = F.col("n_tokens").between(_MIN_TOKENS, _MAX_TOKENS) & (
        F.col("dr") >= _MIN_DISTINCT
    )
    w = Window.partitionBy("digest").orderBy(
        F.when(keep, F.lit(0)).otherwise(F.lit(1)), F.col("doc_id")
    )
    flagged = m.withColumn("keep", keep).withColumn("rn", F.row_number().over(w))
    kept = F.col("keep") & (F.col("rn") == 1)
    return flagged.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_quality"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("bpe")).otherwise(0))
        .cast("bigint")
        .alias("kept_bpe_tokens"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        F.round(F.avg(F.when(kept, F.col("dr"))), 6).alias("kept_distinct_ratio"),
    )


# ------------------------------------------------ split assignment

_SPLIT_TRAIN_PCT, _SPLIT_VAL_PCT = 90, 95  # train <90, val 90-94, test 95+


@register(
    "llm_split_assign",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN b < {_SPLIT_TRAIN_PCT} THEN 'train'
                WHEN b < {_SPLIT_VAL_PCT}   THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 100 AS b
          FROM documents)
    """,
    category="llm",
)
def llm_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment by content-stable
    hash — the step every training pipeline runs before export.

    Hash-mod bucketing (md5(doc_id) % 100, the engine's portable hash
    idiom) instead of `randomSplit`: the assignment is a pure function
    of the key, so re-runs, backfills, and incremental arrivals land in
    the SAME split — `randomSplit` reshuffles membership whenever
    partitioning changes, silently leaking val into train across runs.
    Narrow map, zero shuffles, trivially 100 TB-safe.
    """
    d = load_table(spark, sf_dir, "documents")
    b = F.expr(
        "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint)"
        " % 100"
    )
    return d.select(
        "doc_id",
        F.when(b < _SPLIT_TRAIN_PCT, "train")
        .when(b < _SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


# ------------------------------------------------ sequence packing

_PACK_BUDGET = 512   # tokens per context window
_PACK_SHARDS = 8     # independent packer shards


@register(
    "llm_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             doc_id % {_PACK_SHARDS} AS shard,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT shard, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING)
                         - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS window_id
      FROM toks
    )
    SELECT shard, window_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM packed
    GROUP BY shard, window_id
    """,
    category="llm",
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed token-budget
    context windows ({_PACK_BUDGET} tokens), shard-local.

    The pre-tokenization packing step of a training pipeline: documents
    fill a window until the running token count crosses the budget
    (overflow docs straddle the boundary — the padding-free packing
    convention). Packing is GREEDY WITHIN A SHARD (doc_id % shards),
    never global: the cumulative sum is a window over each shard only,
    so shards pack in parallel and the plan has no single-partition
    global window — the property that keeps packing linear at 100 TB
    (a global ORDER BY cumsum would serialize the corpus through one
    task). Deterministic: shard and order are pure key functions.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "window_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET)
        .cast("bigint"),
    )
    return packed.groupBy("shard", "window_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


_PACK_AUDIT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         doc_id % {_PACK_SHARDS} AS shard,
         CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT shard, n_tokens,
         CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING)
                     - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS window_id
  FROM toks
),
wins AS (
  SELECT shard, window_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS win_tokens
  FROM packed GROUP BY shard, window_id
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(win_tokens) AS BIGINT) AS sum_tokens,
       ROUND(SUM(win_tokens) / ({_PACK_BUDGET}.0 * COUNT(*)), 6)
         AS utilization,
       CAST(SUM(CASE WHEN win_tokens > {_PACK_BUDGET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overflow_windows
FROM wins GROUP BY shard
"""


@register("llm_pack_efficiency_audit", oracle=_PACK_AUDIT_ORACLE, category="llm")
def llm_pack_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit of `llm_pack_sequences`' assignment:
    per shard, how full the {_PACK_BUDGET}-token context windows
    actually are (utilization = packed tokens / window capacity) and
    how many windows overflow the budget (docs straddling a boundary
    under the padding-free convention). The report a training pipeline
    watches to tune window budget and shard count — low utilization is
    wasted compute per step, high overflow is truncation pressure.

    Plan: identical shard-local cumsum spine as `llm_pack_sequences`
    (partitioned window, no global order), then two map-side-combined
    aggregates that collapse to |shards| x |windows| and |shards| rows
    — the audit costs one corpus pass regardless of scale.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wins = (
        toks.withColumn(
            "window_id",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET
            ).cast("bigint"),
        )
        .groupBy("shard", "window_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").alias("win_tokens"),
        )
    )
    return wins.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("win_tokens").cast("bigint").alias("sum_tokens"),
        F.round(
            F.sum("win_tokens") / (float(_PACK_BUDGET) * F.count(F.lit(1))), 6
        ).alias("utilization"),
        F.sum((F.col("win_tokens") > _PACK_BUDGET).cast("int"))
        .cast("bigint")
        .alias("n_overflow_windows"),
    )


# ------------------------------------------------ fused export pipeline

_EXPORT_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(LEN(LIST_DISTINCT(string_split(text, ' '))) AS DOUBLE)
           / LEN(string_split(text, ' ')) AS dr,
         MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
             string_split(LOWER(text), ' '))), ' ')) AS digest
  FROM documents
),
flagged AS (
  SELECT *,
         (n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
          AND dr >= {_MIN_DISTINCT}) AS keep,
         ROW_NUMBER() OVER (
           PARTITION BY digest
           ORDER BY CASE WHEN (n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
                               AND dr >= {_MIN_DISTINCT}) THEN 0 ELSE 1 END,
                    doc_id) AS rn
  FROM m
),
kept AS (
  SELECT doc_id, n_tokens,
         CASE WHEN CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 100 < {_SPLIT_TRAIN_PCT} THEN 'train'
              WHEN CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 100 < {_SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         doc_id % {_PACK_SHARDS} AS shard
  FROM flagged WHERE keep AND rn = 1
),
packed AS (
  SELECT split, shard, n_tokens,
         CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY split, shard
                                         ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING)
                     - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS window_id
  FROM kept
)
SELECT split, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(MAX(window_id) + 1 AS BIGINT) AS n_windows
FROM packed
GROUP BY split, shard
"""


@register("llm_pipeline_export", oracle=_EXPORT_ORACLE, category="llm")
def llm_pipeline_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training export funnel fused into ONE Catalyst plan:
    quality gate → token-set dedup (keeper prefers the quality-passing
    copy) → deterministic train/val/test split → shard-local sequence
    packing → per-(split, shard) export accounting.

    Composes the standalone stages (`llm_quality_score`,
    `llm_dedup_incremental`'s digest, `llm_split_assign`,
    `llm_pack_sequences`) the way a production job would: per-doc
    metrics are one narrow map; the dedup keeper election is the single
    corpus-wide shuffle (by digest); split/shard are pure key functions
    (zero shuffles); the packing cumsum and the final accounting SHARE
    the (split, shard) exchange.  TWO exchanges end-to-end for the
    entire pipeline (locked in test_plans.py) — the number that
    matters when each exchange is a full network pass at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "dr"
        ),
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))),
                " ",
            )
        ).alias("digest"),
    )
    keep = (
        F.col("n_tokens").between(_MIN_TOKENS, _MAX_TOKENS)
        & (F.col("dr") >= _MIN_DISTINCT)
    )
    flagged = m.select(
        "doc_id",
        "n_tokens",
        keep.alias("keep"),
        F.row_number()
        .over(
            Window.partitionBy("digest").orderBy(
                F.when(keep, 0).otherwise(1), "doc_id"
            )
        )
        .alias("rn"),
    )
    bucket = F.expr(
        "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10)"
        " AS bigint) % 100"
    )
    kept = flagged.filter("keep AND rn = 1").select(
        "doc_id",
        "n_tokens",
        F.when(bucket < _SPLIT_TRAIN_PCT, "train")
        .when(bucket < _SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
    )
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = kept.withColumn(
        "window_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET
        ).cast("bigint"),
    )
    return packed.groupBy("split", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        (F.max("window_id") + 1).cast("bigint").alias("n_windows"),
    )


_CHUNK_W = 64   # chunk size (tokens)
_CHUNK_S = 48   # stride (tokens) -> 16-token overlap between chunks

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
m AS (
  SELECT doc_id, t,
         1 + CAST((GREATEST(len(t) - {_CHUNK_W}, 0) + {_CHUNK_S} - 1)
                  // {_CHUNK_S} AS BIGINT) AS n_chunks
  FROM toks
),
c AS (
  SELECT doc_id, t, UNNEST(range(n_chunks)) AS chunk_id FROM m
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(list_slice(t, chunk_id * {_CHUNK_S} + 1,
                           chunk_id * {_CHUNK_S} + {_CHUNK_W})) AS BIGINT)
         AS n_chunk_tokens,
       MD5(array_to_string(list_slice(t, chunk_id * {_CHUNK_S} + 1,
                                      chunk_id * {_CHUNK_S} + {_CHUNK_W}), ' '))
         AS chunk_fp,
       t[chunk_id * {_CHUNK_S} + 1] AS first_token
FROM c
"""


@register("llm_doc_chunking", oracle=_CHUNK_ORACLE, category="llm")
def llm_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: {_CHUNK_W}-token chunks with a
    {_CHUNK_S}-token stride ({_CHUNK_W - _CHUNK_S} tokens of overlap) —
    the step that turns curated documents into fixed-size training /
    embedding inputs while keeping context across chunk boundaries.

    Entirely NARROW: tokenization, chunk-count arithmetic, the
    `sequence` explode and the per-chunk `slice` are all per-row
    expressions — zero shuffles at any corpus size, so the op scales
    with pure map throughput (and composes with `llm_split_assign` /
    `llm_pack_sequences` downstream without re-partitioning). Chunk
    count = 1 + ceil(max(n_tokens - W, 0) / S) in exact integer
    arithmetic; the final chunk may be short (slice truncates
    identically in both engines). Chunk content is fingerprinted
    (md5 of the re-joined tokens) rather than re-emitted, so the
    verified result stays narrow too.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    m = toks.withColumn(
        "n_chunks",
        (
            F.lit(1)
            + F.expr(
                f"(greatest(size(t) - {_CHUNK_W}, 0) + {_CHUNK_S} - 1) "
                f"div {_CHUNK_S}"
            )
        ).cast("bigint"),
    )
    c = m.select(
        "doc_id",
        "t",
        F.explode(F.expr("sequence(0, n_chunks - 1)")).alias("chunk_id"),
    )
    chunk = F.expr(f"slice(t, chunk_id * {_CHUNK_S} + 1, {_CHUNK_W})")
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
        F.element_at(
            F.col("t"), (F.col("chunk_id") * _CHUNK_S + 1).cast("int")
        ).alias("first_token"),
    )


_STRAT_TRAIN_FRAC = 0.8
_STRAT_VAL_FRAC = 0.9  # cumulative: (0.8, 0.9] = val, rest test

_STRAT_ORACLE = f"""
WITH ranked AS (
  SELECT source, lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk,
         COUNT(*) OVER (PARTITION BY source, lang) AS n
  FROM documents
),
assigned AS (
  SELECT source, lang, doc_id,
         CASE WHEN rk <= FLOOR(n * {_STRAT_TRAIN_FRAC}) THEN 'train'
              WHEN rk <= FLOOR(n * {_STRAT_VAL_FRAC}) THEN 'val'
              ELSE 'test' END AS split
  FROM ranked
)
SELECT source, lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MD5(STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         AS ids_fp
FROM assigned
GROUP BY source, lang, split
"""


@register("llm_stratified_split", oracle=_STRAT_ORACLE, category="llm")
def llm_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED train/val/test split: exact 80/10/10 proportions
    within every (source, lang) stratum — the fix for what plain
    hash-mod splitting (`llm_split_assign`) cannot promise: a rare
    stratum (200 docs of a low-resource language) can land 100% in
    train by hash luck; stratified ranking guarantees every stratum
    contributes to every split at the configured ratio.

    Membership is still fully deterministic and re-run-stable: docs
    rank within their stratum by md5(doc_id) (content-stable, both
    engines byte-identical), and the rank-vs-floor(n*frac) comparison
    is integer. ONE shuffle on the stratum key serves the rank and
    count windows and the summary aggregate; the emitted per-(stratum,
    split) membership fingerprint makes the oracle check cover exact
    membership, not just counts.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wn = Window.partitionBy("source", "lang")
    ranked = d.select(
        "source",
        "lang",
        "doc_id",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    assigned = ranked.select(
        "source",
        "lang",
        "doc_id",
        F.when(
            F.col("rk") <= F.floor(F.col("n") * _STRAT_TRAIN_FRAC), "train"
        )
        .when(F.col("rk") <= F.floor(F.col("n") * _STRAT_VAL_FRAC), "val")
        .otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("source", "lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.md5(
            F.concat_ws(
                ",",
                F.expr("sort_array(collect_list(doc_id))"),
            )
        ).alias("ids_fp"),
    )


_CARD_ORACLE = """
WITH base AS (
  SELECT source, lang, doc_id, n_chars,
         LEN(string_split(text, ' ')) AS toks,
         MD5(text) AS digest
  FROM documents
),
flagged AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY digest
                               ORDER BY doc_id) > 1 AS is_dup
  FROM base
),
per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(toks) AS BIGINT) AS total_tokens,
         ROUND(QUANTILE_CONT(n_chars, 0.5), 1) AS median_chars,
         ROUND(AVG(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 6)
           AS exact_dup_frac
  FROM flagged GROUP BY source
),
lang_rank AS (
  SELECT source, lang,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY COUNT(*) DESC, lang) AS rn
  FROM base GROUP BY source, lang
)
SELECT p.*, l.lang AS top_lang
FROM per_source p JOIN lang_rank l ON l.source = p.source AND l.rn = 1
"""


@register("llm_dataset_card", oracle=_CARD_ORACLE, category="llm")
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card, one row per source: doc count, language spread +
    dominant language, token totals, median length, and the exact-
    duplicate fraction — the per-slice documentation table a corpus
    release ships with (and the dashboard a 100 TB ingest watches per
    crawl).

    Two corpus passes is the floor and this op meets it: the digest
    rank (global exact-dup detection NEEDS a digest-keyed exchange)
    and the per-source aggregate; the dominant-language rank runs on
    the |sources|x|langs| count frame, and its winner row broadcast-
    joins back. Median via exact interpolated percentile — per-source
    value lists are bounded by the source's doc count, and both
    engines interpolate identically.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).alias("toks"),
        F.md5("text").alias("digest"),
    )
    wd = Window.partitionBy("digest").orderBy("doc_id")
    flagged = d.withColumn("is_dup", F.row_number().over(wd) > 1)
    per_source = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.round(F.expr("percentile(n_chars, 0.5D)"), 1).alias(
            "median_chars"
        ),
        F.round(
            F.avg(F.when(F.col("is_dup"), 1.0).otherwise(0.0)), 6
        ).alias("exact_dup_frac"),
    )
    wl = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("lang")
    )
    top_lang = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return per_source.join(F.broadcast(top_lang), "source")


# Fixed "trained" weights for the batch-inference op: a tiny linear
# model over cheap text features. The weights are part of the operator
# contract (inference applies a FROZEN model), so both engines score
# identically.
_INFER_W0 = -1.2        # bias
_INFER_W_TOKS = 0.012   # per token
_INFER_W_AVGLEN = 0.25  # per avg token length
_INFER_THRESHOLD = 0.7

_INFER_ORACLE = f"""
WITH feats AS (
  SELECT doc_id,
         CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS n_toks,
         CAST(n_chars AS DOUBLE) / LEN(string_split(text, ' ')) AS avg_len
  FROM documents
),
scored AS (
  SELECT doc_id,
         ROUND(1.0 / (1.0 + EXP(-({_INFER_W0}
                                  + {_INFER_W_TOKS} * n_toks
                                  + {_INFER_W_AVGLEN} * avg_len))), 6)
           AS score
  FROM feats
)
SELECT doc_id, score, score >= {_INFER_THRESHOLD} AS keep
FROM scored
"""


@register("llm_inference_batch", oracle=_INFER_ORACLE, category="llm")
def llm_inference_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference: score every document with a FROZEN
    linear-sigmoid quality classifier and emit the keep/drop verdict —
    the shape of every learned-filter pass (fastText quality,
    toxicity, educational-value) a curation pipeline runs at full
    corpus scale.

    The model is two dot-product terms + a sigmoid, so inference
    compiles to JVM column math inside whole-stage codegen: zero
    shuffles, zero Python, no model server round-trips. The verdict
    compares the ROUNDED score, so the decision boundary is evaluated
    on identical inputs in both engines. When the real model is an
    embedding MLP instead, only the scoring expression changes — to a
    Pandas-UDF stage like `multimodal_image_decode`'s reader — and
    the narrow plan shape survives.
    """
    d = load_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " ")).cast("double")
    avg_len = F.col("n_chars").cast("double") / n_toks
    z = (
        F.lit(_INFER_W0)
        + F.lit(_INFER_W_TOKS) * n_toks
        + F.lit(_INFER_W_AVGLEN) * avg_len
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return d.select(
        "doc_id",
        score.alias("score"),
        (score >= _INFER_THRESHOLD).alias("keep"),
    )


_CHAT_PROMPT_TOKS = 12
_CHAT_BUDGET = 64   # whitespace-token budget incl. template overhead

_CHAT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
split AS (
  SELECT doc_id, source,
         array_to_string(toks[1 : {_CHAT_PROMPT_TOKS}], ' ') AS prompt,
         array_to_string(toks[{_CHAT_PROMPT_TOKS} + 1 : LEN(toks)], ' ')
           AS response,
         CAST(LEN(toks) AS BIGINT) AS n_toks
  FROM t WHERE LEN(toks) > {_CHAT_PROMPT_TOKS}
),
rendered AS (
  SELECT doc_id, source, n_toks,
         '<|system|>You are a helpful assistant.<|end|>'
         || '<|user|>' || prompt || '<|end|>'
         || '<|assistant|>' || response || '<|end|>' AS chat,
         n_toks + 6 AS n_budget_toks
  FROM split
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_convs,
       CAST(SUM(CASE WHEN n_budget_toks <= {_CHAT_BUDGET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_within_budget,
       CAST(SUM(CASE WHEN n_budget_toks <= {_CHAT_BUDGET}
                     THEN n_budget_toks END) AS BIGINT) AS sum_budget_toks,
       MD5(COALESCE(string_agg(CASE WHEN n_budget_toks <= {_CHAT_BUDGET}
                                    THEN MD5(chat) END, ',' ORDER BY doc_id),
                    '')) AS kept_md5
FROM rendered GROUP BY source
"""


@register("llm_chat_template_export", oracle=_CHAT_ORACLE, category="llm")
def llm_chat_template_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template rendering: split each document into a
    {_CHAT_PROMPT_TOKS}-token prompt and the remaining response,
    render the system/user/assistant template with special tokens,
    account the token budget (template overhead counted), and keep
    conversations within {_CHAT_BUDGET} tokens.  The per-source
    kept_md5 chains the md5 of every RENDERED conversation in doc_id
    order, so a single template/token/order divergence fails the
    check — this is the exact-format contract an SFT export needs
    (silently different special tokens poison a fine-tune).

    Plan: split + render + budget are narrow higher-order/string ops;
    one map-side-combined source aggregate.  Rendered text never
    ships through the comparator — only its digest.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    split = d.filter(F.size("toks") > _CHAT_PROMPT_TOKS).select(
        "doc_id",
        "source",
        F.expr(f"array_join(slice(toks, 1, {_CHAT_PROMPT_TOKS}), ' ')").alias(
            "prompt"
        ),
        F.expr(
            f"array_join(slice(toks, {_CHAT_PROMPT_TOKS} + 1,"
            f" size(toks) - {_CHAT_PROMPT_TOKS}), ' ')"
        ).alias("response"),
        F.size("toks").cast("bigint").alias("n_toks"),
    )
    rendered = split.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("<|system|>You are a helpful assistant.<|end|>"),
            F.lit("<|user|>"),
            F.col("prompt"),
            F.lit("<|end|>"),
            F.lit("<|assistant|>"),
            F.col("response"),
            F.lit("<|end|>"),
        ).alias("chat"),
        (F.col("n_toks") + 6).alias("n_budget_toks"),
    )
    keep = F.col("n_budget_toks") <= _CHAT_BUDGET
    kept_sorted = F.expr(
        "array_join(transform(array_sort(collect_list("
        "  CASE WHEN keep THEN struct(doc_id, chat_md5) END)),"
        " x -> x.chat_md5), ',')"
    )
    return (
        rendered.withColumn("keep", keep)
        .withColumn("chat_md5", F.md5("chat"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_convs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_within_budget"),
            F.sum(F.when(F.col("keep"), F.col("n_budget_toks")))
            .cast("bigint")
            .alias("sum_budget_toks"),
            F.md5(kept_sorted).alias("kept_md5"),
        )
    )


_DPO_GROUPS = 100  # prompt-group count (doc_id % _DPO_GROUPS)

_DPO_ORACLE = f"""
WITH q AS (
  SELECT doc_id, doc_id % {_DPO_GROUPS} AS prompt_id,
         ROUND(0.5 * (CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks))
               + 0.3 * (CAST(LEN(list_filter(toks,
                         x -> x IN ('the', 'a', 'of', 'and', 'to')))
                         AS DOUBLE) / LEN(toks))
               + 0.2 * LEAST(LEN(toks) / 100.0, 1.0), 6) AS quality
  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
        -- NULL text has no quality score: it can be neither chosen
        -- nor rejected, so it leaves the pair universe in both engines
        WHERE text IS NOT NULL)
),
ranked AS (
  SELECT prompt_id, doc_id, quality,
         ROW_NUMBER() OVER (PARTITION BY prompt_id
                            ORDER BY quality DESC, doc_id) AS rn_top,
         ROW_NUMBER() OVER (PARTITION BY prompt_id
                            ORDER BY quality ASC, doc_id DESC) AS rn_bot,
         CAST(COUNT(*) OVER (PARTITION BY prompt_id) AS BIGINT) AS grp_n
  FROM q
)
SELECT a.prompt_id,
       CAST(a.doc_id AS BIGINT) AS chosen_doc,
       CAST(b.doc_id AS BIGINT) AS rejected_doc,
       ROUND(a.quality - b.quality, 6) AS margin
FROM ranked a
JOIN ranked b ON b.prompt_id = a.prompt_id AND b.rn_bot = 1
WHERE a.rn_top = 1 AND a.grp_n >= 2 AND a.doc_id <> b.doc_id
"""


@register("llm_dpo_pairs", oracle=_DPO_ORACLE, category="llm")
def llm_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (DPO/RLHF-style): within each
    prompt group (doc_id % {_DPO_GROUPS} — stand-in for "responses to
    the same prompt"), pair the HIGHEST-quality member (chosen)
    against the LOWEST (rejected) with the quality margin; singleton
    groups can't form a pair and are dropped.  Deterministic
    tiebreaks on both ends (ties at equal quality pick lowest doc_id
    as chosen, highest as rejected, and chosen<>rejected guards the
    all-tied group).

    Plan: quality is the shared narrow pass (`llm_quality_score`'s
    blend); both extreme elections ride ONE prompt_id window exchange
    (two rank orders over the same partitioning — Spark plans one
    sort + two Window nodes, no second shuffle); the chosen/rejected
    join is |groups|-sized.  At 100 TB this is the cheap end of RLHF
    data prep: one keyed exchange over responses.
    """
    from snapshot_s3_util_spark.llm.textstats import llm_quality_score

    # NULL-text docs carry a NULL quality score: excluded from the
    # pair universe in both engines (cannot be chosen or rejected).
    q = (
        llm_quality_score(spark, sf_dir)
        .filter(F.col("quality_score").isNotNull())
        .select(
            "doc_id",
            (F.col("doc_id") % _DPO_GROUPS).alias("prompt_id"),
            F.col("quality_score").alias("quality"),
        )
    )
    w_top = Window.partitionBy("prompt_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    w_bot = Window.partitionBy("prompt_id").orderBy(
        F.col("quality").asc(), F.col("doc_id").desc()
    )
    w_n = Window.partitionBy("prompt_id")
    ranked = q.select(
        "prompt_id",
        "doc_id",
        "quality",
        F.row_number().over(w_top).alias("rn_top"),
        F.row_number().over(w_bot).alias("rn_bot"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("grp_n"),
    )
    a = ranked.filter((F.col("rn_top") == 1) & (F.col("grp_n") >= 2)).select(
        "prompt_id",
        F.col("doc_id").alias("chosen_doc"),
        F.col("quality").alias("q_a"),
    )
    b = ranked.filter(F.col("rn_bot") == 1).select(
        F.col("prompt_id").alias("p2"),
        F.col("doc_id").alias("rejected_doc"),
        F.col("quality").alias("q_b"),
    )
    return (
        a.join(b, a["prompt_id"] == b["p2"])
        .filter(F.col("chosen_doc") != F.col("rejected_doc"))
        .select(
            "prompt_id",
            F.col("chosen_doc").cast("bigint"),
            F.col("rejected_doc").cast("bigint"),
            F.round(F.col("q_a") - F.col("q_b"), 6).alias("margin"),
        )
    )


_SPAN_RATE_MOD = 5   # corrupt every 5th token-position start
_SPAN_LEN = 3        # span width

_SPAN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
marked AS (
  SELECT doc_id, LEN(toks) AS n,
         list_transform(range(LEN(toks)),
           i -> CASE WHEN (CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS STRING)
                            || ':' || CAST(CAST(FLOOR(i / {_SPAN_LEN}) AS BIGINT)
                            AS STRING)), 1, 8))
                            AS BIGINT) % {_SPAN_RATE_MOD}) = 0
                     THEN 1 ELSE 0 END) AS mask
  FROM t
),
stats AS (
  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         CAST(list_sum(mask) AS BIGINT) AS n_masked
  FROM marked
)
SELECT CAST(doc_id % 10 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_masked) AS BIGINT) AS sum_masked,
       ROUND(SUM(n_masked) * 1.0 / SUM(n_tokens), 6) AS mask_rate
FROM stats GROUP BY 1
"""


@register("llm_span_corruption", oracle=_SPAN_ORACLE, category="llm")
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning: partition each document
    into width-{_SPAN_LEN} spans and select ~1/{_SPAN_RATE_MOD} of
    them for masking via a DETERMINISTIC hash of (doc_id, span_idx) —
    the denoising-objective mask that must be re-run-stable so
    checkpointed training jobs resume with identical targets (a
    rand() mask silently changes the objective on every retry).
    Per-bucket token/mask accounting verifies the selection exactly.

    Plan: the mask is a doc-local higher-order transform (zero
    shuffles); one map-side-combined bucket aggregate.  The actual
    sentinel-token rendering (span -> <extra_id_k>) is a further
    narrow map over the mask — accounting, the verifiable part, is
    what the oracle pins.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    marked = d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.expr(
            f"""aggregate(
              transform(sequence(0, size(toks) - 1),
                i -> CASE WHEN cast(conv(substring(md5(concat(
                         CAST(doc_id AS STRING), ':',
                         CAST(i div {_SPAN_LEN} AS STRING))), 1, 8), 16, 10)
                         AS bigint) % {_SPAN_RATE_MOD} = 0
                     THEN 1 ELSE 0 END),
              0L, (a, v) -> a + v)"""
        )
        .cast("bigint")
        .alias("n_masked"),
    )
    return marked.groupBy(
        (F.col("doc_id") % 10).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.sum("n_masked").cast("bigint").alias("sum_masked"),
        F.round(
            F.sum("n_masked") * 1.0 / F.sum("n_tokens"), 6
        ).alias("mask_rate"),
    )


# ------------------------------------------------ WebDataset tar shards

_WDS_SHARDS = 4

_WDS_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id, text,
         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 8)) AS BIGINT)
           % {_WDS_SHARDS} AS shard,
         -- NULL text exports as an EMPTY member (same pin as the
         -- snapshot manifest: absent payloads hash as '', not skipped)
         OCTET_LENGTH(ENCODE(COALESCE(text, ''))) AS sz
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(sz) AS BIGINT) AS member_bytes,
       CAST(CEIL((SUM(512 + CAST(CEIL(sz / 512.0) AS BIGINT) * 512) + 1024)
                 / 10240.0) AS BIGINT) * 10240 AS tar_len,
       MD5(STRING_AGG(LPAD(CAST(doc_id AS STRING), 8, '0') || '.txt:'
                      || MD5(COALESCE(text, '')), '' ORDER BY doc_id))
         AS members_fp
FROM assigned
GROUP BY shard
"""


@register("llm_webdataset_export", oracle=_WDS_ORACLE, category="sink")
def llm_webdataset_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style training-shard export: documents hash-assigned
    to tar shards, each shard built as a REAL ustar archive (stdlib
    `tarfile`, one `<doc_id>.txt` member per document, deterministic
    headers: mtime 0, uid/gid 0, empty uname/gname) and then PARSED
    BACK by an independent reader stage that re-extracts every member.

    The oracle predicts the archive in closed form — member count,
    payload bytes, the members fingerprint (name:md5 chained in
    doc_id order), and the EXACT tar byte length from the ustar
    framing arithmetic (512 B header + 512-padded payload per member,
    1024 B end-of-archive, record-padded to 10240) — so a single
    drifted header byte or lost member fails the hash.

    Scale shape: shard assignment is the same content-stable md5 as
    `llm_split_assign` (re-run stable, no repartition lottery); each
    shard builds independently inside one `applyInPandas` group —
    |shards| tasks, no driver involvement; the reader is an
    Arrow-batched `mapInPandas` over shard blobs, the same plumbing
    as the multimodal codec quartet.
    """
    import hashlib
    import io
    import tarfile
    from typing import Iterator

    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.expr(
            f"cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10)"
            f" AS bigint) % {_WDS_SHARDS}"
        ).alias("shard"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text -> empty member (matches the oracle's
                # COALESCE): the doc keeps its slot in the archive
                payload = (text if isinstance(text, str) else "").encode(
                    "utf-8"
                )
                info = tarfile.TarInfo(name=f"{doc_id:08d}.txt")
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(payload))
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "tar": [buf.getvalue()]}
        )

    shards = d.groupBy("shard").applyInPandas(build, "shard long, tar binary")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for shard, blob in zip(pdf["shard"], pdf["tar"]):
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                    parts = []
                    total = 0
                    n = 0
                    for m in sorted(tf.getmembers(), key=lambda m: m.name):
                        data = tf.extractfile(m).read()
                        total += len(data)
                        n += 1
                        parts.append(
                            f"{m.name}:{hashlib.md5(data).hexdigest()}"
                        )
                    fp = hashlib.md5("".join(parts).encode()).hexdigest()
                rows.append((int(shard), n, total, len(blob), fp))
            yield pd.DataFrame(
                rows,
                columns=[
                    "shard",
                    "n_members",
                    "member_bytes",
                    "tar_len",
                    "members_fp",
                ],
            )

    return shards.mapInPandas(
        parse,
        "shard long, n_members long, member_bytes long, tar_len long,"
        " members_fp string",
    )


# ------------------------------------------------ epoch reshuffle

_SHUFFLE_EPOCHS = 3
_SHUFFLE_SHARDS = 4

_SHUFFLE_ORACLE = f"""
WITH e AS (SELECT UNNEST(generate_series(0, {_SHUFFLE_EPOCHS - 1})) AS epoch),
a AS (
  SELECT e.epoch,
         d.doc_id % {_SHUFFLE_SHARDS} AS shard,
         d.doc_id,
         MD5(CAST(e.epoch AS STRING) || ':' || CAST(d.doc_id AS STRING)) AS h
  FROM documents d, e
)
SELECT epoch, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ARRAY_TO_STRING((LIST(doc_id ORDER BY h, doc_id))[1:3], ',')
         AS first3,
       MD5(STRING_AGG(CAST(doc_id AS STRING), ',' ORDER BY h, doc_id))
         AS perm_fp
FROM a GROUP BY epoch, shard
"""


@register("llm_shuffle_epochs", oracle=_SHUFFLE_ORACLE, category="llm")
def llm_shuffle_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-data reshuffle: each epoch
    re-orders every shard's documents by md5(epoch:doc_id) — a fresh,
    content-stable permutation per epoch.  This is the data-loader
    order a 100 TB training run needs: re-runs and resumed jobs see
    the SAME epoch-k order (a `rand()` shuffle reshuffles on every
    retry and silently changes the curriculum), yet consecutive
    epochs are decorrelated.  Per (epoch, shard): count, the first 3
    documents, and the full-permutation fingerprint.

    Plan: the |epochs| multiplier is a broadcast nested-loop over a
    3-row frame applied BEFORE the single (epoch, shard) exchange;
    ordering happens inside the aggregate (sorted struct transform),
    not as a global sort.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_SHUFFLE_EPOCHS).select(F.col("id").alias("epoch"))
    a = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        (F.col("doc_id") % _SHUFFLE_SHARDS).alias("shard"),
        "doc_id",
        F.md5(
            F.concat_ws(
                ":",
                F.col("epoch").cast("string"),
                F.col("doc_id").cast("string"),
            )
        ).alias("h"),
    )
    ordered = F.expr(
        "transform(array_sort(collect_list(struct(h, doc_id))),"
        " s -> cast(s.doc_id AS string))"
    )
    return a.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.array_join(F.slice(ordered, 1, 3), ",").alias("first3"),
        F.md5(F.array_join(ordered, ",")).alias("perm_fp"),
    )


# ------------------------------------------------ curriculum phases

_CURR_WARMUP_PCT = 20   # easiest 20% first
_CURR_ANNEAL_PCT = 15   # hardest-quality 15% last

_CURR_ORACLE = f"""
WITH m AS (
  SELECT doc_id, source,
         CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(LEN(LIST_DISTINCT(string_split(text, ' '))) AS BIGINT)
           AS n_distinct
  FROM documents
  -- NULL text has no difficulty score: excluded from the curriculum
  -- (an unscored doc cannot be placed on the easy->hard ramp)
  WHERE text IS NOT NULL
),
scored AS (
  SELECT doc_id, source, n_tokens,
         -- difficulty: longer and lexically denser reads harder
         n_tokens * 1000 + n_distinct AS difficulty,
         ROW_NUMBER() OVER (ORDER BY n_tokens * 1000 + n_distinct, doc_id)
           AS rnk,
         COUNT(*) OVER () AS n
  FROM m
),
phased AS (
  SELECT doc_id, source, n_tokens,
         CASE WHEN rnk * 100 <= n * {_CURR_WARMUP_PCT} THEN 'warmup'
              WHEN rnk * 100 > n * (100 - {_CURR_ANNEAL_PCT}) THEN 'anneal'
              ELSE 'main' END AS phase
  FROM scored
)
SELECT phase, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM phased GROUP BY phase, source
"""


@register("llm_curriculum_phases", oracle=_CURR_ORACLE, category="llm")
def llm_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum phase assignment: rank documents by a deterministic
    difficulty key (length-dominant, lexical-diversity tiebreak) and
    cut the corpus into warmup ({_CURR_WARMUP_PCT}% easiest) → main →
    anneal (final {_CURR_ANNEAL_PCT}%) — the phase plan a curriculum/
    annealing training run feeds its sampler (easy-first warmup,
    quality-heavy anneal; cf. the staged-data recipes behind modern
    pretraining runs).  Per (phase, source): docs, token budget, and
    the first document.

    The percentile cuts use integer cross-multiplication
    (rnk·100 ≤ n·pct — no float percentile boundary), so phase
    membership is exact on both engines.

    Plan: difficulty is narrow; the exact global rank and corpus count
    come from the two-pass range-partitioned rank
    (`plans.rank.global_order_stats`) — one range exchange + an
    npart-row broadcast ledger, no single-partition window at any
    corpus size.
    """
    # NULL text has no difficulty score: excluded in both engines.
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("toks", F.split("text", " "))
    )
    m = d.select(
        "doc_id",
        "source",
        F.expr("size(toks)").cast("bigint").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").cast("bigint").alias(
            "n_distinct"
        ),
    )
    diff = F.col("n_tokens") * 1000 + F.col("n_distinct")
    scored = global_order_stats(
        m, [diff, "doc_id"], rn="rnk", ntotal="n"
    )
    phased = scored.withColumn(
        "phase",
        F.when(
            F.col("rnk") * 100 <= F.col("n") * _CURR_WARMUP_PCT, "warmup"
        )
        .when(
            F.col("rnk") * 100 > F.col("n") * (100 - _CURR_ANNEAL_PCT),
            "anneal",
        )
        .otherwise("main"),
    )
    return phased.groupBy("phase", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


# ------------------------------------------------ linear probe (ridge)

_PROBE_LAMBDA = 1.0  # ridge regularizer

_PROBE_ORACLE = f"""
WITH feat AS (
  SELECT doc_id,
         CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 100 AS x1,
         CAST(LEN(LIST_DISTINCT(string_split(text, ' '))) AS DOUBLE)
           / LEN(string_split(text, ' ')) AS x2,
         CASE WHEN LEN(string_split(text, ' ')) BETWEEN 20 AND 1000
                   AND CAST(LEN(LIST_DISTINCT(string_split(text, ' ')))
                            AS DOUBLE) / LEN(string_split(text, ' '))
                       >= 0.2
              THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x1 * x1) + {_PROBE_LAMBDA} AS a11,
         SUM(x1 * x2) AS a12,
         SUM(x2 * x2) + {_PROBE_LAMBDA} AS a22,
         SUM(x1 * y) AS b1,
         SUM(x2 * y) AS b2,
         SUM(y) AS n_pos
  FROM feat
),
solved AS (
  SELECT n, n_pos,
         (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS w1,
         (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS w2
  FROM m
),
scored AS (
  -- score with the ROUNDED weights: raw w1/w2 differ between engines
  -- in last ulps (partial-aggregate order), and an unrounded >= 0.5
  -- threshold would make boundary docs classify differently
  SELECT s.n, s.n_pos, s.w1, s.w2,
         CAST(SUM(CASE WHEN (f.x1 * ROUND(s.w1, 6) + f.x2 * ROUND(s.w2, 6)
                             >= 0.5) = (f.y = 1.0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM feat f, solved s
  GROUP BY s.n, s.n_pos, s.w1, s.w2
)
SELECT n AS n_docs,
       CAST(n_pos AS BIGINT) AS n_positive,
       ROUND(w1, 6) AS w_length,
       ROUND(w2, 6) AS w_distinct,
       n_correct,
       ROUND(CAST(n_correct AS DOUBLE) / n, 4) AS train_accuracy
FROM scored
"""


@register("llm_train_linear_probe", oracle=_PROBE_ORACLE, category="llm")
def llm_train_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a model inside the engine: closed-form ridge regression
    (normal equations, 2×2 Cramer solve, λ={_PROBE_LAMBDA}) of the
    quality label on (scaled length, distinct-ratio) features, then
    score the training set — the linear-probe discipline (cheap
    supervised readout over features) and the in-engine counterpart
    of `llm_inference_batch`'s FROZEN classifier: that op applies
    weights, this one derives them from data, distributed, no
    gradient loop.

    XᵀX and Xᵀy accumulate in ONE map-side-combined aggregate (double
    sums of identical operands in identical order per engine —
    deterministic); the solve is algebra on the 1-row moment frame;
    scoring re-joins the broadcast weights for one more narrow pass.

    Plan: 2 scans total (moments, scoring), no shuffle beyond two
    single-row reduces.
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    feat = d.select(
        (F.expr("size(toks)").cast("double") / 100).alias("x1"),
        (
            F.expr("size(array_distinct(toks))").cast("double")
            / F.expr("size(toks)")
        ).alias("x2"),
        F.when(
            F.expr("size(toks)").between(20, 1000)
            & (
                F.expr("size(array_distinct(toks))").cast("double")
                / F.expr("size(toks)")
                >= 0.2
            ),
            1.0,
        )
        .otherwise(0.0)
        .alias("y"),
    )
    m = feat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("x1") * F.col("x1")) + _PROBE_LAMBDA).alias("a11"),
        F.sum(F.col("x1") * F.col("x2")).alias("a12"),
        (F.sum(F.col("x2") * F.col("x2")) + _PROBE_LAMBDA).alias("a22"),
        F.sum(F.col("x1") * F.col("y")).alias("b1"),
        F.sum(F.col("x2") * F.col("y")).alias("b2"),
        F.sum("y").alias("n_pos"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    solved = m.select(
        "n",
        "n_pos",
        ((F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det).alias(
            "w1"
        ),
        ((F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det).alias(
            "w2"
        ),
    )
    scored = feat.crossJoin(F.broadcast(solved)).agg(
        F.max("n").alias("n"),
        F.max("n_pos").alias("n_pos"),
        F.max("w1").alias("w1"),
        F.max("w2").alias("w2"),
        F.sum(
            F.when(
                (
                    (
                        F.col("x1") * F.round(F.col("w1"), 6)
                        + F.col("x2") * F.round(F.col("w2"), 6)
                    )
                    >= 0.5
                )
                == (F.col("y") == 1.0),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
    )
    return scored.select(
        F.col("n").alias("n_docs"),
        F.col("n_pos").cast("bigint").alias("n_positive"),
        F.round("w1", 6).alias("w_length"),
        F.round("w2", 6).alias("w_distinct"),
        "n_correct",
        F.round(F.col("n_correct").cast("double") / F.col("n"), 4).alias(
            "train_accuracy"
        ),
    )


# --- Bradley-Terry preference-strength fit --------------------------
_BT_GROUPS = 100   # prompt groups (doc_id % _BT_GROUPS)
_BT_ITERS = 3      # unrolled MM iterations (fixed, so the oracle is exact)


def _bt_oracle() -> str:
    """Unroll the regularized Bradley-Terry MM iteration as CTEs."""
    sql = f"""
WITH q AS MATERIALIZED (
  SELECT doc_id, source,
         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 9, 8))
              AS BIGINT) % {_BT_GROUPS} AS prompt_id,
         ROUND(0.5 * (CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks))
               + 0.3 * (CAST(LEN(list_filter(toks,
                         x -> x IN ('the', 'a', 'of', 'and', 'to')))
                         AS DOUBLE) / LEN(toks))
               + 0.2 * LEAST(LEN(toks) / 100.0, 1.0), 6) AS quality
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
        FROM documents)
),
ranked AS MATERIALIZED (
  SELECT prompt_id, doc_id, source, quality,
         ROW_NUMBER() OVER (PARTITION BY prompt_id
                            ORDER BY quality DESC, doc_id) AS rn
  FROM q
),
comps AS MATERIALIZED (
  SELECT a.source AS win_src, b.source AS lose_src
  FROM ranked a JOIN ranked b
    ON b.prompt_id = a.prompt_id AND b.rn = a.rn + 1
  WHERE a.source <> b.source
),
cells AS MATERIALIZED (
  SELECT i, j, CAST(SUM(n) AS DOUBLE) AS n
  FROM (
    SELECT win_src AS i, lose_src AS j, COUNT(*) AS n
    FROM comps GROUP BY 1, 2
    UNION ALL
    SELECT lose_src AS i, win_src AS j, COUNT(*) AS n
    FROM comps GROUP BY 1, 2
  ) GROUP BY i, j
),
wins AS MATERIALIZED (
  SELECT s.i AS source,
         CAST(COALESCE(w.wins, 0) AS DOUBLE) AS wins,
         CAST(tot.n AS DOUBLE) AS n_sources
  FROM (SELECT DISTINCT i FROM cells) s
  LEFT JOIN (SELECT win_src AS i, COUNT(*) AS wins
             FROM comps GROUP BY 1) w ON w.i = s.i
  CROSS JOIN (SELECT COUNT(DISTINCT i) AS n FROM cells) tot
),
p0 AS MATERIALIZED (
  SELECT source, 1.0 / n_sources AS p, n_sources FROM wins
)"""
    prev = "p0"
    for k in range(1, _BT_ITERS + 1):
        sql += f""",
r{k}raw AS MATERIALIZED (
  SELECT w.source,
         (w.wins + 0.5) /
         (COALESCE(SUM(c.n / (pi.p + pj.p)), 0)
          + 1.0 / (pi_self.p + 1.0 / w.n_sources)) AS p,
         w.n_sources
  FROM wins w
  JOIN {prev} pi_self ON pi_self.source = w.source
  LEFT JOIN cells c ON c.i = w.source
  LEFT JOIN {prev} pi ON pi.source = c.i
  LEFT JOIN {prev} pj ON pj.source = c.j
  GROUP BY w.source, w.wins, w.n_sources, pi_self.p
),
r{k} AS MATERIALIZED (
  SELECT source, p / (SELECT SUM(p) FROM r{k}raw) AS p, n_sources
  FROM r{k}raw
)"""
        prev = f"r{k}"
    sql += f"""
SELECT w.source,
       CAST(w.wins AS BIGINT) AS wins,
       CAST(n.n_comps AS BIGINT) AS comparisons,
       ROUND(p.p, 6) AS bt_strength,
       CAST(ROW_NUMBER() OVER (ORDER BY p.p DESC, w.source)
            AS BIGINT) AS bt_rank
FROM wins w
JOIN {prev} p ON p.source = w.source
JOIN (SELECT i, CAST(SUM(n) AS BIGINT) AS n_comps
      FROM cells GROUP BY i) n ON n.i = w.source
"""
    return sql


@register("llm_bt_preference_fit", oracle=_bt_oracle(), category="llm")
def llm_bt_preference_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength fit over SOURCES from pairwise quality
    preferences — the arena/reward-model analysis primitive: within
    each prompt group (doc_id % {_BT_GROUPS}), adjacent-rank documents
    from different sources form one comparison (Swiss-style pairing —
    LINEAR in corpus size, unlike all-pairs which is quadratic in
    group size), the quality-ranked winner takes it, and {_BT_ITERS}
    fixed MM iterations (Hunter 2004: p_i <- W_i / Σ_j n_ij/(p_i+p_j),
    renormalized) fit the latent strengths.  Regularized with half a
    virtual win and one virtual draw against a fixed 1/|S| reference
    so zero-win sources stay positive (the standard MM degeneracy
    guard); fixed iteration count keeps the oracle exact, the
    `graph_pagerank` discipline.

    Plan: quality + rank ride one prompt_id window exchange;
    comparisons are a self-join on (prompt, rank+1) — 1 row per
    ranked neighbor, never a group cross join; everything after the
    cell aggregate runs on the |sources|²-bounded cell frame
    (catalog-sized), so the MM loop shuffles kilobytes regardless of
    corpus size.
    """
    from snapshot_s3_util_spark.llm.textstats import llm_quality_score

    q = llm_quality_score(spark, sf_dir).select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8),
                16,
                10,
            ).cast("bigint")
            % _BT_GROUPS
        ).alias("prompt_id"),
        F.col("quality_score").alias("quality"),
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    qd = q.join(src, "doc_id")
    w = Window.partitionBy("prompt_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ranked = qd.select(
        "prompt_id", "doc_id", "source", F.row_number().over(w).alias("rn")
    )
    a = ranked.select("prompt_id", F.col("source").alias("win_src"), "rn")
    b = ranked.select(
        "prompt_id",
        F.col("source").alias("lose_src"),
        (F.col("rn") - 1).alias("rn"),
    )
    comps = a.join(b, ["prompt_id", "rn"]).filter(
        F.col("win_src") != F.col("lose_src")
    )
    dir_cells = comps.groupBy("win_src", "lose_src").agg(
        F.count(F.lit(1)).alias("n")
    )
    cells = (
        dir_cells.select(
            F.col("win_src").alias("i"), F.col("lose_src").alias("j"), "n"
        )
        .unionByName(
            dir_cells.select(
                F.col("lose_src").alias("i"), F.col("win_src").alias("j"), "n"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("n").cast("double").alias("n"))
        .localCheckpoint(eager=True)
    )
    srcs = cells.select("i").distinct()
    n_sources = srcs.count()  # catalog-sized scalar
    wins = (
        srcs.withColumnRenamed("i", "source")
        .join(
            comps.groupBy("win_src")
            .agg(F.count(F.lit(1)).cast("double").alias("wins"))
            .withColumnRenamed("win_src", "source"),
            "source",
            "left",
        )
        .select("source", F.coalesce("wins", F.lit(0.0)).alias("wins"))
        .localCheckpoint(eager=True)
    )
    p = wins.select("source", F.lit(1.0 / n_sources).alias("p"))
    w_all = Window.partitionBy()
    for _ in range(_BT_ITERS):
        denom = (
            cells.join(p.withColumnRenamed("source", "i").withColumnRenamed("p", "pi"), "i")
            .join(
                p.select(F.col("source").alias("j"), F.col("p").alias("pj")),
                "j",
            )
            .groupBy("i")
            .agg(F.sum(F.col("n") / (F.col("pi") + F.col("pj"))).alias("d"))
            .withColumnRenamed("i", "source")
        )
        raw = (
            wins.join(p, "source")
            .join(denom, "source", "left")
            .select(
                "source",
                (
                    (F.col("wins") + 0.5)
                    / (
                        F.coalesce(F.col("d"), F.lit(0.0))
                        + 1.0 / (F.col("p") + 1.0 / n_sources)
                    )
                ).alias("p"),
            )
        )
        p = raw.select(
            "source", (F.col("p") / F.sum("p").over(w_all)).alias("p")
        ).localCheckpoint(eager=True)
    n_comps = cells.groupBy("i").agg(
        F.sum("n").cast("bigint").alias("comparisons")
    ).withColumnRenamed("i", "source")
    wr = Window.orderBy(F.col("p").desc(), F.col("source"))
    return (
        wins.join(p, "source")
        .join(n_comps, "source")
        .select(
            "source",
            F.col("wins").cast("bigint").alias("wins"),
            "comparisons",
            F.round("p", 6).alias("bt_strength"),
            F.row_number().over(wr).cast("bigint").alias("bt_rank"),
        )
    )


# ------------------------------------------------ split SRM check
# Expected split mass under the md5-mod-100 rule of llm_split_assign.
_SRM_EXP = {"train": 0.90, "val": 0.05, "test": 0.05}
_SRM_CHI2_CRIT = 5.991  # chi-square 0.95 quantile, df = 2

_SRM_ORACLE = f"""
WITH assign AS (
  SELECT CASE WHEN b < {_SPLIT_TRAIN_PCT} THEN 'train'
              WHEN b < {_SPLIT_VAL_PCT}   THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS b
        FROM documents)
),
obs AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_obs FROM assign GROUP BY split
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT o.split, o.n_obs,
         t.n * CASE o.split WHEN 'train' THEN {_SRM_EXP['train']}
                            WHEN 'val'   THEN {_SRM_EXP['val']}
                            ELSE {_SRM_EXP['test']} END AS n_exp
  FROM obs o CROSS JOIN tot t
),
chi AS (
  SELECT SUM(POW(n_obs - n_exp, 2) / n_exp) AS chi2 FROM cells
)
SELECT c.split, c.n_obs,
       CAST(ROUND(c.n_exp, 2) AS DOUBLE) AS n_expected,
       ROUND(chi.chi2, 6) AS chi2,
       chi.chi2 > {_SRM_CHI2_CRIT} AS srm_detected
FROM cells c CROSS JOIN chi
ORDER BY c.split
"""


@register("llm_split_srm_check", oracle=_SRM_ORACLE, category="llm")
def llm_split_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check on `llm_split_assign`'s
    train/val/test assignment: chi-square goodness-of-fit of observed
    split counts against the designed 90/5/5 mass, alarming above the
    df=2 0.95 critical value {_SRM_CHI2_CRIT} — the FIRST gate an
    experimentation/eval pipeline runs, because a biased splitter
    invalidates every downstream comparison before a single metric is
    read.  (On the hash-mod rule this measures the md5 bucketing's
    uniformity; a real SRM fires when filtering after assignment
    removes rows asymmetrically.)

    Plan: the assignment is the same zero-shuffle hash map as the
    split op; one 3-row map-side-combined groupBy, the chi-square is
    a 3-row reduce broadcast back.  One corpus scan total.
    """
    d = load_table(spark, sf_dir, "documents")
    b = F.expr(
        "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint)"
        " % 100"
    )
    obs = (
        d.select(
            F.when(b < _SPLIT_TRAIN_PCT, "train")
            .when(b < _SPLIT_VAL_PCT, "val")
            .otherwise("test")
            .alias("split")
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    exp = (
        F.when(F.col("split") == "train", _SRM_EXP["train"])
        .when(F.col("split") == "val", _SRM_EXP["val"])
        .otherwise(_SRM_EXP["test"])
    )
    cells = obs.crossJoin(F.broadcast(tot)).select(
        "split", "n_obs", (F.col("n") * exp).alias("n_exp")
    )
    chi = cells.agg(
        F.sum(F.pow(F.col("n_obs") - F.col("n_exp"), 2) / F.col("n_exp")).alias(
            "chi2"
        )
    )
    return (
        cells.crossJoin(F.broadcast(chi))
        .select(
            "split",
            "n_obs",
            F.round("n_exp", 2).alias("n_expected"),
            F.round("chi2", 6).alias("chi2"),
            (F.col("chi2") > _SRM_CHI2_CRIT).alias("srm_detected"),
        )
        .orderBy("split")
    )
