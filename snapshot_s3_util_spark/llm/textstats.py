"""Text-analysis operators for LLM training-data curation.

Per-document statistics, corpus profiling, heuristic language ID,
quality scoring, token counting (whitespace + BPE-ish estimate) and
rolling-hash fingerprinting — all expressed with built-in higher-order
functions (JVM codegen, no UDFs), so each is a narrow map + at most one
aggregation shuffle regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_table
from snapshot_s3_util_spark.plans.rank import global_order_stats
from snapshot_s3_util_spark.registry import register


# Contamination check: docs with doc_id < this bound act as the held-out
# benchmark/eval set; any other doc sharing word n-grams with them is a
# train/test leak. A fixed id-range keeps both engines' "benchmark"
# identical and deterministic.
_BENCH_DOCS = 20
_CONTAM_NGRAM = 3
_CONTAM_SEVERE = 5  # shared distinct grams at/above which the doc is dropped


_CONTAM_GRAMS = """
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, len(t) - {n} + 2),
                i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents {pred})
  WHERE len(t) >= {n}
"""

_CONTAM_ORACLE = f"""
WITH bench AS (
  SELECT DISTINCT g
  FROM ({_CONTAM_GRAMS.format(n=_CONTAM_NGRAM, pred=f'WHERE doc_id < {_BENCH_DOCS}')})
),
corpus AS (
  {_CONTAM_GRAMS.format(n=_CONTAM_NGRAM, pred=f'WHERE doc_id >= {_BENCH_DOCS}')}
)
SELECT c.doc_id,
       COUNT(*) AS n_shared_grams,
       COUNT(*) >= {_CONTAM_SEVERE} AS drop_doc
FROM corpus c JOIN bench b ON c.g = b.g
GROUP BY c.doc_id
"""


@register("llm_contamination_ngram", oracle=_CONTAM_ORACLE, category="llm")
def llm_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: flag training docs sharing word
    {_CONTAM_NGRAM}-grams with the held-out set (doc_id < {_BENCH_DOCS}).

    The decontamination pass every serious pre-training pipeline runs
    before export. The benchmark gram set is tiny relative to the corpus
    and is BROADCAST, so corpus grams never shuffle for the match — the
    only exchange is the per-doc count over matched rows (a vanishing
    fraction of the corpus). Emits one row per contaminated doc with
    the shared-gram count and the >= {_CONTAM_SEVERE}-gram drop verdict.
    """
    d = load_table(spark, sf_dir, "documents")

    def grams(df: DataFrame) -> DataFrame:
        toks = df.select("doc_id", F.split("text", " ").alias("t")).filter(
            F.size("t") >= _CONTAM_NGRAM
        )
        # per-doc dedup via array_distinct BEFORE the explode: a narrow
        # map, where .distinct() on the exploded (doc_id, g) stream
        # would shuffle every corpus gram — the 100 TB difference
        return toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(t) - {_CONTAM_NGRAM} + 1), "
                        "i -> concat(element_at(t, i), ' ', element_at(t, i+1), ' ', "
                        "element_at(t, i+2)))"
                    )
                )
            ).alias("g"),
        )

    bench = grams(d.filter(F.col("doc_id") < _BENCH_DOCS)).select("g").distinct()
    corpus = grams(d.filter(F.col("doc_id") >= _BENCH_DOCS))
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .select(
            "doc_id",
            "n_shared_grams",
            (F.col("n_shared_grams") >= _CONTAM_SEVERE).alias("drop_doc"),
        )
    )


@register(
    "llm_text_stats",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(LEN(toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(LIST_AGGREGATE(list_transform(toks, x -> LENGTH(x)), 'sum')
                      AS DOUBLE) / LEN(toks), 6) AS avg_token_len,
           ROUND(CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks), 6)
             AS distinct_ratio,
           CAST(LIST_AGGREGATE(list_transform(toks, x -> LENGTH(x)), 'max') AS BIGINT)
             AS max_token_len
    FROM t
    """,
    category="llm",
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token count, mean/max token length, distinct-token ratio."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("bigint").alias("n_tokens"),
        F.round(
            F.expr(
                "cast(aggregate(transform(split(text, ' '), x -> length(x)), 0, "
                "(a, v) -> a + v) AS double) / size(split(text, ' '))"
            ),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.expr(
                "cast(size(array_distinct(split(text, ' '))) AS double) "
                "/ size(split(text, ' '))"
            ),
            6,
        ).alias("distinct_ratio"),
        F.expr(
            "aggregate(transform(split(text, ' '), x -> length(x)), 0, "
            "(a, v) -> greatest(a, v))"
        )
        .cast("bigint")
        .alias("max_token_len"),
    )


@register(
    "llm_lang_profile",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(QUANTILE_CONT(n_chars, 0.5), 6) AS median_chars,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
    category="llm",
)
def llm_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): volume + length distribution."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


# Heuristic language ID: score each language by stopword occurrences,
# argmax with a fixed tiebreak order. The scoring CASE is shared
# verbatim between engines. (On this synthetic word-soup corpus the
# signal is weak — the op's value is the deterministic pipeline shape.)
_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "zu"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
    "zh": ("de", "le", "shi", "bu", "wo"),
}


def _count_expr(words: tuple[str, ...], list_fn: str, len_fn: str) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"{len_fn}({list_fn}(toks, x -> x IN ({lst})))"


_ARGMAX_CASE = """
CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
     WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
     WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
     WHEN c_fr >= c_zh THEN 'fr'
     ELSE 'zh' END
"""

_LANG_ID_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
scored AS (
  SELECT doc_id, lang,
         {", ".join(f"CAST({_count_expr(ws, 'list_filter', 'LEN')} AS BIGINT) AS c_{lang}" for lang, ws in _STOPWORDS.items())}
  FROM t)
SELECT doc_id, lang, c_en, c_de, c_es, c_fr, c_zh,
       {_ARGMAX_CASE} AS predicted_lang
FROM scored
"""


@register("llm_lang_id", oracle=_LANG_ID_ORACLE, category="llm")
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language identification (n-gram-free heuristic).

    Real corpora: per-language stopword hit counts dominate quickly;
    prediction = argmax with fixed tiebreak. Pure higher-order-function
    pipeline — scales as a narrow map.
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    for lang, ws in _STOPWORDS.items():
        d = d.withColumn(
            f"c_{lang}",
            F.expr(_count_expr(ws, "filter", "size")).cast("bigint"),
        )
    return d.select(
        "doc_id",
        "lang",
        "c_en",
        "c_de",
        "c_es",
        "c_fr",
        "c_zh",
        F.expr(_ARGMAX_CASE).alias("predicted_lang"),
    )


_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id, n_chars,
         CAST(LEN(toks) AS BIGINT) AS n_tokens,
         CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) AS distinct_ratio,
         CAST(LEN(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to')))
              AS DOUBLE) / LEN(toks) AS stopword_ratio,
         CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
           / LENGTH(text) AS space_ratio
  FROM t)
SELECT doc_id, n_tokens,
       ROUND(distinct_ratio, 6) AS distinct_ratio,
       ROUND(stopword_ratio, 6) AS stopword_ratio,
       ROUND(0.5 * distinct_ratio + 0.3 * stopword_ratio
             + 0.2 * LEAST(n_tokens / 100.0, 1.0), 6) AS quality_score,
       (n_tokens BETWEEN 20 AND 1000 AND distinct_ratio >= 0.2) AS keep
FROM m
"""


@register("llm_quality_score", oracle=_QUALITY_ORACLE, category="llm")
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality score + keep/drop gate.

    The C4/Gopher-style filter shape: lexical-diversity ratio, stopword
    density, length band — combined into one score and a boolean gate
    the pipeline filters on.
    """
    d = load_table(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    m = d.select(
        "doc_id",
        F.expr("size(toks)").cast("bigint").alias("n_tokens"),
        F.expr("cast(size(array_distinct(toks)) AS double) / size(toks)").alias("dr"),
        F.expr(
            "cast(size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to'))) "
            "AS double) / size(toks)"
        ).alias("sr"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        F.round("dr", 6).alias("distinct_ratio"),
        F.round("sr", 6).alias("stopword_ratio"),
        F.round(
            0.5 * F.col("dr") + 0.3 * F.col("sr")
            + 0.2 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0)),
            6,
        ).alias("quality_score"),
        (F.col("n_tokens").between(20, 1000) & (F.col("dr") >= 0.2)).alias("keep"),
    )


@register(
    "llm_token_count",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(LEN(toks) AS BIGINT) AS n_ws_tokens,
           CAST(LIST_AGGREGATE(list_transform(toks, x -> CAST(CEIL(LENGTH(x) / 4.0) AS BIGINT)),
                'sum') AS BIGINT) AS n_bpe_est,
           CAST(LIST_AGGREGATE(list_transform(toks, x -> LENGTH(x)), 'sum') AS BIGINT)
             AS n_chars_tokens
    FROM t
    """,
    category="llm",
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword estimate
    (ceil(len/4) per word — the ~4-chars-per-token rule used for
    budget accounting when the real tokenizer is too expensive to run
    over 100 TB).
    """
    d = load_table(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    return d.select(
        "doc_id",
        F.expr("size(toks)").cast("bigint").alias("n_ws_tokens"),
        F.expr(
            "aggregate(transform(toks, x -> cast(ceil(length(x) / 4.0) AS bigint)), "
            "0L, (a, v) -> a + v)"
        )
        .cast("bigint")
        .alias("n_bpe_est"),
        F.expr("aggregate(transform(toks, x -> length(x)), 0, (a, v) -> a + v)")
        .cast("bigint")
        .alias("n_chars_tokens"),
    )


_FP_WINDOW = 8  # char-gram width
_FP_KEEP = 3    # sketch size

_FINGERPRINT_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         list_sort(list_transform(range(1, LENGTH(text) - {_FP_WINDOW} + 2),
                   i -> MD5(SUBSTR(text, CAST(i AS INTEGER), {_FP_WINDOW})))) AS hs
  FROM documents
  WHERE LENGTH(text) >= {_FP_WINDOW}
)
SELECT doc_id,
       MD5(ARRAY_TO_STRING(LIST_SLICE(hs, 1, {_FP_KEEP}), ',')) AS fingerprint,
       ARRAY_TO_STRING(LIST_SLICE(hs, 1, {_FP_KEEP}), ',') AS sketch
FROM g
"""


@register("llm_fingerprint", oracle=_FINGERPRINT_ORACLE, category="llm")
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-lite).

    All overlapping {_FP_WINDOW}-char grams are hashed; the {_FP_KEEP}
    smallest hashes form the sketch and their digest the fingerprint —
    stable under small edits anywhere else in the document, which is
    what makes it a near-dup blocking key. Narrow map; no shuffle.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= _FP_WINDOW
    )
    hs = F.expr(
        f"array_sort(transform(sequence(1, length(text) - {_FP_WINDOW} + 1), "
        f"i -> md5(substring(text, i, {_FP_WINDOW}))))"
    )
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(",", F.slice(hs, 1, _FP_KEEP))).alias("fingerprint"),
        # array_join-serialized: raw arrays crash the driver's canonicalizer
        F.array_join(F.slice(hs, 1, _FP_KEEP), ",").alias("sketch"),
    )


# Gopher-style repetition thresholds: flag a doc when its most frequent
# word exceeds this share of all tokens, or its duplicated-bigram share
# crosses the band below.  Flags computed on the ROUND(6) values so the
# keep decision can never diverge between engines on a borderline ulp.
_REP_TOP_WORD_MAX = 0.20
_REP_DUP_BIGRAM_MAX = 0.30

_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id,
         CAST(LEN(toks) AS BIGINT) AS n_tokens,
         list_max(list_transform(list_distinct(toks),
                  x -> len(list_filter(toks, y -> y = x)))) AS top_cnt,
         CASE WHEN LEN(toks) >= 2 THEN
           list_transform(range(1, LEN(toks)), i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END AS bi
  FROM t
)
SELECT doc_id, n_tokens,
       ROUND(CAST(top_cnt AS DOUBLE) / n_tokens, 6) AS top_word_frac,
       ROUND(CASE WHEN LEN(bi) > 0 THEN
               1.0 - CAST(LEN(LIST_DISTINCT(bi)) AS DOUBLE) / LEN(bi)
             ELSE 0.0 END, 6) AS dup_bigram_frac,
       (ROUND(CAST(top_cnt AS DOUBLE) / n_tokens, 6) > {_REP_TOP_WORD_MAX}
        OR ROUND(CASE WHEN LEN(bi) > 0 THEN
                   1.0 - CAST(LEN(LIST_DISTINCT(bi)) AS DOUBLE) / LEN(bi)
                 ELSE 0.0 END, 6) > {_REP_DUP_BIGRAM_MAX}) AS repetitive
FROM m
"""


@register("llm_repetition_stats", oracle=_REPETITION_ORACLE, category="llm")
def llm_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher/MassiveText rules).

    Top-word fraction and duplicated-bigram fraction — the two cheapest
    detectors of boilerplate/keyword-stuffed documents that pure
    length/diversity gates miss.  Entirely higher-order functions over
    the token array: a narrow map, zero shuffles, whole-stage codegen.
    The per-doc distinct×filter scan is O(n_tokens²) but n_tokens is
    document-bounded, not corpus-bounded — the plan stays linear in
    corpus size at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    m = d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.expr(
            "array_max(transform(array_distinct(toks),"
            " x -> size(filter(toks, y -> y = x))))"
        ).alias("top_cnt"),
        F.expr(
            "CASE WHEN size(toks) >= 2 THEN"
            " transform(sequence(1, size(toks) - 1),"
            "           i -> concat(toks[i-1], ' ', toks[i]))"
            " ELSE array() END"
        ).alias("bi"),
    )
    twf = F.round(F.col("top_cnt").cast("double") / F.col("n_tokens"), 6)
    dbf = F.round(
        F.when(
            F.size("bi") > 0,
            1.0
            - F.expr("cast(size(array_distinct(bi)) AS double)")
            / F.size("bi"),
        ).otherwise(0.0),
        6,
    )
    return m.select(
        "doc_id",
        "n_tokens",
        twf.alias("top_word_frac"),
        dbf.alias("dup_bigram_frac"),
        ((twf > _REP_TOP_WORD_MAX) | (dbf > _REP_DUP_BIGRAM_MAX)).alias(
            "repetitive"
        ),
    )


_TFIDF_TOPK = 3

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
tf AS (
  SELECT doc_id, u.term AS term, u.tf AS tf FROM (
    SELECT doc_id,
           UNNEST(list_transform(list_distinct(t),
             x -> struct_pack(term := x,
                              tf := CAST(len(list_filter(t, y -> y = x))
                                         AS BIGINT)))) AS u
    FROM toks)
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * LN(n.n_total / dfreq.df) AS tfidf_raw
  FROM tf JOIN dfreq USING (term), n
)
SELECT doc_id, rank, term, tf, df, ROUND(tfidf_raw, 6) AS tfidf
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY tfidf_raw DESC, term) AS BIGINT) AS rank
  FROM scored)
WHERE rank <= {_TFIDF_TOPK}
"""


@register("llm_tfidf_topterms", oracle=_TFIDF_ORACLE, category="llm")
def llm_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TFIDF_TOPK} characteristic terms per document by tf-idf.

    Plan shape chosen for 100 TB: term frequencies are computed
    DOC-LOCALLY (higher-order transform over the token array, then one
    explode) so the (doc, term, tf) stream needs NO shuffle to build —
    the naive explode->groupBy(doc, term) plan shuffles the full token
    stream.  Then: one map-side-combined groupBy(term) for document
    frequency, one term-keyed join back (AQE broadcasts it when the
    vocabulary is small), a single-row count broadcast for N, and one
    doc-keyed window for the top-k.  Ranking ties break on the term
    itself, so the result is deterministic; ln() on the double path is
    bit-identical across engines (decimal literals are not — see
    tests).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    tf = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array_distinct(t),"
                " x -> struct(x AS term,"
                "             cast(size(filter(t, y -> y = x)) AS bigint)"
                "             AS tf))"
            )
        ).alias("u"),
    ).select("doc_id", "u.term", "u.tf")
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("n_total") / F.col("df"))).alias(
                "tfidf_raw"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_raw"), F.asc("term")
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("rank") <= _TFIDF_TOPK)
        .select(
            "doc_id",
            "rank",
            "term",
            "tf",
            "df",
            F.round("tfidf_raw", 6).alias("tfidf"),
        )
    )


_BLOOM_K = 4        # hash functions
_BLOOM_M = 65536    # filter bits

_BLOOM_ORACLE = f"""
WITH doc_toks AS (
  SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS t
  FROM documents
),
bench AS (SELECT DISTINCT t FROM doc_toks WHERE doc_id < {_BENCH_DOCS}),
bits AS (
  SELECT DISTINCT
         CAST(('0x' || SUBSTR(MD5(t || ':' || CAST(i AS VARCHAR)), 1, 8))
              AS BIGINT) % {_BLOOM_M} AS pos
  FROM bench, range({_BLOOM_K}) r(i)
),
corpus AS (SELECT doc_id, t FROM doc_toks WHERE doc_id >= {_BENCH_DOCS}),
cpos AS (
  SELECT doc_id, t,
         CAST(('0x' || SUBSTR(MD5(t || ':' || CAST(i AS VARCHAR)), 1, 8))
              AS BIGINT) % {_BLOOM_M} AS pos
  FROM corpus, range({_BLOOM_K}) r(i)
),
m AS (
  SELECT doc_id, t, COUNT(b.pos) AS n_set
  FROM cpos LEFT JOIN bits b USING (pos)
  GROUP BY doc_id, t
),
ex AS (
  SELECT c.doc_id, c.t, (b.t IS NOT NULL) AS ex
  FROM corpus c LEFT JOIN bench b ON c.t = b.t
)
SELECT m.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_probe_tokens,
       CAST(SUM(CASE WHEN ex.ex THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_hits,
       CAST(SUM(CASE WHEN m.n_set = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_hits,
       BOOL_AND(NOT ex.ex OR m.n_set = {_BLOOM_K}) AS no_false_negatives
FROM m JOIN ex ON m.doc_id = ex.doc_id AND m.t = ex.t
GROUP BY m.doc_id
"""


@register("llm_contamination_bloom", oracle=_BLOOM_ORACLE, category="llm")
def llm_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination probe: per training doc, how many of
    its distinct tokens hit the held-out set's vocabulary — membership
    tested through a _BLOOM_M-bit (65536) / _BLOOM_K-hash (4) Bloom filter,
    cross-checked against exact membership.

    At 100 TB the benchmark-side state must be CONSTANT-SIZE to ship to
    every executor: a Bloom filter is kilobytes where the exact
    vocabulary set is gigabytes, and it can never produce a false
    NEGATIVE — so bloom-clean docs are provably clean and only the
    tiny flagged fraction needs the exact re-check. (Spark's built-in
    `bloom_filter_agg` is not SQL-registered, and its XXH64 bits are
    not reproducible in the oracle anyway; the filter here is built
    from the engine's portable md5-hash idiom — `llm_split_assign`,
    minhash — so DuckDB verifies the EXACT bit pattern, hits and
    misses both, not just a tolerance verdict.)

    Plan: bench vocabulary -> _BLOOM_K bit positions per token ->
    distinct position set (the "filter", broadcast); corpus tokens
    explode to their positions and EQUI-JOIN the broadcast set — a
    hash join per position, never a per-row linear scan of the filter
    array. One (doc, token) aggregation folds the _BLOOM_K position
    probes into the all-bits-set verdict, one doc aggregation emits
    the counts.
    """
    d = load_table(spark, sf_dir, "documents")
    doc_toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("t"),
    )
    bench = doc_toks.filter(F.col("doc_id") < _BENCH_DOCS).select("t").distinct()
    pos_of = (
        f"cast(conv(substring(md5(concat(t, ':', cast(i AS string))), 1, 8),"
        f" 16, 10) AS bigint) % {_BLOOM_M}"
    )
    bits = (
        bench.select(
            F.explode(
                F.expr(f"transform(sequence(0, {_BLOOM_K - 1}), i -> {pos_of})")
            ).alias("pos")
        )
        .distinct()
        .withColumn("bit_set", F.lit(1))
    )
    corpus = doc_toks.filter(F.col("doc_id") >= _BENCH_DOCS)
    exact = corpus.join(
        F.broadcast(bench.withColumn("ex", F.lit(True))), "t", "left"
    ).select("doc_id", "t", F.coalesce("ex", F.lit(False)).alias("ex"))
    cpos = exact.select(
        "doc_id",
        "t",
        "ex",
        F.explode(
            F.expr(f"transform(sequence(0, {_BLOOM_K - 1}), i -> {pos_of})")
        ).alias("pos"),
    )
    probed = (
        cpos.join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id", "t")
        .agg(
            F.max("ex").alias("ex"),
            (F.sum(F.coalesce("bit_set", F.lit(0))) == _BLOOM_K).alias(
                "bloom_hit"
            ),
        )
    )
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe_tokens"),
        F.sum(F.when(F.col("ex"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_hits"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_hits"),
        F.bool_and(~F.col("ex") | F.col("bloom_hit")).alias(
            "no_false_negatives"
        ),
    )


_LOGPROB_FLAG = -7.8  # docs averaging below this unigram logprob flag

_LOGPROB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
tf AS (
  SELECT doc_id, u.term AS term, u.tf AS tf FROM (
    SELECT doc_id,
           UNNEST(list_transform(list_distinct(t),
             x -> struct_pack(term := x,
                              tf := CAST(len(list_filter(t, y -> y = x))
                                         AS BIGINT)))) AS u
    FROM toks)
),
vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total FROM vocab)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       ROUND(SUM(tf * LN(vocab.cnt / tot.n_total)) / SUM(tf), 6)
         AS avg_logprob,
       ROUND(SUM(tf * LN(vocab.cnt / tot.n_total)) / SUM(tf), 6)
         < {_LOGPROB_FLAG} AS low_quality
FROM tf JOIN vocab USING (term), tot
GROUP BY doc_id
"""


@register("llm_unigram_logprob", oracle=_LOGPROB_ORACLE, category="llm")
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: mean log p(token) per doc
    under the corpus's own unigram distribution (the cheap stand-in for
    perplexity-based filtering — CCNet/KenLM-style — when no external
    LM is available).

    Docs full of rare junk tokens score far below the corpus average;
    boilerplate scores above it; both tails are curation targets
    (`low_quality` flags the junk tail at {_LOGPROB_FLAG}).

    Plan: term frequencies are doc-local (the `llm_tfidf_topterms`
    trick — no (doc, term) shuffle to build), the unigram table is one
    map-side-combined groupBy over that stream, the total is a 1-row
    broadcast, and scoring is a term-keyed join back (AQE broadcasts
    the vocabulary when it fits). The flag compares the ROUNDED score
    so both engines decide the boundary on identical inputs.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    tf = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array_distinct(t),"
                " x -> struct(x AS term,"
                "             cast(size(filter(t, y -> y = x)) AS bigint)"
                "             AS tf))"
            )
        ).alias("u"),
    ).select("doc_id", "u.term", "u.tf")
    vocab = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("double").alias("n_total"))
    scored = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            (
                F.sum(
                    F.col("tf") * F.log(F.col("cnt") / F.col("n_total"))
                )
                / F.sum("tf")
            ).alias("raw"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round("raw", 6).alias("avg_logprob"),
        (F.round("raw", 6) < _LOGPROB_FLAG).alias("low_quality"),
    )


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10
_BM25_N_QTERMS = 8

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
qt AS (
  SELECT DISTINCT u AS term
  FROM (SELECT UNNEST(t) AS u FROM toks
        WHERE doc_id = (SELECT MIN(doc_id) FROM documents))
  ORDER BY term LIMIT {_BM25_N_QTERMS}
),
dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         AVG(dl) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, u.term AS term, u.tf AS tf FROM (
    SELECT doc_id,
           UNNEST(list_transform(list_distinct(t),
             x -> struct_pack(term := x,
                              tf := CAST(len(list_filter(t, y -> y = x))
                                         AS DOUBLE)))) AS u
    FROM toks)
),
tfq AS (SELECT tf.* FROM tf JOIN qt USING (term)),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tfq GROUP BY term),
scored AS (
  SELECT tfq.doc_id,
         LN(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tfq.tf * ({_BM25_K1} + 1)
           / (tfq.tf + {_BM25_K1} * (1 - {_BM25_B}
                                     + {_BM25_B} * dl.dl / s.avgdl)) AS sc
  FROM tfq JOIN dfreq d USING (term)
           JOIN dl ON dl.doc_id = tfq.doc_id, stats s
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
         SUM(sc) AS score
  FROM scored GROUP BY doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank,
       doc_id, n_matched_terms, ROUND(score, 6) AS score
FROM agg ORDER BY rank LIMIT {_BM25_TOPK}
"""


@register("llm_bm25_retrieval", oracle=_BM25_ORACLE, category="llm")
def llm_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: top-{_BM25_TOPK} documents for a fixed
    query term set (k1={_BM25_K1}, b={_BM25_B}) — the sparse half of
    every RAG / training-data-curation retrieval stack.

    The query is derived deterministically from the corpus itself (the
    {_BM25_N_QTERMS} lexicographically first distinct tokens of the
    lowest-doc_id document), so both engines score literally the same
    terms. Plan shape for 100 TB: the exploded token stream is
    restricted by a BROADCAST hash join on the tiny query vocabulary
    BEFORE any aggregation — unlike `llm_tfidf_topterms` (which needs
    every term's tf and therefore computes doc-locally), BM25 only
    needs tf for query terms, so the (doc, term) shuffle carries just
    the matching hits and df aggregation, scoring and the final top-k
    all run over |docs containing a query term|, never the full
    corpus token stream. Document length and avgdl are exact-integer
    sums (order-
    independent below 2^53), df/tf are exact counts, so the only float
    drift is the <= {_BM25_N_QTERMS}-term score summation, canonicalized
    with ROUND. Final ranking ties break on doc_id; the global top-k is
    a TakeOrderedAndProject, not a full sort.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    min_id = d.agg(F.min("doc_id").alias("mid"))
    qt = (
        toks.join(F.broadcast(min_id), F.col("doc_id") == F.col("mid"))
        .select(F.explode(F.array_distinct("t")).alias("term"))
        .distinct()
        .orderBy("term")
        .limit(_BM25_N_QTERMS)
    )
    dl = toks.select("doc_id", F.size("t").cast("double").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    # r14 optimization pass (guide §2.3/§2.4): the doc length rides the
    # exploded token stream as a per-doc constant and survives the
    # (doc, term) aggregation as max(dl), so the scoring stage no
    # longer joins a SECOND full tokenize pass for dl; and tfq — the
    # tiny <= |matching docs| x |query terms| hit table — is
    # checkpointed because both dfreq and the scorer consume it.
    # Before: 8 documents scans in the plan. After: the VISIBLE plan
    # (plans/r14/llm_bm25_retrieval_after.txt) shows 1 parquet scan —
    # the lazy checkpoint on tfq collapses the query-term and
    # exploded-hits legs into a Scan ExistingRDD, so those two scans
    # run once inside the checkpointed subtree and the dump can't show
    # them (r14 ADVICE: 3 total passes at runtime, 1 in the dump).
    tok = toks.select("doc_id", F.size("t").cast("double").alias("dl"),
                      F.explode("t").alias("term"))
    tfq = (
        tok.join(F.broadcast(qt), "term")
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("double").alias("tf"),
            F.max("dl").alias("dl"),
        )
        .localCheckpoint(eager=False)
    )
    dfreq = tfq.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = (
        tfq.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (_BM25_K1 + 1)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("sc"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched_terms"),
        F.sum("sc").alias("score"),
    )
    # rank runs over the already-limited top-k rows; partition by a
    # NON-FOLDABLE constant (doc_id % 1 = 0) so the k-row window has an
    # explicit partition spec — a bare Window.orderBy here emitted the
    # no-partition WindowExec warning on every bench run even though
    # the frame is only _BM25_TOPK rows (TakeOrderedAndProject upstream)
    return (
        agg.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
        .select(
            F.row_number()
            .over(
                Window.partitionBy(F.col("doc_id") % 1).orderBy(
                    F.desc("score"), F.asc("doc_id")
                )
            )
            .cast("bigint")
            .alias("rank"),
            "doc_id",
            "n_matched_terms",
            F.round("score", 6).alias("score"),
        )
    )


# PII patterns kept RE2/Java-regex-portable: no backrefs, no lookaround.
_PII_EMAIL_RE = "[a-z0-9]+@example\\.com"
_PII_PHONE_RE = "555-[0-9]{4}"

_PII_ORACLE = f"""
WITH seeded AS (
  -- Deterministic synthetic PII: the corpus has none, so the op seeds
  -- each doc with a known email + phone before scrubbing (non-vacuous
  -- at every SF; counts then verify the scrub actually fired).
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(LEN(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS BIGINT)
         AS n_phones,
       MD5(regexp_replace(regexp_replace(text, '{_PII_EMAIL_RE}', '<EMAIL>',
                                         'g'),
                          '{_PII_PHONE_RE}', '<PHONE>', 'g')) AS clean_md5
FROM seeded
"""


@register("llm_pii_redact", oracle=_PII_ORACLE, category="llm")
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact email / phone patterns in
    every document — the compliance gate a web-crawl corpus runs
    before anything else touches the text.

    The corpus has no organic PII, so each doc is seeded with a
    deterministic synthetic email+phone first (both engines seed
    identically; the emitted counts prove the scrub fired — no
    vacuous all-zeros pass). Everything is JVM-side `regexp_*` in one
    narrow projection: zero shuffles, whole-stage codegen, and the
    patterns avoid lookaround/backrefs so Java regex and RE2-family
    engines agree. The redacted text itself is fingerprinted (md5)
    rather than returned — at 100 TB you write the clean text to the
    sink, not through the comparator.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL_RE, "<EMAIL>"),
        _PII_PHONE_RE,
        "<PHONE>",
    )
    # Patterns passed as Column literals, NOT through F.expr — a SQL
    # string literal would eat the `\.` escape, silently counting with
    # a match-any dot while the redaction keeps the literal one.
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL_RE), F.lit(0))
        )
        .cast("bigint")
        .alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_PII_PHONE_RE), F.lit(0))
        )
        .cast("bigint")
        .alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
    )


_NGRAM_TOPK = 25

_NGRAM_ORACLE = f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT UNNEST(CASE WHEN LEN(t) >= 2 THEN
           list_transform(range(1, LEN(t)), i -> t[i] || ' ' || t[i+1])
         ELSE [] END) AS bigram
  FROM toks
),
counted AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM grams GROUP BY bigram
)
SELECT bigram, cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) AS BIGINT) AS rank
FROM counted
ORDER BY cnt DESC, bigram
LIMIT {_NGRAM_TOPK}
"""


@register("llm_ngram_topk", oracle=_NGRAM_ORACLE, category="llm")
def llm_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-{_NGRAM_TOPK} bigram counts — the exact n-gram
    census behind boilerplate mining, stop-phrase lists, and the
    contamination-gram tables (`llm_contamination_ngram` consumes
    exactly this shape).

    Bigrams are built doc-locally with a higher-order `transform`
    (narrow, codegen'd), then ONE map-side-combined groupBy counts
    them — the heavy-hitter head combines away on the map side, so
    the exchange carries |distinct bigrams| not |total bigrams|. The
    final top-k is rank-windowed AFTER a `cnt DESC` TakeOrdered prune
    would... instead Spark plans the `ORDER BY + LIMIT` as
    TakeOrderedAndProject directly: no global sort. Ties break on the
    bigram string on both engines.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    grams = d.select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN"
                " transform(sequence(1, size(t) - 1),"
                "           i -> concat(t[i-1], ' ', t[i]))"
                " ELSE array() END"
            )
        ).alias("bigram")
    )
    counted = grams.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("bigram"))
    return (
        counted.orderBy(F.col("cnt").desc(), F.col("bigram"))
        .limit(_NGRAM_TOPK)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("bigram", "cnt", "rank")
    )


# --- Gopher-style rule battery --------------------------------------
# Public heuristic quality rules (Gopher / MassiveText lineage), tuned
# to thresholds that genuinely split this corpus.  Per-rule FAILURE
# counts per source — the diagnostic report a curation run reads to
# see WHY a source is losing documents, which a single blended score
# (llm_quality_score) cannot show.
_GR_MIN_TOKS, _GR_MAX_TOKS = 30, 500
_GR_MIN_WLEN, _GR_MAX_WLEN = 4.0, 10.0
_GR_MIN_STOPS = 2          # distinct stopwords required
_GR_MIN_DISTINCT = 0.30    # distinct-token ratio floor
_GR_MAX_TOPSHARE = 0.10    # top-unigram dominance ceiling

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id, source,
         CAST(LEN(toks) AS BIGINT) AS n_toks,
         list_sum(list_transform(toks, x -> LENGTH(x))) * 1.0 / LEN(toks)
           AS mean_wlen,
         CAST(LEN(list_filter(['the','a','of','and','to'],
                              s -> list_contains(toks, s))) AS BIGINT)
           AS n_stops,
         LEN(LIST_DISTINCT(toks)) * 1.0 / LEN(toks) AS distinct_ratio,
         list_max(list_transform(LIST_DISTINCT(toks),
                  x -> LEN(list_filter(toks, y -> y = x)))) * 1.0 / LEN(toks)
           AS top_share
  FROM t
),
r AS (
  SELECT source,
         NOT (n_toks BETWEEN {_GR_MIN_TOKS} AND {_GR_MAX_TOKS}) AS f_wordcount,
         NOT (mean_wlen BETWEEN {_GR_MIN_WLEN} AND {_GR_MAX_WLEN}) AS f_wlen,
         n_stops < {_GR_MIN_STOPS} AS f_stopword,
         distinct_ratio < {_GR_MIN_DISTINCT} AS f_repetition,
         top_share > {_GR_MAX_TOPSHARE} AS f_dominance
  FROM m
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN f_wordcount  THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordcount,
       CAST(SUM(CASE WHEN f_wlen       THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
       CAST(SUM(CASE WHEN f_stopword   THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
       CAST(SUM(CASE WHEN f_repetition THEN 1 ELSE 0 END) AS BIGINT) AS fail_repetition,
       CAST(SUM(CASE WHEN f_dominance  THEN 1 ELSE 0 END) AS BIGINT) AS fail_dominance,
       CAST(SUM(CASE WHEN NOT (f_wordcount OR f_wlen OR f_stopword
                               OR f_repetition OR f_dominance)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(SUM(CASE WHEN NOT (f_wordcount OR f_wlen OR f_stopword
                                OR f_repetition OR f_dominance)
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS keep_rate
FROM r
GROUP BY source
"""


@register("llm_gopher_rules", oracle=_GOPHER_ORACLE, category="llm")
def llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-battery quality filter with per-rule per-source
    failure diagnostics: word-count window [{_GR_MIN_TOKS},
    {_GR_MAX_TOKS}], mean word length [{_GR_MIN_WLEN}, {_GR_MAX_WLEN}],
    >= {_GR_MIN_STOPS} distinct stopwords, distinct-token ratio >=
    {_GR_MIN_DISTINCT}, top-unigram share <= {_GR_MAX_TOPSHARE}.
    Complements `llm_quality_score` (a blended per-doc score): the
    output says WHICH rule is rejecting a source's documents.

    Plan: every rule is a doc-local higher-order array expression
    (zero shuffles); the only exchange is the map-side-combined
    groupBy(source) over |docs| boolean rows — at 100 TB the rule
    evaluation is embarrassingly parallel and the shuffle carries
    |sources| partial rows per map partition.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    m = d.select(
        "source",
        F.size("toks").cast("bigint").alias("n_toks"),
        (
            F.expr("aggregate(transform(toks, x -> length(x)), 0, (a, v) -> a + v)")
            * F.lit(1.0)
            / F.size("toks")
        ).alias("mean_wlen"),
        F.expr(
            "size(filter(array('the','a','of','and','to'),"
            " s -> array_contains(toks, s)))"
        )
        .cast("bigint")
        .alias("n_stops"),
        (
            F.size(F.array_distinct("toks")) * F.lit(1.0) / F.size("toks")
        ).alias("distinct_ratio"),
        (
            F.expr(
                "array_max(transform(array_distinct(toks),"
                " x -> size(filter(toks, y -> y = x))))"
            )
            * F.lit(1.0)
            / F.size("toks")
        ).alias("top_share"),
    )
    r = m.select(
        "source",
        (~F.col("n_toks").between(_GR_MIN_TOKS, _GR_MAX_TOKS)).alias("f_wordcount"),
        (~F.col("mean_wlen").between(_GR_MIN_WLEN, _GR_MAX_WLEN)).alias("f_wlen"),
        (F.col("n_stops") < _GR_MIN_STOPS).alias("f_stopword"),
        (F.col("distinct_ratio") < _GR_MIN_DISTINCT).alias("f_repetition"),
        (F.col("top_share") > _GR_MAX_TOPSHARE).alias("f_dominance"),
    )
    keep = ~(
        F.col("f_wordcount")
        | F.col("f_wlen")
        | F.col("f_stopword")
        | F.col("f_repetition")
        | F.col("f_dominance")
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("bigint")  # noqa: E731
    return r.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        cnt("f_wordcount").alias("fail_wordcount"),
        cnt("f_wlen").alias("fail_word_len"),
        cnt("f_stopword").alias("fail_stopword"),
        cnt("f_repetition").alias("fail_repetition"),
        cnt("f_dominance").alias("fail_dominance"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_keep"),
        F.round(
            F.sum(F.when(keep, 1).otherwise(0)) * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("keep_rate"),
    )


_PMI_MIN_COUNT = 20
_PMI_TOPK = 25

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bi AS (
  SELECT t[i.i + 1] AS w1, t[i.i + 2] AS w2
  FROM toks, UNNEST(range(LEN(t) - 1)) AS i(i)
),
cb AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM bi GROUP BY w1, w2
),
un AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT w1 AS w FROM bi UNION ALL SELECT w2 AS w FROM bi
  ) GROUP BY w
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM bi),
pmi AS (
  SELECT cb.w1, cb.w2, cb.c_ab,
         ROUND(LN(2.0 * cb.c_ab * n.total / (ua.c * ub.c)), 6) AS pmi
  FROM cb
  JOIN un ua ON ua.w = cb.w1
  JOIN un ub ON ub.w = cb.w2
  CROSS JOIN n
  WHERE cb.c_ab >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c_ab, pmi FROM pmi
ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOPK}
"""


@register("llm_cooccurrence_pmi", oracle=_PMI_ORACLE, category="llm")
def llm_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PMI_TOPK} PMI bigram associations with a count floor of
    {_PMI_MIN_COUNT} — the collocation detector (PMI = ln(p(a,b) /
    p(a)p(b)), here with unigram counts over bigram SLOTS so the
    probabilities share one normalizer: 2·c_ab·N / (c_a·c_b)).  The
    floor is what makes PMI usable: rare pairs otherwise dominate
    with noise PMI.

    Plan: doc-local bigram build (narrow), ONE map-side-combined
    bigram count shuffle, unigram counts re-derived from the bigram
    frame (|vocab|-sized, never a second corpus pass), broadcast
    unigram join, TakeOrderedAndProject for the top-k.  The ln() of
    an exact integer ratio is the only float op.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    # zip_with over clamped slices, not sequence(1, size-1): for a
    # sub-2-token doc the sequence form evaluates DESCENDING [1, 0]
    # and element_at(t, 2) throws, while the oracle's range(LEN-1)
    # degrades to empty (degenerate-corpus gauntlet; the
    # llm_heaps_law_fit r7-ADVICE bug class).
    nn = F.greatest(F.size("t") - F.lit(1), F.lit(0))
    bi = d.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, nn),
                F.slice("t", 2, nn),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    cb = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    ).localCheckpoint(eager=False)
    un = (
        cb.select(F.col("w1").alias("w"), F.col("c_ab").alias("c"))
        .unionAll(cb.select(F.col("w2").alias("w"), F.col("c_ab").alias("c")))
        .groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    total = cb.agg(F.sum("c_ab").cast("bigint").alias("total"))
    ua = un.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = un.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    return (
        cb.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    2.0
                    * F.col("c_ab")
                    * F.col("total")
                    / (F.col("c_a") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(_PMI_TOPK)
    )


_READABILITY_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents
           -- NULL text has no words to read: dropped in both engines
           WHERE text IS NOT NULL),
w AS (
  SELECT doc_id,
         UNNEST(toks) AS w,
         UNNEST(generate_series(1, LEN(toks))) AS i
  FROM t
),
pw AS (
  SELECT doc_id, i,
         w || CASE WHEN CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS STRING)
                                              || ':' || CAST(i AS STRING)),
                                        1, 8)) AS BIGINT) % 7 = 6
                   THEN '.' ELSE '' END AS pw,
         GREATEST(1, LENGTH(regexp_replace(
             regexp_replace(w, '[aeiouy]+', 'V', 'g'), '[^V]', '', 'g')))
           AS syl
  FROM w
),
doc AS (
  SELECT doc_id,
         STRING_AGG(pw, ' ' ORDER BY i) AS ptext,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(syl) AS BIGINT) AS n_syllables
  FROM pw GROUP BY doc_id
),
parsed AS (
  SELECT doc_id, n_words, n_syllables,
         CAST(GREATEST(1, LEN(list_filter(string_split(ptext, '.'),
                                          s -> TRIM(s) <> ''))) AS BIGINT)
           AS n_sentences
  FROM doc
)
SELECT doc_id, n_sentences, n_words, n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch
FROM parsed
"""


@register("llm_readability", oracle=_READABILITY_ORACLE, category="llm")
def llm_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring per document — the classic
    readability screen a curation pipeline runs next to the Gopher
    rule battery (206.835 − 1.015·words/sentence − 84.6·syllables/
    word; syllables ≈ vowel-group runs, min 1 per word).

    The corpus has no organic punctuation, so sentence boundaries are
    SEEDED deterministically (a period after every word whose
    md5(doc_id:position) bucket hits 6 of 7 — same synthesis
    discipline as `llm_pii_redact`) and then genuinely RE-PARSED from
    the punctuated text with a split/trim/filter pass that both
    engines implement independently; word and vowel-group math runs
    on the original tokens.  Everything up to the final Flesch
    division is exact integers.

    Plan: entirely narrow (zero shuffles) — per-doc higher-order
    array ops inside whole-stage codegen; no explode, no window.
    """
    # NULL text has no words to read: dropped in both engines.
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("toks", F.split("text", " "))
    )
    d = d.withColumn(
        "ptext",
        F.expr(
            "array_join(transform(toks, (w, i) -> concat(w,"
            " CASE WHEN cast(conv(substring(md5(concat("
            "cast(doc_id AS string), ':', cast(i + 1 AS string))), 1, 8),"
            " 16, 10) AS bigint) % 7 = 6 THEN '.' ELSE '' END)), ' ')"
        ),
    )
    return d.select(
        "doc_id",
        F.greatest(
            F.lit(1),
            F.expr("size(filter(split(ptext, '[.]'), s -> trim(s) != ''))"),
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.expr("size(toks)").cast("bigint").alias("n_words"),
        F.expr(
            "aggregate(toks, 0L, (acc, w) -> acc + greatest(1,"
            " length(regexp_replace(regexp_replace(w, '[aeiouy]+', 'V'),"
            " '[^V]', ''))))"
        )
        .cast("bigint")
        .alias("n_syllables"),
    ).withColumn(
        "flesch",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - 84.6 * (F.col("n_syllables").cast("double") / F.col("n_words")),
            4,
        ),
    )


# ------------------------------------------------ log template mining

_LOG_TPL_ORACLE = f"""
WITH lines AS (
  SELECT CASE WHEN event_type = 'error'
              THEN 'ERROR user=' || CAST(user_id AS STRING)
                   || ' code=' || CAST(event_id % 7 AS STRING)
                   || ' retry=' || CAST(event_id % 3 AS STRING)
              ELSE event_type || ' user=' || CAST(user_id AS STRING)
                   || ' took=' || CAST(CAST(ROUND(value * 1000) AS BIGINT)
                                       AS STRING) || 'ms'
         END AS line,
         user_id
  FROM {{EVENTS}} e
),
masked AS (
  SELECT line, user_id,
         regexp_replace(line, '[0-9]+', '<N>', 'g') AS template
  FROM lines
)
SELECT MD5(template) AS template_id,
       template,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       MIN(line) AS example
FROM masked
GROUP BY template
"""


@register(
    "llm_log_templates",
    oracle=_LOG_TPL_ORACLE.replace(
        "{EVENTS}",
        "(SELECT event_id, user_id, event_type, value FROM events)",
    ),
    category="llm",
)
def llm_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log template mining (Drain-lite): render deterministic log
    lines from the event stream, mask every numeric run to `<N>`, and
    group by the resulting template — the observability primitive that
    turns billions of raw lines into a handful of patterns (and the
    cheap first pass before embedding-based log clustering).  Per
    template: id, volume, distinct users, and a deterministic example
    line (min election, no `first()` nondeterminism).

    Plan: render+mask are narrow codegen regex; ONE map-side-combined
    aggregate on the template key (the count-distinct adds its
    standard Expand, over template-bucketed rows).  Templates are a
    tiny domain, so the reduce output is constant-size at any corpus
    scale.
    """
    ev = load_table(spark, sf_dir, "events")
    line = F.when(
        F.col("event_type") == "error",
        F.concat(
            F.lit("ERROR user="),
            F.col("user_id").cast("string"),
            F.lit(" code="),
            (F.col("event_id") % 7).cast("string"),
            F.lit(" retry="),
            (F.col("event_id") % 3).cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.col("event_type"),
            F.lit(" user="),
            F.col("user_id").cast("string"),
            F.lit(" took="),
            F.round(F.col("value") * 1000).cast("bigint").cast("string"),
            F.lit("ms"),
        )
    )
    m = ev.select(
        line.alias("line"),
        "user_id",
        F.regexp_replace(line, "[0-9]+", "<N>").alias("template"),
    )
    return m.groupBy("template").agg(
        F.md5("template").alias("template_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("line").alias("example"),
    ).select("template_id", "template", "n_lines", "n_users", "example")


# ------------------------------------------------ vocab coverage curve

_VOCAB_SIZES = (10, 25, 40)

_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
),
census AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t
),
ranked AS (
  SELECT t, c,
         ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rnk,
         SUM(c) OVER (ORDER BY c DESC, t
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER () AS total,
         COUNT(*) OVER () AS n_types
  FROM census
),
sizes AS (SELECT UNNEST([{", ".join(str(v) for v in _VOCAB_SIZES)}]) AS vocab_size)
SELECT s.vocab_size,
       CAST(MAX(r.n_types) AS BIGINT) AS n_types,
       CAST(MAX(CASE WHEN r.rnk = LEAST(s.vocab_size, r.n_types)
                     THEN r.cum END) AS BIGINT) AS covered_tokens,
       CAST(MAX(r.total) AS BIGINT) AS total_tokens,
       ROUND(CAST(MAX(CASE WHEN r.rnk = LEAST(s.vocab_size, r.n_types)
                          THEN r.cum END)
                  AS DOUBLE) / MAX(r.total), 6) AS coverage
FROM ranked r, sizes s
WHERE r.rnk <= s.vocab_size
GROUP BY s.vocab_size
"""


@register("llm_vocab_coverage", oracle=_VOCAB_ORACLE, category="llm")
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size coverage curve: what fraction of all corpus
    token OCCURRENCES does a top-V frequency vocabulary cover, for
    V ∈ {_VOCAB_SIZES} — the tokenizer-budget decision input (where
    the curve flattens is where a bigger vocab stops paying, and
    1−coverage is the OOV/byte-fallback rate a budget V implies).

    Plan: token census is ONE map-side-combined explode+count (the
    `llm_ngram_topk` shape); rank, cumulative coverage, and grand
    totals over the |vocabulary| frame come from the two-pass
    range-partitioned prefix machinery
    (`plans.rank.global_order_stats`) — |types| reaches hundreds of
    millions on a 100 TB corpus, so the census never funnels through
    a single-partition window.
    """
    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("t")
    )
    census = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ranked = global_order_stats(
        census,
        [F.col("c").desc(), F.col("t")],
        rn="rnk",
        cumsum={"c": "cum"},
        totals={"c": "total"},
        ntotal="n_types",
    )
    sizes = spark.createDataFrame(
        [(v,) for v in _VOCAB_SIZES], "vocab_size long"
    )
    j = ranked.join(
        F.broadcast(sizes), F.col("rnk") <= F.col("vocab_size")
    )
    return j.groupBy("vocab_size").agg(
        F.max("n_types").cast("bigint").alias("n_types"),
        F.max(
            F.when(
                F.col("rnk") == F.least("vocab_size", "n_types"),
                F.col("cum"),
            )
        )
        .cast("bigint")
        .alias("covered_tokens"),
        F.max("total").cast("bigint").alias("total_tokens"),
        F.round(
            F.max(
                F.when(
                    F.col("rnk") == F.least("vocab_size", "n_types"),
                    F.col("cum"),
                )
            ).cast("double")
            / F.max("total"),
            6,
        ).alias("coverage"),
    )


# ------------------------------------------------ bigram LM eval

_LM_K = 0.5  # add-k smoothing

_LM_ORACLE = f"""
WITH split AS (
  SELECT doc_id, text,
         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 8)) AS BIGINT)
           % 100 < 90 AS is_train
  FROM documents
),
grams AS (
  SELECT s.is_train, t.w1, t.w2
  FROM split s, LATERAL (
    SELECT UNNEST(string_split(s.text, ' ')[1:-2]) AS w1,
           UNNEST(string_split(s.text, ' ')[2:-1]) AS w2
  ) t
),
vocab AS (
  SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v
  FROM grams WHERE is_train
),
big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
  FROM grams WHERE is_train GROUP BY w1, w2
),
ctx AS (
  SELECT w1, CAST(SUM(c) AS BIGINT) AS cc FROM big GROUP BY w1
),
val AS (
  SELECT g.w1, g.w2, COALESCE(b.c, 0) AS c, COALESCE(x.cc, 0) AS cc
  FROM (SELECT w1, w2 FROM grams WHERE NOT is_train) g
  LEFT JOIN big b ON b.w1 = g.w1 AND b.w2 = g.w2
  LEFT JOIN ctx x ON x.w1 = g.w1
)
SELECT (SELECT v FROM vocab) AS vocab_size,
       CAST(COUNT(*) AS BIGINT) AS n_val_bigrams,
       ROUND(EXP(-SUM(LN((c + {_LM_K})
                         / (cc + {_LM_K} * (SELECT v FROM vocab))))
                 / COUNT(*)), 4) AS perplexity
FROM val
"""


@register("llm_bigram_lm_eval", oracle=_LM_ORACLE, category="llm")
def llm_bigram_lm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train an add-k bigram language model on the 90% hash-split and
    evaluate PERPLEXITY on the held-out 10% — the classic data-quality
    signal (`llm_unigram_logprob` scores docs under unigrams; this
    TRAINS the conditional model and reports the corpus-level eval a
    filtering threshold is tuned against).  p(w₂|w₁) = (c+k)/(ctx+k·V),
    k={_LM_K}, V = train-side context vocabulary.

    Float note: the log-prob SUM is the one order-sensitive float here;
    addends are O(1) lns and the reduce error is ~1e-10 relative, so
    ROUND(…,4) on the final exp is stable across engines (the
    `agg_corr_matrix` precedent).

    Plan: bigram census = doc-local zip explode + ONE combine-bounded
    count shuffle; the val pass joins bigram and context counts (both
    train-side aggregates) and reduces to a single row.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        (
            F.expr(
                "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8),"
                " 16, 10) AS bigint) % 100"
            )
            < 90
        ).alias("is_train"),
    )
    grams = d.select(
        "is_train",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("g"),
    ).select("is_train", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    train = grams.filter("is_train")
    v = train.agg(F.countDistinct("w1").cast("bigint").alias("v"))
    big = train.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ctx = big.groupBy("w1").agg(F.sum("c").cast("bigint").alias("cc"))
    val = (
        grams.filter(~F.col("is_train"))
        .join(F.broadcast(big), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .select(
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            F.coalesce(F.col("cc"), F.lit(0)).alias("cc"),
        )
        .crossJoin(F.broadcast(v))
    )
    return val.agg(
        F.max("v").alias("vocab_size"),
        F.count(F.lit(1)).cast("bigint").alias("n_val_bigrams"),
        F.round(
            F.exp(
                -F.sum(
                    F.log(
                        (F.col("c") + _LM_K)
                        / (F.col("cc") + _LM_K * F.col("v"))
                    )
                )
                / F.count(F.lit(1))
            ),
            4,
        ).alias("perplexity"),
    )


# ------------------------------------------------ QA eval metrics

_QA_ORACLE = """
WITH qa AS (
  SELECT doc_id,
         string_split(text, ' ')[1:5] AS gold,
         CASE WHEN doc_id % 3 = 0 THEN string_split(text, ' ')[1:5]
              WHEN doc_id % 3 = 1 THEN string_split(text, ' ')[2:6]
              ELSE string_split(text, ' ')[1:3] END AS pred
  FROM documents
  WHERE LEN(string_split(text, ' ')) >= 6
),
scored AS (
  SELECT doc_id, gold, pred,
         gold = pred AS exact_match,
         CAST(list_aggregate(
           list_transform(LIST_DISTINCT(gold || pred), t ->
             LEAST(LEN(list_filter(gold, x -> x = t)),
                   LEN(list_filter(pred, x -> x = t)))), 'sum')
           AS BIGINT) AS overlap
  FROM qa
)
SELECT doc_id, exact_match,
       CAST(overlap AS BIGINT) AS n_overlap,
       ROUND(CASE WHEN overlap = 0 THEN 0.0
                  ELSE 2.0 * (CAST(overlap AS DOUBLE) / LEN(pred))
                       * (CAST(overlap AS DOUBLE) / LEN(gold))
                       / (CAST(overlap AS DOUBLE) / LEN(pred)
                          + CAST(overlap AS DOUBLE) / LEN(gold)) END, 6)
         AS token_f1
FROM scored
"""


@register("llm_qa_em_f1", oracle=_QA_ORACLE, category="llm")
def llm_qa_em_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQuAD-style QA eval metrics: exact match and token-level F1
    between a gold answer span and a deterministic synthetic
    prediction (per doc_id%3: identical / off-by-one-shifted /
    truncated — exercising EM=1, partial-overlap F1, and
    subset-precision cases) — the metric pair every extractive-QA
    eval harness reduces to, computed in-engine so eval joins the
    same pipeline as training exports.

    Token F1 uses MULTISET overlap (Σ min(count_gold, count_pred)
    per distinct token — duplicated tokens must not double-count),
    built from doc-local higher-order array ops; the one float is
    the final harmonic mean, rounded identically.

    Plan: fully narrow, zero shuffles, codegen.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 6)
        .select(
            "doc_id",
            F.slice("toks", 1, 5).alias("gold"),
            F.when(F.col("doc_id") % 3 == 0, F.slice("toks", 1, 5))
            .when(F.col("doc_id") % 3 == 1, F.slice("toks", 2, 5))
            .otherwise(F.slice("toks", 1, 3))
            .alias("pred"),
        )
    )
    scored = d.withColumn(
        "overlap",
        F.expr(
            "cast(aggregate(array_distinct(concat(gold, pred)), 0L,"
            " (acc, t) -> acc + least("
            " size(filter(gold, x -> x = t)),"
            " size(filter(pred, x -> x = t)))) AS bigint)"
        ),
    )
    p = F.col("overlap").cast("double") / F.size("pred")
    r = F.col("overlap").cast("double") / F.size("gold")
    return scored.select(
        "doc_id",
        (F.col("gold") == F.col("pred")).alias("exact_match"),
        F.col("overlap").alias("n_overlap"),
        F.round(
            F.when(F.col("overlap") == 0, 0.0).otherwise(
                2.0 * p * r / (p + r)
            ),
            6,
        ).alias("token_f1"),
    )


# ------------------------------------------------ pre-tokenizer census

_PRETOK_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

_PRETOK_ORACLE = f"""
SELECT doc_id,
       CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_whitespace_tokens,
       CAST(LEN(regexp_extract_all(text, '{_PRETOK_PATTERN}'))
            AS BIGINT) AS n_pretokens,
       CAST(LEN(list_filter(regexp_extract_all(text, '{_PRETOK_PATTERN}'),
                            t -> t ~ '^[0-9]+$')) AS BIGINT)
         AS n_number_runs,
       -- empty text folds to 0 (seeded fold), NULL text to NULL — the
       -- COALESCE must not erase that distinction
       CAST(CASE WHEN text IS NULL THEN NULL
                 ELSE COALESCE(LIST_AGGREGATE(list_transform(
              regexp_extract_all(text, '{_PRETOK_PATTERN}'),
              t -> CAST(CEIL(LENGTH(t) / 4.0) AS BIGINT)), 'sum'), 0) END
            AS BIGINT) AS est_bpe_tokens
FROM documents
"""


@register(
    "llm_token_count_pretokenizer", oracle=_PRETOK_ORACLE, category="llm"
)
def llm_token_count_pretokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style PRE-TOKENIZER census per document: the regex pass
    every BPE tokenizer runs first (letter runs | digit runs |
    punctuation runs — the ASCII core of the GPT-2 pattern; unicode
    property classes are deliberately avoided because Java and RE2
    interpret them differently), counted next to the whitespace
    baseline, plus digit-run counts and the ceil(len/4) BPE-token
    estimate summed over pre-tokens rather than raw words — the
    budget number context-window planning actually needs.

    Narrow regex codegen, zero shuffles; patterns in the
    lookaround-free common subset (`llm_pii_redact` discipline).
    """
    d = load_table(spark, sf_dir, "documents")
    pret = F.expr(f"regexp_extract_all(text, '{_PRETOK_PATTERN}', 0)")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias(
            "n_whitespace_tokens"
        ),
        F.size(pret).cast("bigint").alias("n_pretokens"),
        F.size(
            F.filter(pret, lambda t: t.rlike("^[0-9]+$"))
        )
        .cast("bigint")
        .alias("n_number_runs"),
        F.expr(
            f"cast(aggregate(regexp_extract_all(text, '{_PRETOK_PATTERN}', 0),"
            " 0L, (acc, t) -> acc + cast(ceil(length(t) / 4.0) AS bigint))"
            " AS bigint)"
        ).alias("est_bpe_tokens"),
    )


# ------------------------------------------------ speculative draft

_SPEC_ORACLE = """
WITH split AS (
  SELECT doc_id, text,
         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 8)) AS BIGINT)
           % 100 < 90 AS is_train
  FROM documents
),
grams AS (
  SELECT s.is_train, s.doc_id, t.w1, t.w2
  FROM split s, LATERAL (
    SELECT UNNEST(string_split(s.text, ' ')[1:-2]) AS w1,
           UNNEST(string_split(s.text, ' ')[2:-1]) AS w2
  ) t
),
draft AS (
  SELECT w1, w2 AS pred FROM (
    SELECT w1, w2, ROW_NUMBER() OVER (
      PARTITION BY w1 ORDER BY COUNT(*) DESC, w2) AS rn
    FROM grams WHERE is_train GROUP BY w1, w2
  ) WHERE rn = 1
),
val AS (
  SELECT g.doc_id, g.w2,
         d.pred IS NOT NULL AND d.pred = g.w2 AS accepted
  FROM (SELECT doc_id, w1, w2 FROM grams WHERE NOT is_train) g
  LEFT JOIN draft d ON d.w1 = g.w1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_positions,
       CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_accepted,
       ROUND(CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS acceptance_rate
FROM val GROUP BY doc_id
"""


@register("llm_speculative_acceptance", oracle=_SPEC_ORACLE, category="llm")
def llm_speculative_acceptance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speculative-decoding acceptance simulation with an n-gram
    draft model (prompt-lookup / REST style): train the bigram ARGMAX
    table on the 90% split (most frequent successor per context,
    count-desc/word-asc tie), then replay the held-out docs and count
    positions where the draft's guess equals the actual next token —
    the acceptance rate that decides whether cheap n-gram drafting
    would pay for a given corpus (each accepted position is a
    large-model forward pass saved).

    Plan: the draft table is the bigram census + WindowGroupLimit
    argmax (combine-bounded); replay is one broadcast lookup join
    over val bigrams; per-doc reduce.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        (
            F.expr(
                "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8),"
                " 16, 10) AS bigint) % 100"
            )
            < 90
        ).alias("is_train"),
    )
    grams = d.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("g"),
    ).select("doc_id", "is_train", "g.w1", "g.w2")
    wr = Window.partitionBy("w1").orderBy(F.col("c").desc(), F.col("w2"))
    draft = (
        grams.filter("is_train")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("w1", F.col("w2").alias("pred"))
    )
    val = grams.filter(~F.col("is_train")).join(
        F.broadcast(draft), "w1", "left"
    )
    acc = F.col("pred").isNotNull() & (F.col("pred") == F.col("w2"))
    return val.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_positions"),
        F.sum(acc.cast("int")).cast("bigint").alias("n_accepted"),
        F.round(
            F.sum(acc.cast("int")).cast("double") / F.count(F.lit(1)), 6
        ).alias("acceptance_rate"),
    )


# ------------------------------------------------ ROUGE-style eval

_ROUGE_ORACLE = """
WITH t AS (
  SELECT doc_id, CAST(doc_id // 2 AS BIGINT) AS pk,
         string_split(text, ' ') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, pk,
         LIST_DISTINCT(ws) AS u1,
         LIST_DISTINCT([ws[i] || ' ' || ws[i+1] FOR i IN RANGE(1, LEN(ws))])
           AS u2
  FROM t
),
p AS (
  SELECT c.doc_id AS doc_id, r.doc_id AS ref_id,
         CAST(LEN(list_filter(c.u1, x -> list_contains(r.u1, x))) AS BIGINT)
           AS ov1,
         CAST(LEN(c.u1) AS BIGINT) AS nc1, CAST(LEN(r.u1) AS BIGINT) AS nr1,
         CAST(LEN(list_filter(c.u2, x -> list_contains(r.u2, x))) AS BIGINT)
           AS ov2,
         CAST(LEN(c.u2) AS BIGINT) AS nc2, CAST(LEN(r.u2) AS BIGINT) AS nr2
  FROM g c JOIN g r ON c.pk = r.pk
  WHERE c.doc_id % 2 = 1 AND r.doc_id % 2 = 0
)
SELECT doc_id, ref_id,
       ov1 AS n_ov1,
       ROUND(CASE WHEN ov1 = 0 THEN 0.0
                  ELSE 2.0 * (ov1 / CAST(nc1 AS DOUBLE)) * (ov1 / nr1)
                       / (ov1 / CAST(nc1 AS DOUBLE) + ov1 / nr1) END, 6)
         AS rouge1_f1,
       ov2 AS n_ov2,
       ROUND(CASE WHEN ov2 = 0 THEN 0.0
                  ELSE 2.0 * (ov2 / CAST(nc2 AS DOUBLE)) * (ov2 / nr2)
                       / (ov2 / CAST(nc2 AS DOUBLE) + ov2 / nr2) END, 6)
         AS rouge2_f1
FROM p
"""


@register("llm_rouge_n_eval", oracle=_ROUGE_ORACLE, category="llm")
def llm_rouge_n_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 / ROUGE-2 F1 between deterministically paired documents
    (odd doc_id = candidate, the preceding even doc_id = reference) —
    the n-gram-overlap eval every summarization/generation harness
    reduces to, here on distinct n-grams (set-ROUGE), computed fully
    in-engine so eval rides the same pipeline as training exports.

    Pairing is a pure key function (pair_key = doc_id // 2), NOT an
    ordered window: a lag-over-global-order pairing would serialize
    each partition's sort at 100 TB, while the equi self-join hash
    partitions by pair key and scales like any join. N-gram sets are
    doc-local array ops (split / zip_with / array_distinct); the one
    shuffle is the pair join.
    """
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.floor(F.col("doc_id") / 2).cast("bigint").alias("pk"),
        F.split("text", " ").alias("ws"),
    )
    nn = F.size("ws")
    bi = F.zip_with(
        F.slice("ws", 1, nn - 1),
        F.slice("ws", 2, nn - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    g = t.select(
        "doc_id",
        "pk",
        F.array_distinct("ws").alias("u1"),
        F.array_distinct(bi).alias("u2"),
    )
    c = g.filter(F.col("doc_id") % 2 == 1)
    r = (
        g.filter(F.col("doc_id") % 2 == 0)
        .select(
            F.col("doc_id").alias("ref_id"),
            F.col("pk").alias("rpk"),
            F.col("u1").alias("r1"),
            F.col("u2").alias("r2"),
        )
    )
    j = c.join(r, c.pk == r.rpk)

    def f1(ov, nc, nr):
        p, rr = ov / nc.cast("double"), ov / nr.cast("double")
        return F.round(
            F.when(ov == 0, 0.0).otherwise(2.0 * p * rr / (p + rr)), 6
        )

    ov1 = F.size(F.array_intersect("u1", "r1")).cast("bigint")
    ov2 = F.size(F.array_intersect("u2", "r2")).cast("bigint")
    return j.select(
        "doc_id",
        "ref_id",
        ov1.alias("n_ov1"),
        f1(ov1, F.size("u1").cast("bigint"), F.size("r1").cast("bigint")).alias(
            "rouge1_f1"
        ),
        ov2.alias("n_ov2"),
        f1(ov2, F.size("u2").cast("bigint"), F.size("r2").cast("bigint")).alias(
            "rouge2_f1"
        ),
    )


# --- corpus n-gram novelty profile ----------------------------------
_NOVELTY_SHINGLE = 3

_NOVELTY_ORACLE = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS MATERIALIZED (
  SELECT doc_id,
         MD5(array_to_string(t[i : i + {_NOVELTY_SHINGLE} - 1], ' ')) AS h
  FROM toks, UNNEST(range(1, len(t) - {_NOVELTY_SHINGLE} + 2)) AS u(i)
  WHERE len(t) >= {_NOVELTY_SHINGLE}
),
first_seen AS MATERIALIZED (
  SELECT h, MIN(doc_id) AS first_doc FROM grams GROUP BY h
),
per_doc AS (
  SELECT g.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(DISTINCT g.h) AS BIGINT) AS n_distinct,
         CAST(COUNT(DISTINCT CASE WHEN f.first_doc = g.doc_id
                                  THEN g.h END) AS BIGINT) AS n_novel
  FROM grams g JOIN first_seen f ON f.h = g.h
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_distinct, n_novel,
       ROUND(CAST(n_novel AS DOUBLE) / n_distinct, 6) AS novelty_ratio
FROM per_doc
"""


@register("llm_ngram_novelty_profile", oracle=_NOVELTY_ORACLE,
          category="llm")
def llm_ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus NOVELTY curve — for each document (in doc_id ingest
    order), how many of its distinct {_NOVELTY_SHINGLE}-gram shingles
    have never appeared in any earlier document: the saturation
    diagnostic that tells a data-curation pipeline when additional
    crawl is buying repeated boilerplate instead of new content
    (novelty_ratio decaying toward 0 = the corpus has converged; flat
    near 1 = still sampling fresh text).

    Plan: one shingle generator (narrow), ONE groupBy on the gram md5
    to elect each gram's first document (map-side-combined MIN — the
    same shuffle shape as the dedup ladder's inverted index), a
    colocated join back on the same key, then a doc-keyed aggregate.
    No pair joins anywhere; at 100 TB the gram-key shuffle dominates
    and is the irreducible cost of any corpus-wide first-occurrence
    statistic.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    grams = d.filter(F.size("t") >= _NOVELTY_SHINGLE).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_NOVELTY_SHINGLE} + 1),"
                f" i -> md5(array_join(slice(t, i, {_NOVELTY_SHINGLE}), ' ')))"
            )
        ).alias("h"),
    )
    first_seen = grams.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first_seen, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.countDistinct("h").cast("bigint").alias("n_distinct"),
            F.countDistinct(
                F.when(F.col("first_doc") == F.col("doc_id"), F.col("h"))
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_distinct"), 6
        ).alias("novelty_ratio"),
    )


# --- greenlist watermark detection ----------------------------------
_WM_Z_THRESHOLD = 4.0

_WATERMARK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pairs AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || SUBSTR(MD5(t[i] || ':' || t[i + 1]), 1, 1))
                        AS INT) % 2 = 0
              THEN 1 ELSE 0 END AS green
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(green) AS BIGINT) AS n_green
  FROM pairs GROUP BY doc_id
)
SELECT doc_id, n_pairs, n_green,
       ROUND(CAST(n_green AS DOUBLE) / n_pairs, 6) AS green_frac,
       ROUND((n_green - 0.5 * n_pairs) / SQRT(0.25 * n_pairs), 6) AS z_score,
       (n_green - 0.5 * n_pairs) / SQRT(0.25 * n_pairs)
         > {_WM_Z_THRESHOLD} AS watermark_detected
FROM scored
"""


@register("llm_watermark_greenlist_score", oracle=_WATERMARK_ORACLE,
          category="llm")
def llm_watermark_greenlist_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenlist WATERMARK detector (Kirchenbauer et al. 2023): a
    soft-watermarked LLM seeds each step's "green" vocabulary half
    from the previous token's hash and biases sampling toward it, so
    watermarked text shows a green-token excess detectable by a
    one-proportion z-test — here the greenlist membership of each
    adjacent token pair is the parity of md5(prev:next)'s first hex
    digit (the seeded-hash rule both engines reproduce exactly), and
    each document reports its green fraction, z-score vs the null 0.5,
    and the detected flag at z > {_WM_Z_THRESHOLD}.  On this natural
    corpus the z's scatter around 0 and nothing crosses the threshold
    — the detector's FALSE-POSITIVE calibration, which is the half of
    a provenance audit a data pipeline can actually run (true-positive
    calibration needs a watermarked generator upstream).

    Plan: pair explosion is a narrow generator; the score is one
    doc-keyed map-side-combined aggregate — no joins, no windows, one
    shuffle of |docs| partial rows.  At 100 TB this is a pure scan op,
    the cheapest class in the engine.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    pairs = d.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> CASE WHEN conv(substring("
                "md5(concat(t[i-1], ':', t[i])), 1, 1), 16, 10) % 2 = 0"
                " THEN 1 ELSE 0 END)"
            )
        ).alias("green"),
    )
    scored = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("green").cast("bigint").alias("n_green"),
    )
    z = (F.col("n_green") - 0.5 * F.col("n_pairs")) / F.sqrt(
        0.25 * F.col("n_pairs")
    )
    return scored.select(
        "doc_id",
        "n_pairs",
        "n_green",
        F.round(F.col("n_green").cast("double") / F.col("n_pairs"), 6).alias(
            "green_frac"
        ),
        F.round(z, 6).alias("z_score"),
        (z > _WM_Z_THRESHOLD).alias("watermark_detected"),
    )


# --------------------------------------- lexical diversity (TTR)
_TTR_ORACLE = """
WITH per_doc AS (
  SELECT lang,
         CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(LEN(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_types) AS BIGINT) AS total_types,
       ROUND(AVG(CAST(n_types AS DOUBLE) / n_tokens), 6) AS avg_ttr,
       ROUND(AVG(n_types / SQRT(CAST(n_tokens AS DOUBLE))), 6) AS avg_guiraud,
       ROUND(CAST(SUM(n_types) AS DOUBLE) / SUM(n_tokens), 6) AS pooled_ttr
FROM per_doc GROUP BY lang ORDER BY lang
"""


@register("llm_ttr_lexical_diversity", oracle=_TTR_ORACLE, category="llm")
def llm_ttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per language: doc-level type-token ratio
    (distinct words / words) and Guiraud's root TTR (types / sqrt
    tokens — the length-robust variant), averaged per lang, plus the
    pooled corpus-level ratio. Low TTR flags template/boilerplate
    heavy slices before they reach training; TTR complements
    `llm_repetition_stats` (which looks WITHIN docs at n-gram level).

    Everything is doc-local (split + array_distinct in one narrow
    projection — whole-stage codegen, no explode, no (doc, term)
    shuffle); the only exchange is the |langs|-row groupBy. Token and
    type counts stay BIGINT; the three ratios divide per doc or per
    group and round once.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.expr("cast(size(split(text, ' ')) AS bigint)").alias("n_tokens"),
        F.expr(
            "cast(size(array_distinct(split(text, ' '))) AS bigint)"
        ).alias("n_types"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_types").cast("bigint").alias("total_types"),
            F.round(
                F.avg(F.col("n_types").cast("double") / F.col("n_tokens")), 6
            ).alias("avg_ttr"),
            F.round(
                F.avg(
                    F.col("n_types") / F.sqrt(F.col("n_tokens").cast("double"))
                ),
                6,
            ).alias("avg_guiraud"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "total_types",
            "avg_ttr",
            "avg_guiraud",
            F.round(
                F.col("total_types").cast("double") / F.col("total_tokens"), 6
            ).alias("pooled_ttr"),
        )
        .orderBy("lang")
    )


# ------------------------------------------- Heaps' law vocab growth
_HEAPS_CP_MOD = 50  # checkpoint every 50th doc_id


_HEAPS_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
per_doc AS (SELECT doc_id, CAST(LEN(t) AS BIGINT) AS n_tokens FROM d),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               FOR i IN RANGE(1, LEN(t) - 1)])) AS w
  FROM d
),
firsts AS (SELECT w, MIN(doc_id) AS fd FROM grams GROUP BY w),
n_new AS (SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_new FROM firsts GROUP BY fd),
base AS (
  SELECT p.doc_id, p.n_tokens, COALESCE(n.n_new, 0) AS n_new
  FROM per_doc p LEFT JOIN n_new n ON n.fd = p.doc_id
),
sp AS (
  SELECT doc_id,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS tt,
         CAST(SUM(n_new) OVER (ORDER BY doc_id) AS BIGINT) AS vv
  FROM base
),
cps AS (
  SELECT LN(CAST(tt AS DOUBLE)) AS x, LN(CAST(vv AS DOUBLE)) AS y
  FROM sp WHERE doc_id % {_HEAPS_CP_MOD} = {_HEAPS_CP_MOD - 1}
),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM cps
),
tot AS (
  SELECT CAST(MAX(tt) AS BIGINT) AS total_tokens,
         CAST(MAX(vv) AS BIGINT) AS total_vocab
  FROM sp
)
SELECT fit.n AS n_checkpoints,
       ROUND((fit.n * sxy - sx * sy) / (fit.n * sxx - sx * sx), 6)
         AS heaps_beta,
       ROUND((sy - (fit.n * sxy - sx * sy) / (fit.n * sxx - sx * sx) * sx)
             / fit.n, 6) AS log_k,
       ROUND(POW(fit.n * sxy - sx * sy, 2)
             / ((fit.n * sxx - sx * sx) * (fit.n * syy - sy * sy)), 6) AS r2,
       tot.total_tokens, tot.total_vocab
FROM fit, tot
"""


@register("llm_heaps_law_fit", oracle=_HEAPS_ORACLE, category="llm")
def llm_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^beta of TYPE growth against corpus
    size — the corpus-health twin of `llm_zipf_fit` (same log-log
    OLS, frequency axis swapped for growth): beta -> 0 flags template
    floods (the type inventory saturates), beta -> 1 tokenizer-hostile
    noise (every doc mints new types). Types are word TRIGRAMS: the
    fixture's unigram vocabulary saturates within the first checkpoint
    (31 words), and on any corpus the n-gram variant keeps the curve
    informative deep into the crawl. Growth is sampled at every
    {_HEAPS_CP_MOD}-th doc_id; token mass still counts unigrams.

    Scale shape: NO |vocab| x |checkpoints| product anywhere — each
    word collapses to its FIRST-seen doc (one groupBy over
    doc-distinct tokens), first-seen counts collapse to |docs| rows,
    and both running totals (tokens, new types) ride ONE two-pass
    range-partitioned prefix sum (`plans.rank.global_order_stats`).
    The OLS fit runs over the |checkpoints|-row frame. Counts BIGINT
    end to end; only the log-log fit is floating point.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    per_doc = d.select(
        "doc_id", F.expr("cast(size(t) AS bigint)").alias("n_tokens")
    )
    # Clamp the trigram count at 0: for a doc under 3 tokens,
    # size(t) - 2 is negative and Spark's slice() raises at runtime,
    # while the DuckDB oracle's RANGE(1, LEN-1) degrades to an empty
    # list — clamping makes both engines agree on short docs
    # (r7 ADVICE; output-neutral at the shipped fixtures, min 10 tokens).
    nn = F.greatest(F.size("t") - F.lit(2), F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice("t", 1, nn),
            F.slice("t", 2, nn),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        F.slice("t", 3, nn),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(tri)).alias("w")
    )
    firsts = grams.groupBy("w").agg(F.min("doc_id").alias("fd"))
    n_new = firsts.groupBy("fd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    base = per_doc.join(
        n_new, per_doc["doc_id"] == n_new["fd"], "left"
    ).select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
    )
    sp = global_order_stats(
        base, ["doc_id"], cumsum={"n_tokens": "tt", "n_new": "vv"}
    )
    cps = sp.filter(
        F.col("doc_id") % _HEAPS_CP_MOD == _HEAPS_CP_MOD - 1
    ).select(
        F.log(F.col("tt").cast("double")).alias("x"),
        F.log(F.col("vv").cast("double")).alias("y"),
    )
    fit = cps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    tot = sp.agg(
        F.max("tt").cast("bigint").alias("total_tokens"),
        F.max("vv").cast("bigint").alias("total_vocab"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_checkpoints"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("log_k"),
        F.round(
            F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
        "total_tokens",
        "total_vocab",
    )


# ------------------------------------------------ BLEU-style eval

_BLEU_ORACLE = """
WITH t AS (
  SELECT doc_id, CAST(doc_id // 2 AS BIGINT) AS pk,
         string_split(text, ' ') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, pk, ws,
         [ws[i] || ' ' || ws[i+1] FOR i IN RANGE(1, LEN(ws))] AS bs
  FROM t
),
p AS (
  SELECT c.doc_id AS doc_id, r.doc_id AS ref_id,
         CAST(LEN(c.ws) AS BIGINT) AS c_len,
         CAST(LEN(r.ws) AS BIGINT) AS r_len,
         CAST(GREATEST(LEN(c.ws) - 1, 0) AS BIGINT) AS n2,
         CAST(COALESCE(list_aggregate(list_transform(list_distinct(c.ws),
              w -> LEAST(LEN(list_filter(c.ws, x -> x = w)),
                         LEN(list_filter(r.ws, x -> x = w)))), 'sum'), 0)
           AS BIGINT) AS clip1,
         CAST(COALESCE(list_aggregate(list_transform(list_distinct(c.bs),
              w -> LEAST(LEN(list_filter(c.bs, x -> x = w)),
                         LEN(list_filter(r.bs, x -> x = w)))), 'sum'), 0)
           AS BIGINT) AS clip2
  FROM g c JOIN g r ON c.pk = r.pk
  WHERE c.doc_id % 2 = 1 AND r.doc_id % 2 = 0
),
s AS (
  SELECT *,
         LEAST(1.0, EXP(1.0 - CAST(r_len AS DOUBLE) / c_len))
         * EXP(0.5 * (LN((clip1 + 1.0) / (c_len + 1))
                      + LN((clip2 + 1.0) / (n2 + 1)))) AS sbleu
  FROM p
),
corp AS (
  SELECT CAST(SUM(c_len) AS BIGINT) AS tc,
         CAST(SUM(r_len) AS BIGINT) AS tr,
         CAST(SUM(n2) AS BIGINT) AS tn2,
         CAST(SUM(clip1) AS BIGINT) AS t1,
         CAST(SUM(clip2) AS BIGINT) AS t2
  FROM p
),
cb AS (
  SELECT CASE WHEN t1 = 0 OR t2 = 0 THEN 0.0
              ELSE LEAST(1.0, EXP(1.0 - CAST(tr AS DOUBLE) / tc))
                   * EXP(0.5 * (LN(CAST(t1 AS DOUBLE) / tc)
                                + LN(CAST(t2 AS DOUBLE) / tn2))) END
           AS corpus
  FROM corp
)
SELECT s.doc_id, s.ref_id, s.c_len, s.r_len, s.clip1, s.clip2,
       ROUND(s.sbleu, 6) AS sentence_bleu2,
       ROUND(cb.corpus, 6) AS corpus_bleu2
FROM s, cb
"""


@register("llm_bleu_eval", oracle=_BLEU_ORACLE, category="llm")
def llm_bleu_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 between the same deterministic candidate/reference pairs
    as `llm_rouge_n_eval` (odd doc_id vs preceding even doc_id), with
    the pieces a real MT/generation eval needs: CLIPPED n-gram
    precision (multiset min of candidate/reference counts — the part
    set-ROUGE cannot express), brevity penalty min(1, e^(1-r/c)),
    add-1-smoothed per-sentence geometric mean, and the corpus-level
    score from pooled counts (the statistic BLEU is actually defined
    as).

    Clipped counts are doc-LOCAL array folds (O(len^2) per doc over
    distinct tokens — bounded by document length, not corpus size), so
    the only shuffle is the hash pair-join on pair_key; the corpus
    scalar broadcasts back over the pair rows. Counts BIGINT; the two
    float scores round once at the edge.
    """
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.floor(F.col("doc_id") / 2).cast("bigint").alias("pk"),
        F.split("text", " ").alias("ws"),
    )
    nn = F.size("ws")
    bi = F.zip_with(
        F.slice("ws", 1, nn - 1),
        F.slice("ws", 2, nn - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    g = t.select("doc_id", "pk", "ws", bi.alias("bs"))
    # r15: the clipped-count array folds are O(len^2) interpreted work
    # per pair and sat on the one-row-group documents scan — respread
    # the candidate leg so the pair-join's probe side parallelizes
    # (io.spread_compute; no-op at deployment scale)
    from snapshot_s3_util_spark.io import spread_compute

    c = spread_compute(
        g.select(
            "doc_id", "pk", F.col("ws").alias("cws"), F.col("bs").alias("cbs")
        ).filter(F.col("doc_id") % 2 == 1),
        "pk",
    )
    r = g.select(
        F.col("doc_id").alias("ref_id"),
        F.col("pk").alias("rpk"),
        F.col("ws").alias("rws"),
        F.col("bs").alias("rbs"),
    ).filter(F.col("ref_id") % 2 == 0)

    def clipped(cand: str, ref: str) -> Column:
        return F.expr(
            f"cast(coalesce(aggregate(transform(array_distinct({cand}),"
            f" w -> least(size(filter({cand}, x -> x = w)),"
            f" size(filter({ref}, x -> x = w)))), 0, (a, v) -> a + v), 0)"
            f" AS bigint)"
        )

    p = c.join(r, c.pk == r.rpk).select(
        "doc_id",
        "ref_id",
        F.size("cws").cast("bigint").alias("c_len"),
        F.size("rws").cast("bigint").alias("r_len"),
        F.greatest(F.size("cws") - 1, F.lit(0)).cast("bigint").alias("n2"),
        clipped("cws", "rws").alias("clip1"),
        clipped("cbs", "rbs").alias("clip2"),
    )
    sbleu = F.least(
        F.lit(1.0), F.exp(1.0 - F.col("r_len").cast("double") / F.col("c_len"))
    ) * F.exp(
        0.5
        * (
            F.log((F.col("clip1") + 1.0) / (F.col("c_len") + 1))
            + F.log((F.col("clip2") + 1.0) / (F.col("n2") + 1))
        )
    )
    s = p.withColumn("sbleu", sbleu)
    corp = p.agg(
        F.sum("c_len").cast("bigint").alias("tc"),
        F.sum("r_len").cast("bigint").alias("tr"),
        F.sum("n2").cast("bigint").alias("tn2"),
        F.sum("clip1").cast("bigint").alias("t1"),
        F.sum("clip2").cast("bigint").alias("t2"),
    )
    corpus = F.when((F.col("t1") == 0) | (F.col("t2") == 0), 0.0).otherwise(
        F.least(
            F.lit(1.0),
            F.exp(1.0 - F.col("tr").cast("double") / F.col("tc")),
        )
        * F.exp(
            0.5
            * (
                F.log(F.col("t1").cast("double") / F.col("tc"))
                + F.log(F.col("t2").cast("double") / F.col("tn2"))
            )
        )
    )
    cb = corp.select(corpus.alias("corpus"))
    return s.crossJoin(F.broadcast(cb)).select(
        "doc_id",
        "ref_id",
        "c_len",
        "r_len",
        "clip1",
        "clip2",
        F.round("sbleu", 6).alias("sentence_bleu2"),
        F.round("corpus", 6).alias("corpus_bleu2"),
    )
