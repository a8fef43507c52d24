"""Deduplication operators for LLM training-data pipelines.

Five dedup strategies over `documents` / `embeddings`:
- exact (normalized-hash groupBy)
- MinHash + LSH banding (hand-rolled, md5-seeded so the DuckDB oracle
  reproduces the identical hash family — SURVEY §4: `ml.feature.
  MinHashLSH` exists but its hash family can't be re-derived in SQL)
- SimHash (bitwise majority over token hashes)
- n-gram Jaccard verification of candidate pairs
- embedding-cosine near-duplicates

Scale design: every op is shuffle-bounded by |docs| x K (minhash) or by
bucket size (LSH band join) — never by |docs|^2. The only pairwise
steps run INSIDE an LSH/blocking bucket, which is the point of LSH: at
100 TB you block first, verify second. Min-hash derives its K hash
functions from ONE md5 per shingle via K independent affine rehashes
over bigints (per-k md5-derived coefficients; see the round-12 family
note above _mh_coeffs for why plain Kirsch–Mitzenmacher double hashing
is NOT rank-independent enough for minhash) — engine-portable by
construction.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_embeddings, load_table
from snapshot_s3_util_spark.params import (
    BAND_BUCKET_CAP,
    DEDUP_DF_CAP_FRAC,
    DEDUP_DF_MIN_HITS,
    DEDUP_DF_SAMPLE_MOD,
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_SHINGLE,
)
from snapshot_s3_util_spark.registry import register

# ---------------------------------------------------------------- exact

@register(
    "llm_dedup_exact",
    oracle="""
    SELECT digest, keeper_doc_id, n_copies
    FROM (
      SELECT MD5(LOWER(TRIM(text))) AS digest,
             doc_id AS keeper_doc_id,
             COUNT(*) OVER (PARTITION BY MD5(LOWER(TRIM(text)))) AS n_copies,
             ROW_NUMBER() OVER (PARTITION BY MD5(LOWER(TRIM(text)))
                                ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1
    """,
    category="llm",
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text; deterministic keeper = min doc_id.

    One shuffle on the digest. `dropDuplicates` is banned (arbitrary
    keeper); the window keeper is reproducible on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.lower(F.trim(F.col("text"))))
    w = Window.partitionBy("digest").orderBy("doc_id")
    return (
        d.select(F.col("doc_id").alias("keeper_doc_id"), digest.alias("digest"))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("digest")))
        .withColumn("rn", F.row_number().over(w.orderBy("keeper_doc_id")))
        .filter(F.col("rn") == 1)
        .select("digest", "keeper_doc_id", "n_copies")
    )


# ------------------------------------------------------------- minhash

# Shared shingle+minhash pipeline, expressed once per engine.
#
# shingles(doc) = {tokens[i..i+S-1] joined by ' '}  (duplicates kept —
#   they cannot change a minimum)
# Hash family: ONE md5 per shingle, split into two 32-bit halves
# h1/h2; hash k is (a_k*h1 + b_k*h2 + c_k) mod P for a prime P > 2^32
# and per-k constants derived from md5(f"mh{k}") — K independent
# affine transforms of one strong base hash (the standard
# "hash-once, K universal rehashes" minhash). K minima cost 2K
# multiply-adds per shingle instead of K md5s, and the minima shuffle
# as 8-byte bigints, not 32-char hex.
#
# Round-12 NOTE (why affine-per-k, not Kirsch–Mitzenmacher): rounds
# 4-11 used KM double hashing, (h1 + k*h2) mod P. KM is proven for
# Bloom filters, where only MEMBERSHIP matters — for minhash the K
# estimators need independent ORDERINGS, and under KM consecutive k
# share their argmin: a single unique shingle whose h1 is small (or
# wraps small) owns an arithmetic RUN of minima with step h2. The 10x
# stress tier caught it red-handed — a doc pair with TRUE Jaccard
# 0.9167 agreed on only 5/12 minima (mh3..mh6 of one doc read 11.4M,
# 32.3M, 53.2M, 74.2M: one unique shingle, step h2 = 20.9M), and
# pairs at J 0.96-0.99 missed ALL FOUR bands the same way (bands are
# consecutive-k ranges, so one correlated run kills whole bands).
# Distinct odd multipliers a_k scramble each k's ordering
# independently, restoring the per-k coin-flip the banding math
# assumes. a_k, b_k < 2^28 keep every term under 2^60 — no signed-64
# overflow on either engine.
#
# band(k) = k DIV (K / BANDS)
# band_sig(doc, band) = md5(mh_i || ',' || mh_j || ...)
# candidates = distinct (a < b) sharing any (band, band_sig)

_ROWS_PER_BAND = MINHASH_K // MINHASH_BANDS
_MINHASH_P = 4294967311  # smallest prime > 2^32


def _mh_coeffs(k: int) -> tuple[int, int, int]:
    """(a_k, b_k, c_k) for hash k — md5-derived so BOTH engines embed
    the identical literals (the SQL below is generated from these same
    ints). a/b are odd 28-bit, c is 32-bit."""
    import hashlib

    d = hashlib.md5(f"mh{k}".encode()).hexdigest()
    return int(d[0:7], 16) | 1, int(d[7:14], 16) | 1, int(d[14:22], 16)


_MH_ABC = [_mh_coeffs(k) for k in range(MINHASH_K)]

# The K MIN(...) aggregate expressions, one string per engine, both
# generated from _MH_ABC so the families cannot drift.
_MH_MIN_SQL = ", ".join(
    f"MIN(({a} * h1 + {b} * h2 + {c}) % {_MINHASH_P}) AS mh{k}"
    for k, (a, b, c) in enumerate(_MH_ABC)
)


def _mh_min_aggs() -> list:
    """Spark-side twins of _MH_MIN_SQL."""
    return [
        F.min(
            (
                F.lit(a) * F.col("h1") + F.lit(b) * F.col("h2") + F.lit(c)
            )
            % F.lit(_MINHASH_P)
        ).alias(f"mh{k}")
        for k, (a, b, c) in enumerate(_MH_ABC)
    ]

# The near-dup threshold the banding targets (shared with the exact
# n-gram Jaccard verify op and the recall audit below).
_JACCARD_THRESHOLD = 0.5

# Candidate est-Jaccard prefilter (round-12: the r11 audit measured
# banding precision decaying 0.93 -> 0.76 from sf0.01 -> sf0.1 — low-J
# pairs colliding in ONE band grow with corpus and become wasted verify
# work). A banding candidate survives only if its minhash Jaccard
# ESTIMATE — matching minima / K over the ALREADY-COMPUTED signature —
# clears the threshold the banding targets: ceil(K * J*) of K minima.
# The estimate costs K integer compares per candidate (no shingle
# re-read), and the audit's margin columns measure the separation the
# ceil(K * J*) cutoff rides on: min-true / max-false = 11/5 at sf0.1
# (14/2 at sf0.01, 9/7 at the 30x stress tier — the K=12 margin
# collapse at 30x is what drove K to 16, see params.MINHASH_K) —
# recall stays 1.0 while precision goes 0.76 -> 1.0 at sf0.1. (The
# cutoff value itself is the _MINHASH_EST_MIN expression below, not a
# literal here, so a retune can't strand this comment.)
_MINHASH_EST_MIN = math.ceil(MINHASH_K * _JACCARD_THRESHOLD)

# Shared CTE chain (tokenize -> shingles -> df-cap -> affine minima ->
# band signatures); both the candidate oracle and the recall-audit
# oracle are generated from this ONE string.
_MINHASH_CTES = f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
shingles AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(t) - {MINHASH_SHINGLE} + 2),
                i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) AS sh
  FROM toks
  WHERE len(t) >= {MINHASH_SHINGLE}
),
sampled AS (
  SELECT doc_id, sh FROM shingles
  WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % {DEDUP_DF_SAMPLE_MOD} = 0
),
hot AS (
  SELECT sh FROM sampled GROUP BY sh
  HAVING COUNT(DISTINCT doc_id) >
         GREATEST({DEDUP_DF_CAP_FRAC} * (SELECT COUNT(*) FROM documents
                   WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) % {DEDUP_DF_SAMPLE_MOD} = 0),
                  {DEDUP_DF_MIN_HITS})
),
kept AS (
  SELECT s.doc_id, s.sh FROM shingles s ANTI JOIN hot h ON s.sh = h.sh
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTR(MD5(sh), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || SUBSTR(MD5(sh), 9, 8)) AS BIGINT) AS h2
  FROM kept
),
minhashes AS (
  SELECT doc_id,
         {_MH_MIN_SQL}
  FROM hashed GROUP BY doc_id
),
band_sigs AS (
  {' UNION ALL '.join(
      'SELECT doc_id, {b} AS band, MD5(CONCAT({args})) AS sig FROM minhashes'.format(
          b=b,
          args=", ',', ".join(f'mh{b * _ROWS_PER_BAND + i}' for i in range(_ROWS_PER_BAND)),
      )
      for b in range(MINHASH_BANDS)
  )}
),
cand_raw AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band_sigs a JOIN band_sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
cand AS (
  SELECT c.doc_a, c.doc_b
  FROM cand_raw c
  JOIN minhashes ma ON ma.doc_id = c.doc_a
  JOIN minhashes mb ON mb.doc_id = c.doc_b
  WHERE ({' + '.join(f'CASE WHEN ma.mh{k} = mb.mh{k} THEN 1 ELSE 0 END'
                     for k in range(MINHASH_K))}) >= {_MINHASH_EST_MIN}
)"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES}
SELECT doc_a, doc_b FROM cand
"""


def _minhash_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) shingle stream after the df-cap — the exact
    universe the minhash signatures are computed on, shared by
    `llm_dedup_near_minhash` and the recall audit below (the audit's
    ground truth must be Jaccard over THESE sets, or it would score
    the df-cap, not the banding)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= MINHASH_SHINGLE
    )
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {MINHASH_SHINGLE} + 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i+1), ' ', "
                "element_at(t, i+2)))"
            )
        ).alias("sh"),
    )
    doc_in_sample = F.expr(
        "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint)"
        f" % {DEDUP_DF_SAMPLE_MOD} = 0"
    )
    n_sampled = d.filter(doc_in_sample).select(
        F.count(F.lit(1)).alias("n_sampled")
    )
    hot = (
        shingles.filter(doc_in_sample)
        .groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_sampled))
        .filter(
            F.col("df")
            > F.greatest(
                F.col("n_sampled") * DEDUP_DF_CAP_FRAC, F.lit(DEDUP_DF_MIN_HITS)
            )
        )
        .select("sh")
    )
    return shingles.join(F.broadcast(hot), "sh", "left_anti")


def _minhash_minhashes(kept: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{{K-1}}) signature frame over the kept shingle
    stream: ONE md5 per shingle split into 32-bit halves, all K
    affine-rehash minima in ONE aggregation pass — the only keyed
    shuffle of the minhash pipeline."""
    hashed = kept.select(
        "doc_id",
        F.expr("cast(conv(substring(md5(sh), 1, 8), 16, 10) AS bigint)").alias("h1"),
        F.expr("cast(conv(substring(md5(sh), 9, 8), 16, 10) AS bigint)").alias("h2"),
    )
    # All K minhashes in ONE aggregation pass: K min() expressions over
    # the shingle stream instead of a K-way seed explode — the shuffle
    # carries |docs| x K partial minima, and the pre-shuffle row count
    # stays |shingles| (not |shingles| x K).
    return hashed.groupBy("doc_id").agg(*_mh_min_aggs())


def _minhash_band_sigs(minhashes: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH band signatures — a narrow projection
    over the K signature columns; the (doc, band, sig) long form comes
    from stack(), so no extra shuffle."""
    sig_cols = [
        F.md5(
            F.concat_ws(
                ",",
                *[F.col(f"mh{b * _ROWS_PER_BAND + i}") for i in range(_ROWS_PER_BAND)],
            )
        ).alias(f"sig{b}")
        for b in range(MINHASH_BANDS)
    ]
    stack_expr = "stack({n}, {args}) AS (band, sig)".format(
        n=MINHASH_BANDS,
        args=", ".join(f"{b}, sig{b}" for b in range(MINHASH_BANDS)),
    )
    return minhashes.select("doc_id", *sig_cols).select(
        "doc_id", F.expr(stack_expr)
    )


def _minhash_cand_raw(band_sigs: DataFrame) -> DataFrame:
    """Distinct banding-only candidate pairs (no est prefilter) — the
    pre-round-12 candidate policy, kept callable so the stress tool can
    measure the prefilter's precision lift as a counterfactual."""
    a = band_sigs.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = band_sigs.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _mh_pair_frames(minhashes: DataFrame):
    """(ma, mb, nmatch): the doc_a/doc_b-keyed renamed signature
    frames and the matching-minima count over them — the ONE source
    for every consumer that scores a candidate pair against the K
    signatures (the est prefilter and the audit's margin columns), so
    a K or naming change cannot silently diverge between them (r12
    review: three verbatim copies had accumulated)."""
    ma = minhashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(MINHASH_K)],
    )
    mb = minhashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(MINHASH_K)],
    )
    nmatch = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(MINHASH_K)
    )
    return ma, mb, nmatch


def _minhash_cand(
    band_sigs: DataFrame,
    minhashes: DataFrame,
    cand_raw: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs from the (band, sig) self-join, kept
    only when the minhash Jaccard ESTIMATE clears the banding's target
    threshold (matching minima >= _MINHASH_EST_MIN of K — see the
    constant's comment for the measured precision rationale).

    Cost: the raw pair set is bounded by the banding (sum of
    bucket^2); the prefilter is two doc-keyed joins back to the
    signature frame — the minhashes side is already partitioned by
    doc_id from its aggregation, so each join exchanges only the
    (small) candidate side — plus K integer compares per pair. No
    shingle data is re-read.

    `cand_raw`: pass an (optionally checkpointed) raw candidate frame
    to reuse — the audits build it anyway for their counterfactual
    side, and without the handoff the expensive bucket self-join would
    execute twice (r12 review).
    """
    if cand_raw is None:
        cand_raw = _minhash_cand_raw(band_sigs)
    ma, mb, nmatch = _mh_pair_frames(minhashes)
    return (
        cand_raw.join(ma, "doc_a")
        .join(mb, "doc_b")
        .filter(nmatch >= _MINHASH_EST_MIN)
        .select("doc_a", "doc_b")
    )


@register("llm_dedup_near_minhash", oracle=_MINHASH_ORACLE, category="llm")
def llm_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash + LSH banding.

    Pipeline: shingle explode (narrow) -> ONE md5 per shingle split into
    32-bit halves (h1, h2) -> groupBy(doc) computing all K affine
    minima min((a_k*h1 + b_k*h2 + c_k) mod P) in ONE pass [the
    only keyed shuffle] -> band signatures as a narrow stack()
    projection -> self-join on (band,sig). The self-join only pairs
    docs INSIDE a bucket, so cost is sum(bucket^2), not |docs|^2 — the
    property that makes this the scale path for 100 TB dedup. Hash cost
    is ONE digest + K multiply-adds per shingle (vs K digests), and the
    shuffled minima are 8-byte bigints. K={MINHASH_K},
    bands={MINHASH_BANDS} (rows/band={_ROWS_PER_BAND}): P(candidate) =
    1-(1-j^{_ROWS_PER_BAND})^{MINHASH_BANDS} for true shingle-jaccard
    j — and DETERMINISTIC capture whenever mismatching minima <=
    bands-1 (pigeonhole over 2-row bands; round 12 moved from 4x3 to
    the Kx2 layout — {MINHASH_BANDS}x{_ROWS_PER_BAND} as shipped — for
    exactly this guarantee, with the est prefilter carrying the
    precision the wider bands used to).

    Skew insurance (the df-cap): shingles whose document frequency
    exceeds DEDUP_DF_CAP_FRAC of the corpus are dropped before hashing —
    stopword-like shingles dominate every signature AND form the hottest
    LSH buckets. Document frequency is ESTIMATED on a deterministic
    1-in-{DEDUP_DF_SAMPLE_MOD} hash-sample of documents (md5(doc_id),
    reproduced by the oracle), so the df pass aggregates ~1/8 of the
    shingle stream; the hot tail is broadcast to an anti-join and the
    main stream is never re-shuffled for it. DEDUP_DF_MIN_HITS floors
    the threshold against sampling noise on tiny corpora.

    Two-stage design (round 12): the BANDING is tuned for recall
    alone — {MINHASH_BANDS} bands x {_ROWS_PER_BAND} rows, which
    pigeonhole-guarantees capture of any pair with fewer mismatching
    minima than bands — and the est-Jaccard PREFILTER carries
    precision: a candidate must also have matching minima / K >= the
    target threshold ({_MINHASH_EST_MIN} of {MINHASH_K}), K integer
    compares per candidate over the already-computed signatures, no
    shingle re-read. The r11 audit had measured banding-only precision
    decaying with corpus (0.93 -> 0.76 from sf0.01 -> sf0.1);
    measured after the split (STRESS.md): recall 1.0 AND precision
    1.0 flat from sf0.01 through the 10x tier (500 -> 50,000 docs),
    with the deliberately-loose recall stage bounded by the df-cap
    and the prefilter's O(K) per-pair cost — see
    llm_minhash_recall_audit for the driver-checked numbers.
    """
    kept = _minhash_kept(spark, sf_dir)
    # Materialize the |docs| x K signature table once (r14 optimization
    # pass, guide §2.4/§8): the banding self-join references it twice
    # (doc_a/doc_b sides) and the est prefilter twice more (ma/mb).
    # AQE's runtime stage reuse dedups the shared doc-keyed exchange,
    # but the POST-shuffle aggregation and the df-cap broadcast subtree
    # still re-execute per consumer; the checkpoint collapses those
    # (measured interleaved A/B at sf0.1: median 3.38 s -> 2.94 s,
    # ckpt faster in 6/7 pairs). Same pattern
    # `llm_dedup_simhash_pairs` already ships for its fingerprint
    # table: at 100 TB the signature table is the thing a deployment
    # persists; lazy so materialization rides the first action instead
    # of an extra job.
    minhashes = _minhash_minhashes(kept).localCheckpoint(eager=False)
    return _minhash_cand(_minhash_band_sigs(minhashes), minhashes)




# ---------------------------------------- dedup-cluster resolution (CC)

_CC_MAX_ROUNDS = 50  # safety bound; the loop exits on convergence


def _propagate_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round as a LAZY plan: (doc_id, old_label, label).

    Per round: one edge join + one map-side-combined min-agg + the
    label re-join — the per-round shuffle budget tests/test_plans.py
    locks in. Exposed separately so the plan can be inspected without
    executing the driver loop.
    """
    nbr = (
        edges.join(
            labels.select(F.col("doc_id").alias("dst"), F.col("label").alias("nl")),
            "dst",
        )
        .groupBy("src")
        .agg(F.min("nl").alias("nbr_min"))
    )
    return (
        labels.withColumnRenamed("label", "old_label")
        .join(nbr, F.col("doc_id") == nbr.src, "left")
        .select(
            "doc_id",
            "old_label",
            F.least(
                F.col("old_label"),
                F.coalesce(F.col("nbr_min"), F.col("old_label")),
            ).alias("label"),
        )
    )


def _shortcut_round(stepped: DataFrame) -> DataFrame:
    """Pointer-doubling shortcut: label <- stepped[label].

    `stepped` = (doc_id, old_label, label) from `_propagate_round`,
    already localCheckpoint'ed (it is consumed twice below). Because
    labels only ever DECREASE (label(v) <= v, and stepped[x] <= x for
    every node x), composing the mapping with itself lets min-labels
    travel 2^t hops after t rounds instead of t — the Shiloach-Vishkin
    shortcutting step, turning the driver loop's sequential round count
    from O(diameter) into O(log diameter) (guide §2.4: the rounds are
    the shuffles here, and each is a full sequential job barrier).

    Every label value is the doc_id of a node in the same component
    (propagation takes mins over neighbour ids; shortcut follows a
    component-internal pointer), so the inner lookup can only miss if a
    caller passes a label frame not closed over its own values — the
    left join + coalesce keeps that case a no-op instead of a row drop.
    """
    m = stepped.select(
        F.col("doc_id").alias("label"), F.col("label").alias("_ll")
    )
    return stepped.join(m, "label", "left").select(
        "doc_id",
        "old_label",
        F.coalesce("_ll", "label").alias("label"),
    )


# Rounds the last min_label_components call took to converge —
# instrumentation for the stress tiers (the driver-bound cost of the
# CC loop is ROUNDS x per-round job latency, so the round count is the
# number the pointer-doubling optimization must be judged on).
cc_rounds_last: int = 0

# Plain propagate rounds before the pointer-doubling shortcut joins the
# loop. Near-dup candidate graphs are DENSE (measured: sf0.1 and every
# stress tier converge in 2 rounds — replica construction keeps cluster
# structure tier-invariant), and there the shortcut's extra per-round
# self-join is pure overhead: interleaved A/B at the 100x tier read
# median 4.44 s (plain) vs 6.34 s (shortcut every round), new slower in
# 5/5 pairs. A chain-shaped component only shows up past round ~3, so
# the shortcut arms itself exactly when the workload proves deep:
# rounds 1-3 run the r14 loop unchanged (dense graphs never pay),
# round 4+ adds label <- label-of-label and the horizon doubles per
# round (diameter-63 chain: 64 rounds plain, 9 adaptive).
_CC_SHORTCUT_AFTER = 3


def min_label_components(
    edges: DataFrame, labels: DataFrame, max_rounds: int = _CC_MAX_ROUNDS
) -> DataFrame:
    """Min-label propagation with ADAPTIVE pointer-doubling, to fixpoint.

    `edges` = (src, dst) DIRECTED rows (pass both directions for an
    undirected graph); `labels` = (doc_id, label) initialized to
    label = doc_id. Per round: `_propagate_round` (one-hop min over
    neighbours), then — from round {_CC_SHORTCUT_AFTER}+1 on —
    `_shortcut_round` (label <- label-of-label), then a cheap
    changed-row count over the localCheckpoint'ed result — the
    kmeans-style driver loop, so convergence is detected instead of
    assumed (a fixed unroll silently splits any component whose
    diameter exceeds the unroll depth).

    Round complexity (r15 optimization pass, guide §2.4 — each round is
    a sequential driver-blocking job, the measured scaling wall of this
    op: BENCH_r14_c8 c8/c32 wall ratio ~1.0, i.e. round latency, not
    data parallelism, bounds it): dense near-dup graphs converge in
    2-3 plain rounds and never reach the shortcut, paying ZERO extra
    per-round work (the 100x-tier A/B that rejected the
    shortcut-every-round form — see _CC_SHORTCUT_AFTER); a deep
    component doubles its label horizon every shortcut round, so worst
    case is ~{_CC_SHORTCUT_AFTER} + log2(diameter) rounds instead of
    diameter + 1.

    Convergence stays sound under the shortcut because labels are
    monotone non-increasing: if a full round changes nothing, then the
    propagate step alone changed nothing (old >= stepped >= shortcut =
    old forces stepped = old), which is exactly the min-label fixpoint
    — labels constant per component, equal to the component's min id.

    The checkpoint per round is the GraphX/Pregel lineage-truncation
    pattern: without it round t's plan re-runs rounds 0..t-1, and the
    changed-count action would double that work.
    """
    global cc_rounds_last
    rounds = 0
    for _ in range(max_rounds):
        # LAZY checkpoints + count = ONE job per round (r14 optimization
        # pass): the changed-row count is the round's first action, so
        # it materializes the round's checkpoint(s) and counts, all in
        # the same job. (The previous eager checkpoint ran a
        # materialization job and then a second count job — 2
        # jobs/round, pure scheduling overhead at any scale.)
        new_labels = _propagate_round(edges, labels).localCheckpoint(eager=False)
        if rounds >= _CC_SHORTCUT_AFTER:
            # the propagate output is already checkpointed above, which
            # the shortcut needs anyway: it consumes the frame TWICE
            # (rows + the label->label mapping) — without the
            # checkpoint each shortcut round would run the edge join
            # twice.
            new_labels = _shortcut_round(new_labels).localCheckpoint(
                eager=False
            )
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("doc_id", "label")
        rounds += 1
        if changed == 0:
            break
    cc_rounds_last = rounds
    return labels


# Exact connected components in SQL: a recursive CTE accumulates, for
# each node, every label reachable through the (symmetric) edge set;
# MIN over that set is the component id — correct at ANY diameter, so
# the oracle stays in lockstep with the convergence-driven Spark loop.
_CC_ORACLE = f"""
WITH RECURSIVE pairs AS (SELECT * FROM ({_MINHASH_ORACLE}) p),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (
  SELECT doc_a AS doc_id FROM pairs
  UNION SELECT doc_b AS doc_id FROM pairs
),
reach AS (
  SELECT doc_id, doc_id AS label FROM nodes
  UNION
  SELECT e.src AS doc_id, r.label
  FROM edges e JOIN reach r ON r.doc_id = e.dst
),
final AS (SELECT doc_id, MIN(label) AS component_id FROM reach GROUP BY doc_id)
SELECT doc_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS component_size,
       doc_id = component_id AS is_keeper
FROM final
"""


@register("llm_dedup_components", oracle=_CC_ORACLE, category="llm")
def llm_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster resolution: connected components over the minhash
    candidate-pair graph, electing one keeper per component.

    Near-dup pairs are not the end product — a training pipeline needs
    each *cluster* collapsed to one canonical document. Labels propagate
    via `min_label_components`: a driver loop of min-label rounds that
    STOPS when a round changes zero labels (like llm_kmeans_iter), so a
    chain-shaped component of any diameter resolves correctly — no
    fixed unroll depth to outgrow. The oracle is exact CC via a
    recursive CTE, diameter-independent by construction.
    component_id = min doc_id in the component; the keeper is the doc
    that owns that id.
    """
    # Materialize the candidate pairs once: every propagation round
    # references the edge set, and without a checkpoint each round would
    # re-run the whole minhash pipeline (iterative-graph checkpointing,
    # the GraphX/GraphFrames pattern; pairs = the blocked candidate set,
    # orders of magnitude smaller than the corpus).
    pairs = llm_dedup_near_minhash(spark, sf_dir).localCheckpoint(eager=False)
    return _cc_resolve(pairs)


def _cc_resolve(pairs: DataFrame) -> DataFrame:
    """Shared CC tail of the components ops: symmetric edges + initial
    own-label frame -> convergence-driven min-label propagation ->
    (doc_id, component_id, component_size, is_keeper). `pairs` must be
    checkpointed (eager or lazy) so rounds do not recompute the
    upstream pipeline — every propagation round references it."""
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    labels = (
        pairs.selectExpr("doc_a AS doc_id")
        .union(pairs.selectExpr("doc_b AS doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    labels = min_label_components(edges, labels)
    return labels.select(
        "doc_id",
        F.col("label").alias("component_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("component_size"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


# Verified components: the same resolution but over edges that PASSED
# the exact-Jaccard verify. The r14 cutoff decision (STRESS.md
# precision section) rests on llm_dedup_components consuming the
# prefiltered set unverified — correct while the prefilter's measured
# precision is 1.0, but one future sub-threshold edge would merge two
# clusters. This op is the structural fix a 100 TB deployment ships:
# candidates -> exact set-Jaccard over the SAME df-capped shingle
# universe the signatures hash -> CC, so a prefilter precision slip
# costs wasted verify work, never a wrong merge.
_CC_VERIFIED_ORACLE = f"""
WITH RECURSIVE {_MINHASH_CTES},
vksets AS (SELECT DISTINCT doc_id, sh FROM kept),
vsizes AS (SELECT doc_id, COUNT(*) AS n FROM vksets GROUP BY doc_id),
vinter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
  FROM cand c
  JOIN vksets a ON a.doc_id = c.doc_a
  JOIN vksets b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY c.doc_a, c.doc_b
),
vpairs AS (
  SELECT i.doc_a, i.doc_b FROM vinter i
  JOIN vsizes sa ON sa.doc_id = i.doc_a
  JOIN vsizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared)
        >= {_JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM vpairs
),
nodes AS (
  SELECT doc_a AS doc_id FROM vpairs
  UNION SELECT doc_b AS doc_id FROM vpairs
),
reach AS (
  SELECT doc_id, doc_id AS label FROM nodes
  UNION
  SELECT e.src AS doc_id, r.label
  FROM edges e JOIN reach r ON r.doc_id = e.dst
),
final AS (SELECT doc_id, MIN(label) AS component_id FROM reach GROUP BY doc_id)
SELECT doc_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS component_size,
       doc_id = component_id AS is_keeper
FROM final
"""


@register(
    "llm_dedup_components_verified", oracle=_CC_VERIFIED_ORACLE,
    category="llm",
)
def llm_dedup_components_verified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`llm_dedup_components` with the exact-Jaccard VERIFY stage
    between the candidate pairs and the component resolution — the
    structural completion of the r14 prefilter-cutoff decision
    (STRESS.md precision section): the unverified variant is only as
    safe as the prefilter's measured precision 1.0, because one
    sub-threshold edge merges two whole clusters; here every edge
    must clear exact set-Jaccard >= {_JACCARD_THRESHOLD} computed
    over the SAME df-capped shingle universe the signatures hash, so
    a prefilter slip costs wasted verify work, never a wrong merge.

    Plan: candidates come from the shared banding+prefilter chain
    (one keyed shuffle of 8-byte minima, sum-of-bucket^2 pair join);
    the verify joins ONLY candidate pairs back to the kept shingle
    stream — cost |candidates| x shingles-per-doc, the blocked-join
    bound, never corpus^2 — and the CC tail is the shared
    convergence-driven min-label loop (checkpointed spine, per-round
    shuffle bounded by |verified edges|). At 100 TB the verify stage
    is the one extra pass a deployment pays for merge-safety; its
    cost was measured at +0.5-3 s per tier in the r14 cutoff study
    (verify_wall columns, STRESS.md).
    """
    kept = _minhash_kept(spark, sf_dir).localCheckpoint(eager=False)
    # same 4-consumer signature-table materialization as the base op
    # (r14 optimization pass — see llm_dedup_near_minhash)
    minhashes = _minhash_minhashes(kept).localCheckpoint(eager=False)
    cand = _minhash_cand(_minhash_band_sigs(minhashes), minhashes)
    return _cc_resolve(
        _exact_jaccard_verify(cand, kept).localCheckpoint(eager=False)
    )


def _exact_jaccard_verify(cand: DataFrame, kept: DataFrame) -> DataFrame:
    """Exact set-Jaccard verify of candidate (doc_a, doc_b) pairs
    against the kept (doc_id, sh) shingle stream: join each pair to
    doc_a's shingles, match doc_b's, size-join, threshold. Cost is
    |candidates| x shingles-per-doc — the blocked-join bound. Factored
    out so tests can plant a sub-threshold candidate and assert the
    verify drops it before the CC stage can merge on it.

    r14 optimization pass (guide §3.2 — prune the big side before it
    shuffles): only docs that appear in a candidate pair matter to the
    verify, and that set is small (measured sf0.1: 477 of 5,000 docs =
    9.5%), so a semi-join prefilter drops ~90% of the shingle stream
    before the distinct + the two verify joins shuffle it.  The
    candidate frame is materialized once for its three consumers
    (doc_a ids, doc_b ids, the verify join).  Interleaved A/B: at
    sf0.1 a ~1.5% wash-to-loss (stream is only 261k rows); at the 10x
    replica tier min-of-3 95.0 -> 41.4 s wall for the full verified
    op, new faster in 2/3 interleaved pairs — the win grows with the
    corpus while the prefilter cost tracks |candidates|.  Left
    unhinted so Spark picks broadcast vs shuffle semi-join by size."""
    cand = cand.localCheckpoint(eager=False)
    docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    kept = kept.join(docs, "doc_id", "semi")
    ksets = kept.distinct()
    sizes = ksets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ka = ksets.select(F.col("doc_id").alias("doc_a"), "sh")
    kb = ksets.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cand.join(ka, "doc_a")
        .join(kb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared"))
            >= _JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )


# ------------------------------------------------------------- simhash

# 60 bits = 15 md5 hex chars, the widest value both engines can carry
# in an UNSIGNED-safe BIGINT (16 chars could set the sign bit).
# Round 10 widened this from 16: a 16-bit fingerprint banded 4 ways
# leaves FOUR-bit band keys — 16 possible values per band — so banded
# blocking degenerated into a 16-way partition and the candidate join
# measured 13.9 M pairs at sf0.1 → 409 M at 10x → 3.2 BILLION at 30x
# (pure N²/32; a bucket cap cannot help when the whole key space is
# 16).  At 60 bits the 15-bit band keys give 32,768 values per band —
# the production simhash design (64-bit fingerprints, 4 bands,
# Hamming <= 3: Manku, Jain & Sarma, WWW'07) — and the same measured
# series reads 101 K → 1.13 M → 3.86 M with the bucket cap (linear
# tier-to-tier, bounded by bands·cap·N by construction).
_SIMHASH_BITS = 60

_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tk FROM documents
),
bits AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (CAST(('0x' || SUBSTR(MD5(tk), 1, 15)) AS BIGINT)
                        >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM tok CROSS JOIN (SELECT UNNEST(range({_SIMHASH_BITS})) AS bit) b
  GROUP BY doc_id, b.bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END)
            AS BIGINT) AS simhash
FROM bits
GROUP BY doc_id
"""


@register("llm_dedup_simhash", oracle=_SIMHASH_ORACLE, category="llm")
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per document ({_SIMHASH_BITS}-bit).

    Each token votes ±1 per bit position of its {_SIMHASH_BITS}-bit
    hash (the first 15 hex chars of its md5 — 16 would risk the sign
    bit of an engine-portable BIGINT); the sign of the per-bit sum
    forms the fingerprint. Near-dup
    docs land at small Hamming distance — pair finding then blocks on
    fingerprint bytes instead of comparing all pairs. Shuffle is
    |docs| x BITS rows of (doc, bit, ±1) — linear in corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    # Bit-packed majority vote (round 11). The textbook formulation —
    # explode each token into 60 (doc, bit, ±1) rows and groupBy
    # (doc, bit) — pushes |tokens| x 60 rows through the hash
    # aggregate (30 M rows at sf0.1) and THAT, not the md5, was the
    # measured wall (hoisting md5 out of the fan-out changed nothing).
    # Instead each token's 60 bit-indicators are packed into 30 bigint
    # accumulators of two 32-bit lanes, so ONE groupBy(doc_id) with 30
    # map-side-combined sums does the whole vote; the fingerprint
    # decodes per doc from the lane counts (bit set iff 2*cnt >
    # n_tokens ⟺ the old sum-of-±1 > 0 — same math, same ties, oracle
    # unchanged and hash-identical).  Lane arithmetic bound: per-row
    # packed value < 2^33, so the int64 sum is safe (and lane 0 cannot
    # carry into lane 1) for any document under 2^31 tokens — a 16-bit
    # lane layout would have silently corrupted fingerprints past
    # 65,535 tokens/doc, a size real web corpora DO contain
    # (tests/test_semantics.py pins the >65k-token case against a
    # pure-Python naive vote).
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tk")
    ).select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(tk), 1, 15), 16, 10) AS bigint)"
        ).alias("h"),
    )
    n_acc = (_SIMHASH_BITS + 1) // 2
    packs = []
    for k in range(n_acc):
        terms = [
            f"shiftleft(shiftright(h, {2 * k + lane}) & 1, {32 * lane})"
            for lane in range(2)
            if 2 * k + lane < _SIMHASH_BITS
        ]
        packs.append(F.sum(F.expr(" + ".join(terms))).alias(f"a{k}"))
    counts = tok.groupBy("doc_id").agg(*packs, F.count(F.lit(1)).alias("n"))
    fp_terms = []
    for b in range(_SIMHASH_BITS):
        k, lane = divmod(b, 2)
        cnt = f"(shiftright(a{k}, {32 * lane}) & 4294967295)"
        fp_terms.append(
            f"CASE WHEN 2 * {cnt} > n THEN shiftleft(cast(1 AS bigint), {b}) "
            "ELSE cast(0 AS bigint) END"
        )
    return counts.select(
        "doc_id",
        F.expr(" + ".join(fp_terms)).cast("bigint").alias("simhash"),
    )


# ------------------------------------------ simhash pair finding (LSH)

_SIMHASH_PAIR_BANDS = 4
_SIMHASH_BAND_BITS = _SIMHASH_BITS // _SIMHASH_PAIR_BANDS
_SIMHASH_BAND_MASK = (1 << _SIMHASH_BAND_BITS) - 1
# pigeonhole: a pair within Hamming distance (bands - 1) differs in at
# most bands-1 bit positions, so at least one of the `bands` disjoint
# bit-blocks is identical -> every qualifying pair collides in >= 1 band
_SIMHASH_HAM_MAX = _SIMHASH_PAIR_BANDS - 1
# over-cap band buckets are SAMPLED down to the cap for candidate
# generation (deterministic md5(doc_id) order) — the same
# boilerplate-mask discipline as multimodal._BAND_BUCKET_CAP
# (pigeonhole makes any fixed-width banding Ω(N²) once N >> key
# space; the cap bounds candidates to O(bands·cap·N)).  Round 10
# asserted the cap "never binds at the testdata SFs"; the
# llm_simhash_recall_bucket_cap audit op below MEASURED that wrong:
# at sf0.1 21 of 5,736 buckets are over-cap and sampled-cap recall
# is 0.834 (vs 1.0 at sf0.01, 0 over-cap buckets).  Value shared
# with multimodal via params.BAND_BUCKET_CAP so the two oracle
# f-strings cannot drift.
_SIMHASH_BUCKET_CAP = BAND_BUCKET_CAP

# Shared CTE chain: fingerprints -> band keys -> cap-SAMPLED blocks ->
# candidates -> popcount-verified pairs.  Both the pairs oracle and the
# bucket-cap recall oracle are generated from this ONE string so the
# audited pipeline is literally the audited-against pipeline.
_SIMHASH_BAND_CTES = f"""fp AS MATERIALIZED ({_SIMHASH_ORACLE}),
bands AS MATERIALIZED (
  SELECT doc_id, b.band,
         (simhash >> (b.band * {_SIMHASH_BAND_BITS})) & {_SIMHASH_BAND_MASK} AS key
  FROM fp CROSS JOIN (SELECT UNNEST(range({_SIMHASH_PAIR_BANDS})) AS band) b
),
blk AS (
  -- over-cap buckets are SAMPLED to the cap by deterministic
  -- md5(doc_id) order (round 11; round 10 skipped them entirely)
  SELECT doc_id, band, key FROM (
    SELECT doc_id, band, key,
           ROW_NUMBER() OVER (PARTITION BY band, key
                              ORDER BY MD5(CAST(doc_id AS VARCHAR))) AS rn
    FROM bands) WHERE rn <= {_SIMHASH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blk a JOIN blk b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         CAST(BIT_COUNT(XOR(fa.simhash, fb.simhash)) AS INTEGER) AS hamming
  FROM cand c
  JOIN fp fa ON fa.doc_id = c.doc_a
  JOIN fp fb ON fb.doc_id = c.doc_b
  WHERE BIT_COUNT(XOR(fa.simhash, fb.simhash)) <= {_SIMHASH_HAM_MAX}
)"""

_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_BAND_CTES}
SELECT doc_a, doc_b, hamming FROM pairs
"""


def _simhash_bands(fp: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows: the fingerprint split into
    {_SIMHASH_PAIR_BANDS} disjoint {_SIMHASH_BAND_BITS}-bit blocks —
    one narrow `stack` per doc, no shuffle."""
    stack_args = ", ".join(
        f"{b}, (shiftright(simhash, {b * _SIMHASH_BAND_BITS}) & {_SIMHASH_BAND_MASK})"
        for b in range(_SIMHASH_PAIR_BANDS)
    )
    return fp.select(
        "doc_id", F.expr(f"stack({_SIMHASH_PAIR_BANDS}, {stack_args}) AS (band, key)")
    )


def _simhash_cand(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs from the (band, key) self-join."""
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _simhash_verify(cand: DataFrame, fp: DataFrame) -> DataFrame:
    """Exact popcount Hamming verify of candidate pairs against the
    checkpointed fingerprint table; keeps distance <= {_SIMHASH_HAM_MAX}."""
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", F.expr("cast(bit_count(sh_a ^ sh_b) AS int)"))
        .filter(F.col("hamming") <= _SIMHASH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_blk(bands: DataFrame) -> DataFrame:
    """Cap-sampled blocks: over-cap (band, key) buckets keep only a
    deterministic md5(doc_id)-ordered sample of {_SIMHASH_BUCKET_CAP}
    docs (round 11 — sampling replaced round 10's skip so the largest
    clusters still yield representative pairs).  The row_number window
    partitions on the SAME (band, key) the candidate self-join uses,
    so its exchange is reused."""
    rn = F.row_number().over(
        Window.partitionBy("band", "key").orderBy(
            F.md5(F.col("doc_id").cast("string"))
        )
    )
    return (
        bands.withColumn("rn", rn)
        .filter(F.col("rn") <= _SIMHASH_BUCKET_CAP)
        .drop("rn")
    )


@register("llm_dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE, category="llm")
def llm_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded Hamming-distance blocking.

    Completes the simhash strategy ({_SIMHASH_BITS}-bit fingerprints ->
    pairs): fingerprints are split into {_SIMHASH_PAIR_BANDS} disjoint
    {_SIMHASH_BAND_BITS}-bit blocks; candidates are formed ONLY inside a
    (band, block-value) bucket, then verified with the exact popcount
    Hamming distance <= {_SIMHASH_HAM_MAX}. The pigeonhole guarantee
    makes blocking lossless at that radius for pairs whose shared band
    bucket is within the {_SIMHASH_BUCKET_CAP}-doc cap; over-cap
    buckets contribute a deterministic md5-ordered SAMPLE of
    {_SIMHASH_BUCKET_CAP} docs (round 11 — see _SIMHASH_BUCKET_CAP),
    and the cap's actual recall cost is an oracle-checked number
    (`llm_simhash_recall_bucket_cap` below), not an assertion.  Pair
    cost is bounded by bands·cap·|docs| — never |docs|^2.
    Round 10 widened the fingerprint 16 → {_SIMHASH_BITS} bits after
    measurement: 4-bit band keys made blocking a 16-way partition
    (3.2 B candidate pairs at the 30x stress tier); 15-bit keys are
    the production design (Manku et al., WWW'07). Fingerprints are
    checkpointed once so the bucket join and both verify probes read the
    materialized |docs|-row table instead of re-running the voting
    pipeline three times (at 100 TB the fingerprint table is the thing
    you persist; pair finding is a cheap self-join over it).
    """
    fp = llm_dedup_simhash(spark, sf_dir).localCheckpoint(eager=False)
    return _simhash_verify(_simhash_cand(_simhash_blk(_simhash_bands(fp))), fp)


_SIMHASH_RECALL_ORACLE = f"""
WITH {_SIMHASH_BAND_CTES},
truth_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
truth AS (
  SELECT t.doc_a, t.doc_b
  FROM truth_cand t
  JOIN fp fa ON fa.doc_id = t.doc_a
  JOIN fp fb ON fb.doc_id = t.doc_b
  WHERE BIT_COUNT(XOR(fa.simhash, fb.simhash)) <= {_SIMHASH_HAM_MAX}
),
bsz AS (SELECT band, key, COUNT(*) AS bn FROM bands GROUP BY band, key),
agg AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM bsz) AS n_buckets,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM bsz
      WHERE bn > {_SIMHASH_BUCKET_CAP}) AS n_overcap_buckets,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS true_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS kept_pairs
)
SELECT n_buckets, n_overcap_buckets, true_pairs, kept_pairs,
       CAST(true_pairs - kept_pairs AS BIGINT) AS dropped_pairs,
       ROUND(CASE WHEN true_pairs = 0 THEN 1.0
                  ELSE CAST(kept_pairs AS DOUBLE) / true_pairs END,
             6) AS recall
FROM agg
"""


@register("llm_simhash_recall_bucket_cap", oracle=_SIMHASH_RECALL_ORACLE,
          category="llm")
def llm_simhash_recall_bucket_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked recall audit of the simhash bucket cap — turns
    "the cap never binds at the testdata SFs" (a SCALE.md assertion
    through round 10) into a driver-verified number, the same way
    `llm_ann_recall_ivf_kmeans` audits the ANN index.

    Truth side: the UNCAPPED banded pipeline, which by pigeonhole is
    LOSSLESS for Hamming <= {_SIMHASH_HAM_MAX} = bands-1 — so "all
    true pairs" needs no |docs|^2 join, just the same band self-join
    without the cap.  Kept side: the production cap-sampled pipeline
    (`llm_dedup_simhash_pairs`).  Sampled blocks are a subset of the
    full blocks, so kept ⊆ true and recall = kept/true is exact.
    One row: bucket totals, over-cap bucket count (the runtime signal
    round-11 ADVICE asked for), true/kept/dropped pair counts, recall.

    Scale note: the truth side deliberately runs WITHOUT the cap, so
    this audit inherits the quadratic wall the cap exists to avoid —
    at 100 TB you run it on a sampled partition of the corpus (the
    recall estimate is unbiased under doc sampling), not the full
    corpus.  The three single-row aggregates meet in broadcast
    cross-joins — no data-sized shuffle beyond the band joins.
    """
    from snapshot_s3_util_spark.llm.audit import cap_recall_row

    fp = llm_dedup_simhash(spark, sf_dir).localCheckpoint(eager=True)
    bands = _simhash_bands(fp).localCheckpoint(eager=True)
    kept = _simhash_verify(_simhash_cand(_simhash_blk(bands)), fp)
    true = _simhash_verify(_simhash_cand(bands), fp)
    return cap_recall_row(
        bands, ["band", "key"], _SIMHASH_BUCKET_CAP, true, kept
    )


# ------------------------------------------------- n-gram jaccard pairs
# (_JACCARD_THRESHOLD is defined with the minhash constants up top —
# the banding, its est prefilter, and this exact verify op all target
# the same near-dup threshold.)

_NGRAM = 3

_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
all_grams AS (
  SELECT DISTINCT doc_id, lang,
         UNNEST(list_transform(range(1, len(t) - {_NGRAM} + 2),
                i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) AS g
  FROM toks WHERE len(t) >= {_NGRAM}
),
hot AS (
  SELECT lang, g FROM all_grams GROUP BY lang, g
  HAVING COUNT(*) > (SELECT {DEDUP_DF_CAP_FRAC} * COUNT(*) FROM documents)
),
grams AS (
  SELECT a.doc_id, a.lang, a.g FROM all_grams a
  ANTI JOIN hot h ON a.lang = h.lang AND a.g = h.g
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM grams a JOIN grams b
    ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= {_JACCARD_THRESHOLD}
"""


@register("llm_dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, category="llm")
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-{_NGRAM}-gram Jaccard similarity >= {_JACCARD_THRESHOLD} pairs.

    The gram-equality join is the blocking step (same lang only): docs
    sharing zero grams never meet, so cost tracks shared-gram frequency
    rather than |docs|^2. Grams whose document frequency exceeds
    DEDUP_DF_CAP_FRAC of the corpus are dropped BEFORE the bucket join
    (and before the set-size computation, so jaccard is over the kept
    sets on both engines) — the df-cap bounds the hottest gram's bucket
    at 100 TB; the hot set is tiny and broadcast to an anti-join.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("t")).filter(
        F.size("t") >= _NGRAM
    )
    all_grams = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_NGRAM} + 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i+1), ' ', "
                "element_at(t, i+2)))"
            )
        ).alias("g"),
    ).distinct()
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    hot = (
        all_grams.groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > F.col("n_docs") * DEDUP_DF_CAP_FRAC)
        .select("lang", "g")
    )
    grams = all_grams.join(F.broadcast(hot), ["lang", "g"], "left_anti")
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "lang", "g")
    b = grams.select(F.col("doc_id").alias("doc_b"), "lang", "g")
    inter = (
        a.join(b, ["lang", "g"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------- minhash LSH recall/precision audit
# Completes the blocking-audit family (simhash / aHash / pHash audits
# measure a deterministic cap; THIS one measures the probabilistic
# banding itself): unlike simhash's pigeonhole guarantee, minhash
# banding is lossy by design — P(candidate) = 1-(1-j^r)^b for true
# shingle-Jaccard j (r rows/band, b bands), so recall at the Jaccard
# threshold is a NUMBER the deployment should know, not a formula.
# Lives after the jaccard section because the truth threshold is
# shared with llm_dedup_ngram_jaccard (_JACCARD_THRESHOLD).

_MINHASH_RECALL_ORACLE = f"""
WITH {_MINHASH_CTES},
ksets AS (SELECT DISTINCT doc_id, sh FROM kept),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ksets GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM ksets a JOIN ksets b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared)
        >= {_JACCARD_THRESHOLD}
),
hits AS (
  SELECT t.doc_a, t.doc_b FROM truth t
  JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
),
nm_true AS (
  SELECT MIN({' + '.join(f'CASE WHEN ma.mh{k} = mb.mh{k} THEN 1 ELSE 0 END'
                         for k in range(MINHASH_K))}) AS v
  FROM truth t
  JOIN minhashes ma ON ma.doc_id = t.doc_a
  JOIN minhashes mb ON mb.doc_id = t.doc_b
),
false_raw AS (
  SELECT c.doc_a, c.doc_b FROM cand_raw c
  ANTI JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
),
nm_false AS (
  SELECT MAX({' + '.join(f'CASE WHEN ma.mh{k} = mb.mh{k} THEN 1 ELSE 0 END'
                         for k in range(MINHASH_K))}) AS v
  FROM false_raw f
  JOIN minhashes ma ON ma.doc_id = f.doc_a
  JOIN minhashes mb ON mb.doc_id = f.doc_b
),
agg AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS true_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS cand_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS hit_pairs,
    (SELECT CAST(COALESCE(MIN(v), -1) AS BIGINT) FROM nm_true)
      AS min_true_nmatch,
    (SELECT CAST(COALESCE(MAX(v), -1) AS BIGINT) FROM nm_false)
      AS max_false_nmatch
)
SELECT true_pairs, cand_pairs, hit_pairs,
       ROUND(CASE WHEN true_pairs = 0 THEN 1.0
                  ELSE CAST(hit_pairs AS DOUBLE) / true_pairs END,
             6) AS recall,
       ROUND(CASE WHEN cand_pairs = 0 THEN 1.0
                  ELSE CAST(hit_pairs AS DOUBLE) / cand_pairs END,
             6) AS precision_at_j,
       CAST({_MINHASH_EST_MIN} AS BIGINT) AS est_min,
       min_true_nmatch, max_false_nmatch
FROM agg
"""


@register("llm_minhash_recall_audit", oracle=_MINHASH_RECALL_ORACLE,
          category="llm")
def llm_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall AND precision of the MinHash-LSH banding at
    Jaccard >= {_JACCARD_THRESHOLD} — the probabilistic analog of the
    bucket-cap audits.  Theory says P(candidate) = 1-(1-j^{_ROWS_PER_BAND})^{MINHASH_BANDS}
    per pair (0.41 at j exactly 0.5, rising fast above it); this op
    replaces the formula with the corpus's actual numbers.

    Ground truth is EXACT set-Jaccard computed on the SAME df-capped
    shingle universe the signatures hash (so the audit scores the
    banding alone, not the df-cap), found via shared-shingle blocking
    — only pairs sharing >= 1 kept shingle can have J > 0, so no
    |docs|^2 join exists anywhere; the blocking cost is sum(df^2)
    over kept shingles, which is exactly what the df-cap bounds.
    Precision is reported too: candidates below the threshold are the
    verify stage's wasted work — the other side of the banding trade.

    Round 12 added the SEPARATION MARGIN the est prefilter rides on:
    `min_true_nmatch` (fewest matching minima among TRUE pairs) vs
    `max_false_nmatch` (most among sub-threshold banding candidates),
    alongside the shipped cutoff `est_min`. The prefilter is safe
    while min_true_nmatch > est_min (strict — the suite and stress
    margin gates fail AT equality, keeping one minima of slack) with
    est_min > (ideally) max_false_nmatch;
    a closing margin is the early warning to raise K before recall
    or precision actually degrades — and round 12 measured exactly
    that: at K=12 the margin collapsed to 6/6/6 at the 30x stress
    tier (two sub-threshold pairs through), so K rose to 16; around
    the shipped cutoff {_MINHASH_EST_MIN} the margins now read
    min-true/max-false = 14/2 (sf0.01), 11/5 (sf0.1), 9/7 (30x).
    At 100 TB run it on a doc-sampled partition (the estimates are
    unbiased under doc sampling), like every audit in this family.
    """
    kept = _minhash_kept(spark, sf_dir).localCheckpoint(eager=True)
    minhashes = _minhash_minhashes(kept).localCheckpoint(eager=True)
    band_sigs = _minhash_band_sigs(minhashes)
    # materialize the raw banding pairs ONCE: the prefiltered set, the
    # hits join, and the false-margin column all derive from it, and
    # the bucket self-join is the audit's dominant cost (r12 review)
    cand_raw = _minhash_cand_raw(band_sigs).localCheckpoint(eager=True)
    cand = _minhash_cand(band_sigs, minhashes, cand_raw=cand_raw)
    ksets = kept.distinct()
    sizes = ksets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ksets.select(F.col("doc_id").alias("doc_a"), "sh")
    b = ksets.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared"))
            >= _JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    hits = truth.join(cand, ["doc_a", "doc_b"])
    ma, mb, nmatch = _mh_pair_frames(minhashes)
    nm_true = (
        truth.join(ma, "doc_a")
        .join(mb, "doc_b")
        .agg(
            F.coalesce(F.min(nmatch), F.lit(-1))
            .cast("bigint")
            .alias("min_true_nmatch")
        )
    )
    nm_false = (
        cand_raw.join(truth, ["doc_a", "doc_b"], "left_anti")
        .join(ma, "doc_a")
        .join(mb, "doc_b")
        .agg(
            F.coalesce(F.max(nmatch), F.lit(-1))
            .cast("bigint")
            .alias("max_false_nmatch")
        )
    )
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("true_pairs"))
    c = cand.agg(F.count(F.lit(1)).cast("bigint").alias("cand_pairs"))
    h = hits.agg(F.count(F.lit(1)).cast("bigint").alias("hit_pairs"))
    return (
        t.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(h))
        .crossJoin(F.broadcast(nm_true))
        .crossJoin(F.broadcast(nm_false))
        .select(
            "true_pairs",
            "cand_pairs",
            "hit_pairs",
            F.round(
                F.when(F.col("true_pairs") == 0, F.lit(1.0)).otherwise(
                    F.col("hit_pairs").cast("double") / F.col("true_pairs")
                ),
                6,
            ).alias("recall"),
            F.round(
                F.when(F.col("cand_pairs") == 0, F.lit(1.0)).otherwise(
                    F.col("hit_pairs").cast("double") / F.col("cand_pairs")
                ),
                6,
            ).alias("precision_at_j"),
            F.lit(_MINHASH_EST_MIN).cast("bigint").alias("est_min"),
            "min_true_nmatch",
            "max_false_nmatch",
        )
    )


# -------------------------------------------- embedding cosine near-dup

_COS_DUP_THRESHOLD = 0.99
_EMB_DIM = 64          # embeddings.embedding element count (TESTDATA.md)
_SRP_BANDS = 4         # LSH repetitions
_SRP_BITS = 8          # hyperplanes per band -> 256 buckets per band

# Signed-random-projection weights are derived from md5 so BOTH engines
# materialize the identical hyperplane matrix at runtime:
#   w(band, bit, j) = h(band,bit,j) / 2^31 - 1   in [-1, 1)
# with h = first 8 md5 hex digits of "band_bit_j" as a bigint.

def srp_signatures(spark: SparkSession, v: DataFrame) -> DataFrame:
    """(vec_id, band, sig) signed-random-projection signatures for a
    (vec_id, e: array<double>) input — the computed coarse blocking key
    for embedding dedup. Hyperplanes are md5-derived so any SQL engine
    reproduces them; plan = broadcast nested-loop over the 32 weight
    rows + one partial-agg-combined (vec_id, band) groupBy."""
    wv = (
        spark.range(_SRP_BANDS * _SRP_BITS)
        .select(
            (F.col("id") / _SRP_BITS).cast("int").alias("band"),
            (F.col("id") % _SRP_BITS).cast("int").alias("bit"),
        )
        .select(
            "band",
            "bit",
            F.expr(
                f"transform(sequence(0, {_EMB_DIM - 1}), j -> "
                "cast(conv(substring(md5(concat(cast(band AS string), '_', "
                "cast(bit AS string), '_', cast(j AS string))), 1, 8), 16, 10) "
                "AS double) / 2147483648.0 - 1.0)"
            ).alias("wvec"),
        )
    )
    dot_w = F.expr(
        "aggregate(zip_with(e, wvec, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )
    # the sign test runs on round(dot, 6): Spark folds the dot product
    # sequentially while SQL engines may sum in another order, and an
    # unrounded near-zero dot could flip sign between engines
    return (
        v.crossJoin(F.broadcast(wv))
        .withColumn("dot", F.round(dot_w, 6))
        .groupBy("vec_id", "band")
        .agg(
            F.sum(
                F.expr("CASE WHEN dot > 0 THEN shiftleft(1, bit) ELSE 0 END")
            )
            .cast("bigint")
            .alias("sig")
        )
    )


# Shared DuckDB CTE chain reproducing `srp_signatures` bit-exactly —
# expects a prior CTE `v(vec_id, e)` with DOUBLE[] embeddings; yields
# `cand(vec_a, vec_b)`, the distinct same-(band, sig)-bucket pairs.
# Used by the `llm_dedup_embedding` and `llm_semdedup_sweep` oracles so
# both engines agree on the exact LSH candidate set.
SRP_CAND_CTES = f"""
w AS (
  SELECT t1.band, t2.bit, t3.j,
         CAST(('0x' || SUBSTR(MD5(t1.band || '_' || t2.bit || '_' || t3.j), 1, 8))
              AS BIGINT) / 2147483648.0 - 1.0 AS w
  FROM range({_SRP_BANDS}) t1(band), range({_SRP_BITS}) t2(bit),
       range({_EMB_DIM}) t3(j)
),
wv AS (SELECT band, bit, LIST(w ORDER BY j) AS wvec FROM w GROUP BY band, bit),
sigs AS (
  SELECT v.vec_id, wv.band,
         CAST(SUM(CASE WHEN ROUND(LIST_DOT_PRODUCT(v.e, wv.wvec), 6) > 0
                       THEN 1 << bit ELSE 0 END) AS BIGINT) AS sig
  FROM v CROSS JOIN wv
  GROUP BY v.vec_id, wv.band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
)"""


_EMB_DUP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE embedding IS NOT NULL
),
{SRP_CAND_CTES}
SELECT c.vec_a, c.vec_b,
       ROUND(LIST_DOT_PRODUCT(va.e, vb.e) /
             (SQRT(LIST_DOT_PRODUCT(va.e, va.e)) *
              SQRT(LIST_DOT_PRODUCT(vb.e, vb.e))), 6) AS cos_sim,
       LIST_DOT_PRODUCT(va.e, vb.e) /
       (SQRT(LIST_DOT_PRODUCT(va.e, va.e)) *
        SQRT(LIST_DOT_PRODUCT(vb.e, vb.e))) >= {_COS_DUP_THRESHOLD} AS is_dup
FROM cand c
JOIN v va ON va.vec_id = c.vec_a
JOIN v vb ON vb.vec_id = c.vec_b
"""


@register("llm_dedup_embedding", oracle=_EMB_DUP_ORACLE, category="llm")
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicates via signed-random-projection LSH.

    Blocking is a computed coarse key, NOT the given `label` column:
    each vector gets _SRP_BANDS signatures of _SRP_BITS sign bits
    (hyperplanes md5-derived, so the DuckDB oracle reproduces them
    bit-exactly); pairs are only formed inside a (band, sig) bucket.
    Bucket count is bands x 2^bits and grows with data spread — pair
    cost is sum(bucket^2), never n^2, and parallelism scales with the
    signature space instead of a fixed 10-label partition. Output =
    candidate pairs with exact cosine and the `is_dup` verdict at
    {_COS_DUP_THRESHOLD} (the synthetic corpus has no true dups; the
    candidates exercise signature + cosine parity end-to-end).

    Plan: sig computation is a broadcast nested-loop over 32 weight
    rows + a partial-agg-combined (vec, band) groupBy (4 bigint rows
    exchanged per vector); the only data-sized shuffle is the
    (band, sig) self-join.
    """
    v = load_embeddings(spark, sf_dir).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS double))").alias("e"),
    )
    sigs = srp_signatures(spark, v)
    a = sigs.select(F.col("vec_id").alias("vec_a"), "band", "sig")
    b = sigs.select(F.col("vec_id").alias("vec_b"), "band", "sig")
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("a_e"))
    vb = v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("b_e"))
    dot_ab = F.expr(
        "aggregate(zip_with(a_e, b_e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )
    norm = lambda c: F.sqrt(F.expr(f"aggregate(zip_with({c}, {c}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))  # noqa: E731
    # try_divide: zero-norm vectors score NULL (DuckDB x/0 -> NULL) and
    # NULL >= threshold stays NULL in both engines, not an ANSI error.
    cos = F.try_divide(dot_ab, norm("a_e") * norm("b_e"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos_raw", cos)
        .select(
            "vec_a",
            "vec_b",
            F.round("cos_raw", 6).alias("cos_sim"),
            (F.col("cos_raw") >= _COS_DUP_THRESHOLD).alias("is_dup"),
        )
    )


# ------------------------------------------------ incremental dedup

# New-batch boundary: docs at/after this id are "today's crawl"; docs
# before it are the already-indexed corpus.  A fixed id split keeps both
# engines' batch definition identical and deterministic.
_INCR_SPLIT_FRAC = 0.8  # first 80% of ids = indexed corpus

_INCR_ORACLE = f"""
WITH bound AS (
  SELECT CAST(FLOOR(MAX(doc_id) * {_INCR_SPLIT_FRAC}) AS BIGINT) AS b
  FROM documents
),
d AS (
  SELECT doc_id,
         MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
             string_split(LOWER(text), ' '))), ' ')) AS digest,
         doc_id >= bound.b AS is_new
  FROM documents, bound
),
survivors AS (
  SELECT n.doc_id, n.digest
  FROM (SELECT doc_id, digest,
               ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
        FROM d WHERE is_new) n
  WHERE n.rn = 1
    AND NOT EXISTS (SELECT 1 FROM d c
                    WHERE NOT c.is_new AND c.digest = n.digest)
)
SELECT doc_id, digest FROM survivors
"""


@register("llm_dedup_incremental", oracle=_INCR_ORACLE, category="llm")
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: today's batch against the indexed corpus.

    The continuous-crawl shape: the historical corpus is never
    re-deduped — its digests are a standing index (at 100 TB a bucketed
    digest table written once at ingest; here derived in-plan from the
    same source).  A new batch survives only if (a) it wins the
    within-batch keeper election (min doc_id per digest) and (b) its
    digest misses the index (left_anti join).  The digest is the sorted
    distinct-token set (a bag-of-words canonicalization), so reordered
    or repetition-edited copies of an indexed doc still collide — a
    byte-exact digest finds nothing on crawl data whose re-fetches
    reorder content.  Cost scales with the
    BATCH, not the corpus: the batch-side window and the anti-join probe
    shuffle batch rows only; the index side ships just its digest
    column, and at scale the anti-join prunes to the bucketed index
    partitions the batch's digests hash into.
    """
    d = load_table(spark, sf_dir, "documents")
    bound = d.agg(
        F.floor(F.max("doc_id") * _INCR_SPLIT_FRAC).cast("bigint").alias("b")
    )
    with_digest = d.crossJoin(F.broadcast(bound)).select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))),
                " ",
            )
        ).alias("digest"),
        (F.col("doc_id") >= F.col("b")).alias("is_new"),
    )
    batch = with_digest.filter("is_new")
    index = with_digest.filter("NOT is_new").select("digest")
    keeper = (
        batch.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("digest").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "digest")
    )
    return keeper.join(index, "digest", "left_anti").select("doc_id", "digest")


_JEST_TOL = 0.35  # ~2.8 sigma of a K=16 minhash estimator at j=0.5

_JEST_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {MINHASH_SHINGLE}
),
shingles AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(
           range(1, len(t) - {MINHASH_SHINGLE} + 2),
           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
  FROM toks
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTR(MD5(sh), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || SUBSTR(MD5(sh), 9, 8)) AS BIGINT) AS h2
  FROM shingles
),
minhashes AS (
  SELECT doc_id,
         {_MH_MIN_SQL}
  FROM hashed GROUP BY doc_id
),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shingles GROUP BY doc_id
),
band_sigs AS (
  {' UNION ALL '.join(
      'SELECT doc_id, {b} AS band, MD5(CONCAT({args})) AS sig FROM minhashes'.format(
          b=b,
          args=", ',', ".join(f'mh{b * _ROWS_PER_BAND + i}' for i in range(_ROWS_PER_BAND)),
      )
      for b in range(MINHASH_BANDS)
  )}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band_sigs a JOIN band_sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
inter AS (
  SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM pairs p
  JOIN shingles sa ON sa.doc_id = p.doc_a
  JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
  GROUP BY p.doc_a, p.doc_b
),
est AS (
  SELECT p.doc_a, p.doc_b,
         CAST({' + '.join(f'CASE WHEN ma.mh{k} = mb.mh{k} THEN 1 ELSE 0 END' for k in range(MINHASH_K))}
              AS DOUBLE) / {MINHASH_K} AS est_raw
  FROM pairs p
  JOIN minhashes ma ON ma.doc_id = p.doc_a
  JOIN minhashes mb ON mb.doc_id = p.doc_b
)
SELECT e.doc_a, e.doc_b,
       COALESCE(i.n_common, 0) AS n_common,
       ROUND(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
             / (za.n_sh + zb.n_sh - COALESCE(i.n_common, 0)), 6)
         AS exact_jaccard,
       ROUND(e.est_raw, 6) AS est_jaccard,
       ABS(e.est_raw - CAST(COALESCE(i.n_common, 0) AS DOUBLE)
           / (za.n_sh + zb.n_sh - COALESCE(i.n_common, 0))) <= {_JEST_TOL}
         AS within_tol
FROM est e
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes za ON za.doc_id = e.doc_a
JOIN sizes zb ON zb.doc_id = e.doc_b
"""


@register("llm_minhash_jaccard_est", oracle=_JEST_ORACLE, category="llm")
def llm_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATION, audited against the exact overlap —
    the verify stage a production LSH dedup runs on its candidates
    before dropping documents.

    For every LSH candidate pair (same banding as
    `llm_dedup_near_minhash`, distinct shingle sets, no df-cap so the
    estimator sees exactly what the exact computation sees):
    est = |{{k : mh_a[k] = mh_b[k]}}| / K against
    exact = |A∩B| / |A∪B|. Both are DETERMINISTIC — the md5-derived
    hash family is shared with the oracle, so even the "approximate"
    column is bit-reproducible. `within_tol` reports
    |est − exact| <= _JEST_TOL (0.35, ~2.8σ for K=16); note the
    estimator is selection-biased on candidates (a band match forces
    est >= {_ROWS_PER_BAND}/{MINHASH_K}), so a FALSE here is precisely
    an LSH false positive —
    the pairs this verify stage exists to drop.
    Scale shape: signatures come from the one keyed shuffle every
    minhash op pays; the exact-overlap join touches ONLY candidate
    pairs' shingles (candidates × shingles, never corpus²), which is
    precisely why verify-then-drop is affordable at 100 TB while exact
    all-pairs Jaccard is not.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= MINHASH_SHINGLE
    )
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {MINHASH_SHINGLE} + 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i+1), ' ', "
                "element_at(t, i+2)))"
            )
        ).alias("sh"),
    ).distinct()
    hashed = shingles.select(
        "doc_id",
        F.expr("cast(conv(substring(md5(sh), 1, 8), 16, 10) AS bigint)").alias("h1"),
        F.expr("cast(conv(substring(md5(sh), 9, 8), 16, 10) AS bigint)").alias("h2"),
    )
    minhashes = hashed.groupBy("doc_id").agg(*_mh_min_aggs()).localCheckpoint(eager=False)
    sizes = shingles.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    sig_cols = [
        F.md5(
            F.concat_ws(
                ",",
                *[F.col(f"mh{b * _ROWS_PER_BAND + i}") for i in range(_ROWS_PER_BAND)],
            )
        ).alias(f"sig{b}")
        for b in range(MINHASH_BANDS)
    ]
    stack_expr = "stack({n}, {args}) AS (band, sig)".format(
        n=MINHASH_BANDS,
        args=", ".join(f"{b}, sig{b}" for b in range(MINHASH_BANDS)),
    )
    band_sigs = minhashes.select("doc_id", *sig_cols).select(
        "doc_id", F.expr(stack_expr)
    )
    pairs = (
        band_sigs.alias("a")
        .join(
            band_sigs.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sh_a = shingles.select(F.col("doc_id").alias("doc_a"), "sh")
    sh_b = shingles.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    ma, mb, nmatch = _mh_pair_frames(minhashes)
    est = (
        pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (nmatch.cast("double") / MINHASH_K).alias("est_raw"),
        )
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    n_common = F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint")
    exact_raw = n_common.cast("double") / (
        F.col("na") + F.col("nb") - n_common
    )
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            F.round(exact_raw, 6).alias("exact_jaccard"),
            F.round("est_raw", 6).alias("est_jaccard"),
            (F.abs(F.col("est_raw") - exact_raw) <= _JEST_TOL).alias(
                "within_tol"
            ),
        )
    )


_LINE_TOKS = 10

_LINE_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
lines AS (
  SELECT doc_id, i AS line_idx,
         array_to_string(t[i * {_LINE_TOKS} + 1 : (i + 1) * {_LINE_TOKS}],
                         ' ') AS line
  FROM toks,
       UNNEST(range(CAST(CEIL(LEN(t) / {_LINE_TOKS}.0) AS BIGINT))) AS u(i)
),
flagged AS (
  SELECT doc_id, line_idx, line,
         ROW_NUMBER() OVER (PARTITION BY line
                            ORDER BY doc_id, line_idx) = 1 AS keep
  FROM lines
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       MD5(COALESCE(string_agg(CASE WHEN keep THEN line END, ' '
                               ORDER BY line_idx), '')) AS kept_md5
FROM flagged
GROUP BY doc_id
"""


@register("llm_line_dedup", oracle=_LINE_DEDUP_ORACLE, category="llm")
def llm_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide LINE deduplication: split every document
    into fixed-width lines ({_LINE_TOKS} tokens), keep each distinct
    line's FIRST occurrence (ordered by doc_id, position), and rebuild
    the documents from their surviving lines — the sub-document dedup
    that doc-level exact/minhash dedup cannot express (boilerplate
    headers/footers repeat across otherwise-distinct pages).

    Plan: line explosion is a narrow higher-order transform; the only
    exchange is the rank window keyed on the line TEXT (equivalently
    its hash) — one shuffle of |lines| rows with a deterministic
    keeper, exactly the `llm_dedup_exact` shape one level down.
    Reassembly happens doc-locally: `array_sort(collect_list(struct))`
    inside the doc groupBy (lines per doc are bounded, so the struct
    array is too), and the rebuilt text ships as an md5 fingerprint,
    not a payload, through the comparator. At 100 TB the line-hash
    shuffle dominates and is unavoidable for global dedup; everything
    else stays map-side.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    lines = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(t) / {_LINE_TOKS}.0)"
                f" AS int) - 1),"
                f" i -> array_join(slice(t, i * {_LINE_TOKS} + 1,"
                f" {_LINE_TOKS}), ' '))"
            )
        ).alias("line_idx", "line"),
    )
    # Window key is (xxhash64(line), line), not bare line: partitioning
    # is identical (same rows co-group), but the exchange's sort
    # resolves almost every comparison on the 8-byte hash prefix
    # instead of walking 60-byte UTF-8 strings — the full line is kept
    # in the key so a 64-bit collision still CANNOT merge distinct
    # lines (correctness never rests on the hash).
    w = Window.partitionBy(F.xxhash64("line"), F.col("line")).orderBy(
        "doc_id", "line_idx"
    )
    flagged = lines.withColumn("keep", F.row_number().over(w) == 1)
    kept_sorted = F.expr(
        "array_join(transform(array_sort(collect_list("
        "  CASE WHEN keep THEN struct(line_idx, line) END)),"
        " x -> x.line), ' ')"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.md5(kept_sorted).alias("kept_md5"),
    )


# --- URL canonicalization dedup -------------------------------------
# Deterministic messy-URL synthesis (the documents table has no URL
# column): scheme/host case noise, optional www., utm_* tracking
# params in shuffled order, optional trailing slash, a fragment.  Two
# docs collide iff (source, doc_id % _URL_PAGES) collide — so the
# planted duplicate rate is known and canonicalization must strip ALL
# the noise to find it.
_URL_PAGES = 50

_URL_BUILD = """
  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) || '://'
  || (CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'WWW.' ELSE '' END)
  || (CASE WHEN doc_id % 7 = 0 THEN UPPER(source) ELSE source END)
  || '.Example.com/docs/page-' || CAST(doc_id % {pages} AS STRING)
  || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0
           THEN '?id=' || CAST(doc_id % {pages} AS STRING)
                || '&utm_source=feed'
           ELSE '?utm_campaign=x&id=' || CAST(doc_id % {pages} AS STRING)
      END)
  || '#s' || CAST(doc_id % 4 AS STRING)
"""

_URL_DEDUP_ORACLE = f"""
WITH u AS (
  SELECT doc_id, source, {_URL_BUILD.format(pages=_URL_PAGES)} AS url
  FROM documents
),
c AS (
  SELECT doc_id, source,
         'https://'
         || regexp_replace(LOWER(regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1)),
                           '^www\\.', '')
         || regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/]+([^?#]*)', 1),
                           '/$', '')
         || '?id=' || regexp_extract(url, '[?&]id=([0-9]+)', 1) AS canonical
  FROM u
),
flagged AS (
  SELECT doc_id, source, canonical,
         ROW_NUMBER() OVER (PARTITION BY canonical ORDER BY doc_id) = 1 AS keep
  FROM c
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       ROUND(1.0 - SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS dup_fraction,
       MD5(string_agg(CASE WHEN keep
                           THEN LPAD(CAST(doc_id AS VARCHAR), 8, '0') END,
                      ',' ORDER BY doc_id)) AS kept_md5
FROM flagged
GROUP BY source
"""


@register("llm_url_dedup", oracle=_URL_DEDUP_ORACLE, category="llm")
def llm_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the cheap first dedup pass a crawl
    pipeline runs before any content hashing: lowercase scheme+host,
    strip `www.`, drop the fragment, strip tracking (`utm_*`) params
    and the trailing slash, then keep each canonical URL's lowest
    doc_id.  URLs are synthesized deterministically (see _URL_BUILD);
    canonicalization genuinely PARSES the string (regexp on both
    engines), so a regex-semantics disagreement is a hash mismatch.

    Plan: URL build + canonicalize are narrow codegen'd expressions;
    the only corpus-size exchange is the rank window keyed on the
    canonical URL (identical shape to `llm_dedup_exact`, keyed on a
    derived key instead of a content digest).  The per-source report
    aggregates the flagged frame with map-side combine; kept doc_ids
    ship as an md5 of the zero-padded sorted list, never as payload.
    At 100 TB: one shuffle on canonical-url — the unavoidable global
    dedup exchange — everything else map-local.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_URL_BUILD.format(pages=_URL_PAGES)).alias("url")
    )
    c = d.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("https://"),
            F.regexp_replace(
                F.lower(F.regexp_extract("url", r"^[a-zA-Z]+://([^/]+)", 1)),
                r"^www\.",
                "",
            ),
            F.regexp_replace(
                F.regexp_extract("url", r"^[a-zA-Z]+://[^/]+([^?#]*)", 1),
                r"/$",
                "",
            ),
            F.lit("?id="),
            F.regexp_extract("url", r"[?&]id=([0-9]+)", 1),
        ).alias("canonical"),
    )
    w = Window.partitionBy("canonical").orderBy("doc_id")
    flagged = c.withColumn("keep", F.row_number().over(w) == 1)
    kept_sorted = F.expr(
        "array_join(array_sort(collect_list("
        "  CASE WHEN keep THEN lpad(CAST(doc_id AS STRING), 8, '0') END)), ',')"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_canonical"),
        F.round(
            1.0
            - F.sum(F.when(F.col("keep"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("dup_fraction"),
        F.md5(kept_sorted).alias("kept_md5"),
    )



# Build the keeper oracle from the CC oracle's CTE chain plus the
# quality formula (llm/textstats._QUALITY_ORACLE's score, inlined):
# argmax by quality, ascending doc_id breaking ties, per component.
def _keeper_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (SELECT * FROM ({_MINHASH_ORACLE}) p),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (
  SELECT doc_a AS doc_id FROM pairs
  UNION SELECT doc_b AS doc_id FROM pairs
),
reach AS (
  SELECT doc_id, doc_id AS label FROM nodes
  UNION
  SELECT e.src AS doc_id, r.label
  FROM edges e JOIN reach r ON r.doc_id = e.dst
),
comp AS (SELECT doc_id, MIN(label) AS component_id FROM reach GROUP BY doc_id),
q AS (
  SELECT doc_id,
         ROUND(0.5 * (CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks))
               + 0.3 * (CAST(LEN(list_filter(toks,
                         x -> x IN ('the', 'a', 'of', 'and', 'to')))
                         AS DOUBLE) / LEN(toks))
               + 0.2 * LEAST(LEN(toks) / 100.0, 1.0), 6) AS quality
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
ranked AS (
  SELECT c.component_id, c.doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality DESC, c.doc_id) AS rn
  FROM comp c JOIN q ON q.doc_id = c.doc_id
)
SELECT component_id,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keeper_doc,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MAX(CASE WHEN rn = 1 THEN quality END) AS keeper_quality
FROM ranked GROUP BY component_id
"""


@register("llm_dedup_cluster_keeper", oracle=_keeper_oracle(), category="llm")
def llm_dedup_cluster_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper election: `llm_dedup_components` resolves
    near-dup clusters, but min-doc_id keeper election throws away the
    BEST copy — this op elects each cluster's highest-quality member
    (llm_quality_score's blend; doc_id breaks ties) — the keeper
    policy a curation pipeline actually wants.

    Plan: cluster labels come from the convergence-driven min-label
    loop (checkpointed candidate pairs, per-round edge join + min
    agg); quality is one narrow pass over the member docs (a semi-
    joined subset — clusters are tiny relative to the corpus);
    election is a rank window partitioned by component.  At 100 TB
    only the label frame and member quality rows flow — the corpus
    never re-shuffles for the election.
    """
    from snapshot_s3_util_spark.llm.textstats import llm_quality_score

    pairs = llm_dedup_near_minhash(spark, sf_dir).localCheckpoint(eager=False)
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    labels = (
        pairs.selectExpr("doc_a AS doc_id")
        .union(pairs.selectExpr("doc_b AS doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    labels = min_label_components(edges, labels)
    q = llm_quality_score(spark, sf_dir).select(
        "doc_id", F.col("quality_score").alias("quality")
    )
    member_q = labels.join(q, "doc_id")
    w = Window.partitionBy("label").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ranked = member_q.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(F.col("label").alias("component_id")).agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("keeper_doc"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias(
            "keeper_quality"
        ),
    )


# ------------------------------------------------ winnowing (MOSS)

_WIN_K = 4   # tokens per k-gram
_WIN_W = 4   # winnowing window (grams per window)
_WIN_MIN_SHARED = 3

_WINNOW_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         UNNEST(generate_series(1, LEN(toks) - {_WIN_K} + 1)) AS pos,
         toks
  FROM t WHERE LEN(toks) >= {_WIN_K}
),
h AS (
  SELECT doc_id, pos,
         SUBSTR(MD5(ARRAY_TO_STRING(toks[pos:pos + {_WIN_K} - 1], ' ')),
                1, 12) || ':' || LPAD(CAST(pos AS STRING), 6, '0') AS key,
         CAST(LEN(toks) - {_WIN_K} + 1 AS BIGINT) AS n_grams
  FROM g
),
sel AS (
  SELECT doc_id,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {_WIN_W - 1} FOLLOWING) AS winmin,
         pos, n_grams
  FROM h
),
fp AS (
  SELECT DISTINCT doc_id, SUBSTR(winmin, 1, 12) AS f
  FROM sel WHERE pos <= n_grams - {_WIN_W} + 1
),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM fp GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {_WIN_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       ROUND(CAST(p.n_shared AS DOUBLE) / (sa.nf + sb.nf - p.n_shared), 4)
         AS fp_jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


@register("llm_dedup_winnowing", oracle=_WINNOW_ORACLE, category="llm")
def llm_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint near-dup detection (the MOSS algorithm,
    Schleimer et al. 2003): token {_WIN_K}-grams are hashed, every
    sliding window of {_WIN_W} gram hashes contributes its MINIMUM
    (leftmost on ties — deterministic), and the distinct selected
    hashes are the document's fingerprints.  Winnowing GUARANTEES any
    shared run of ≥ w+k−1 tokens yields at least one shared
    fingerprint — a positional-locality guarantee minhash (global
    random sample) and simhash (global projection) don't give.
    Candidate pairs share ≥ {_WIN_MIN_SHARED} fingerprints, scored by
    fingerprint-set Jaccard.

    Plan: gram hashing is a narrow explode (the minhash shingle
    shape); window minima ride ONE doc_id exchange; pairing is a
    fingerprint-bucket equi self-join (Σbucket², never |docs|²) with
    the same df-cap escape hatch as `llm_dedup_near_minhash` if a
    fingerprint goes hot.
    """
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= _WIN_K)
        .select(
            "doc_id",
            "toks",
            (F.size("toks") - _WIN_K + 1).cast("bigint").alias("n_grams"),
        )
    )
    g = t.select(
        "doc_id",
        "n_grams",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, int(n_grams)),"
                f" p -> concat(substring(md5(array_join("
                f"slice(toks, p, {_WIN_K}), ' ')), 1, 12),"
                f" ':', lpad(cast(p AS string), 6, '0')))"
            )
        ).alias("pos0", "key"),
    ).select(
        "doc_id", "n_grams", (F.col("pos0") + 1).alias("pos"), "key"
    )
    wsel = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WIN_W - 1)
    )
    fp = (
        g.withColumn("winmin", F.min("key").over(wsel))
        .filter(F.col("pos") <= F.col("n_grams") - _WIN_W + 1)
        .select("doc_id", F.substring("winmin", 1, 12).alias("f"))
        .distinct()
    )
    sizes = fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nf")
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "f")
    b = fp.select(F.col("doc_id").alias("doc_b"), "f")
    pairs = (
        a.join(b, "f")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("nfa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nfb"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("nfa") + F.col("nfb") - F.col("n_shared")),
                4,
            ).alias("fp_jaccard"),
        )
    )


# ------------------------------------------------ prefix boilerplate

_PREFIX_K = 8  # tokens of shared prefix that mark boilerplate


_PREFIX_ORACLE = f"""
WITH p AS (
  SELECT doc_id, source,
         MD5(ARRAY_TO_STRING(string_split(text, ' ')[1:{_PREFIX_K}], ' '))
           AS prefix_h
  FROM documents
  WHERE LEN(string_split(text, ' ')) >= {_PREFIX_K}
),
g AS (
  SELECT prefix_h,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(MIN(doc_id) AS BIGINT) AS exemplar_doc
  FROM p GROUP BY prefix_h
)
SELECT prefix_h, n_docs, n_sources, exemplar_doc
FROM g WHERE n_docs >= 2
"""


@register("llm_dedup_prefix_boilerplate", oracle=_PREFIX_ORACLE, category="llm")
def llm_dedup_prefix_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix boilerplate detection: cluster documents whose
    first {_PREFIX_K} tokens are identical — the cheap screen for
    templated headers, scraped navigation chrome, and licence
    preambles that survive exact dedup (bodies differ) and dilute
    near-dup thresholds (prefix similarity but low global Jaccard).
    Clusters spanning multiple sources are the tell for CRAWL
    boilerplate rather than an author's habit.

    Plan: one narrow prefix-hash map, ONE map-side-combined group
    (the exact-dedup shape keyed on the prefix digest instead of the
    whole text), ≥2 filter on the reduced frame.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= _PREFIX_K)
        .select(
            "doc_id",
            "source",
            F.md5(
                F.array_join(F.slice("toks", 1, _PREFIX_K), " ")
            ).alias("prefix_h"),
        )
    )
    return (
        d.groupBy("prefix_h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("exemplar_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ------------------------------------------------ dedup overlap audit

_AUDIT_ORACLE = f"""
WITH exact_flag AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY MD5(LOWER(TRIM(text)))
                            ORDER BY doc_id) > 1 AS by_exact
  FROM documents
),
prefix_flag AS (
  SELECT doc_id,
         COUNT(*) OVER (
           PARTITION BY MD5(ARRAY_TO_STRING(
             string_split(text, ' ')[1:{_PREFIX_K}], ' '))) >= 2
           AND LEN(string_split(text, ' ')) >= {_PREFIX_K} AS by_prefix
  FROM documents
)
SELECT e.by_exact, p.by_prefix,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM exact_flag e JOIN prefix_flag p ON p.doc_id = e.doc_id
GROUP BY e.by_exact, p.by_prefix
"""


@register("llm_dedup_overlap_audit", oracle=_AUDIT_ORACLE, category="llm")
def llm_dedup_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method overlap audit: cross-tabulate which documents the
    EXACT pass flags (non-keeper of a full-text digest group) against
    which the PREFIX-boilerplate pass implicates (member of a shared
    {_PREFIX_K}-token-prefix cluster) — the 2×2 the curation team
    reads before ordering stages: 'exact-only' is pure copy volume,
    'prefix-only' is templated-header mass exact dedup MISSES, 'both'
    is the redundancy either stage would catch.

    Both flags recompute their stage's exact keying rule
    (`llm_dedup_exact` / `llm_dedup_prefix_boilerplate`), so the
    audit is consistent with the stages it audits by construction.

    Plan: two digest windows (one exchange each, different keys) and
    a 4-row reduce; no joins beyond the doc_id zip.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.split("text", " ").alias("toks"),
    )
    we = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy(
        "doc_id"
    )
    wp = Window.partitionBy(
        F.md5(F.array_join(F.slice("toks", 1, _PREFIX_K), " "))
    )
    flagged = d.select(
        "doc_id",
        (F.row_number().over(we) > 1).alias("by_exact"),
        (
            (F.count(F.lit(1)).over(wp) >= 2)
            & (F.size("toks") >= _PREFIX_K)
        ).alias("by_prefix"),
    )
    return flagged.groupBy("by_exact", "by_prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


# --- cross-document duplicated-substring spans ----------------------
# Suffix-array-style substring dedup (the Lee et al. 2022 "deduplicating
# training data" primitive), approximated scalably as k-gram diagonal
# runs: two documents share a t-token substring iff they share
# t - K + 1 consecutive K-grams on one (pos_a - pos_b) diagonal.
_SPAN_K = 8          # tokens per gram
_SPAN_MAXOCC = 8     # frequency cap: grams occurring more often are
                     # boilerplate and are dropped before the pair join
_SPAN_MIN = 12       # minimum reported span length (tokens)

_SUBSTR_SPAN_CTES = f"""toks AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS MATERIALIZED (
  SELECT doc_id, i AS pos,
         CAST(('0x' || SUBSTR(MD5(array_to_string(
             t[i : i + {_SPAN_K} - 1], ' ')), 1, 15)) AS BIGINT) AS h
  FROM toks, UNNEST(range(1, len(t) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(t) >= {_SPAN_K}
),
capped AS MATERIALIZED (
  SELECT doc_id, pos, h FROM (
    SELECT g.*, COUNT(*) OVER (PARTITION BY h) AS occ FROM grams g
  ) WHERE occ <= {_SPAN_MAXOCC}
),
m AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pos_a, a.pos - b.pos AS diag
  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
),
isl AS (
  SELECT doc_a, doc_b, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                    ORDER BY pos_a) AS grp
  FROM m
),
spans AS (
  SELECT doc_a, doc_b,
         CAST(MIN(pos_a) AS BIGINT) AS start_a,
         CAST(MIN(pos_a) - diag AS BIGINT) AS start_b,
         CAST(COUNT(*) + {_SPAN_K} - 1 AS BIGINT) AS span_tokens
  FROM isl GROUP BY doc_a, doc_b, diag, grp
  HAVING COUNT(*) + {_SPAN_K} - 1 >= {_SPAN_MIN}
)"""

_SUBSTR_SPAN_ORACLE = f"""
WITH {_SUBSTR_SPAN_CTES}
SELECT s.doc_a, s.doc_b, s.start_a, s.start_b, s.span_tokens,
       MD5(array_to_string(t.t[s.start_a : s.start_a + s.span_tokens - 1],
                           ' ')) AS span_md5
FROM spans s JOIN toks t ON t.doc_id = s.doc_a
"""


def _substring_spans(spark: SparkSession, sf_dir: str):
    """Shared builder for the k-gram diagonal-run span frame over the
    documents table: returns (tokenized docs, spans).  See
    `llm_dedup_substring_spans` for the algorithm and the 100 TB
    bound."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    return d, _substring_spans_from(d)


def _substring_spans_from(d: DataFrame) -> DataFrame:
    """Span frame from a pre-tokenized (doc_id, t:array<string>) frame:
    (doc_a, doc_b, start_a, start_b, span_tokens) for every shared
    verbatim passage of >= _SPAN_MIN tokens, k-gram frequency cap
    applied.  Factored out so tests can drive it with synthetic
    corpora (tests/test_properties.py pits it against a naive
    all-pairs reference)."""
    # The gram key is the md5 truncated to 15 hex chars = a 60-bit
    # bigint, NOT the 32-char hex string (round 13): the gram stream
    # is this operator family's dominant exchange (the occ window and
    # the pair join share one hash-partitioning on h), and an 8-byte
    # key cuts that shuffle roughly in half vs the 50-byte string row
    # — measured at the 10x stress tier, see STRESS.md. BOTH engines
    # truncate identically (the oracle CTE above uses the same 15-char
    # prefix), so the candidate sets stay in lockstep by construction;
    # a 60-bit collision would need >= _SPAN_MIN - _SPAN_K + 1
    # consecutive colliding grams on one diagonal to mint a span, and
    # span_md5 still certifies the text of every reported span.
    grams = d.filter(F.size("t") >= _SPAN_K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_SPAN_K} + 1),"
                f" i -> struct(i AS pos,"
                f" cast(conv(substring(md5(array_join(slice(t, i, {_SPAN_K}), ' ')),"
                f" 1, 15), 16, 10) AS bigint) AS h))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    capped = (
        grams.withColumn("occ", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("occ") <= _SPAN_MAXOCC)
        .drop("occ")
        # r14 optimization pass (guide §5): both legs of the pair
        # self-join below consume this frame, and without a
        # materialization each leg replays the whole gram pipeline —
        # scan -> per-gram md5 Generate -> h-keyed shuffle -> occ
        # window (3 parquet scans of documents in the before-plan, one
        # of them feeding a broadcast).  A lazy localCheckpoint runs
        # that pipeline once; no predicate pushdown is lost because
        # neither join leg carries a selective filter (contrast
        # llm_sim_ann_lsh, where the probe leg's pushdown made the
        # same checkpoint a loss).  Interleaved min-of-6 A/B at sf0.1:
        # see OPTIMIZATION_r14.md.
        .localCheckpoint(eager=False)
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "h"
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "h"
    )
    m = a.join(b, ["h"]).filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag")
    )
    wi = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = m.withColumn("grp", F.col("pos_a") - F.row_number().over(wi))
    spans = (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("bigint").alias("start_a"),
            (F.count(F.lit(1)) + _SPAN_K - 1).cast("bigint").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= _SPAN_MIN)
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            (F.col("start_a") - F.col("diag")).cast("bigint").alias("start_b"),
            "span_tokens",
        )
    )
    return spans


@register("llm_dedup_substring_spans", oracle=_SUBSTR_SPAN_ORACLE,
          category="llm")
def llm_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SUBSTRING detection — the
    suffix-array dedup primitive (find every >= {_SPAN_MIN}-token
    passage shared verbatim between two documents), re-expressed as
    k-gram diagonal-run islands so it distributes: emit every
    {_SPAN_K}-token gram as (md5, doc, pos), drop grams occurring more
    than {_SPAN_MAXOCC} times corpus-wide (boilerplate cap — exactly
    the stop-gram trick production substring dedup uses), equi-join
    occurrences on the gram hash, then collapse matches that are
    consecutive along one (pos_a - pos_b) diagonal into maximal spans
    with the classic gaps-and-islands rank difference.  A shared
    t-token passage appears as t - K + 1 consecutive diagonal hits, so
    span_tokens = run + K - 1 recovers the true passage length; the
    span text's md5 (re-sliced from doc_a) certifies the match is
    textual, not a hash accident.

    Plan: grams are a narrow generator (no shuffle); the frequency cap
    and the pair join share one hash-partitioning on the gram md5
    (window count + equi-join both key on h); the island window
    partitions by (doc_a, doc_b, diag) — match-sized, never
    corpus-sized.  At 100 TB the frequency cap is the load-bearing
    bound: per-gram join fanout is <= cap^2 rows, so |matches| <=
    cap * |grams| regardless of how pathological the duplicate
    distribution gets — no all-pairs blowup, same discipline as the
    LSH band buckets above.
    """
    d, spans = _substring_spans(spark, sf_dir)
    return spans.join(d.withColumnRenamed("doc_id", "doc_a"), "doc_a").select(
        "doc_a",
        "doc_b",
        "start_a",
        "start_b",
        "span_tokens",
        F.md5(
            F.array_join(
                F.expr("slice(t, cast(start_a AS int), cast(span_tokens AS int))"),
                " ",
            )
        ).alias("span_md5"),
    )


# --- train/val/test leakage audit -----------------------------------
# Composes the substring-span detector with the md5 split assignment
# (llm_split_assign's exact rule): a verbatim passage shared across
# the split boundary IS evaluation leakage.
_LEAK_SPLIT_SQL = """
  SELECT doc_id,
         CASE WHEN b < 90 THEN 'train'
              WHEN b < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS b
        FROM documents)
"""

_LEAKAGE_ORACLE = f"""
WITH {_SUBSTR_SPAN_CTES},
splits AS MATERIALIZED ({_LEAK_SPLIT_SQL}),
pairs AS (
  SELECT LEAST(sa.split, sb.split) AS split_lo,
         GREATEST(sa.split, sb.split) AS split_hi,
         sa.split <> sb.split AS crosses_boundary,
         s.span_tokens
  FROM spans s
  JOIN splits sa ON sa.doc_id = s.doc_a
  JOIN splits sb ON sb.doc_id = s.doc_b
)
SELECT split_lo, split_hi, crosses_boundary,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_tokens) AS BIGINT) AS leaked_tokens,
       CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
FROM pairs
GROUP BY split_lo, split_hi, crosses_boundary
"""


@register("llm_split_leakage_audit", oracle=_LEAKAGE_ORACLE, category="llm")
def llm_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test LEAKAGE audit — the check every eval pipeline
    needs before trusting held-out numbers: find verbatim passages
    (>= {_SPAN_MIN} tokens, via the k-gram diagonal-run spans of
    `llm_dedup_substring_spans`) shared between documents assigned to
    DIFFERENT splits by the md5 hash rule of `llm_split_assign`, and
    aggregate the damage per split pair: span count, total leaked
    tokens, worst single span.  Same-split duplication is reported too
    (crosses_boundary = false) — it's a dedup problem, not a leakage
    problem, and the contrast between the two rows is the audit's
    point.

    Plan: the span frame's cost dominates and is bounded by the gram
    frequency cap (see `llm_dedup_substring_spans`); the split frame
    is a map-side expression over doc_id (no data movement), both
    split joins key on doc ids, and the final aggregate is a handful
    of (split_lo, split_hi) groups.  At 100 TB this audit costs the
    same as the substring dedup it reuses — leakage detection is free
    once you're already doing span dedup, which is exactly why it
    belongs in the same engine.
    """
    _, spans = _substring_spans(spark, sf_dir)
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    splits = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias(
            "split"
        ),
    )
    pairs = (
        spans.join(
            splits.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
            (F.col("sa") != F.col("sb")).alias("crosses_boundary"),
            "span_tokens",
        )
    )
    return pairs.groupBy("split_lo", "split_hi", "crosses_boundary").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_tokens").cast("bigint").alias("leaked_tokens"),
        F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
    )


# --- span excision (apply the substring dedup) ----------------------
_SPAN_EXCISION_ORACLE = f"""
WITH {_SUBSTR_SPAN_CTES},
covered AS (
  SELECT DISTINCT s.doc_b AS doc_id, p.pos
  FROM spans s,
       UNNEST(range(s.start_b, s.start_b + s.span_tokens)) AS p(pos)
),
per_doc AS (
  SELECT t.doc_id,
         CAST(len(t.t) AS BIGINT) AS n_tokens,
         CAST(COALESCE(COUNT(c.pos), 0) AS BIGINT) AS n_excised,
         MD5(COALESCE(string_agg(
           CASE WHEN c.pos IS NULL THEN t.t[u.i] END, ' '
           ORDER BY u.i), '')) AS kept_md5
  FROM toks t
  CROSS JOIN UNNEST(range(1, len(t.t) + 1)) AS u(i)
  LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = u.i
  GROUP BY t.doc_id, len(t.t)
)
SELECT doc_id, n_tokens, n_excised,
       CAST(n_tokens - n_excised AS BIGINT) AS n_kept, kept_md5
FROM per_doc
"""


@register("llm_dedup_span_excision", oracle=_SPAN_EXCISION_ORACLE,
          category="llm")
def llm_dedup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the substring dedup — the step after detection: excise
    every duplicated >= {_SPAN_MIN}-token span from the LATER document
    of each pair (doc_a < doc_b keeps the first occurrence, the
    `llm_dedup_exact` keeper convention one level down) and rebuild
    the corpus.  Per document: original token count, excised token
    count (overlapping spans union'd, not double-counted), surviving
    count, and the md5 of the rebuilt text — the Lee et al. 2022
    pipeline's write path, where `llm_dedup_substring_spans` is its
    read path.

    Plan: span ranges explode to (doc, pos) coverage rows — bounded by
    total leaked tokens, a tiny fraction of the corpus — and the
    rebuild is doc-local: positions explode from the token array,
    anti-match the coverage set on (doc_id, pos), and re-aggregate
    ordered by position inside one doc-keyed exchange.  At 100 TB the
    dominant cost is the span frame it shares with the detector; the
    excision itself shuffles |corpus tokens| rows once on doc_id —
    the same order of work as any tokenize pass.
    """
    d, spans = _substring_spans(spark, sf_dir)
    covered = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.explode(
            F.expr(
                "sequence(cast(start_b AS int),"
                " cast(start_b + span_tokens - 1 AS int))"
            )
        ).alias("pos"),
    ).distinct()
    toks = d.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.posexplode("t").alias("pos0", "tok"),
    ).select(
        "doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    joined = toks.join(
        covered.withColumn("cut", F.lit(True)), ["doc_id", "pos"], "left"
    )
    kept_sorted = F.expr(
        "array_join(transform(array_sort(collect_list("
        "  CASE WHEN cut IS NULL THEN struct(pos, tok) END)),"
        " x -> x.tok), ' ')"
    )
    return joined.groupBy("doc_id", "n_tokens").agg(
        F.sum(F.when(F.col("cut"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_excised"),
        (F.count(F.lit(1)) - F.sum(F.when(F.col("cut"), 1).otherwise(0)))
        .cast("bigint")
        .alias("n_kept"),
        F.md5(kept_sorted).alias("kept_md5"),
    ).select("doc_id", "n_tokens", "n_excised", "n_kept", "kept_md5")


# ------------------------------------------- LSH band/row tuning table
# Every factorization b x r = MINHASH_K; the shipped config is
# (MINHASH_BANDS, _ROWS_PER_BAND). The divisor list is deduplicated
# via sorted(set(...)) so a MINHASH_K that collides with one of the
# literal r values (e.g. 6) can't emit a duplicate config and double
# the UNION ALL branches (r7 ADVICE).
_BAND_CONFIGS = tuple(
    (MINHASH_K // r, r)
    for r in sorted({MINHASH_K, 6, 4, 3, 2, 1}, reverse=True)
    if MINHASH_K % r == 0
)
# total band structs per doc across the sweep (sum of b over configs)
# — derived, not pinned, so a K change can't strand the docstring's
# cost claim (r12 ADVICE: the K=12 literal '28' survived the K=16
# raise, whose divisor-derived configs sum to 29)
_BAND_TUNE_STRUCTS = sum(bc for bc, _ in _BAND_CONFIGS)

_PLAIN_MINHASH_CTE = f"""
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
shingles AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(t) - {MINHASH_SHINGLE} + 2),
                i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) AS sh
  FROM toks
  WHERE len(t) >= {MINHASH_SHINGLE}
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTR(MD5(sh), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || SUBSTR(MD5(sh), 9, 8)) AS BIGINT) AS h2
  FROM shingles
),
minhashes AS (
  SELECT doc_id,
         {_MH_MIN_SQL}
  FROM hashed GROUP BY doc_id
)"""

_BAND_TUNE_ORACLE = f"""
WITH {_PLAIN_MINHASH_CTE},
band_sigs AS (
  {' UNION ALL '.join(
      'SELECT doc_id, {bc} AS bands, {r} AS rpb, {band} AS band,'
      ' MD5(CONCAT({args})) AS sig FROM minhashes'.format(
          bc=bc, r=r, band=band,
          args=", ',', ".join(f'mh{band * r + i}' for i in range(r)),
      )
      for bc, r in _BAND_CONFIGS for band in range(bc)
  )}
),
buckets AS (
  SELECT bands, rpb, band, sig, CAST(COUNT(*) AS BIGINT) AS sz
  FROM band_sigs GROUP BY bands, rpb, band, sig
)
SELECT bands, rpb,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_candidate_pairs,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       ROUND(POW(1.0 / bands, 1.0 / rpb), 6) AS s50_threshold,
       ROUND(1 - POW(1 - POW(0.5, rpb), bands), 6) AS p_detect_50,
       ROUND(1 - POW(1 - POW(0.7, rpb), bands), 6) AS p_detect_70,
       ROUND(1 - POW(1 - POW(0.9, rpb), bands), 6) AS p_detect_90
FROM buckets GROUP BY bands, rpb ORDER BY bands
"""


@register("llm_minhash_band_tuning", oracle=_BAND_TUNE_ORACLE, category="llm")
def llm_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding tuner: for EVERY factorization b x r = {MINHASH_K}
    of the signature, measure on the actual corpus what the S-curve
    theory only predicts — bucket count, candidate-pair volume
    sum C(sz,2) (the join cost `llm_dedup_near_minhash` would pay
    under that config), and the hottest bucket — alongside the
    closed-form threshold s* = (1/b)^(1/r) and detection probability
    1-(1-j^r)^b at j in (0.5, 0.7, 0.9). This is how the shipped
    (bands={MINHASH_BANDS}) config was chosen; rerun on a new corpus
    before trusting it.

    Signatures here are the PLAIN affine-rehash minima (no
    df-cap) so the table isolates banding effects. One shingle pass
    builds all {MINHASH_K} minima; all configs' band signatures explode
    from that one |docs|-row frame (sum over configs of b =
    {_BAND_TUNE_STRUCTS} structs per doc), so
    the whole sweep costs ONE extra |docs| x sum(b) shuffle — never a
    per-config rescan, never a pair join (bucket sizes give the pair
    count arithmetically).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= MINHASH_SHINGLE
    )
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {MINHASH_SHINGLE} + 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i+1), ' ', "
                "element_at(t, i+2)))"
            )
        ).alias("sh"),
    )
    hashed = shingles.select(
        "doc_id",
        F.expr("cast(conv(substring(md5(sh), 1, 8), 16, 10) AS bigint)").alias("h1"),
        F.expr("cast(conv(substring(md5(sh), 9, 8), 16, 10) AS bigint)").alias("h2"),
    )
    minhashes = hashed.groupBy("doc_id").agg(*_mh_min_aggs())
    entries = [
        F.struct(
            F.lit(bc).alias("bands"),
            F.lit(r).alias("rpb"),
            F.lit(band).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh{band * r + i}") for i in range(r)]
                )
            ).alias("sig"),
        )
        for bc, r in _BAND_CONFIGS
        for band in range(bc)
    ]
    long = minhashes.select(F.explode(F.array(*entries)).alias("x")).select("x.*")
    buckets = long.groupBy("bands", "rpb", "band", "sig").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    bands_d = F.col("bands").cast("double")
    return (
        buckets.groupBy("bands", "rpb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.expr("sz * (sz - 1) DIV 2")).cast("bigint").alias(
                "n_candidate_pairs"
            ),
            F.max("sz").cast("bigint").alias("max_bucket"),
        )
        .select(
            "bands",
            "rpb",
            "n_buckets",
            "n_candidate_pairs",
            "max_bucket",
            F.round(F.pow(1.0 / bands_d, 1.0 / F.col("rpb")), 6).alias(
                "s50_threshold"
            ),
            *[
                F.round(
                    1 - F.pow(1 - F.pow(F.lit(j), F.col("rpb")), bands_d), 6
                ).alias(f"p_detect_{int(j * 100)}")
                for j in (0.5, 0.7, 0.9)
            ],
        )
        .orderBy("bands")
    )
