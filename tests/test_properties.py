"""Property-based algebraic invariants (SURVEY.md §5).

Small hypothesis budgets (Spark jobs are ~100ms+ each locally); the
invariants themselves are scale-independent algebra: commuting filters,
additive bag unions, semi/anti partitioning, sessionization bounds.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from snapshot_s3_util_spark import REGISTRY
from snapshot_s3_util_spark.io import load_table

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

price = st.floats(min_value=0, max_value=500_000, allow_nan=False)
status = st.sampled_from(["F", "O", "P"])


@given(lo=price, hi=price, s=status)
@settings(**_SETTINGS)
def test_filter_composition_commutes(spark, sf_dir, lo, hi, s):
    o = load_table(spark, sf_dir, "orders")
    p1 = F.col("o_totalprice").between(min(lo, hi), max(lo, hi))
    p2 = F.col("o_orderstatus") == s
    assert o.filter(p1).filter(p2).count() == o.filter(p2).filter(p1).count()


@given(cut=st.integers(min_value=0, max_value=200_000))
@settings(**_SETTINGS)
def test_split_union_is_partition(spark, sf_dir, cut):
    o = load_table(spark, sf_dir, "orders")
    below = o.filter(F.col("o_totalprice") < cut)
    above = o.filter(F.col("o_totalprice") >= cut)
    assert below.count() + above.count() == o.count()


@given(cut=st.floats(min_value=0, max_value=400_000, allow_nan=False))
@settings(**_SETTINGS)
def test_semi_plus_anti_partitions_left(spark, sf_dir, cut):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > cut)
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").count()
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").count()
    assert semi + anti == c.count()


def test_session_counts_bounded(spark, sf_dir):
    ev_n = load_table(spark, sf_dir, "events").count()
    users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    sessions = REGISTRY["sessionize_batch"].fn(spark, sf_dir)
    n = sessions.count()
    assert users <= n <= ev_n
    # events are conserved across sessions
    total = sessions.agg(F.sum("n_events")).first()[0]
    assert total == ev_n


def test_union_all_preserves_bag_semantics(spark, sf_dir):
    a = REGISTRY["set_union_all"].fn(spark, sf_dir).count()
    d = REGISTRY["set_union_distinct"].fn(spark, sf_dir).count()
    assert d <= a


def test_rollup_grand_total_matches_ungrouped(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    rollup = REGISTRY["agg_rollup"].fn(spark, sf_dir)
    grand = rollup.filter(F.col("gid") == 3).first()
    assert grand["n_rows"] == li.count()


def test_components_partition_the_candidate_graph(spark, sf_dir):
    """CC invariants: every doc in exactly one component; exactly one
    keeper per component; component_id is a member of its component;
    component sizes sum to the node count."""
    rows = REGISTRY["llm_dedup_components"].fn(spark, sf_dir).collect()
    docs = [r["doc_id"] for r in rows]
    assert len(docs) == len(set(docs))
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r["component_id"], []).append(r)
    for cid, members in by_comp.items():
        assert sum(m["is_keeper"] for m in members) == 1
        assert cid in {m["doc_id"] for m in members}
        assert all(m["component_size"] == len(members) for m in members)
        assert cid == min(m["doc_id"] for m in members)


def test_contamination_only_flags_noncorpus_overlap(spark, sf_dir):
    """Contamination rows must reference only non-benchmark docs and
    count at least one shared gram each; drop verdict is threshold-consistent."""
    rows = REGISTRY["llm_contamination_ngram"].fn(spark, sf_dir).collect()
    from snapshot_s3_util_spark.llm.textstats import _BENCH_DOCS, _CONTAM_SEVERE

    for r in rows:
        assert r["doc_id"] >= _BENCH_DOCS
        assert r["n_shared_grams"] >= 1
        assert r["drop_doc"] == (r["n_shared_grams"] >= _CONTAM_SEVERE)


def test_z_interleave_formula_matches_python_reference():
    """The generated SQL string must compute true bit interleaving —
    checked against a Python reference over the full 5-bit domain via
    DuckDB (the same parser the oracle uses)."""
    import duckdb

    from snapshot_s3_util_spark.sources.sinks import _z_interleave_sql

    def z_ref(x: int, y: int) -> int:
        out = 0
        for i in range(5):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    con = duckdb.connect()
    expr = _z_interleave_sql("x", "y")
    rows = con.execute(
        f"SELECT x, y, {expr} AS z FROM range(32) r1(x), range(32) r2(y)"
    ).fetchall()
    assert len(rows) == 1024
    for x, y, z in rows:
        assert z == z_ref(x, y), (x, y, z)
    # bijectivity on the 10-bit domain
    assert len({z for _, _, z in rows}) == 1024


_event_type = st.sampled_from(["view", "click", "purchase", "signup"])


@given(
    evs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=5), _event_type),
        min_size=0,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_funnel_fold_matches_python_reference(spark, evs):
    """The win_pattern_funnel fold lambda vs a pure-Python walk over the
    same (ts, event_id)-sorted timeline — including equal-timestamp
    ties, which the fixed corpus rarely exercises. Events synthesize
    onto one user; ts collisions are forced by the tiny ts domain."""
    import datetime

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, t), i, et)
        for i, (t, et) in enumerate(evs)
    ]

    def ref():
        v = c = p = None
        for _, ts, _, et in sorted(rows, key=lambda r: (r[1], r[2])):
            if et == "view" and v is None:
                v = ts
            elif et == "click" and v is not None and ts > v and c is None:
                c = ts
            elif et == "purchase" and c is not None and ts > c and p is None:
                p = ts
        return v, c, p

    from snapshot_s3_util_spark.operators.windows import FUNNEL_FOLD_EXPR

    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, event_type string"
    )
    g = df.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct("ts", "event_id", F.col("event_type").alias("et"))
            )
        ).alias("evs")
    )
    out = g.select(F.expr(FUNNEL_FOLD_EXPR).alias("f")).collect()
    if not rows:
        assert not out
        return
    f = out[0]["f"]
    assert (f["v"], f["c"], f["p"]) == ref()


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_ewma_closed_form_matches_recursion_and_stays_in_range(vals):
    """The reverse-rank closed form (the win_ewma rewrite) must equal
    the sequential recursion for ANY series, and an EWMA is a convex
    combination so it never leaves [min, max] of the series."""
    n = len(vals)
    # closed form exactly as the operator computes it
    closed = sum(
        (0.5 ** (n - 1) if rd == n else 0.5**rd) * v
        for rd, v in zip(range(n, 0, -1), vals)
    )
    rec = vals[0]
    for v in vals[1:]:
        rec = 0.5 * v + 0.5 * rec
    assert abs(closed - rec) <= 1e-6 * max(1.0, abs(rec))
    assert min(vals) - 1e-9 <= closed <= max(vals) + 1e-9


@given(n=st.integers(min_value=1, max_value=2000))
@settings(**_SETTINGS)
def test_chunking_formula_covers_exactly(n):
    """1 + ceil(max(n-W,0)/S) chunks of size W stride S cover [0, n)
    with no token beyond the last chunk and none missed."""
    W, S = 64, 48
    n_chunks = 1 + max(0, -(-(n - W) // S)) if n > W else 1
    starts = [i * S for i in range(n_chunks)]
    assert starts[-1] < n  # last chunk is non-empty
    assert starts[-1] + W >= n  # reaches the end
    covered = set()
    for s0 in starts:
        covered.update(range(s0, min(s0 + W, n)))
    assert covered == set(range(n))


@given(
    keys=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=300)
)
@settings(**_SETTINGS)
def test_kmv_merge_equals_kmv_of_union(keys):
    """KMV mergeability (the agg_kmv_distinct 'ALL' row): the k minima
    of a union equal the k minima of the union of per-part minima —
    for any split of the key set."""
    import hashlib

    K = 64
    us = {
        int(hashlib.md5(str(k).encode()).hexdigest()[:12], 16) / 16**12
        for k in keys
    }
    mid = len(keys) // 2
    a = {
        int(hashlib.md5(str(k).encode()).hexdigest()[:12], 16) / 16**12
        for k in keys[:mid]
    }
    b = {
        int(hashlib.md5(str(k).encode()).hexdigest()[:12], 16) / 16**12
        for k in keys[mid:]
    }
    direct = sorted(us)[:K]
    merged = sorted(set(sorted(a)[:K]) | set(sorted(b)[:K]))[:K]
    assert direct == merged


@given(
    keys=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=400)
)
@settings(**_SETTINGS)
def test_cms_python_model_never_underestimates(keys):
    """The CMS estimate (min over d counters addressed by the same md5
    buckets the operator uses) can never undercount — for any key
    multiset."""
    import hashlib
    from collections import Counter

    D, W = 4, 512
    sketch = Counter()
    for k in keys:
        for i in range(D):
            b = int(
                hashlib.md5(f"{i}:{k}".encode()).hexdigest()[:8], 16
            ) % W
            sketch[(i, b)] += 1
    truth = Counter(keys)
    for k, true_cnt in truth.items():
        est = min(
            sketch[
                (
                    i,
                    int(hashlib.md5(f"{i}:{k}".encode()).hexdigest()[:8], 16)
                    % W,
                )
            ]
            for i in range(D)
        )
        assert est >= true_cnt


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=60, deadline=None)
def test_bmp_codec_roundtrip_any_doc_id(doc_id):
    """synth_bmp → decode_bmp must invert exactly for every doc_id:
    dimensions, declared size, and per-channel sums recomputed from
    the pixel formula."""
    from snapshot_s3_util_spark.llm.multimodal import (
        _bmp_dims,
        decode_bmp,
        synth_bmp,
    )

    w, h = _bmp_dims(doc_id)
    d = decode_bmp(synth_bmp(doc_id))
    assert (d["width"], d["height"], d["bpp"]) == (w, h, 24)
    assert d["n_bytes"] == 54 + h * ((3 * w + 3) // 4 * 4)
    grid = [(x, y) for x in range(w) for y in range(h)]
    assert d["sum_r"] == sum((x * y + doc_id) % 256 for x, y in grid)
    assert d["sum_g"] == sum((2 * x + doc_id) % 256 for x, y in grid)
    assert d["sum_b"] == sum((x + y + doc_id) % 256 for x, y in grid)


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=60, deadline=None)
def test_grid_blocking_finds_every_close_pair(points):
    """The 3x3-neighborhood replication rule behind join_spatial_grid:
    any pair within radius r must land in a common cell exactly once
    (left home cell ∈ right's replicated neighborhood), and pairs
    found via the rule must be the brute-force set."""
    import math

    r = 0.02
    cell = lambda v: math.floor(v / r)  # noqa: E731
    found = set()
    for i, (xa, ya) in enumerate(points):
        for j, (xb, yb) in enumerate(points):
            if i >= j:
                continue
            hits = 0
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if (
                        cell(xa) == cell(xb) + dx
                        and cell(ya) == cell(yb) + dy
                    ):
                        hits += 1
            close = (xa - xb) ** 2 + (ya - yb) ** 2 < r * r
            if close:
                assert hits == 1, "close pair must meet exactly once"
                found.add((i, j))
            else:
                assert hits <= 1
    brute = {
        (i, j)
        for i, a in enumerate(points)
        for j, b in enumerate(points)
        if i < j and (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2 < r * r
    }
    assert found == brute


@given(st.integers(min_value=1, max_value=500))
@settings(max_examples=80, deadline=None)
def test_stratified_cutoffs_partition_every_stratum_size(n):
    """floor(n*0.8)/floor(n*0.9) cutoffs yield non-overlapping splits
    covering all n ranks, train is exactly floor(0.8n), and every
    split is non-empty once the stratum can afford it (n >= 10)."""
    train = sum(1 for rk in range(1, n + 1) if rk <= int(n * 0.8))
    val = sum(
        1 for rk in range(1, n + 1) if int(n * 0.8) < rk <= int(n * 0.9)
    )
    test = n - train - val
    assert train == int(n * 0.8) and val >= 0 and test >= 0
    if n >= 10:
        assert train > 0 and val > 0 and test > 0


@given(doc_id=st.integers(min_value=0, max_value=10_000_000))
@settings(max_examples=50, deadline=None)
def test_video_container_roundtrip_any_doc_id(doc_id):
    """Pure-Python property: every synthesized container parses, the
    offset table is exact, and index-seek sampling equals decoding
    every stride-th frame independently."""
    import struct

    from snapshot_s3_util_spark.llm.multimodal import (
        _vid_n_frames,
        decode_bmp,
        sample_video,
        synth_bmp,
        synth_video,
    )

    payload = synth_video(doc_id)
    n = _vid_n_frames(doc_id)
    offs = list(struct.unpack_from(f"<{n}I", payload, 8))
    # each frame slice independently decodes to the same sums
    exp = {"sum_r": 0, "sum_g": 0, "sum_b": 0}
    for f in range(0, n, 2):
        fr = synth_bmp(doc_id + 131 * f)
        assert payload[offs[f] : offs[f] + len(fr)] == fr
        d = decode_bmp(fr)
        for k in exp:
            exp[k] += d[k]
    got = sample_video(payload)
    assert {k: got[k] for k in exp} == exp


@given(
    weights=st.lists(
        st.tuples(
            st.floats(min_value=0.01, max_value=1000, allow_nan=False),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=50, deadline=None)
def test_weighted_median_python_model_invariants(weights):
    """Model check of the cumulative-threshold rule used by
    agg_weighted_median: the picked value has >= half the total
    weight at-or-below it AND >= half at-or-above it (the defining
    property of a weighted median)."""
    acc: dict = {}
    for price, w in weights:
        acc[price] = acc.get(price, 0) + w
    total = sum(acc.values())
    cum = 0
    med = None
    for price in sorted(acc):
        cum += acc[price]
        if 2 * cum >= total:
            med = price
            break
    at_or_below = sum(w for p, w in acc.items() if p <= med)
    at_or_above = sum(w for p, w in acc.items() if p >= med)
    assert 2 * at_or_below >= total
    assert 2 * at_or_above >= total


@given(
    days=st.lists(
        st.integers(min_value=0, max_value=60), min_size=1, max_size=60
    )
)
@settings(max_examples=50, deadline=None)
def test_streak_fold_equals_islands_model(days):
    """The array-fold streak rule (win_streak_islands) must equal the
    row_number-difference islands construction on any day set."""
    ds = sorted(set(days))
    # fold model
    best = cur = 0
    prev = None
    for d in ds:
        cur = cur + 1 if prev is not None and d - prev == 1 else 1
        best = max(best, cur)
        prev = d
    # islands model: group by d - rank
    groups: dict = {}
    for rn, d in enumerate(ds):
        groups.setdefault(d - rn, 0)
        groups[d - rn] += 1
    assert best == max(groups.values())


@given(
    ints=st.lists(
        st.integers(min_value=-(10**6), max_value=10**6),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=50, deadline=None)
def test_mad_fence_is_translation_invariant(ints):
    """MAD anomaly verdicts must not change when the whole series
    shifts — the robustness property that motivates MAD over a fixed
    threshold.  (Exactly-representable values: in raw floats a
    1e-160-scale reading is absorbed by a 1e4 shift — real float
    behavior, not a bug in the fence.)"""
    vals = [float(i) for i in ints]
    import statistics

    def verdicts(vs):
        med = statistics.median(vs)
        mad = statistics.median([abs(v - med) for v in vs])
        if mad == 0:
            return [False] * len(vs)
        return [abs(v - med) > 3.0 * 1.4826 * mad for v in vs]

    shifted = [v + 12345.5 for v in vals]
    assert verdicts(vals) == verdicts(shifted)


@given(
    keys=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200)
)
@settings(max_examples=30, deadline=None)
def test_bloom_model_no_false_negatives(keys):
    """Python model of join_bloom_prefilter's KM bloom: every inserted
    key must probe positive (false negatives impossible)."""
    import hashlib

    M, K = 1 << 20, 2

    def positions(k):
        dg = hashlib.md5(str(k).encode()).hexdigest()
        h1, h2 = int(dg[:8], 16), int(dg[8:16], 16)
        return [(h1 + i * h2) % M for i in range(K)]

    bits = set()
    for k in keys:
        bits.update(positions(k))
    for k in keys:
        assert all(p in bits for p in positions(k))


@given(
    keys=st.lists(
        # heavy skew on purpose: most mass on one key, plus outliers
        st.sampled_from([1, 1, 1, 1, 2, 3, 7, 99]),
        min_size=1,
        max_size=60,
    ),
    npart=st.sampled_from([1, 3, 32]),
)
@example(keys=[5] * 40, npart=32)   # all-equal keys
@example(keys=[1, 2], npart=32)     # |distinct| < npart (empty ranges)
@settings(**_SETTINGS)
def test_global_order_stats_matches_python_model(spark, keys, npart):
    """plans/rank.py boundary pinning (r6 verdict #6): whatever layout
    RangePartitioner samples — skewed keys, all-equal keys, fewer
    distinct keys than partitions — the checkpointed-spine offsets must
    observe the SAME boundaries as the rank/cumsum side, so the global
    row_number is a permutation of 1..n in (key, uid) order, the
    inclusive cumsum equals the Python running sum, and totals/ntotal
    are exact on every row."""
    from snapshot_s3_util_spark.plans.rank import global_order_stats

    rows = [(i, k, (k * 7 + i) % 11) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "uid int, k int, x int")
    out = global_order_stats(
        df.repartition(4),
        ["k", "uid"],
        rn="rn",
        cumsum={"x": "cx"},
        totals={"x": "tx"},
        ntotal="n",
        npart=npart,
    ).collect()

    n = len(rows)
    assert len(out) == n
    got = {r["uid"]: r for r in out}
    assert sorted(r["rn"] for r in out) == list(range(1, n + 1))
    running, total = 0, sum(r[2] for r in rows)
    for pos, (uid, k, x) in enumerate(
        sorted(rows, key=lambda r: (r[1], r[0])), start=1
    ):
        r = got[uid]
        assert (r["rn"], r["cx"], r["tx"], r["n"]) == (pos, running + x, total, n)
        running += x


def test_global_order_stats_null_cumsum_contributes_zero(spark):
    """Documented NULL contract (r6 ADVICE): NULL cumsum sources add 0
    and a leading all-NULL prefix yields 0, never NULL — the offset
    must not be poisoned by a partition whose head rows are NULL."""
    from snapshot_s3_util_spark.plans.rank import global_order_stats

    rows = [(1, None), (2, None), (3, 10), (4, None), (5, 5)]
    df = spark.createDataFrame(rows, "uid int, x int")
    out = {
        r["uid"]: r["cx"]
        for r in global_order_stats(
            df, ["uid"], cumsum={"x": "cx"}, npart=3
        ).collect()
    }
    assert out == {1: 0, 2: 0, 3: 10, 4: 10, 5: 15}


def test_global_order_stats_exact_past_4096_partitions(spark):
    """npart above 4096 (up to the 65536 cap) runs the same driver-side
    ledger as every smaller npart: rn, cumsum and ntotal must stay
    exact with ~2 distinct keys per range partition, i.e. thousands of
    pids in the offset arrays and some range partitions empty."""
    from snapshot_s3_util_spark.plans.rank import global_order_stats

    npart = 4097
    n = 2 * npart
    # 7919 is coprime with n, so the keys are a permutation of 0..n-1
    rows = [(i, (i * 7919) % n, i % 13) for i in range(n)]
    df = spark.createDataFrame(rows, "uid int, k int, x int")
    out = global_order_stats(
        df, ["k"], rn="rn", cumsum={"x": "cx"}, ntotal="n", npart=npart
    ).collect()

    assert len(out) == n
    got = {r["uid"]: (r["rn"], r["cx"], r["n"]) for r in out}
    running = 0
    for pos, (uid, _, x) in enumerate(sorted(rows, key=lambda r: r[1]), 1):
        running += x
        assert got[uid] == (pos, running, n), uid


def test_global_order_stats_keeps_sum_types(spark):
    """The offset arrays and grand totals keep the ledger's SUM type: a
    decimal source stays an exact decimal, a double source a double
    (non-finite partition sums included), never a widened or rounded
    literal."""
    from decimal import Decimal

    import pytest

    from snapshot_s3_util_spark.plans.rank import global_order_stats

    # the infinite row sits mid-order, so later partitions' offsets are
    # inf while earlier ones stay finite
    rows = [
        (i, Decimal(i) / 100 + Decimal("0.01"), float("inf") if i == 20 else i / 10)
        for i in range(41)
    ]
    df = spark.createDataFrame(rows, "uid int, d decimal(12,2), f double")
    out = global_order_stats(
        df, ["uid"], cumsum={"d": "cd", "f": "cf"}, totals={"d": "td"}, npart=7
    )
    types = dict(out.dtypes)
    # SUM(decimal(12,2)) is decimal(22,2); offset + local sum adds a digit
    assert (types["td"], types["cd"]) == ("decimal(22,2)", "decimal(23,2)"), types
    assert types["cf"] == "double", types
    got = {r["uid"]: r for r in out.collect()}
    run_d, run_f = Decimal(0), 0.0
    for uid, d, f in rows:
        run_d, run_f = run_d + d, run_f + f
        assert got[uid]["cd"] == run_d and got[uid]["td"] == sum(r[1] for r in rows)
        assert got[uid]["cf"] == pytest.approx(run_f), uid


# --- substring-span detector vs naive all-pairs reference -----------
def _naive_spans(corpus):
    """O(n²) reference for llm_dedup_substring_spans: same k-gram
    frequency cap, same diagonal-island semantics, no distribution."""
    from snapshot_s3_util_spark.llm.dedup import (
        _SPAN_K,
        _SPAN_MAXOCC,
        _SPAN_MIN,
    )

    occs = []  # (gram tuple, doc, pos) — pos 1-based like the op
    for doc_id, toks in corpus:
        for i in range(len(toks) - _SPAN_K + 1):
            occs.append((tuple(toks[i : i + _SPAN_K]), doc_id, i + 1))
    from collections import Counter, defaultdict

    freq = Counter(g for g, _, _ in occs)
    by_gram = defaultdict(list)
    for g, doc, pos in occs:
        if freq[g] <= _SPAN_MAXOCC:
            by_gram[g].append((doc, pos))
    diag_hits = defaultdict(set)  # (doc_a, doc_b, diag) -> {pos_a}
    for g, lst in by_gram.items():
        for da, pa in lst:
            for db, pb in lst:
                if da < db:
                    diag_hits[(da, db, pa - pb)].add(pa)
    spans = set()
    for (da, db, diag), poss in diag_hits.items():
        run = []
        for p in sorted(poss) + [None]:
            if run and (p is None or p != run[-1] + 1):
                length = len(run) + _SPAN_K - 1
                if length >= _SPAN_MIN:
                    spans.add((da, db, run[0], run[0] - diag, length))
                run = []
            if p is not None:
                run.append(p)
    return spans


@given(data=st.data())
@settings(**_SETTINGS)
def test_substring_spans_match_naive_reference(spark, data):
    from snapshot_s3_util_spark.llm.dedup import (
        _SPAN_MIN,
        _substring_spans_from,
    )

    vocab = ["a", "b", "c", "d"]
    tok = st.sampled_from(vocab)
    n_docs = data.draw(st.integers(min_value=2, max_value=4))
    corpus = [
        (i, data.draw(st.lists(tok, min_size=0, max_size=40)))
        for i in range(n_docs)
    ]
    # plant a shared passage often enough that spans actually occur
    if data.draw(st.booleans()) and len(corpus[0][1]) >= _SPAN_MIN:
        seg = corpus[0][1][: data.draw(
            st.integers(min_value=_SPAN_MIN, max_value=len(corpus[0][1]))
        )]
        at = data.draw(st.integers(min_value=0, max_value=len(corpus[1][1])))
        corpus[1] = (1, corpus[1][1][:at] + seg + corpus[1][1][at:])
    d = spark.createDataFrame(
        [(i, t) for i, t in corpus], "doc_id long, t array<string>"
    )
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens)
        for r in _substring_spans_from(d).collect()
    }
    assert got == _naive_spans(corpus)


@given(
    lat=st.floats(min_value=-90.0, max_value=90.0, exclude_max=True,
                  allow_nan=False),
    lon=st.floats(min_value=-180.0, max_value=180.0, exclude_max=True,
                  allow_nan=False),
)
@example(lat=57.64911, lon=10.40744)  # canonical "u4pru"
@example(lat=0.0, lon=0.0)
@example(lat=-90.0, lon=-180.0)
@settings(max_examples=300, deadline=None)
def test_geohash_closed_form_equals_bisection(lat, lon):
    """fn_geohash's quantize-and-interleave closed form must equal the
    classic bisection encoder wherever float rounding doesn't land the
    quantization ON a cell boundary (the op's documented one-cell
    caveat; detected here with exact Fraction arithmetic), and must
    always emit in-range bits (the clamp).  Pure-Python property —
    the generated formula string is evaluated with Python's identical
    integer semantics."""
    from fractions import Fraction

    from hypothesis import assume

    from snapshot_s3_util_spark.functions.scalars import (
        _GH_CHARS,
        _GH_LAT_BITS,
        _GH_LON_BITS,
        _GH_PRECISION,
        _gh_interleave_terms,
    )
    from tests.test_semantics import _ref_geohash

    def q(x, lo, span, bits):
        f = min(max(int((x - lo) / span * (1 << bits)), 0), (1 << bits) - 1)
        # Fraction(lo): a float operand would coerce the whole
        # expression back to float and defeat the exactness check
        exact = min(
            (Fraction(x) - Fraction(lo)) * (1 << bits) // span,
            (1 << bits) - 1,
        )
        return f, int(exact)

    lat_q, lat_exact = q(lat, -90.0, 180, _GH_LAT_BITS)
    lon_q, lon_exact = q(lon, -180.0, 360, _GH_LON_BITS)
    assert 0 <= lat_q < (1 << _GH_LAT_BITS)
    assert 0 <= lon_q < (1 << _GH_LON_BITS)
    z = eval(  # the same arithmetic string both engines execute
        _gh_interleave_terms("lon_q", "lat_q"),
        {"lon_q": lon_q, "lat_q": lat_q},
    )
    got = "".join(
        _GH_CHARS[(z >> (20 - 5 * g)) % 32] for g in range(_GH_PRECISION)
    )
    assert len(got) == _GH_PRECISION and all(c in _GH_CHARS for c in got)
    assume(lat_q == lat_exact and lon_q == lon_exact)
    assert got == _ref_geohash(lat, lon, _GH_PRECISION)


# --- ND_FIELD NULL-distinct encoding (fn_hash salted key, ---------------
# --- hb_snapshot_manifest row digest; round-9 ADVICE fix) ---------------
#
# The encoding claims two load-bearing properties:
#   1. uniquely decodable (hence injective over tuples of nullable
#      fields) — proven here by an actual decoder roundtrip, which is
#      strictly stronger than sampling for collisions;
#   2. bit-identical between the Spark twin (nd_field_col) and the
#      DuckDB oracle string (ND_FIELD_SQL) for every Unicode input,
#      astral planes included (both sides count UTF-8 BYTES).


def _nd_model(s):
    return "N" if s is None else f"V{len(s.encode('utf-8'))}:{s}"


def _nd_decode(b: bytes):
    """Inverse of ':'.join(_nd_model(f) for f in fields), over UTF-8
    bytes (the length prefix counts bytes, not chars)."""
    fields, i = [], 0
    while True:
        tag = b[i : i + 1]
        if tag == b"N":
            fields.append(None)
            i += 1
        elif tag == b"V":
            j = b.index(b":", i + 1)
            n = int(b[i + 1 : j])
            i = j + 1 + n
            fields.append(b[j + 1 : i].decode("utf-8"))
        else:
            raise ValueError(f"bad tag {tag!r} at {i}")
        if i == len(b):
            return tuple(fields)
        if b[i : i + 1] != b":":
            raise ValueError(f"missing separator at {i}")
        i += 1


@given(
    fields=st.lists(
        st.one_of(st.none(), st.text(max_size=12)), min_size=1, max_size=5
    )
)
@settings(max_examples=300, deadline=None)
@example(fields=["", None])          # NULL vs '' must stay distinct
@example(fields=["a:b", "c"])        # embedded separator
@example(fields=["aV3:bc", "x"])     # embedded fake tag+length
@example(fields=["ab", "c:d", None]) # boundary-shift attack material
def test_nd_field_encoding_roundtrips(fields):
    enc = ":".join(_nd_model(f) for f in fields)
    assert _nd_decode(enc.encode("utf-8")) == tuple(fields)


@given(
    vals=st.lists(
        st.one_of(st.none(), st.text(max_size=8)), min_size=1, max_size=8
    )
)
@settings(**_SETTINGS)
@example(vals=[None, "", "é", "𝄞x", "a:b", "N", "V2:ab"])
def test_nd_field_spark_duckdb_parity(spark, vals):
    import duckdb
    import pyarrow as pa

    from snapshot_s3_util_spark.sql_helpers import ND_FIELD_SQL, nd_field_col

    rows = [(i, v) for i, v in enumerate(vals)]
    got_spark = [
        r[0]
        for r in spark.createDataFrame(rows, "i long, v string")
        .orderBy("i")
        .select(nd_field_col("v"))
        .collect()
    ]
    t = pa.table({"i": [r[0] for r in rows], "v": [r[1] for r in rows]})
    con = duckdb.connect()
    con.register("t", t)
    got_duck = [
        r[0]
        for r in con.execute(
            "SELECT " + ND_FIELD_SQL.format(col="v") + " FROM t ORDER BY i"
        ).fetchall()
    ]
    model = [_nd_model(v) for v in vals]
    assert got_spark == model
    assert got_duck == model


# --- stream_tws_user_topk: the TWS processor path cannot execute in ----
# --- this sandbox (its runner needs google.protobuf), so pin its     ----
# --- fold logic directly against the applyInPandasWithState fallback ----
# --- and a plain-Python reference, multi-micro-batch included.       ----


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeListState(_FakeValueState):
    def get(self):
        return iter(self._v)

    def put(self, rows):
        self._v = list(rows)


class _FakeHandle:
    def getValueState(self, name, schema, ttlDurationMs=None):
        return _FakeValueState()

    def getListState(self, name, schema, ttlDurationMs=None):
        return _FakeListState()


class _FakeGroupState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


@given(
    batches=st.lists(
        st.lists(
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-1e6, max_value=1e6, allow_nan=False, width=32
                ),
            ),
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=100, deadline=None)
@example(batches=[[None], []])            # all-null then empty batch
@example(batches=[[1.0, 1.0], [1.0]])     # ties across batches
@example(batches=[[float("nan"), 2.0]])   # NaN ≡ NULL pin (op docstring)
def test_tws_processor_equals_fallback_and_reference(batches):
    import math

    import pandas as pd

    from snapshot_s3_util_spark.streaming.stateful import (
        _TopKProcessor,
        _topk_update_fallback,
    )

    pdfs = [
        pd.DataFrame({"value": pd.Series(b, dtype="float64")}) for b in batches
    ]

    proc = _TopKProcessor()
    proc.init(_FakeHandle())
    for pdf in pdfs:  # one micro-batch per handleInputRows call
        (tws_out,) = list(proc.handleInputRows((7,), iter([pdf]), None))

    state = _FakeGroupState()
    for pdf in pdfs:
        (fb_out,) = list(_topk_update_fallback((7,), iter([pdf]), state))

    flat = [v for b in batches for v in b]
    top = sorted(
        (v for v in flat if v is not None and not math.isnan(v)),
        reverse=True,
    )[:3]
    expect = {
        "n_events": len(flat),
        "top3_sum": sum(top) if top else None,
        "top_value": top[0] if top else None,
    }
    for out in (tws_out, fb_out):
        row = out.iloc[0]
        assert row["n_events"] == expect["n_events"]
        for k in ("top3_sum", "top_value"):
            got = row[k]
            got = None if pd.isna(got) else got
            assert got == expect[k], (k, got, expect[k])


# --- stream_python_source: the ledger stream reader's offset/tiling ----
# --- arithmetic must deliver every row exactly once, any geometry.   ----


@given(
    n_total=st.integers(min_value=0, max_value=400),
    stride=st.integers(min_value=1, max_value=150),
    n_parts=st.integers(min_value=1, max_value=9),
)
@settings(max_examples=150, deadline=None)
@example(n_total=103, stride=40, n_parts=4)   # 3 uneven batches
@example(n_total=7, stride=100, n_parts=8)    # one batch, parts > rows
@example(n_total=0, stride=1, n_parts=1)      # empty feed
def test_ledger_stream_reader_exactly_once(n_total, stride, n_parts):
    from snapshot_s3_util_spark.sources.stream_source import (
        _LedgerStreamReader,
    )

    r = _LedgerStreamReader(
        {"n_total": str(n_total), "stride": str(stride), "n_parts": str(n_parts)}
    )
    start = r.initialOffset()
    seen: list[int] = []
    batches = 0
    while start["pos"] < n_total:
        end = r.latestOffset()
        parts = r.partitions(start, end)
        spans = sorted((p.lo, p.hi) for p in parts)
        # contiguous tiling of (start, end], no gap, no overlap
        pos = start["pos"]
        for lo, hi in spans:
            assert lo == pos and hi >= lo
            pos = hi
        assert pos == end["pos"]
        for p in parts:
            seen.extend(row[0] for row in r.read(p))
        start = end
        batches += 1
        assert batches <= n_total + 1  # progress guard
    assert seen == list(range(n_total))
    if n_total:
        assert batches == -(-n_total // stride)  # ceil: real multi-batch


def test_rank_npart_derives_from_input_size(spark, sf_dir, monkeypatch):
    """r15 scale-adaptivity (guide §2): with no explicit npart the rank
    spine derives its range-partition count from the planning-time
    input-size estimate — cores floor for small frames (the local
    regime, keeping r14 plans bit-identical at local[32]), est/target
    partitions once the frame outgrows the floor, capped at
    _RANK_MAX_NPART; frames with no usable estimate fall back to the
    cores floor. Rank values are exact for ANY npart, so derived and
    pinned spines must agree row-for-row."""
    from snapshot_s3_util_spark.io import load_table
    from snapshot_s3_util_spark.plans import rank
    from snapshot_s3_util_spark.plans.rank import (
        _RANK_MAX_NPART,
        _derive_npart,
        global_row_number,
    )

    cores = spark.sparkContext.defaultParallelism
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # small parquet frame, default 256 MB target -> the cores floor
    assert _derive_npart(o) == cores

    # shrink the per-partition target so the same estimate demands more
    # partitions than cores: derived must follow est/target, capped
    with monkeypatch.context() as m:
        m.setattr(rank, "_RANK_PART_BYTES", 1024)
        derived = _derive_npart(o)
    assert cores < derived <= _RANK_MAX_NPART

    # value-identity: derived npart and the old pinned 32 produce the
    # same exact global row numbers
    keys = ["o_totalprice", "o_orderkey"]
    got = sorted(
        (r["o_orderkey"], r["rn"])
        for r in global_row_number(o, keys, out="rn").collect()
    )
    want = sorted(
        (r["o_orderkey"], r["rn"])
        for r in global_row_number(o, keys, out="rn", npart=32).collect()
    )
    assert got == want


_digest = st.one_of(st.none(), st.binary(min_size=16, max_size=16))


@given(digests=st.lists(_digest, max_size=40))
# first bytes either side of 0x80: unsigned byte order == hex order
@example(digests=[b"\x80" + b"\x00" * 15, b"\x7f" + b"\xff" * 15,
                  b"\xff" * 16, b"\x00" * 16, b"\x80" + b"\x01" * 15])
@example(digests=[None, b"\xa0" * 16, None, b"\x0a" * 16])  # NULLs mixed in
@example(digests=[None, None, None])                          # all NULL
@settings(**dict(_SETTINGS, max_examples=20))
def test_digests_fp_matches_sorted_hex_model(spark, digests):
    """digests_fp_col over one group equals the oracle's
    MD5(STRING_AGG(h, '' ORDER BY h)) on lowercase hex digests, NULLs
    skipped, with partial buffers merged across partitions."""
    import hashlib

    from snapshot_s3_util_spark.sql_helpers import digests_fp_col

    hexes = [None if d is None else d.hex() for d in digests]
    df = spark.createDataFrame([(h,) for h in hexes], "h string")
    got = df.repartition(3).agg(digests_fp_col("h").alias("fp")).first()["fp"]
    want = hashlib.md5(
        "".join(sorted(h for h in hexes if h is not None)).encode()
    ).hexdigest()
    assert got == want
