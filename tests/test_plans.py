"""Physical-plan shape assertions (the 100 TB checklist, SURVEY §4/§7).

Correctness says the operator computes the right answer at sf0.01;
these tests say the PLAN is the one that still works at 1000 executors:
filters reach the parquet scan, projections prune the read schema,
dimension joins broadcast, top-k never global-sorts, and Python only
appears in deliberate UDF operators.
"""

from __future__ import annotations

import pytest

from snapshot_s3_util_spark import REGISTRY
from snapshot_s3_util_spark.plans.inspect import (
    PY_MARKERS,
    has_node,
    physical_plan,
    pushed_filters,
    read_schema,
    shuffle_count,
    uses_python,
)


def test_keyrange_scan_pushes_range_predicate(spark, sf_dir):
    df = REGISTRY["scan_keyrange"].fn(spark, sf_dir)
    pf = pushed_filters(df)
    assert "GreaterThanOrEqual(o_orderkey" in pf and "LessThan(o_orderkey" in pf, pf


def test_pruned_scan_reads_two_columns_only(spark, sf_dir):
    rs = read_schema(REGISTRY["scan_pruned"].fn(spark, sf_dir))
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_shipdate" not in rs, rs


def test_q1_prunes_and_pushes(spark, sf_dir):
    df = REGISTRY["agg_hash_groupby"].fn(spark, sf_dir)
    assert "LessThanOrEqual(l_shipdate" in pushed_filters(df)
    rs = read_schema(df)
    # 7 needed columns, not all 11
    assert "l_orderkey" not in rs and "l_partkey" not in rs, rs


def test_dimension_join_broadcasts(spark, sf_dir):
    df = REGISTRY["join_broadcast"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin")
    assert not has_node(df, "SortMergeJoin"), physical_plan(df)


def test_sortmerge_join_is_sortmerge(spark, sf_dir):
    assert has_node(REGISTRY["join_sortmerge"].fn(spark, sf_dir), "SortMergeJoin")


def test_theta_band_keeps_equi_hash_join(spark, sf_dir):
    """The band predicate must ride the equi join as a residual —
    a nested-loop here is quadratic at scale."""
    df = REGISTRY["join_theta_band"].fn(spark, sf_dir)
    assert not has_node(df, "BroadcastNestedLoopJoin"), physical_plan(df)
    assert not has_node(df, "CartesianProduct")


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    df = REGISTRY["limit_topk"].fn(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject"), physical_plan(df)


def test_sort_multi_has_no_single_partition_window(spark, sf_dir):
    """Global rank must come from the range-partitioned two-pass form
    (r5 verdict): every WindowExec is partitioned (the data-sized one
    by spark_partition_id, the N-row prefix sum by a non-foldable
    constant). The range exchange itself lives inside the helper's
    localCheckpoint'ed spine (plans/rank.py explains why reuse-by-
    optimizer is not a correctness guarantee); the rank still tiles
    1..n exactly (oracle-checked separately, plus the helper property
    test in test_semantics)."""
    df = REGISTRY["sort_multi"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # textual form: "Window [..], [partition spec], [order spec]" —
    # a no-partition window renders an EMPTY partition spec "[], "
    for line in plan.splitlines():
        if "Window [" in line:
            assert ", [], [" not in line, line
    # r9 fast path: the main side must carry ZERO post-spine exchanges
    # — every visible Exchange belongs to the npart-row ledger (keyed
    # on the helper's internal _grn columns), never to the data rows.
    # (The one data-sized range exchange lives inside the checkpointed
    # spine, upstream of the Scan ExistingRDD.)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_grn_" in line or "_w1" in line, line


def test_q3_uses_take_ordered(spark, sf_dir):
    assert has_node(REGISTRY["join_3way_topk"].fn(spark, sf_dir), "TakeOrderedAndProject")


def test_topk_per_group_limits_inside_window(spark, sf_dir):
    """Spark 3.5+ pushes rn<=k into the sort (WindowGroupLimit) so a
    group never fully materializes its sort at scale."""
    df = REGISTRY["topk_per_group"].fn(spark, sf_dir)
    assert has_node(df, "WindowGroupLimit"), physical_plan(df)


# Ops allowed to carry Python eval nodes (Python IS the point), plus
# ops that execute eagerly inside fn() (sinks/streaming/catalog — their
# returned checkpoint has no plan to inspect cheaply).
_PYTHON_OK_CATEGORIES = {"udf", "multimodal", "streaming", "sink", "source"}
_EAGER_NAMES = {
    "llm_dedup_components",
    "hb_export_import_cycle",
    "hb_restore_catalog",
    "join_bucketed_colocated",
}


def _jvm_side_ops():
    return sorted(
        name
        for name, op in REGISTRY.items()
        if op.category not in _PYTHON_OK_CATEGORIES and name not in _EAGER_NAMES
    )


@pytest.mark.parametrize("name", _jvm_side_ops())
def test_non_udf_operators_stay_jvm_side(name, spark, sf_dir):
    """Two registry-wide scale gates over every lazy op, one plan build:
    (1) no Python evaluation node may appear in a non-UDF operator —
    the whole-stage-codegen / vectorized path is the scale contract;
    (2) the plans.audit W/C/S detectors must come back clean or
    ALLOW-listed with a documented scale bound (r6 ADVICE: this gate
    used to exist only in tools/plan_audit.py, now it IS CI)."""
    from snapshot_s3_util_spark.plans.audit import ALLOW, GATED, find_issues

    df = REGISTRY[name].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert not any(m in plan for m in PY_MARKERS), plan
    bad = (find_issues(plan) & set(GATED)) - set(ALLOW.get(name, ("", ""))[0])
    assert not bad, f"unexplained gated plan codes {sorted(bad)}:\n{plan}"


def test_plan_audit_report_covers_whole_registry():
    """The committed PLAN_AUDIT.md must carry one row per registry op —
    no more, no fewer. Round 7 shipped a report 4 ops stale because ops
    were added after the regen; this pin makes that drift a CI failure
    (r7 verdict ask #3). Regenerate with
    `python tools/plan_audit.py --report`."""
    import os
    import re

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLAN_AUDIT.md")
    with open(path) as fh:
        reported = set(re.findall(r"^\| `([a-z0-9_]+)` \|", fh.read(), re.M))
    registry = set(REGISTRY)
    assert reported == registry, (
        f"PLAN_AUDIT.md is stale — regenerate with tools/plan_audit.py "
        f"--report. missing={sorted(registry - reported)} "
        f"extra={sorted(reported - registry)}"
    )


@pytest.mark.parametrize(
    "name,marker",
    [
        ("udf_python_scalar", "BatchEvalPython"),
        ("udf_pandas_scalar", "ArrowEvalPython"),
        ("udtf_apply_in_pandas", "FlatMapGroupsInPandas"),
        ("udtf_map_in_pandas", "MapInPandas"),
    ],
)
def test_udf_operators_use_expected_eval(name, marker, spark, sf_dir):
    assert has_node(REGISTRY[name].fn(spark, sf_dir), marker)


def test_ttl_range_predicate_reaches_events_scan(spark, sf_dir):
    """The TTL cutoff must push to the parquet scan as a raw-ns bound —
    a filter on the CONVERTED timestamp pushes only IsNotNull, which at
    100 TB means the sweep reads every row group."""
    pf = pushed_filters(REGISTRY["hb_ttl_expiry"].fn(spark, sf_dir))
    assert "GreaterThanOrEqual(ts" in pf, pf


def test_contamination_bench_grams_broadcast(spark, sf_dir):
    """The benchmark gram set must broadcast — the corpus gram stream
    may never shuffle just to probe a small held-out set."""
    df = REGISTRY["llm_contamination_ngram"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin")


def test_q1_is_two_phase_aggregate(spark, sf_dir):
    """Partial + final HashAggregate: the map-side combine that bounds
    the shuffle to |groups| x partitions at any input size."""
    plan = physical_plan(REGISTRY["agg_hash_groupby"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan


@pytest.mark.parametrize(
    "name,budget",
    [
        # quality gate -> dedup keeper -> report in exactly 2 shuffles
        ("llm_pipeline_curate", 2),
        # one digest shuffle
        ("llm_dedup_exact", 1),
        # doc groupBy + band self-join reuse one exchange; the df-cap
        # adds its two tiny per-shingle aggregation exchanges
        ("llm_dedup_near_minhash", 4),
        # gram distinct + df-cap + sizes + inter-agg + 2 size joins
        ("llm_dedup_ngram_jaccard", 7),
        # (vec,band) sig agg + (band,sig) self-join + final cos joins
        ("llm_dedup_embedding", 3),
        # bench-gram distinct + per-doc count; corpus grams NEVER
        # shuffle (per-doc dedup is array_distinct, a narrow map)
        ("llm_contamination_ngram", 2),
        # band bucket self-join + pair distinct + popcount-verify joins
        # over the checkpointed fingerprint table; the round-11 bucket
        # cap SAMPLE is a row_number window partitioned on the SAME
        # (band, key) the self-join uses, so its exchange is reused and
        # the budget holds (measured sh=3 — the 5 is headroom from the
        # pre-window formulation)
        ("llm_dedup_simhash_pairs", 5),
        # one corpus groupBy(source); normalizer windows run over the
        # |sources|-row aggregate (single corpus scan — see docstring)
        ("llm_domain_mixture", 2),
        # doc-local tf (narrow) + df agg + doc window; the df join
        # broadcasts and the N-count is a single-row broadcast
        ("llm_tfidf_topterms", 3),
        # shard-local packing: one shard exchange serves cumsum + agg
        ("llm_pack_sequences", 1),
        # hash-threshold sampling and split assignment are narrow maps
        ("llm_sample_weighted", 0),
        ("llm_split_assign", 0),
        ("llm_repetition_stats", 0),
        # quality gate + dedup keeper + split + pack + accounting:
        # digest window, then packing cumsum + final agg share the
        # (split, shard) exchange
        ("llm_pipeline_export", 2),
        # LOCF gap-fill: one keyed exchange, no self-join
        ("win_fill_forward", 1),
        # (group, bin) two-phase agg
        ("agg_histogram", 1),
    ],
)
def test_shuffle_budget(name, budget, spark, sf_dir):
    """Lock in each fused plan's shuffle count — every Exchange is a
    full network pass at 100 TB, so a regression here is a scale bug
    even when results stay correct. Counted with AQE off so compile-time
    exchange reuse (ReusedExchange) is visible; AQE performs the same
    reuse at runtime."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = shuffle_count(REGISTRY[name].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got <= budget, f"{name}: {budget} shuffles budgeted, plan has {got}"


def test_sorted_layout_read_back_pushes_ts_filter(spark, sf_dir, tmp_path):
    """The clustered export's payoff: a time-range read of the sorted
    copy pushes the ts bound to the scan (row-group min/max skip)."""
    from pyspark.sql import functions as F

    from snapshot_s3_util_spark.io import load_table

    out = str(tmp_path / "sorted")
    (
        load_table(spark, sf_dir, "events")
        .repartition("event_type")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp")
    )
    assert "GreaterThanOrEqual(ts" in pushed_filters(back)


def test_bucketed_join_and_agg_have_zero_exchanges(spark, sf_dir):
    """The co-location payoff: with both sides bucketed on the join key,
    the join AND the per-key aggregate plan with NO Exchange node — the
    strategy that amortizes one ingest-time shuffle across every
    downstream query at 100 TB."""
    from snapshot_s3_util_spark.operators.joins import (
        bucketed_join_plan,
        write_bucketed_tables,
    )

    orders, lineitem, drop = write_bucketed_tables(spark, sf_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # disable auto-broadcast: at test sf the sides are tiny enough to
    # broadcast, which would hide the bucket co-location being asserted
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_join_plan(orders, lineitem)
        assert shuffle_count(df) == 0, physical_plan(df)
        assert has_node(df, "SortMergeJoin")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        drop()


def test_cc_propagation_round_shuffle_budget(spark):
    """One min-label round must cost <= 2 exchanges (edge join + min
    agg; the label re-join reuses the agg's partitioning). The
    convergence loop runs this round diameter-many times, so a per-round
    regression multiplies at scale."""
    from pyspark.sql import functions as F

    from snapshot_s3_util_spark.llm.dedup import _propagate_round

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    ).localCheckpoint(eager=True)
    edges = pairs.unionAll(pairs.selectExpr("dst AS src", "src AS dst"))
    labels = spark.range(1, 5).select(
        F.col("id").alias("doc_id"), F.col("id").alias("label")
    ).localCheckpoint(eager=True)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = shuffle_count(_propagate_round(edges, labels))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got <= 2, f"CC round: 2 shuffles budgeted, plan has {got}"


def test_keyed_graph_rounds_have_no_frontier_broadcast(spark):
    """The `_keyed` graph twins' contract (r13 verdict ask #6): one
    propagation/expansion round must contain NO broadcast join — the
    |V|-sized label/frontier frame moves by keyed shuffle only, so
    nothing in the round has to fit on a single executor. Built on
    synthetic checkpointed frames so the (legit, dimension-sized)
    broadcasts inside the edge-building stage can't leak into the
    asserted plan."""
    from pyspark.sql import functions as F

    from snapshot_s3_util_spark.operators.graphs import _bfs_round, _lpa_round

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a int, b int"
    ).localCheckpoint(eager=True)
    adj = pairs.selectExpr("a AS node", "b AS nbr").unionAll(
        pairs.selectExpr("b AS node", "a AS nbr")
    )
    labels = adj.select("node").distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint(eager=True)
    sym = pairs.selectExpr("a AS u", "b AS v").unionAll(
        pairs.selectExpr("b AS u", "a AS v")
    )
    hops = spark.createDataFrame([(1, 0)], "node int, hops int")
    for df in (
        _lpa_round(adj, labels, keyed=True),
        _bfs_round(sym, hops, keyed=True),
    ):
        plan = physical_plan(df)
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastExchange" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_salted_join_spreads_hot_keys_without_broadcast(spark, sf_dir):
    """With broadcast off (the regime salting exists for), the salted
    plan must be a shuffle join on the COMPOUND (key, salt) key when a
    hot key is planted — proving one hot orderkey's rows land on
    _JOIN_SALT reducers — and must DEGENERATE to the base join (salt
    constant-folded away) on uniform data, where r13's SKEW.md
    measured blanket replication at a 3.6x premium."""
    from snapshot_s3_util_spark.operators.extras import (
        _salted_priority_join,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    hot = [r[0] for r in orders.select("o_orderkey").limit(1).collect()]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # planted hot key: compound (key, salt) join survives planning
        plan = physical_plan(_salted_priority_join(li, orders, hot))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "l_salt" in plan and "o_salt" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # uniform data (the full op's sampled detection finds nothing
        # hot in TPC-H): the salt must constant-fold OUT of the join
        # key — no blanket replication premium
        plan_uni = physical_plan(REGISTRY["join_salted_skew"].fn(spark, sf_dir))
        assert "SortMergeJoin" in plan_uni or "ShuffledHashJoin" in plan_uni, (
            plan_uni
        )
        assert "l_salt" not in plan_uni, plan_uni
        assert "BroadcastNestedLoopJoin" not in plan_uni, plan_uni
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_incremental_dedup_shuffle_budget(spark, sf_dir):
    """Batch keeper window + index anti-join in <= 2 exchanges — the
    property that keeps incremental dedup O(batch), not O(corpus)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = shuffle_count(REGISTRY["llm_dedup_incremental"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got <= 2, got


def test_hll_sketch_union_is_two_phase(spark, sf_dir):
    """The sketch path must build per-day partials and merge them — a
    partial + final HashAggregate pair on the sketch column — never a
    raw re-scan per rollup."""
    plan = physical_plan(REGISTRY["agg_hll_sketch_union"].fn(spark, sf_dir))
    assert plan.count("hll_union_agg") >= 1 and plan.count("hll_sketch_agg") >= 1, plan


def test_range_bucketed_join_is_equi_not_nested_loop(spark, sf_dir):
    """The whole point of bucket decomposition: the interval condition
    must ride an equi join on (user, bucket) — BNLJ is quadratic."""
    df = REGISTRY["join_range_bucketed"].fn(spark, sf_dir)
    assert not has_node(df, "BroadcastNestedLoopJoin"), physical_plan(df)
    assert not has_node(df, "CartesianProduct")
    assert has_node(df, "BroadcastHashJoin") or has_node(df, "SortMergeJoin") \
        or has_node(df, "ShuffledHashJoin")


def test_pattern_funnel_single_shuffle_no_join(spark, sf_dir):
    """The fold formulation replaces three self-joins: one user_id
    exchange, zero join nodes."""
    df = REGISTRY["win_pattern_funnel"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin"):
        assert not has_node(df, node), node


def test_bloom_probe_joins_broadcast_never_scans_filter(spark, sf_dir):
    """Bench-side vocabulary and bit set must broadcast; the probe is
    a hash join per position, not a per-row array scan."""
    df = REGISTRY["llm_contamination_bloom"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin"), physical_plan(df)
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_wal_replay_reuses_user_partitioning_for_merge(spark, sf_dir):
    """Each branch exchanges once on user_id; the full-outer merge
    itself must not add a third shuffle."""
    df = REGISTRY["hb_wal_replay_merge"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 2, physical_plan(df)


def test_mode_window_sees_only_aggregated_rows(spark, sf_dir):
    """agg_mode's keeper window must sit above the (group, value)
    aggregate — two exchanges max (partial+final agg, window), and the
    window input is the histogram, not raw lineitem."""
    df = REGISTRY["agg_mode"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 2, physical_plan(df)


def test_partitioned_export_reads_get_partition_pruning(spark, sf_dir, tmp_path):
    """The §4 claim that partition pruning needs zero custom work, in
    both flavors: a literal filter on the partition key propagates
    STATICALLY through the join (no DPP node needed — the scan never
    lists other partitions), and a filter on a non-key dim attribute
    triggers DYNAMIC partition pruning (the scan's partition filter is
    resolved from the broadcast at runtime)."""
    import pyspark.sql.functions as F

    from snapshot_s3_util_spark.io import load_table

    out = str(tmp_path / "dpp")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)

    # static: a literal partition-key predicate must land in the scan's
    # PartitionFilters (directory-level pruning — the CF/keyrange read
    # pattern of §1.1), not in the post-scan data filters
    static_plan = physical_plan(
        fact.filter(F.col("event_type") == "purchase").groupBy().count()
    )
    pf_lines = [
        ln for ln in static_plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf_lines and any("purchase" in ln for ln in pf_lines), static_plan

    # dynamic: selective filter on a dim ATTRIBUTE, not the key
    dim = spark.createDataFrame(
        [("purchase", 1), ("click", 0), ("view", 0), ("signup", 0), ("error", 0)],
        "event_type string, billable int",
    )
    j = (
        fact.join(F.broadcast(dim), "event_type")
        .filter(F.col("billable") == 1)
        .groupBy("event_type")
        .count()
    )
    assert "dynamicpruning" in physical_plan(j).lower(), physical_plan(j)


def test_ivf_partitioned_probe_prunes_to_nprobe_partitions(spark, sf_dir, tmp_path):
    """llm_sim_ann_ivf_partitioned's contract (r12 verdict ask #2): the
    cluster-partitioned layout must hold one directory per quantizer
    cell, the probe's IN-list must land in the scan's PartitionFilters
    (planning-time pruning, not a post-scan filter), and the files the
    probe actually touches must come from exactly nprobe directories —
    the nprobe/K scan fraction the IVF docstrings promise at 100 TB."""
    import glob
    import os

    import pyspark.sql.functions as F

    from snapshot_s3_util_spark.llm.similarity import (
        _IVFK_K,
        _IVFK_NPROBE,
        _ivfk_partitioned_layout,
    )

    out = str(tmp_path / "ivf_layout")
    cids, back, _probe = _ivfk_partitioned_layout(spark, sf_dir, out)
    assert len(cids) == _IVFK_NPROBE

    # layout: one partition directory per OCCUPIED quantizer cell —
    # at most K; not pinned to exactly K (r13 ADVICE: an empty Lloyd
    # cell at a different test SF or a retuned K is not a pruning
    # failure; measured occupancy at the shipped K is all cells)
    dirs = {
        os.path.basename(d)
        for d in glob.glob(os.path.join(out, "cid=*"))
    }
    assert 0 < len(dirs) <= _IVFK_K, (
        f"expected 1..{_IVFK_K} cid= dirs, got {len(dirs)}"
    )

    # planning time: the IN-list is a PartitionFilter on the FileScan
    plan = physical_plan(back.groupBy().count())
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("cid" in ln for ln in pf), plan

    # runtime: files actually opened come from exactly the pruned
    # directories that EXIST on disk (the IN-list ∩ written layout) —
    # the other K - nprobe partitions are never listed into the scan.
    # Deriving the expectation from the layout instead of pinning
    # all-nprobe-occupied keeps the contract under a retuned K
    # (r13 ADVICE).
    touched = {
        os.path.basename(os.path.dirname(r[0]))
        for r in back.select(F.input_file_name()).distinct().collect()
    }
    expected = {f"cid={c}" for c in cids} & dirs
    assert touched == expected, (touched, expected)
    assert len(touched) <= _IVFK_NPROBE, (touched, cids)


def test_version_compaction_prunes_topn_inside_sort(spark, sf_dir):
    """VERSIONS=N retention must ride WindowGroupLimit (top-N pruned in
    the sort) and push its TTL predicate to the scan."""
    df = REGISTRY["hb_version_compaction"].fn(spark, sf_dir)
    assert has_node(df, "WindowGroupLimit"), physical_plan(df)
    assert "GreaterThanOrEqual(ts" in pushed_filters(df) or \
        "GreaterThanOrEqual" in pushed_filters(df), pushed_filters(df)


def test_interval_overlap_join_is_equi_not_nested_loop(spark, sf_dir):
    """Both sides are interval sets; the canonical-bucket decomposition
    must keep the join a shuffle-partitionable hash/SMJ, never the
    BroadcastNestedLoop a raw range predicate forces."""
    df = REGISTRY["join_interval_overlap"].fn(spark, sf_dir)
    assert not has_node(df, "BroadcastNestedLoopJoin"), physical_plan(df)
    assert not has_node(df, "CartesianProduct")


def test_doc_chunking_is_narrow(spark, sf_dir):
    """Chunking is a pure per-row explode/slice pipeline — zero
    shuffles at any corpus size."""
    assert shuffle_count(REGISTRY["llm_doc_chunking"].fn(spark, sf_dir)) == 0


def test_ewma_single_shuffle(spark, sf_dir):
    """The reverse-rank closed form lets the window pass and the final
    per-user aggregate share ONE user_id exchange."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = shuffle_count(REGISTRY["win_ewma"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got <= 1, got


def test_cms_probe_lookup_broadcasts_sketch(spark, sf_dir):
    """The d*w-counter sketch is tiny by construction; probing it must
    be a broadcast join, never a shuffle of the probe stream against
    it."""
    df = REGISTRY["agg_count_min_sketch"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin"), physical_plan(df)


def test_bm25_topk_never_global_sorts(spark, sf_dir):
    """The final top-k must be TakeOrderedAndProject (partial top-k per
    partition merged on the driver), not a global Sort + Limit."""
    df = REGISTRY["llm_bm25_retrieval"].fn(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject"), physical_plan(df)


def test_sample_bottomk_prunes_inside_sort(spark, sf_dir):
    """rank <= k over the hash order must ride WindowGroupLimit — a
    full per-group sort of the table would defeat the sample."""
    df = REGISTRY["agg_sample_bottomk"].fn(spark, sf_dir)
    assert has_node(df, "WindowGroupLimit"), physical_plan(df)


def test_embed_quantize_is_narrow(spark, sf_dir):
    """Quantize/reconstruct/audit are per-row array expressions —
    zero shuffles at any corpus size."""
    assert shuffle_count(REGISTRY["llm_embed_quantize"].fn(spark, sf_dir)) == 0


def test_zscore_single_shuffle(spark, sf_dir):
    """count/avg/stddev share one trailing frame over one user_id
    exchange."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = shuffle_count(REGISTRY["win_anomaly_zscore"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got <= 1, got


def test_bm25_filters_token_stream_before_aggregation(spark, sf_dir):
    """The query-vocabulary restriction must be a broadcast hash join
    below the tf aggregation — the full (doc, term) stream never
    shuffles."""
    df = REGISTRY["llm_bm25_retrieval"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin"), physical_plan(df)


def test_kmv_bottomk_prunes_inside_sort(spark, sf_dir):
    """The per-group k minima must ride WindowGroupLimit — bounded
    sketch state, never a full per-group sort."""
    df = REGISTRY["agg_kmv_distinct"].fn(spark, sf_dir)
    assert has_node(df, "WindowGroupLimit"), physical_plan(df)


def test_resample_shares_one_keyed_exchange_for_both_carries(spark, sf_dir):
    """Both bracketing carries (prev reading, next reading) must ride
    the same user_id window exchange; the whole plan needs at most the
    min/max agg exchange plus the window exchange."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = shuffle_count(REGISTRY["ts_resample_interpolate"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got <= 3, got


def test_audio_decode_is_narrow_python_stages(spark, sf_dir):
    """Synth + decode are two Arrow stages with no shuffle between or
    around them."""
    df = REGISTRY["multimodal_audio_decode"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0
    assert uses_python(df)


def test_unpivot_expands_single_scan(spark, sf_dir):
    """The melt must be an Expand over ONE scan — not N per-measure
    scans unioned."""
    df = REGISTRY["agg_unpivot"].fn(spark, sf_dir)
    plan = physical_plan(df)
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert has_node(df, "Expand"), plan


def test_fuzzy_join_blocks_on_equi_key(spark, sf_dir):
    """Levenshtein must ride the brand-blocked hash join as a residual,
    never force a nested loop over all part pairs."""
    df = REGISTRY["join_fuzzy_levenshtein"].fn(spark, sf_dir)
    assert not has_node(df, "BroadcastNestedLoopJoin"), physical_plan(df)
    assert not has_node(df, "CartesianProduct")


def test_fuzzy_join_broadcasts_the_unspread_leg(spark, sf_dir):
    """The build side is pinned to the `part_b` leg, so the respread
    `part_a` leg stays the probe side that parallelizes the levenshtein
    residual; broadcasting `a` would reinstate the one-task probe."""
    import re

    plan = physical_plan(REGISTRY["join_fuzzy_levenshtein"].fn(spark, sf_dir))
    inputs = re.findall(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[(.*)\]", plan)
    assert len(inputs) == 1, plan
    assert "part_b" in inputs[0] and "part_a" not in inputs[0], plan


def test_ohlc_bars_single_aggregate_no_window(spark, sf_dir):
    """Open/close via struct min/max must stay inside the one hash
    aggregate — no rank window, no per-bar sort exchange."""
    df = REGISTRY["ts_ohlc_bars"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not has_node(df, "Window"), physical_plan(df)


def test_retention_cohort_broadcasts_sizes_no_cartesian(spark, sf_dir):
    df = REGISTRY["win_retention_cohort"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 5, physical_plan(df)
    assert has_node(df, "BroadcastHashJoin"), physical_plan(df)
    assert not has_node(df, "CartesianProduct")
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_corr_matrix_is_one_pass_one_scan(spark, sf_dir):
    """Six correlations must share a single scan + single global
    aggregate — not six scans or a join."""
    import re

    df = REGISTRY["agg_corr_matrix"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not has_node(df, "Join"), plan
    assert shuffle_count(df) == 1, plan


def test_null_safe_join_stays_broadcast_hash(spark, sf_dir):
    """eqNullSafe must plan as an equi broadcast hash join, not
    degrade to a nested loop."""
    df = REGISTRY["join_null_safe"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin"), physical_plan(df)
    assert not has_node(df, "BroadcastNestedLoopJoin")
    assert not has_node(df, "CartesianProduct")


def test_pii_redact_is_narrow_jvm_regex(spark, sf_dir):
    df = REGISTRY["llm_pii_redact"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert not uses_python(df), physical_plan(df)


def test_ngram_topk_never_global_sorts(spark, sf_dir):
    df = REGISTRY["llm_ngram_topk"].fn(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject"), physical_plan(df)


def test_line_dedup_two_exchanges(spark, sf_dir):
    """One shuffle keyed on the line text (the dedup), one on doc_id
    (the reassembly) — nothing else."""
    df = REGISTRY["llm_line_dedup"].fn(spark, sf_dir)
    assert shuffle_count(df) == 2, physical_plan(df)
    assert not uses_python(df)


def test_snapshot_gc_is_anti_join_no_nested_loop(spark, sf_dir):
    df = REGISTRY["hb_snapshot_gc"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan, plan
    assert not has_node(df, "CartesianProduct")
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_pagerank_iteration_joins_broadcast_ranks(spark, sf_dir):
    """Every Pregel step must broadcast the |nodes|-row rank frame;
    the checkpointed edge list means no iteration replays the 4-way
    relational join."""
    df = REGISTRY["graph_pagerank"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_node(df, "BroadcastHashJoin"), plan
    assert not has_node(df, "CartesianProduct")
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan


def test_spatial_grid_join_is_equi_not_nested_loop(spark, sf_dir):
    df = REGISTRY["join_spatial_grid"].fn(spark, sf_dir)
    assert not has_node(df, "BroadcastNestedLoopJoin"), physical_plan(df)
    assert not has_node(df, "CartesianProduct")


def test_entropy_single_corpus_pass(spark, sf_dir):
    """Per-source AND overall entropies must derive from the one
    (source, lang) contingency aggregate — the checkpoint means the
    corpus parquet is scanned zero times in the final plan."""
    import re

    df = REGISTRY["agg_entropy"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan


def test_stratified_split_one_stratum_exchange(spark, sf_dir):
    """Rank window, count window, and the summary aggregate must all
    ride ONE (source, lang) exchange."""
    df = REGISTRY["llm_stratified_split"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)


def test_gap_detect_single_window_exchange(spark, sf_dir):
    df = REGISTRY["ts_gap_detect"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_fn_url_is_narrow(spark, sf_dir):
    df = REGISTRY["fn_url"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert not uses_python(df)


def test_merge_upsert_single_key_join_no_nested_loop(spark, sf_dir):
    df = REGISTRY["sink_merge_upsert"].fn(spark, sf_dir)
    # checkpointed result — assert on the builder path instead: the op
    # ran (rows exist) and produced the three action classes
    actions = {r["action"] for r in df.collect()}
    assert actions == {"kept", "updated", "inserted"}


def test_linreg_single_pass_single_scan(spark, sf_dir):
    import re

    df = REGISTRY["agg_linreg"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert shuffle_count(df) == 1, plan


def test_asof_nearest_one_exchange_no_self_join(spark, sf_dir):
    df = REGISTRY["join_asof_nearest"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not has_node(df, "Join"), physical_plan(df)


def test_throttle_plan_touches_only_aggregated_rows(spark, sf_dir):
    """The window math must run on the |splits|-row frame, never the
    corpus: one scan, and every Window sits above the aggregate."""
    import re

    df = REGISTRY["hb_export_throttle_plan"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_pct_change_lag_runs_over_aggregated_series(spark, sf_dir):
    """Aggregate-then-lag: the window exchange must carry
    |series|x|months| rows, i.e. the plan aggregates BEFORE the
    Window node."""
    df = REGISTRY["win_pct_change_mom"].fn(spark, sf_dir)
    plan = physical_plan(df)
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # the formatted tree prints root-first, so the Window (consumer)
    # must appear BEFORE the aggregate that feeds it
    assert win_pos < agg_pos, plan
    assert not uses_python(df)
    assert shuffle_count(df) <= 2, plan


def test_dataset_card_two_corpus_exchanges(spark, sf_dir):
    """Digest-rank shuffle + source aggregate are the only exchanges
    that scale with the corpus; the lang-rank/broadcast side adds at
    most one more |sources|x|langs|-sized exchange."""
    df = REGISTRY["llm_dataset_card"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin"), physical_plan(df)
    assert not uses_python(df)


def test_image_decode_is_narrow_python_stages(spark, sf_dir):
    df = REGISTRY["multimodal_image_decode"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert uses_python(df)  # the declared Arrow mapInPandas surface


def test_inference_batch_is_pure_codegen(spark, sf_dir):
    """A frozen linear model must compile to JVM column math: zero
    shuffles, zero Python."""
    df = REGISTRY["llm_inference_batch"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert not uses_python(df)


def test_snapshot_clone_no_second_corpus_scan(spark, sf_dir):
    """Refcounting must run over the checkpointed file inventory —
    the corpus parquet appears zero times in the final plan."""
    import re

    df = REGISTRY["hb_snapshot_clone"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan


def test_bitmap_distinct_no_expand(spark, sf_dir):
    """The bitmap path must NOT plan COUNT(DISTINCT)'s Expand; two
    map-side-combinable aggregates only."""
    df = REGISTRY["agg_bitmap_distinct"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert not has_node(df, "Expand"), plan
    assert shuffle_count(df) == 2, plan


def test_seasonality_aggregates_before_rank(spark, sf_dir):
    df = REGISTRY["ts_seasonality_profile"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin"), physical_plan(df)
    assert not has_node(df, "CartesianProduct")


def test_lttb_single_user_exchange(spark, sf_dir):
    """Rank, bucket mean, and argmax windows must all share the one
    user_id exchange (bucket keys are partition-key subsets)."""
    df = REGISTRY["ts_downsample_lttb"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 2, physical_plan(df)
    assert not uses_python(df)


def test_symmetric_diff_anti_joins_no_cartesian(spark, sf_dir):
    df = REGISTRY["set_symmetric_diff"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("LeftAnti") >= 2, plan
    assert not has_node(df, "CartesianProduct")


def test_semdedup_sweep_is_lsh_bucketed_not_all_pairs(spark, sf_dir):
    """The sweep must score SRP bucket candidates, never an
    unconditional vector×vector cross join (r5 verdict): the only
    nested-loop join allowed is the broadcast of the 3-row threshold
    table, and the candidate join must be an equi-join on (band, sig).
    """
    df = REGISTRY["llm_semdedup_sweep"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert not has_node(df, "CartesianProduct"), plan
    # candidate pairs come from an equi-join keyed on (band, sig) —
    # the LSH bucket join — not from pairing the raw vector table
    # (formatted plans list join keys in the details section)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert any(
        "keys" in line and "band" in line and "sig" in line
        for line in plan.splitlines()
    ), plan
    # the only nested-loop joins are tiny broadcasts (the 32-row SRP
    # weight table twice, the 3-row threshold table once)
    tree_nlj = sum(
        1
        for line in plan.splitlines()
        if "BroadcastNestedLoopJoin" in line and "(" in line
    )
    assert tree_nlj <= 6, plan


def test_udf_pandas_iter_is_single_arrow_stage(spark, sf_dir):
    df = REGISTRY["udf_pandas_iter"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert uses_python(df)


def test_haversine_is_narrow(spark, sf_dir):
    df = REGISTRY["fn_geo_haversine"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert not uses_python(df)


def test_merge_regions_plan_single_scan(spark, sf_dir):
    import re

    df = REGISTRY["hb_merge_regions_plan"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


# ---------------------------------------------------- round-5 batch 17


def test_url_dedup_one_dedup_window_no_join(spark, sf_dir):
    """Canonical-URL dedup = the exact-dedup shape on a derived key:
    rank window + source aggregate, no joins, no Python."""
    df = REGISTRY["llm_url_dedup"].fn(spark, sf_dir)
    assert shuffle_count(df) == 2, physical_plan(df)
    assert not has_node(df, "Join")
    assert not uses_python(df)


def test_gopher_rules_single_combined_aggregate(spark, sf_dir):
    """Every rule is doc-local array math: ONE map-side-combined
    shuffle, zero Python."""
    df = REGISTRY["llm_gopher_rules"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_ip_cidr_is_narrow_plus_one_agg(spark, sf_dir):
    df = REGISTRY["fn_ip_cidr"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_rollup_cascade_upper_grains_post_checkpoint(spark, sf_dir):
    """Day/week re-aggregation must run on the checkpointed catalog-
    sized day frame: no parquet rescans, one exchange downstream."""
    import re

    df = REGISTRY["ts_rollup_cascade"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert shuffle_count(df) <= 1, plan


def test_streak_islands_no_window_one_user_exchange(spark, sf_dir):
    """The island fold happens inside the per-user array — the plan
    must show NO Window node and exactly the user aggregate + the
    histogram aggregate."""
    df = REGISTRY["win_streak_islands"].fn(spark, sf_dir)
    assert not has_node(df, "Window"), physical_plan(df)
    assert shuffle_count(df) == 2, physical_plan(df)
    assert not uses_python(df)


def test_weighted_median_aggregates_before_window(spark, sf_dir):
    """The cumulative window must consume the (flag, price) pre-
    aggregate, not raw line items (root-first print: Window above
    its feeding HashAggregate)."""
    df = REGISTRY["agg_weighted_median"].fn(spark, sf_dir)
    plan = physical_plan(df)
    win_pos = plan.find("Window")
    agg_pos = plan.rfind("HashAggregate")
    assert win_pos != -1 and agg_pos != -1
    assert win_pos < agg_pos, plan
    assert shuffle_count(df) == 2, plan


def test_triangle_count_no_cartesian(spark, sf_dir):
    """Wedge generation and the closing-edge check must stay hash
    joins; a nested loop or cartesian is the quadratic failure."""
    df = REGISTRY["graph_triangle_count"].fn(spark, sf_dir)
    assert not has_node(df, "CartesianProduct"), physical_plan(df)
    assert not has_node(df, "BroadcastNestedLoopJoin"), physical_plan(df)


def test_scd2_single_scan_no_join(spark, sf_dir):
    """Union-window as-of: one pushed-IN scan, version assignment via
    Window, no validity-interval join anywhere."""
    import re

    df = REGISTRY["join_scd2_pit"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not has_node(df, "Join"), plan
    assert "In(event_type" in pushed_filters(df), pushed_filters(df)


def test_cross_correlation_lag_math_post_checkpoint(spark, sf_dir):
    """Lag explode + self-join run on the checkpointed |days| frame:
    no parquet rescan, broadcast join, one final aggregate."""
    import re

    df = REGISTRY["ts_cross_correlation"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert has_node(df, "BroadcastHashJoin"), plan
    assert shuffle_count(df) <= 1, plan


def test_image_resize_three_narrow_python_stages(spark, sf_dir):
    df = REGISTRY["multimodal_image_resize"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert uses_python(df)


# ---------------------------------------------------- round-5 batch 18


def test_concurrency_sweep_window_is_day_partitioned(spark, sf_dir):
    """The sweep cumsum must declare PARTITION BY day — a global
    ordered window would serialize the corpus through one task."""
    df = REGISTRY["ts_concurrency_sweep"].fn(spark, sf_dir)
    plan = physical_plan(df)
    import re

    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs and all("day" in w for w in win_specs), plan
    assert not uses_python(df)


def test_ab_test_three_reduces(spark, sf_dir):
    df = REGISTRY["agg_ab_test_z"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 3, physical_plan(df)
    assert not uses_python(df)


def test_decimal_exact_is_stock_two_phase_agg(spark, sf_dir):
    df = REGISTRY["agg_decimal_exact"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert has_node(df, "HashAggregate"), physical_plan(df)
    assert not uses_python(df)


def test_bloom_prefilter_broadcast_semis_no_fact_shuffle(spark, sf_dir):
    """All probe stages must be broadcast joins; the only exchange is
    the final flag aggregate."""
    df = REGISTRY["join_bloom_prefilter"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert has_node(df, "BroadcastHashJoin")
    assert not has_node(df, "SortMergeJoin"), physical_plan(df)


# ---------------------------------------------------- round-5 batch 19


def test_dpp_fires_on_partitioned_star_join(spark, sf_dir):
    """Environment guard for join_partition_pruned_dim (which
    executes eagerly and checkpoints): rebuild its inner star join
    and assert the fact scan carries a dynamicpruning subquery."""
    import shutil
    import tempfile

    from pyspark.sql import functions as SF

    from snapshot_s3_util_spark.io import load_table

    out = tempfile.mkdtemp(prefix="s3u_dpp_guard_")
    try:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "day", SF.to_date(SF.date_trunc("day", "ts"))
        )
        ev.write.mode("overwrite").partitionBy("day").parquet(out)
        landed = spark.read.parquet(out)
        dim = spark.sql(
            "SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-30')) AS day"
        ).withColumn("is_weekend", SF.dayofweek("day").isin(1, 7))
        j = (
            landed.join(SF.broadcast(dim.filter("is_weekend").select("day")), "day")
            .groupBy("event_type")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan, plan
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_useragent_parse_one_reduce(spark, sf_dir):
    df = REGISTRY["fn_useragent_parse"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_survival_km_windows_over_aggregate(spark, sf_dir):
    """KM windows must consume the |duration-levels| aggregate, not
    raw events (root-first: Window above HashAggregate)."""
    df = REGISTRY["agg_survival_km"].fn(spark, sf_dir)
    plan = physical_plan(df)
    win_pos = plan.find("Window")
    agg_pos = plan.rfind("HashAggregate")
    assert win_pos != -1 and agg_pos != -1 and win_pos < agg_pos, plan
    assert not uses_python(df)


def test_rolling_median_single_user_exchange(spark, sf_dir):
    df = REGISTRY["win_rolling_median"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not has_node(df, "Join"), physical_plan(df)
    assert not uses_python(df)


def test_market_basket_no_user_self_join(spark, sf_dir):
    """Pair generation must be the doc-local combination explode:
    no corpus self-join, one user exchange."""
    df = REGISTRY["agg_market_basket"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_node(df, "Generate"), plan  # the explode
    assert not has_node(df, "SortMergeJoin"), plan
    assert not uses_python(df)


def test_mad_shares_user_partitioning(spark, sf_dir):
    """MAD is two-pass by definition; both median passes and the
    joins must ride the same user_id hash partitioning.  The plan is
    allowed the initial user_id exchange once per scan branch (the
    deviation join reads events twice) but nothing beyond — a
    regression inserting re-shuffles between the passes must fail."""
    df = REGISTRY["win_anomaly_mad"].fn(spark, sf_dir)
    assert not uses_python(df)
    assert has_node(df, "SortMergeJoin") or has_node(df, "ShuffledHashJoin") or has_node(df, "BroadcastHashJoin"), physical_plan(df)
    assert shuffle_count(df) <= 4, physical_plan(df)


# ---------------------------------------------------- round-5 batch 22


def test_set_similarity_no_cartesian(spark, sf_dir):
    """Candidates must come from the prefix-token equi join, never a
    nested-loop all-pairs."""
    df = REGISTRY["join_set_similarity_prefix"].fn(spark, sf_dir)
    assert not has_node(df, "CartesianProduct"), physical_plan(df)
    assert not has_node(df, "BroadcastNestedLoopJoin"), physical_plan(df)


def test_cusum_windows_over_daily_rollup(spark, sf_dir):
    df = REGISTRY["ts_cusum_changepoint"].fn(spark, sf_dir)
    plan = physical_plan(df)
    win_pos = plan.find("Window")
    agg_pos = plan.rfind("HashAggregate")
    assert win_pos != -1 and agg_pos != -1 and win_pos < agg_pos, plan
    assert not uses_python(df)


def test_binary_codec_is_narrow(spark, sf_dir):
    df = REGISTRY["fn_binary_codec"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert not uses_python(df)


def test_dq_expectations_single_scan_per_table(spark, sf_dir):
    """All five rules must fold into one orders scan + one broadcast
    customer scan — never a pass per rule."""
    import re

    df = REGISTRY["scan_dq_expectations"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert has_node(df, "BroadcastHashJoin"), plan
    assert not uses_python(df)


def test_attribution_single_scan_no_join(spark, sf_dir):
    """Union-window attribution: one pushed-IN scan, no interval
    join, no correlated subquery artifacts."""
    import re

    df = REGISTRY["win_attribution_touch"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not has_node(df, "Join"), plan


def test_analyze_stats_one_scan(spark, sf_dir):
    import re

    df = REGISTRY["scan_analyze_stats"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not uses_python(df)


# ------------------------------------------------- round-5 batches 24-25


def test_gini_rank_over_user_aggregate(spark, sf_dir):
    """The global rank must consume the |users| aggregate, never raw
    events: the visible plan's leaf is the checkpointed spine (`Scan
    ExistingRDD`, already the (user_id, x) aggregate; the events scan
    and groupBy ran below the checkpoint), and the rank offsets ride
    the spine as array literals — no ledger Window over the rows."""
    df = REGISTRY["agg_gini_coefficient"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "Window" not in plan, plan
    assert not uses_python(df)


def test_assortativity_broadcast_degree_joins(spark, sf_dir):
    df = REGISTRY["graph_assortativity"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin"), physical_plan(df)
    assert not has_node(df, "CartesianProduct")


def test_pmi_takeordered_no_second_corpus_pass(spark, sf_dir):
    """Top-k via TakeOrderedAndProject; unigram counts must derive
    from the checkpointed bigram frame (zero parquet scans in the
    final plan)."""
    import re

    df = REGISTRY["llm_cooccurrence_pmi"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_node(df, "TakeOrderedAndProject"), plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan


def test_chat_template_single_reduce(spark, sf_dir):
    df = REGISTRY["llm_chat_template_export"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_snaive_backtest_post_rollup(spark, sf_dir):
    """Actual and forecast are FILTERS of the checkpointed hourly
    rollup — no parquet rescans downstream."""
    import re

    df = REGISTRY["ts_forecast_snaive"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert has_node(df, "BroadcastHashJoin"), plan


def test_markov_one_window_one_count_exchange(spark, sf_dir):
    df = REGISTRY["agg_markov_transitions"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 3, physical_plan(df)
    assert not uses_python(df)


# ---------------------------------------------------- round-5 batch 26


def test_dpo_single_prompt_exchange(spark, sf_dir):
    """Both rank orders must share one prompt_id hash exchange (two
    Window nodes, but no second shuffle for the re-sort)."""
    df = REGISTRY["llm_dpo_pairs"].fn(spark, sf_dir)
    assert not uses_python(df)
    plan = physical_plan(df)
    import re

    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    keys = {l.split("hashpartitioning(")[1].split(",")[0] for l in exchanges}
    assert len(keys) <= 2, plan  # prompt_id (+ the tiny join side)


def test_span_corruption_is_narrow(spark, sf_dir):
    df = REGISTRY["llm_span_corruption"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_point_in_polygon_single_reduce(spark, sf_dir):
    df = REGISTRY["fn_geo_point_in_polygon"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 1, physical_plan(df)
    assert not uses_python(df)


def test_acf_post_checkpoint_broadcast(spark, sf_dir):
    import re

    df = REGISTRY["ts_autocorrelation"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert has_node(df, "BroadcastHashJoin"), plan


def test_benford_single_scan_nine_row_window(spark, sf_dir):
    df = REGISTRY["agg_benford"].fn(spark, sf_dir)
    import re

    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not uses_python(df)
    assert shuffle_count(df) <= 3, plan


def test_link_prediction_broadcasts_no_cartesian(spark, sf_dir):
    df = REGISTRY["graph_link_prediction"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_node(df, "BroadcastHashJoin"), plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert not uses_python(df)


def test_readability_is_fully_narrow(spark, sf_dir):
    df = REGISTRY["llm_readability"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert not uses_python(df)


def test_interval_merge_single_user_exchange(spark, sf_dir):
    df = REGISTRY["ts_interval_merge"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_label_propagation_broadcast_rounds(spark, sf_dir):
    df = REGISTRY["graph_label_propagation"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_node(df, "BroadcastHashJoin"), plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert not uses_python(df)


def test_timezone_is_fully_narrow(spark, sf_dir):
    df = REGISTRY["fn_timezone"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert not uses_python(df)


def test_drawdown_single_user_exchange(spark, sf_dir):
    df = REGISTRY["win_drawdown"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_webdataset_arrow_stages(spark, sf_dir):
    df = REGISTRY["llm_webdataset_export"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "MapInPandas" in plan, plan


def test_ks_test_aggregates_before_ecdf_window(spark, sf_dir):
    """Since the round-6 move onto `plans.rank.global_order_stats`, the
    ECDF cumulatives ride the checkpointed range-partitioned spine: the
    corpus is collapsed to |distinct v| rows BELOW the checkpoint (the
    visible `Scan ExistingRDD` already emits the aggregated (v, na, nb)
    schema, not raw events), and every remaining window is partitioned
    — the data-sized one by `_grn_pid`, the npart-row ledger by the
    non-foldable `pid % 1`. Mirrors
    test_sort_multi_has_no_single_partition_window."""
    import re

    df = REGISTRY["agg_ks_test"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the parquet scan + groupBy ran below the checkpoint; the visible
    # leaves are the materialized spine, already aggregated to counts
    assert "Scan parquet" not in plan, plan
    spine = re.findall(r"\(\d+\) Scan ExistingRDD\n(?:Output.*\n)?", plan)
    assert spine, plan
    assert "na#" in plan and "nb#" in plan, plan
    # no single-partition window anywhere in the spine
    for line in plan.splitlines():
        if "Window [" in line:
            assert ", [], [" not in line, line
    assert not uses_python(df)


def test_welch_single_scan_two_groups(spark, sf_dir):
    import re

    df = REGISTRY["agg_ttest_welch"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not uses_python(df)


def test_kcore_broadcast_peeling(spark, sf_dir):
    df = REGISTRY["graph_kcore"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_node(df, "BroadcastHashJoin"), plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert not uses_python(df)


def test_chi2_single_scan_contingency_windows(spark, sf_dir):
    import re

    df = REGISTRY["agg_chi2_independence"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert not uses_python(df)


def test_business_days_is_fully_narrow(spark, sf_dir):
    df = REGISTRY["fn_business_days"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert not uses_python(df)


def test_shuffle_epochs_broadcast_multiplier_single_exchange(spark, sf_dir):
    df = REGISTRY["llm_shuffle_epochs"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert shuffle_count(df) <= 1, plan
    assert not uses_python(df)


def test_mannwhitney_no_python_single_final_row(spark, sf_dir):
    df = REGISTRY["agg_mannwhitney_u"].fn(spark, sf_dir)
    assert not uses_python(df)


def test_winnowing_bucket_join_no_cartesian(spark, sf_dir):
    df = REGISTRY["llm_dedup_winnowing"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert not uses_python(df)


def test_velocity_single_user_exchange(spark, sf_dir):
    df = REGISTRY["win_velocity_accel"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_uuid_is_fully_narrow(spark, sf_dir):
    df = REGISTRY["fn_uuid_deterministic"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, physical_plan(df)
    assert not uses_python(df)


def test_peak_detect_aggregates_before_window(spark, sf_dir):
    import re

    df = REGISTRY["ts_peak_detect"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # tree prints root-first, so the Window node must appear ABOVE the
    # aggregate in the header — i.e. the window consumes the daily
    # rollup, never the raw corpus
    header = plan.split("(1) Scan")[0]
    assert header.index("Window") < header.index("HashAggregate"), plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert shuffle_count(df) <= 2, plan
    assert not uses_python(df)


def test_audit_detectors_on_canonical_plan_fragments():
    """Pure-string checks of the plans.audit detectors against the
    exact textual shapes Spark 4 prints — including the r6 ADVICE gap:
    a Window.partitionBy() with an unbounded frame renders its frame as
    the FIRST windowspecdefinition argument (no ASC/DESC anywhere), and
    must still flag W."""
    from snapshot_s3_util_spark.plans.audit import checkpoint_spines, find_issues

    # empty partition spec, ORDER BY present (classic W)
    w_ordered = (
        "Arguments: [sum(x#1L) windowspecdefinition(v#8L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))]"
    )
    assert "W" in find_issues(w_ordered)
    # empty partition spec AND no order (the detector gap)
    w_noorder = (
        "Arguments: [sum(x#1L) windowspecdefinition(specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS t#2L]"
    )
    assert "W" in find_issues(w_noorder)
    # partitioned window (with or without order) must NOT flag
    w_part = (
        "Arguments: [sum(x#1L) windowspecdefinition(_grn_pid#19, v#8L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$()))]"
    )
    w_part_noorder = (
        "Arguments: [sum(x#1L) windowspecdefinition(_w1#51, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$()))]"
    )
    assert "W" not in find_issues(w_part)
    assert "W" not in find_issues(w_part_noorder)

    # global sort flags S; local (false) sort does not
    assert "S" in find_issues("Sort [a#1L ASC NULLS FIRST], true, 0")
    assert "S" not in find_issues("Sort [a#1L ASC NULLS FIRST], false, 0")

    # spine counting: two scans of ONE checkpointed RDD = one pass
    spine = (
        "(1) Scan ExistingRDD\n"
        "Arguments: [v#8L], MapPartitionsRDD[14] at localCheckpoint, "
        "ExistingRDD, UnknownPartitioning(0)\n"
        "(6) Scan ExistingRDD\n"
        "Arguments: [v#58L], MapPartitionsRDD[14] at localCheckpoint, "
        "ExistingRDD, UnknownPartitioning(0)\n"
    )
    assert checkpoint_spines(spine) == 1
    assert "D" in find_issues(spine)
    two = spine + (
        "(9) Scan ExistingRDD\n"
        "Arguments: [y#9L], MapPartitionsRDD[77] at localCheckpoint, "
        "ExistingRDD, UnknownPartitioning(0)\n"
    )
    assert checkpoint_spines(two) == 2
    assert checkpoint_spines("HashAggregate nothing here") == 0


def test_bpe_merge_step_topk_and_jvm(spark, sf_dir):
    """The BPE pair statistic must end in TakeOrderedAndProject (never
    a global sort over the pair table) and stay fully JVM-side; budget:
    word-vocab aggregate + pair aggregate = 2 exchanges."""
    df = REGISTRY["llm_bpe_merge_step"].fn(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject"), physical_plan(df)
    assert shuffle_count(df) <= 2, physical_plan(df)
    assert not uses_python(df)


def test_rouge_pairing_is_equi_join_not_window(spark, sf_dir):
    """Doc pairing must be the pair-key equi join — an ordered-lag
    pairing would serialize per-partition sorts at scale. No cartesian,
    no Python, no unpartitioned window."""
    df = REGISTRY["llm_rouge_n_eval"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Window" not in plan, plan
    assert not uses_python(df)


def test_pack_efficiency_single_shard_exchange(spark, sf_dir):
    """The audit's cumsum window and BOTH roll-up aggregates must ride
    ONE shard exchange (hash(shard) co-locates (shard, window_id))."""
    df = REGISTRY["llm_pack_efficiency_audit"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert not uses_python(df)


def test_unicode_normalize_arrow_and_pruned(spark, sf_dir):
    """NFC kernel must be the Arrow-batched pandas UDF (one
    ArrowEvalPython stage), with the scan pruned to doc_id + text and
    zero shuffles."""
    df = REGISTRY["llm_unicode_normalize"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert shuffle_count(df) == 0, plan
    rs = read_schema(df)
    assert "text" in rs and "lang" not in rs and "n_chars" not in rs, rs


def test_snapshot_keyrange_prunes_splits_at_planning_time(spark, sf_dir, tmp_path):
    """The snapshot reader's `key_range` must drop non-overlapping
    files BEFORE any data I/O (SURVEY §4 production-bridge row): with
    the export range-partitioned on event_id into 8 key spans, a
    300-key scan range can overlap at most a couple of spans, so the
    planner must open strictly fewer files than the full snapshot —
    decided from footer stats alone. A NULL rowkey rides along in the
    export and is excluded by the range, as `Scan(start, stop)` does."""
    from pyspark.sql import functions as F

    from snapshot_s3_util_spark.io import load_table
    from snapshot_s3_util_spark.sources.snapshot_source import (
        plan_snapshot_files,
        read_snapshot,
    )

    ev = load_table(spark, sf_dir, "events")
    null_key = ev.orderBy("event_id").limit(1).withColumn(
        "event_id", F.lit(None).cast("bigint")
    )
    out = str(tmp_path / "snap")
    (
        ev.unionByName(null_key)
        .repartitionByRange(8, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )

    total = len(plan_snapshot_files(out))
    pruned = len(plan_snapshot_files(out, key_range=(150, 449)))
    assert total >= 8, total  # 8 key spans exist (x partition dirs)
    assert 0 < pruned < total / 2, (pruned, total)

    # the pruned read returns exactly the in-range rows, the NULL key
    # excluded; the unranged read keeps it
    got = read_snapshot(spark, out, key_range=(150, 449)).count()
    want = ev.filter(F.col("event_id").between(150, 449)).count()
    assert got == want, (got, want)
    assert read_snapshot(spark, out).count() == ev.count() + 1


def test_snapshot_keyrange_planned_splits_flat_as_regions_grow(
    spark, sf_dir, tmp_path
):
    """The 100x-scale property behind STRESS.md's snapshot-pruning
    section: with region-SIZE held constant (span count grows with the
    table), a fixed rowkey range must open a ~CONSTANT number of files
    no matter how many exist — planned fraction -> 0 as the snapshot
    grows.  Measured at the stress tiers as 5 planned files from 40
    through 4,000 total; this pins the invariant in CI at two span
    counts."""
    from snapshot_s3_util_spark.io import load_table
    from snapshot_s3_util_spark.sources.snapshot_source import (
        plan_snapshot_files,
    )

    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    # a ~5% slice of the key DOMAIN (the stress tool's 150:449 is 5%
    # of sf0.1's domain; at the tiny test SF that literal range would
    # cover half the keys and prove nothing).  0.27..0.32 deliberately
    # avoids the nominal span boundaries of BOTH layouts (25% for the
    # 8-way, 31.25% only brushes the top edge): repartitionByRange
    # boundaries are sample-estimated, and a slice starting exactly on
    # a boundary would make the overlap count jitter with the sample
    max_id = ev.agg(F.max("event_id")).collect()[0][0]
    lo, hi = int(max_id * 0.27), int(max_id * 0.32)
    counts = {}
    for spans in (8, 32):
        out = str(tmp_path / f"snap{spans}")
        (
            ev.repartitionByRange(spans, "event_id")
            .sortWithinPartitions("event_id")
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(out)
        )
        counts[spans] = (
            len(plan_snapshot_files(out, key_range=(lo, hi))),
            len(plan_snapshot_files(out)),
        )
    (p8, t8), (p32, t32) = counts[8], counts[32]
    assert t32 >= 3 * t8, counts  # total files really grew with spans
    # planned stays ~constant: a 5% key slice overlaps 1-2 spans of 8
    # and 2-3 spans of 32 — per partition dir — never proportionally
    # to the span count (3x allows the worst sampled-boundary case of
    # 1-of-8 vs 3-of-32 without weakening the shrinking-fraction pin)
    assert 0 < p32 <= 3 * p8, counts
    assert p32 / t32 < p8 / t8, counts  # planned fraction shrank


def test_snapshot_read_splits_one_partition_across_cores(spark, sf_dir, tmp_path):
    """One partition directory is scanned by as many splits as the
    session has cores, not by one task: with the export
    range-partitioned into 8 key spans per event_type, reading only
    `click` plans at least `defaultParallelism` scan splits. Building
    the full read of those 40 files starts no Spark job (Spark lists
    more than 32 explicit paths with a job of one task per path)."""
    from perfbench.sparkstats import StatusReader
    from snapshot_s3_util_spark.io import load_table
    from snapshot_s3_util_spark.sources.snapshot_source import (
        plan_snapshot_files,
        read_snapshot,
    )

    out = str(tmp_path / "snap")
    (
        load_table(spark, sf_dir, "events")
        .repartitionByRange(8, "event_id")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    snap = read_snapshot(spark, out, partitions={"click"})
    n_splits = snap.rdd.getNumPartitions()
    assert n_splits >= spark.sparkContext.defaultParallelism, n_splits

    assert len(plan_snapshot_files(out)) > 32
    stats = StatusReader(spark)
    read_snapshot(spark, out)
    assert stats.new_jobs() == []


def test_snapshot_source_column_projection_never_decodes_unselected(
    spark, sf_dir, tmp_path
):
    """A `.select()` on a snapshot read is the CF-projection analog:
    the native scan's ReadSchema narrows to the selected columns, so
    unselected ones are never decoded (not merely dropped post-scan),
    and an unknown column fails analysis."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from snapshot_s3_util_spark.io import load_table
    from snapshot_s3_util_spark.sources.snapshot_source import read_snapshot

    out = str(tmp_path / "snap")
    (
        load_table(spark, sf_dir, "events")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    narrow = read_snapshot(spark, out).select("event_id", "user_id")
    assert narrow.columns == ["event_id", "user_id"]
    rs = read_schema(narrow)
    assert rs.count("ReadSchema") == 1, rs
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint>" in rs, rs
    want = load_table(spark, sf_dir, "events").count()
    assert narrow.count() == want
    got_sum = narrow.agg(F.sum("user_id")).collect()[0][0]
    want_sum = (
        load_table(spark, sf_dir, "events").agg(F.sum("user_id")).collect()[0][0]
    )
    assert got_sum == want_sum

    with pytest.raises(AnalysisException):
        read_snapshot(spark, out).select("event_id", "nope").collect()


def test_graph_frontier_dispatch_flips_to_keyed_rounds(spark, sf_dir):
    """r15 (r14 verdict ask #8): the base LPA/BFS ops dispatch their
    per-round join strategy on `_use_keyed_frontier`. Below the edge
    breakeven (every catalog-bounded graph here) the broadcast rounds
    run; the `_keyed` twins force the keyed rounds through the same
    body and must produce identical results, proving the flip changes
    the join strategy, never the output."""
    import snapshot_s3_util_spark as engine
    from snapshot_s3_util_spark.operators.graphs import (
        _strong_und_edges,
        _use_keyed_frontier,
    )

    # catalog-bounded |E| stays broadcast
    assert not _use_keyed_frontier(_strong_und_edges(spark, sf_dir))

    for op in ("graph_label_propagation", "graph_bfs_hops"):
        rows = [
            sorted(map(tuple, engine.REGISTRY[name].fn(spark, sf_dir).collect()))
            for name in (op, f"{op}_keyed")
        ]
        assert rows[0] == rows[1], op
