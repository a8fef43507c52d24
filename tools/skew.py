"""Measured hot-key-skew robustness (round 10).

STRESS.md measures UNIFORM growth — every replica adds the same
workload density, so it can never catch the failure mode that actually
kills 100 TB jobs: one key owning a disproportionate share of the rows
(the celebrity user, the null-bucket surrogate key, the default
partition). This tool builds a SKEWED variant of the 30x stress tier —
same row counts, same schemas, but a deterministic {_HOT_PCT}% of the
skew-relevant keys remapped onto ONE existing hot key per table — and
measures the skew-vulnerable op set on the uniform tier vs the skewed
tier. Wall ratio ≈ 1 means the plan absorbs the hot key (partial
aggregation, WindowGroupLimit partial top-k, AQE skew-join splits);
a blow-up names the op whose 100 TB plan needs the salting recipe.

Skewed columns (remap `id % 10 < {_HOT_TENTHS}` → hot key; hot keys are
taken from replica 0 so every remapped row still references a real row
on the other side of its joins):

- `events.user_id` → user 0: hits the window-partitioned family
  (sessionize_batch lag/cumsum windows, topk_per_group rank) and the
  distinct aggregate.
- `lineitem.l_orderkey` → MIN(o_orderkey): hits the orders⋈lineitem
  sort-merge join — the canonical AQE-skew-split demonstration — and
  its salted mitigation twin (join_salted_skew), which should read
  ~flat because the salt spreads the hot key's rows over S reducers
  by construction.
- `orders.o_custkey` → MIN(c_custkey): hits the customer⋈orders
  shuffled-hash join.

The uniform 30x tier is built by tools/stress.py (or here, on demand,
with the identical construction); the skewed tier copies it table by
table with only the key remaps above, so any wall delta is the skew
and nothing else. Measurement methodology is stress.py's: 2 warm-ups,
median of 3 noop-sink materializations, shuffle bytes from Spark's
status store.

Usage:
    python tools/skew.py [--report]   # writes SKEW.md with --report
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_HOT_TENTHS = 3  # id % 10 < 3 → 30% of rows on the hot key
_HOT_PCT = _HOT_TENTHS * 10
_MULT = 30

SKEW_OPS = (
    # window-partitioned family (hot events.user_id)
    "sessionize_batch",
    "sessionize_segmented",   # r12 mitigation twin: segmented prefix-sum
    "topk_per_group",
    "win_fill_forward",
    "win_fill_forward_segmented",  # r12 mitigation twin: segmented LOCF
    "agg_distinct",
    # join family (hot lineitem.l_orderkey / orders.o_custkey)
    "join_sortmerge",
    "join_sortmerge_skewsafe",  # r13 mitigation twin: salted merge join
    "join_inner_hash",
    "join_salted_skew",  # the mitigation twin — should read ~flat
    "agg_hash_groupby",  # control: partial-agg on 2 low-card keys is
    #                      skew-immune by design; ratio ≈ 1 expected
)


def build_skew_tier(spark, uniform: str, out: str) -> None:
    """Copy the uniform tier, remapping 30% of each skew column onto
    one hot key. Row counts, schemas and all other columns are
    byte-identical to the uniform tier."""
    from pyspark.sql import functions as F

    os.makedirs(out, exist_ok=True)

    def rewrite(table: str, transform):
        src = spark.read.parquet(os.path.join(uniform, f"{table}.parquet"))
        dst = os.path.join(out, f"{table}.parquet")
        transform(src).write.mode("overwrite").parquet(dst + ".dir")
        if os.path.exists(dst):
            shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
        os.rename(dst + ".dir", dst)

    def hot(col: str, trigger: str, hot_val, schema):
        return F.when(
            F.col(trigger) % 10 < _HOT_TENTHS,
            F.lit(hot_val).cast(schema[col].dataType),
        ).otherwise(F.col(col)).alias(col)

    ev = spark.read.parquet(os.path.join(uniform, "events.parquet"))
    rewrite(
        "events",
        lambda d: d.select(
            *[
                hot("user_id", "event_id", 0, ev.schema)
                if c == "user_id"
                else c
                for c in d.columns
            ]
        ),
    )
    ords = spark.read.parquet(os.path.join(uniform, "orders.parquet"))
    hot_ord = ords.agg(F.min("o_orderkey")).collect()[0][0]
    li = spark.read.parquet(os.path.join(uniform, "lineitem.parquet"))
    rewrite(
        "lineitem",
        lambda d: d.select(
            *[
                hot("l_orderkey", "l_orderkey", hot_ord, li.schema)
                if c == "l_orderkey"
                else c
                for c in d.columns
            ]
        ),
    )
    cust = spark.read.parquet(os.path.join(uniform, "customer.parquet"))
    hot_cust = cust.agg(F.min("c_custkey")).collect()[0][0]
    rewrite(
        "orders",
        lambda d: d.select(
            *[
                hot("o_custkey", "o_orderkey", hot_cust, ords.schema)
                if c == "o_custkey"
                else c
                for c in d.columns
            ]
        ),
    )
    for t in (
        "customer",
        "supplier",
        "nation",
        "region",
        "part",
        "documents",
        "embeddings",
    ):
        src = os.path.join(uniform, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.isdir(src):
            if os.path.exists(dst):
                shutil.rmtree(dst)
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)


_NOTES = {
    "sessionize_batch": (
        "hot user's events land in ONE window partition — lag/cumsum "
        "are inherently sequential per key; the absorbed cost bounds "
        "what a 100 TB celebrity key would add"
    ),
    "sessionize_segmented": (
        "the r12 mitigation twin: within-chunk gap flags + per-user "
        "chunk-summary boundary flags and session-id offsets "
        "(parallel-prefix sessionize) — identical output, hot-key-flat "
        "by construction"
    ),
    "topk_per_group": (
        "WindowGroupLimit keeps only k rows per group BEFORE the "
        "shuffle, so the hot partition ships k rows, not its share of "
        "the corpus"
    ),
    "win_fill_forward": (
        "LOCF window over the hot user is sequential per key — same "
        "exposure class as sessionize"
    ),
    "win_fill_forward_segmented": (
        "the r12 mitigation twin: 1-day timeline chunks bound the "
        "longest sequential run, a per-user summary window stitches "
        "carry-ins (parallel-prefix LOCF) — identical output, "
        "hot-key-flat by construction"
    ),
    "agg_distinct": (
        "two-level agg: partial distinct on (event_type, user_id) "
        "collapses the hot user's rows map-side"
    ),
    "join_sortmerge": (
        "hot l_orderkey concentrates one reducer. AQE's skew split "
        "does NOT fire here, for two measured reasons: the hot "
        "partition (~90 MB) is under the 256 MB "
        "skewedPartitionThresholdInBytes default, and the join feeds "
        "a groupBy on the SAME key, so a split would break the reused "
        "partitioning and add a shuffle (AQE declines unless "
        "forceOptimizeSkewedJoin). With threshold 16 MB + force, the "
        "reducer splits (32 → 35 tasks) and the skewed wall drops "
        "3.21 s → 2.29 s; at 100 TB a hot key clears the default "
        "threshold on its own, and the ratio here is the absorbed "
        "single-reducer cost below it"
    ),
    "join_sortmerge_skewsafe": (
        "the r13 mitigation twin: SELECTIVE salting — a 1-in-16 "
        "sampled per-key count flags keys over 2x a reducer's fair "
        "share (bounded to <= partitions/2 keys), only those salt 8 "
        "ways and only their orders rows replicate. Measured against "
        "the alternatives at this tier: BLANKET salting (every orders "
        "row x8) read 5.82s uniform / 3.46s skewed — a 3.6x uniform "
        "premium for the flat ratio; AQE threshold 16 MB + force "
        "reads 2.29s skewed = 1.41x of the 1.62s base. Selective "
        "salting's uniform premium is the one narrow 3-column "
        "detection scan (~0.9s here; a deployment amortizes it into "
        "table stats), its skewed wall retires the single-reducer "
        "sort, and unlike the AQE split it keeps working when the "
        "hot key hides under any byte threshold. The ratio floor at "
        "this tier is ~1.4-1.5 for EVERY recipe — the skewed data "
        "itself changes the work — so the twin's claim is the "
        "asymptote: detection stays O(narrow scan) while the base's "
        "single-reducer cost grows with the hot key's mass"
    ),
    "join_inner_hash": (
        "hot o_custkey on the probe side; build side (customer) is "
        "broadcast-sized here, so the hot key never concentrates a "
        "reducer — the broadcast join IS the mitigation"
    ),
    "join_salted_skew": (
        "the explicit mitigation, SELECTIVE since r14: r13 measured "
        "the original blanket recipe (every orders row x8) at "
        "4.16s/9.00s = 2.16x with a 3.6x uniform premium — refuting "
        "its own ~flat claim, because replicating the whole dimension "
        "side multiplies the shuffle for never-hot keys (809 MB/run "
        "uniform). The rewrite ports join_sortmerge_skewsafe's "
        "sampled detection: only flagged keys salt 8 ways, only "
        "their orders rows replicate; uniform wall roughly halves, "
        "shuffle drops 810 -> ~320 MB/run, and the ratio lands at "
        "the ~1.4-1.6x floor every recipe pays at this tier (the "
        "skewed data itself changes the work — see "
        "join_sortmerge_skewsafe; the r14 subset and full-matrix "
        "runs read 1.24x and 1.57x, run variance around that floor)"
    ),
    "agg_hash_groupby": (
        "control: grouping keys (returnflag, linestatus) are "
        "unskewed and partial-agg combines map-side; ratio ≈ 1 "
        "expected"
    ),
}


def _write_report(uni, skw, hot_counts: dict) -> None:
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SKEW.md"
    )
    lines = [
        "# SKEW — measured hot-key robustness\n",
        f"\nGenerated by `python tools/skew.py --report`: the uniform "
        f"{_MULT}x stress tier vs a skewed copy with {_HOT_PCT}% of "
        "each skew column's rows remapped onto ONE hot key "
        "(`events.user_id` → user 0, `lineitem.l_orderkey` → "
        "MIN(o_orderkey), `orders.o_custkey` → MIN(c_custkey)). Row "
        "counts and schemas are identical; any delta is the hot key.\n",
        f"\nHot-key row shares measured after the build: "
        + ", ".join(f"{k} = {v:,d} rows" for k, v in hot_counts.items())
        + ".\n",
        "\nSTRESS.md proves the plans grow linearly on UNIFORM data; "
        "this table is the other axis — what one pathological key "
        "does. Wall ratio ≈ 1 means the plan absorbs the hot key "
        "(partial aggregation, WindowGroupLimit, AQE skew split, "
        "broadcast, salting); a blow-up names the op whose 100 TB "
        "deployment needs the explicit salting recipe "
        "(`join_salted_skew` / `agg_salted_skew`).\n",
        "\n| op | wall uniform | wall skewed | ratio | shuffle/run "
        "uniform | shuffle/run skewed | mechanism |\n"
        "|---|---:|---:|---:|---:|---:|---|\n",
    ]
    for name in SKEW_OPS:
        u, s = uni[name], skw[name]
        r = s["wall_sec"] / u["wall_sec"] if u["wall_sec"] else float("inf")
        lines.append(
            f"| `{name}` | {u['wall_sec']:.2f}s | {s['wall_sec']:.2f}s "
            f"| {r:.2f}x | {u['shuffle_write_bytes_per_run']:,d} B "
            f"| {s['shuffle_write_bytes_per_run']:,d} B "
            f"| {_NOTES[name]} |\n"
        )
    with open(path, "w") as fh:
        fh.writelines(lines)
    print(f"wrote {path}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--report", action="store_true")
    ap.add_argument(
        "--report-only",
        action="store_true",
        help="re-render SKEW.md from the cached .skew_results.json "
        "(note-text edits) without re-measuring",
    )
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if args.report_only:
        try:
            with open(os.path.join(repo, ".skew_results.json")) as fh:
                cached = json.load(fh)
            uni, skw, hot = (cached["uniform"], cached["skewed"],
                             cached["hot_counts"])
        except (OSError, ValueError, KeyError) as exc:
            print(f"--report-only needs a cached .skew_results.json from "
                  f"a prior full run ({exc!r}) — run "
                  f"`python tools/skew.py --report` first")
            return 1
        _write_report(uni, skw, hot)
        return 0

    import stress as stress_tool

    uniform_dir = os.path.join(repo, f".stress{_MULT}")
    skew_dir = os.path.join(repo, f".skew{_MULT}")

    import snapshot_s3_util_spark as engine
    from snapshot_s3_util_spark.session import get_spark

    spark = get_spark("stress")

    engine.load_all_operators()

    if not os.path.exists(os.path.join(uniform_dir, "documents.parquet")):
        print(f"building uniform {_MULT}x tier at {uniform_dir} ...", flush=True)
        stress_tool.build_tier(spark, args.base, uniform_dir, _MULT)
    if args.rebuild and os.path.exists(skew_dir):
        shutil.rmtree(skew_dir)
    if not os.path.exists(os.path.join(skew_dir, "events.parquet")):
        print(f"building skewed tier at {skew_dir} ...", flush=True)
        build_skew_tier(spark, uniform_dir, skew_dir)

    # sanity: report the hot-key shares the build produced
    from pyspark.sql import functions as F

    hot_counts = {}
    ev = spark.read.parquet(os.path.join(skew_dir, "events.parquet"))
    hot_counts["events.user_id=0"] = ev.filter(F.col("user_id") == 0).count()
    li = spark.read.parquet(os.path.join(skew_dir, "lineitem.parquet"))
    hot_ord = li.agg(F.min("l_orderkey")).collect()[0][0]
    hot_counts[f"lineitem.l_orderkey={hot_ord}"] = li.filter(
        F.col("l_orderkey") == hot_ord
    ).count()
    print("hot-key shares:", hot_counts, flush=True)

    ops = tuple(args.ops) or SKEW_OPS
    uni = stress_tool.measure(spark, ops, uniform_dir)
    skw = stress_tool.measure(spark, ops, skew_dir)

    cache = os.path.join(repo, ".skew_results.json")
    if set(ops) == set(SKEW_OPS):
        with open(cache, "w") as fh:
            json.dump({"uniform": uni, "skewed": skw,
                       "hot_counts": hot_counts}, fh)
    if args.report:
        _write_report(uni, skw, hot_counts)

    worst = max(
        (skw[n]["wall_sec"] / uni[n]["wall_sec"], n)
        for n in ops
        if uni[n]["wall_sec"]
    )
    print(f"worst skew ratio: {worst[0]:.2f}x ({worst[1]})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
