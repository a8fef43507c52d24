"""Plan inspector: dump any registered operator's physical plan.

The `.explain("formatted")` loop SURVEY §3.2 calls the engine's debug
surface, as a one-command tool:

    python tools/explain.py join_range_bucketed [--sf DIR] [--full]

Prints the formatted physical plan plus the scale-relevant summary the
plan tests assert on (shuffle count, join strategies, Python eval
nodes, pushed filters, read schema).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("op")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--full", action="store_true", help="also print the formatted plan"
    )
    args = ap.parse_args()

    import snapshot_s3_util_spark as engine
    from snapshot_s3_util_spark.plans.inspect import (
        physical_plan,
        pushed_filters,
        read_schema,
        shuffle_count,
        uses_python,
    )
    from snapshot_s3_util_spark.session import get_spark

    engine.load_all_operators()
    if args.op not in engine.REGISTRY:
        print(f"unknown op: {args.op}")
        return 2
    spark = get_spark("explain")
    df = engine.REGISTRY[args.op].fn(spark, args.sf)
    plan = physical_plan(df)
    print(f"op: {args.op}")
    print(f"shuffles: {shuffle_count(df)}")
    for node in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "TakeOrderedAndProject",
        "WindowGroupLimit",
    ):
        n = plan.count(node)
        if n:
            print(f"{node}: {n}")
    print(f"python eval nodes: {uses_python(df)}")
    pf = pushed_filters(df)
    if pf:
        print(f"pushed filters: {pf}")
    rs = read_schema(df)
    if rs:
        print(f"read schema: {rs}")
    if args.full:
        print()
        df.explain("formatted")
    return 0


if __name__ == "__main__":
    sys.exit(main())
