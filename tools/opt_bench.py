"""Per-op lab timer: isolated per-op timing with min/median.

The official benchmark is perfbench/run.py (see BENCHMARK.json); this
is the one per-op lab timer. It exists because the r14 host shows
multi-second interference bursts (a 3 s query can read 46-75 s in a
burst — see OPTIMIZATION_r14.md "Measurement methodology"), so
before/after comparisons here use MIN of N isolated runs: the min is
robust to one-sided noise and both sides of every comparison are
measured the same way, minutes apart, on the same host.

Usage:
    python tools/opt_bench.py op [op ...] [--runs 5] [--noop]

--noop times `df.write.format("noop")` instead of `.collect()`
(guide §1.4) — used when comparing variants whose result-side collect
cost could mask a compute delta. The default stays `.collect()`.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="+")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--warmups", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    import snapshot_s3_util_spark as engine
    from snapshot_s3_util_spark.session import get_spark, clear_persistent_rdds

    engine.load_all_operators()
    spark = get_spark("opt-bench")

    for name in args.ops:
        spark.sparkContext.setJobDescription(f"opt-bench {name}")
        clear_persistent_rdds(spark)
        for _ in range(args.warmups):
            # warm-ups execute the SAME action as the measured runs
            # (r14 ADVICE: a collect() warm-up left the noop
            # datasource's writer init cold on the first --noop run)
            df = engine.REGISTRY[name].fn(spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
        walls = []
        for _ in range(args.runs):
            clear_persistent_rdds(spark)
            # NOTE: fn() construction can itself run jobs (checkpointed
            # spines, layout writes); time fn+action together like the
            # official bench does, via a fresh build each run.
            t0 = time.perf_counter()
            df = engine.REGISTRY[name].fn(spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            walls.append(time.perf_counter() - t0)
        walls_r = [round(w, 3) for w in walls]
        print(
            f"RESULT {name}: min={min(walls):.3f} "
            f"median={statistics.median(walls):.3f} runs={walls_r}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
