"""Registry-wide physical-plan audit (SURVEY §4's scale contract, automated).

The per-op plan tests in tests/test_plans.py pin down individual fused
plans; this tool is the registry-wide safety net. For EVERY registered
operator it builds the DataFrame at --sf and scans the formatted physical
plan for the anti-pattern classes that kill 100 TB runs — see
snapshot_s3_util_spark/plans/audit.py for the detector rules (W/C/S
gated, B informational) and the ALLOW table of documented scale bounds.

(Python-eval hygiene is already asserted registry-wide by
tests/test_plans.py::test_non_udf_operators_stay_jvm_side, which also
runs this audit's detectors over every lazy op as a CI gate.)

An unexplained gated finding exits nonzero. --report writes PLAN_AUDIT.md
with the full per-op table (shuffle counts included).

Usage:
    python tools/plan_audit.py [--sf DIR] [--report] [op ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from snapshot_s3_util_spark.plans.audit import (
    ALLOW,
    GATED,
    checkpoint_spines,
    find_issues,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--report", action="store_true", help="write PLAN_AUDIT.md")
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    import snapshot_s3_util_spark as engine
    from snapshot_s3_util_spark.plans.inspect import physical_plan, shuffle_count
    from snapshot_s3_util_spark.session import get_spark

    engine.load_all_operators()
    names = args.ops or sorted(engine.REGISTRY)
    spark = get_spark("plan-audit")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # see test_shuffle_budget

    rows: list[tuple[str, str, int, str, str]] = []  # name, cat, shuffles, codes, status
    unexplained: list[str] = []
    for name in names:
        op = engine.REGISTRY[name]
        try:
            df = op.fn(spark, args.sf)
            plan = physical_plan(df)
        except Exception as exc:  # noqa: BLE001 - report, don't abort the sweep
            rows.append((name, op.category, -1, "", f"ERR {type(exc).__name__}: {exc}"))
            unexplained.append(name)
            continue
        codes = find_issues(plan)
        allowed_codes, reason = ALLOW.get(name, ("", ""))
        bad = (codes & set(GATED)) - set(allowed_codes)
        status = "ok"
        if bad:
            status = f"UNEXPLAINED {sorted(bad)}"
            unexplained.append(name)
        elif codes & set(GATED):
            status = f"allowed: {reason}"
        elif codes:
            infos = []
            if "B" in codes:
                infos.append("broadcast O(1)-side nested loop")
            if "D" in codes:
                infos.append(
                    f"{checkpoint_spines(plan)} checkpoint-materialized "
                    "spine pass(es)"
                )
            status = "info: " + "; ".join(infos)
        rows.append((name, op.category, shuffle_count(df), "".join(sorted(codes)), status))
        flag = "" if status == "ok" else ("  !! " + status if bad else "  " + status)
        print(f"{name:34s} {''.join(sorted(codes)) or '-':4s} "
              f"sh={rows[-1][2]:>2d}{flag}", flush=True)

    if args.report:
        _write_report(rows, args.sf)
    n_gated = sum(1 for r in rows if set(r[3]) & set(GATED))
    # count allowed directly: `unexplained` also holds plan-build ERRs,
    # which carry no gated codes (r6 ADVICE — the subtraction was wrong)
    n_allowed = sum(1 for r in rows if r[4].startswith("allowed"))
    print(f"\n{len(rows)} ops audited; {n_gated} carry gated W/C/S nodes "
          f"({n_allowed} allowed with documented bounds); "
          f"{len(unexplained)} UNEXPLAINED")
    if unexplained:
        print("unexplained:", " ".join(unexplained))
        return 1
    return 0


def _write_report(rows, sf: str) -> None:
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write(
            "# PLAN_AUDIT — registry-wide physical-plan scan\n\n"
            f"Generated by `python tools/plan_audit.py --report` at `{sf}`.\n\n"
            "Codes: **W** unpartitioned Window, **C** CartesianProduct, "
            "**S** global Sort outside TakeOrderedAndProject, **B** broadcast "
            "nested-loop join (informational — an explicit `F.broadcast()` of "
            "an O(1) side), **D** checkpoint-materialized spine (informational "
            "— in-memory pass count in the status column). Every gated "
            "(W/C/S) op must carry a documented scale bound (the `allowed:` "
            "status); an op the tool cannot explain fails the audit (and the "
            "CI test).\n"
            "`sh` = Exchange count with AQE off (compile-time plan; AQE "
            "reuses/coalesces at runtime).\n\n"
            "| op | category | sh | codes | status |\n|---|---|---:|---|---|\n"
        )
        for name, cat, sh, codes, status in rows:
            f.write(f"| `{name}` | {cat} | {sh} | {codes or ''} | {status} |\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    sys.exit(main())
