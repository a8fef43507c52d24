"""Local oracle-parity pre-flight (SURVEY.md §5).

Runs the same comparison the driver's t2 does: for every registry op,
execute the Spark query and the DuckDB oracle on the same parquet
tables, compare row-count + column names + an order-insensitive value
hash (columns sorted by name; floats rounded; timestamps at us).

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [op ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from snapshot_s3_util_spark.parity import canon_lines, table_hash

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--window",
        action="store_true",
        help="check exactly the driver's correctness window: the first "
        "50 registry entries in registration order (the rotation-ranked "
        "order the driver sees)",
    )
    ap.add_argument(
        "--backlog",
        action="store_true",
        help="check exactly the never-driver-verified set "
        "(REGISTRY − union(CORRECTNESS_r*.json)) — the verification "
        "debt the r7 verdict tracks; prints the debt count up front",
    )
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()
    if (args.window or args.backlog) and args.ops:
        ap.error("--window/--backlog derive their op set; they cannot "
                 "be combined with explicitly listed ops")
    if args.window and args.backlog:
        ap.error("--window and --backlog are mutually exclusive")

    import __spark_entry__ as e
    from snapshot_s3_util_spark.session import get_spark

    qs, oracles = e.queries(), e.oracle_sql()
    if args.window:
        names = list(qs)[:50]
    elif args.backlog:
        import glob
        import json
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        checked: set = set()
        for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
            try:
                rows = json.load(open(path))
            except (OSError, ValueError):
                continue
            if isinstance(rows, dict):
                checked |= set(rows)
        names = [n for n in qs if n not in checked]  # registry order
        print(
            f"driver-verification backlog: {len(names)} of {len(qs)} ops "
            f"never in any CORRECTNESS_r*.json"
        )
    else:
        names = args.ops or sorted(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown ops: {unknown}")
        return 2

    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; stress tiers are
        # directories of part files under the same <table>.parquet name
        # (tools/stress.py build_tier) — glob the parts in that case so
        # parity can run against a tier too
        path = f"{args.sf}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    from snapshot_s3_util_spark.session import clear_persistent_rdds

    failures = []
    for name in names:
        # drop the PREVIOUS op's checkpoint spines (results are already
        # in Python rows) — a 365-op sweep otherwise accumulates one
        # block set per spine op for the session's lifetime
        clear_persistent_rdds(spark)
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, args.sf)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {str(ex)[:500]}")
            continue
        spark_t = time.perf_counter() - t0

        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(s_rows)} rows ({spark_t:.1f}s)")
            if len(s_rows) == 0:
                failures.append(name)
                print(f"FAIL {name}: 0 rows from rows-only op")
            continue

        try:
            # fetch via Arrow -> pandas, NOT fetchall(): the driver
            # canonicalizes through pandas, where DuckDB DECIMAL/HUGEINT
            # become float64 ("123.0") while fetchall() yields Python
            # int ("123") — fetchall() masked exactly the uncast-SUM
            # hash mismatches the round-3 driver caught.
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            d_cols = list(tbl.column_names)
            bad_types = [
                f"{f.name}:{f.type}"
                for f in tbl.schema
                if "decimal" in str(f.type).lower()
            ]
            if bad_types:
                failures.append(name)
                print(
                    f"FAIL {name}: oracle outputs DECIMAL column(s) "
                    f"{bad_types} — pandas renders these as floats and "
                    f"the driver hash diverges from Spark's int64; "
                    f"CAST(... AS BIGINT/DOUBLE) in the oracle SQL"
                )
                continue
            d_rows = [tuple(rec[c] for c in d_cols) for rec in tbl.to_pylist()]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(ex).__name__}: {str(ex)[:500]}")
            continue

        sc, dc = sorted(s_cols), sorted(d_cols)
        if sc != dc:
            failures.append(name)
            print(f"FAIL {name}: columns differ\n  spark:  {sc}\n  duckdb: {dc}")
            continue
        sn, sh = table_hash(s_cols, s_rows)
        dn, dh = table_hash(d_cols, d_rows)
        if sn != dn:
            failures.append(name)
            print(f"FAIL {name}: row count {sn} (spark) vs {dn} (duckdb)")
            continue
        if sh != dh:
            failures.append(name)
            print(f"FAIL {name}: value hash mismatch ({sn} rows)")
            # show a few differing canonical rows to debug
            ls = canon_lines(s_cols, s_rows)
            ld = canon_lines(d_cols, d_rows)
            shown = 0
            for a, b in zip(ls, ld):
                if a != b and shown < 3:
                    print(f"  spark:  {a[:300]}\n  duckdb: {b[:300]}")
                    shown += 1
            continue
        if sn == 0:
            # both engines agreeing on the EMPTY set proves nothing
            # (hash d41d8cd98f = md5('') — the r1 join_anti / r5
            # set_symmetric_diff vacuous-pass class); treat as failure
            # so a data or predicate drift can't silently blank an op
            failures.append(name)
            print(
                f"FAIL {name}: VACUOUS — both engines returned 0 rows; "
                f"pick predicates that are non-empty at this SF"
            )
            continue
        print(f"ok   {name}: {sn} rows hash={sh[:10]} ({spark_t:.1f}s)")

    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
