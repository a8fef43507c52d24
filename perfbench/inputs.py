"""Seeded input tier plus DuckDB oracle hashes, cached per seed.

A seed's tables and the oracle hash of every op run on them live in
``<work>/inputs/seed<seed>-<generator fingerprint>/``; a second run on
the same seed reuses both. Each cached hash is stored beside the md5 of
the oracle SQL it came from, so an op whose oracle changes is
recomputed. Generation and oracles run in a child process
(``python3 perfbench/inputs.py``), so neither the generator's nor
DuckDB's memory counts toward the benchmark process's peak RSS, and the
benchmark process imports no engine dependency before its timed
set-up.

Run directly (from the repository root):
    python3 perfbench/inputs.py --root . --work .perfbench --seed 3 \\
        --out result.json op [op ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_FILE = "oracle.json"


def _md5(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


def fingerprint() -> str:
    """Changes whenever the generator's code (and so its output) does."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        return _md5(fh.read())[:10]


def cache_dir(work: str, seed: int) -> str:
    return os.path.join(work, "inputs", f"seed{seed}-{fingerprint()}")


def ensure_inputs(work: str, seed: int, oracle_sql: dict[str, str],
                  compute_oracles) -> tuple[str, dict]:
    """Return (tier dir, {op: [rows, md5]}) for ``seed``.

    ``oracle_sql`` maps each op to its oracle's SQL. Builds the tier if
    absent and calls ``compute_oracles(tier_dir, ops)`` only for ops
    whose hash is not cached yet or was cached from other SQL.
    """
    import gen  # numpy and pyarrow: only the child process loads them

    d = cache_dir(work, seed)
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(seed, tmp)
        os.replace(tmp, d)
    path = os.path.join(d, ORACLE_FILE)
    cached = {}
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
    sql_md5 = {op: _md5(sql.encode()) for op, sql in oracle_sql.items()}
    stale = [op for op in oracle_sql
             if cached.get(op, [None])[0] != sql_md5[op]]
    if stale:
        fresh = compute_oracles(d, stale)
        cached.update({op: [sql_md5[op], *fresh[op]] for op in stale})
        with open(path + ".tmp", "w") as fh:
            json.dump(cached, fh, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return d, {op: cached[op][1:] for op in oracle_sql}


def prepare(root: str, work: str, seed: int, ops) -> tuple[str, dict]:
    """``ensure_inputs`` for the engine under ``root``, in a child process."""
    out = os.path.join(work, f"inputs.{os.getpid()}.json")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--root", root,
         "--work", work, "--seed", str(seed), "--out", out, *ops],
        check=True, timeout=600,
    )
    with open(out) as fh:
        result = json.load(fh)
    os.remove(out)
    return result["tier"], result["oracle"]


def oracle_hashes(engine, tier: str, ops) -> dict:
    """{op: [rows, md5]} of each op's DuckDB oracle over ``tier``."""
    import duckdb

    import gen
    from snapshot_s3_util_spark.parity import table_hash

    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tier, t)}.parquet')")
    result = {}
    for op in ops:
        tbl = con.execute(engine.REGISTRY[op].oracle).fetch_arrow_table()
        cols = list(tbl.column_names)
        rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
        n, digest = table_hash(cols, rows)
        if n == 0:
            raise ValueError(f"oracle of {op} is empty on {tier}: an empty "
                             "result would check nothing")
        result[op] = [n, digest]
    return result


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description="Build or reuse a seed's inputs.")
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("ops", nargs="+")
    a = ap.parse_args()
    sys.path.insert(0, os.path.abspath(a.root))
    import snapshot_s3_util_spark as engine

    engine.load_all_operators()
    tier, oracle = ensure_inputs(
        a.work, a.seed, {op: engine.REGISTRY[op].oracle for op in a.ops},
        lambda d, ops: oracle_hashes(engine, d, ops))
    with open(a.out, "w") as fh:
        json.dump({"tier": tier, "oracle": oracle}, fh)


if __name__ == "__main__":
    main()
