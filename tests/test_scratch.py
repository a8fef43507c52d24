"""Op scratch space has one owner: `io.on_scratch`.

Ops that write files and read them back stage them in a scratch dir
that `on_scratch` creates, materializes the result against, and
removes; a result built on the driver needs no materializing. These
tests pin that lifecycle on toy ops, guard that no other package code
makes or removes scratch dirs, and pin the session factory's CPU
default.
"""

from __future__ import annotations

import ast
import os

import pytest

import snapshot_s3_util_spark
from perfbench.sparkstats import StatusReader
from snapshot_s3_util_spark import session
from snapshot_s3_util_spark.io import on_scratch

PKG = os.path.dirname(os.path.abspath(snapshot_s3_util_spark.__file__))

# (module path relative to the package, function) -> why it keeps its
# own scratch dir
_HAND_SCRATCH = {
    ("sources/sinks.py", "hb_restore_catalog"): (
        "its catalog table must outlive the checkpoint that materializes "
        "the catalog-resolved read"
    ),
}


def test_on_scratch_materializes_then_removes_root(spark):
    seen = {}

    @on_scratch
    def toy(spark, sf_dir, root):
        """toy op docstring"""
        seen["root"] = root
        out = os.path.join(root, "t")
        spark.range(10).write.parquet(out)
        return spark.read.parquet(out).selectExpr("id * 2 AS x")

    df = toy(spark, "unused")
    assert not os.path.exists(seen["root"])
    assert os.path.basename(seen["root"]).startswith("s3u_toy_")
    assert sorted(r.x for r in df.collect()) == [2 * i for i in range(10)]
    assert toy.__name__ == "toy" and toy.__doc__ == "toy op docstring"


def test_on_scratch_returns_driver_rows_without_a_job(spark):
    rows = [(1, "a"), (2, "b")]

    @on_scratch
    def toy(spark, sf_dir, root):
        return spark.createDataFrame(rows, "k int, v string")

    stats = StatusReader(spark)
    df = toy(spark, "unused")
    assert stats.new_jobs() == []
    assert sorted(tuple(r) for r in df.collect()) == rows


def test_package_parallelizes_no_collection():
    """`on_scratch` takes a lineage rooted only in parallelized
    collections for rows `createDataFrame` put on the driver; a
    `parallelize` of, say, paths under the scratch dir would break
    that."""
    calls = sorted(
        f"{rel}:{node.lineno}"
        for rel, _owner, node in _package_calls()
        if isinstance(node.func, ast.Attribute)
        and node.func.attr == "parallelize"
    )
    assert not calls, "parallelize in the package: " + ", ".join(calls)


def test_on_scratch_removes_root_when_the_op_raises():
    seen = {}

    @on_scratch
    def broken(spark, sf_dir, root):
        seen["root"] = root
        with open(os.path.join(root, "partial"), "w") as fh:
            fh.write("x")
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        broken(None, "unused")
    assert not os.path.exists(seen["root"])


def _package_calls():
    """Yield (relpath, enclosing top-level function, call node) for
    every call in the package."""
    for dirpath, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for top in tree.body:
                owner = getattr(top, "name", None)
                for node in ast.walk(top):
                    if isinstance(node, ast.Call):
                        yield rel, owner, node


def _dotted(func) -> str:
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        return f"{func.value.id}.{func.attr}"
    return ""


def test_only_io_makes_or_removes_scratch_dirs():
    offenders = sorted(
        f"{rel}:{node.lineno} ({owner})"
        for rel, owner, node in _package_calls()
        if _dotted(node.func) in ("tempfile.mkdtemp", "shutil.rmtree")
        and rel != "io.py"
        and (rel, owner) not in _HAND_SCRATCH
    )
    assert not offenders, (
        "make scratch dirs with io.on_scratch, not by hand: "
        + ", ".join(offenders)
    )


def test_checkpoints_spell_out_eagerness():
    bare = sorted(
        f"{rel}:{node.lineno}"
        for rel, _owner, node in _package_calls()
        if isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
        and not node.args
        and not node.keywords
    )
    assert not bare, "pass eager=True or eager=False: " + ", ".join(bare)


def test_get_spark_defaults_to_the_cpus_this_process_may_use(monkeypatch):
    class FakeBuilder:
        master_arg = None
        confs: dict = {}

        def master(self, m):
            FakeBuilder.master_arg = m
            return self

        def appName(self, _name):
            return self

        def config(self, k, v):
            FakeBuilder.confs[k] = v
            return self

        def getOrCreate(self):
            raise _Built()

    class _Built(Exception):
        pass

    class FakeSession:
        builder = FakeBuilder()

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.setattr(session, "SparkSession", FakeSession)
    with pytest.raises(_Built):
        session.get_spark()
    n = len(os.sched_getaffinity(0))
    assert FakeBuilder.master_arg == f"local[{n}]"
    assert FakeBuilder.confs["spark.sql.shuffle.partitions"] == str(n)
