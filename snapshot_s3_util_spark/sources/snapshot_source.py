"""The snapshot format, written and read in one place.

The reference reads HBase snapshots (manifest + immutable HFile refs)
via `TableSnapshotInputFormat`; the engine's columnar equivalent is a
snapshot directory of `events` rows:

    <root>/<bucket>/<prefix>/<snapshot_name>/
        event_type=<v>/part-*.parquet     (immutable "HFiles")

This module owns that layout. `write_snapshot` is the only engine code
that writes it, and it refuses a frame whose columns differ from
`SCHEMA`: a read with an explicit schema would otherwise fill a missing
column with NULLs without an error. `read_snapshot` reads it back with
`SCHEMA`, so no read infers a schema.

The snapshot-specific work of a read is planning, and it stays on the
driver: list the partition directories (the region analog), drop those
outside `partitions`, and drop files whose footer rowkey range cannot
overlap `key_range` (the `Scan(startRow, stopRow)` region skip),
reading only KB-sized footers. A production bridge would take the
ranges from the snapshot manifest instead, with the same planning
shape. The surviving files go to Spark's vectorized Parquet scan,
which splits them by size across every core, reads both export
timestamp formats (INT96 and INT64 microseconds), maps the hive NULL
directory to SQL NULL and narrows the decoded columns to what the
query selects (the column-family pruning analog). A read with nothing
to prune hands the root to that scan directly, so it also runs on
object-store paths the local planner cannot list.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The `events` schema after canonical load, partition column last.
SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, value double, "
    "props string, event_type string"
)
KEY_COL = "event_id"
_SCHEMA_DTYPES = sorted(tuple(f.split()) for f in SCHEMA.split(", "))


def footer_key_range(md) -> tuple | None:
    """`(min, max)` of `KEY_COL` over every row group of a Parquet
    footer (a pyarrow `FileMetaData`), or None when the footer cannot
    bound it: the column is absent, a row group lacks min/max stats (an
    all-NULL chunk has none), or the file has no row groups."""
    names = md.schema.names
    if KEY_COL not in names:
        return None
    ci = names.index(KEY_COL)
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _may_overlap(path: str, key_range: tuple) -> bool:
    # an unbounded footer cannot prove a skip: keep the file, the
    # row-level filter in `read_snapshot` still applies
    import pyarrow.parquet as pq

    rng = footer_key_range(pq.read_metadata(path))
    return rng is None or not (rng[1] < key_range[0] or rng[0] > key_range[1])


def plan_snapshot_files(
    root: str, partitions=None, key_range: tuple | None = None
) -> list[str]:
    """The snapshot files a read must open, decided before any data
    page is read.

    `partitions` is a collection of `event_type` directory values to
    keep; `key_range` is an inclusive `(lo, hi)` rowkey range over
    `event_id`.
    """
    dirs = sorted(glob.glob(os.path.join(root, "event_type=*")))
    if not dirs:
        raise FileNotFoundError(f"no snapshot partitions under {root}")
    files = []
    for d in dirs:
        value = os.path.basename(d).split("=", 1)[1]
        if partitions is not None and value not in partitions:
            continue
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            if key_range is None or _may_overlap(f, key_range):
                files.append(f)
    return files


def _scan_paths(files: list[str]) -> list[str]:
    # A directory whose files all survived planning is passed as the
    # directory: Spark lists more than 32 explicit paths
    # (`parallelPartitionDiscovery.threshold`) with a Spark job of one
    # task per path, which tripled the full read at the 10x stress tier.
    by_dir: dict[str, list[str]] = {}
    for f in files:
        by_dir.setdefault(os.path.dirname(f), []).append(f)
    paths = []
    for d, kept in by_dir.items():
        whole = len(kept) == len(glob.glob(os.path.join(d, "*.parquet")))
        paths += [d] if whole else kept
    return paths


def write_snapshot(df: DataFrame, root: str) -> None:
    """Append `df` under `root` in the snapshot layout, one
    `event_type=<v>` directory per value. Callers lay rows out first
    (`repartitionByRange`, `sortWithinPartitions`, ...) as their files
    need. Raises `ValueError`, before writing anything, when `df`'s
    column names or types differ from `SCHEMA` (order is free)."""
    if sorted(df.dtypes) != _SCHEMA_DTYPES:
        raise ValueError(
            f"snapshot frame columns {df.dtypes} do not match SCHEMA ({SCHEMA})"
        )
    df.write.mode("append").partitionBy("event_type").parquet(root)


def read_snapshot(
    spark: SparkSession,
    root: str,
    *,
    partitions=None,
    key_range: tuple | None = None,
) -> DataFrame:
    """The snapshot under `root` as a DataFrame with `SCHEMA`, scanning
    only the files `plan_snapshot_files` keeps. Under `key_range` the
    rows are filtered to it as well (pushed into the Parquet scan), so
    NULL rowkeys are excluded, as `Scan(start, stop)` excludes them.
    With neither `partitions` nor `key_range` there is nothing to plan,
    and the root goes to the scan as it is."""
    if partitions is None and key_range is None:
        return spark.read.schema(SCHEMA).parquet(root)
    files = plan_snapshot_files(root, partitions, key_range)
    if files:
        df = (
            spark.read.schema(SCHEMA)
            .option("basePath", root)
            .parquet(*_scan_paths(files))
        )
    else:
        df = spark.createDataFrame([], SCHEMA)
    if key_range is not None:
        df = df.filter(F.col(KEY_COL).between(*key_range))
    return df
