"""Custom DataSource V2: read an exported snapshot AS a snapshot.

The reference reads HBase snapshots (manifest + immutable HFile refs)
via `TableSnapshotInputFormat`; the engine's columnar equivalent is a
snapshot directory written by `sources/sinks.py`:

    <root>/<bucket>/<prefix>/<snapshot_name>/
        event_type=<v>/part-*.parquet     (immutable "HFiles")

This module implements that reader as a real Spark 4 Python DataSource
(`pyspark.sql.datasource.DataSource`): one input partition per
partition directory (the region analog), Arrow-batch reads via pyarrow,
and partition pruning through the `partitions` option — the same design
a production `TableSnapshotInputFormat` DSv2 wrapper would use for
rowkey-range pruning + CF projection (SURVEY §4, design row "HBase
snapshot direct source").

For plain directories `spark.read.parquet` is strictly better (it gets
the vectorized reader + catalyst pushdown); this source exists to show
the snapshot-native path: reading the manifest, mapping one split per
immutable file group, pruning splits before any data I/O.
"""

from __future__ import annotations

import glob
import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType


class SnapshotPartition(InputPartition):
    def __init__(self, part_value: str, files: list[str]):
        self.part_value = part_value
        self.files = files


class HBaseSnapshotDataSource(DataSource):
    """`spark.read.format("hbase_snapshot")` after registration.

    Options:
      path        snapshot root (the `<snapshot_name>` directory)
      partitions  optional comma-separated partition values to keep
                  (pruning happens at planning time — unselected
                  "regions" are never opened)
      key_range   optional "lo:hi" (inclusive, integers) rowkey scan
                  range over `key_col`: files whose footer min/max
                  cannot overlap are dropped at PLANNING time (the
                  `Scan(startRow, stopRow)` region-skip analog —
                  SURVEY §4's production-bridge row), and surviving
                  files push the range into the pyarrow read as a
                  row-group filter. Footers are KB-sized metadata; a
                  production bridge would read the ranges from the
                  snapshot manifest instead of per-file footers, same
                  planning shape.
      key_col     rowkey column for `key_range` (default `event_id`)
      columns     optional comma-separated column subset — the
                  column-family projection analog (SURVEY §4's "CF
                  pruning"): unselected columns never reach the
                  pyarrow decode, not merely dropped post-scan. The
                  partition column rides along only if requested.
    """

    _FULL_SCHEMA = (
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("value", "double"),
        ("props", "string"),
        ("event_type", "string"),
    )

    @classmethod
    def name(cls) -> str:
        return "hbase_snapshot"

    def schema(self) -> str:
        # events schema after canonical load, partition column last
        cols = self.options.get("columns")
        fields = self._FULL_SCHEMA
        if cols:
            want = [c.strip() for c in cols.split(",")]
            bad = [c for c in want if c not in dict(fields)]
            if bad:
                raise ValueError(f"unknown snapshot columns: {bad}")
            fields = [f for f in fields if f[0] in want]
        return ", ".join(f"{n} {t}" for n, t in fields)

    def reader(self, schema: StructType) -> "SnapshotReader":
        return SnapshotReader(schema, self.options)


class SnapshotReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.root = options.get("path")
        if not self.root:
            raise ValueError("hbase_snapshot source requires a 'path' option")
        wanted = options.get("partitions")
        self.wanted = set(wanted.split(",")) if wanted else None
        kr = options.get("key_range")
        if kr:
            lo, hi = kr.split(":", 1)
            self.key_range: tuple | None = (int(lo), int(hi))
        else:
            self.key_range = None
        self.key_col = options.get("key_col", "event_id")

    def _file_overlaps(self, path: str) -> bool:
        """Planning-time split filter: footer column stats only — no
        data pages are read for a skipped file. Conservative on
        missing/NULL-only stats (keep the file; the row-level filter
        still applies)."""
        import pyarrow.parquet as pq

        lo, hi = self.key_range
        md = pq.read_metadata(path)
        names = md.schema.names
        if self.key_col not in names:
            return True
        ci = names.index(self.key_col)
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                return True  # stats unavailable -> cannot prove skip
            fmin = st.min if fmin is None else min(fmin, st.min)
            fmax = st.max if fmax is None else max(fmax, st.max)
        if fmin is None:
            return True
        return not (fmax < lo or fmin > hi)

    def partitions(self) -> list[SnapshotPartition]:
        """One split per partition dir — the region/HFile-group analog.

        Pruning: requested partition values AND rowkey ranges never
        reach the I/O layer, mirroring TableSnapshotInputFormat
        skipping regions outside the scan's rowkey range.
        """
        dirs = sorted(glob.glob(os.path.join(self.root, "event_type=*")))
        if not dirs:
            raise FileNotFoundError(f"no snapshot partitions under {self.root}")
        parts = []
        for d in dirs:
            value = os.path.basename(d).split("=", 1)[1]
            if self.wanted is not None and value not in self.wanted:
                continue
            files = sorted(glob.glob(os.path.join(d, "*.parquet")))
            if self.key_range is not None:
                files = [f for f in files if self._file_overlaps(f)]
            if files:
                parts.append(SnapshotPartition(value, files))
        if not parts:
            # every split pruned: one empty split (a zero-length
            # partitions list is ambiguous across API versions)
            parts.append(SnapshotPartition("", []))
        return parts

    def read(self, partition: SnapshotPartition) -> Iterator:
        """Yield Arrow batches (not rows) — the fast path of the Python
        DataSource API; pyarrow does the columnar decode."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = [f.name for f in self.schema.fields if f.name != "event_type"]
        want_part_col = any(f.name == "event_type" for f in self.schema.fields)
        filters = None
        if self.key_range is not None:
            lo, hi = self.key_range
            # row-group + row-level enforcement of the scan range (the
            # split skip above is only file-granular); NULL keys are
            # excluded, matching Scan(start, stop) semantics
            filters = [(self.key_col, ">=", lo), (self.key_col, "<=", hi)]
        # hive layout spells a NULL partition value as the default
        # token; surface it back as SQL NULL exactly like
        # spark.read.parquet does
        part_value = (
            None
            if partition.part_value == "__HIVE_DEFAULT_PARTITION__"
            else partition.part_value
        )
        for path in partition.files:
            table = pq.read_table(path, columns=cols, filters=filters)
            # The engine exports `ts` as INT64 microseconds (UTC), which
            # pyarrow reads as `timestamp[us, tz=UTC]`. Snapshots exported
            # before that are INT96, which pyarrow surfaces as ns;
            # Spark's Arrow bridge only accepts us, so truncate those.
            for i, field in enumerate(table.schema):
                if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
                    table = table.set_column(
                        i, field.name, table.column(i).cast(pa.timestamp("us"))
                    )
            # re-attach the partition value as a column (hive layout
            # stores it only in the directory name)
            if want_part_col:
                n = table.num_rows
                table = table.append_column(
                    "event_type", pa.array([part_value] * n, pa.string())
                )
            yield from table.to_batches(max_chunksize=8192)


def register_snapshot_source(spark) -> None:
    spark.dataSource.register(HBaseSnapshotDataSource)
