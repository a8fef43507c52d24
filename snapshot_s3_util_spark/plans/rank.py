"""Scale-safe global order statistics (two-pass range-partitioned form).

`Window.partitionBy()` (empty spec) moves the ENTIRE input to one task —
the single-partition WindowExec Spark itself warns about, and the one
plan shape that cannot survive a 100x scale-up no matter what the data
is. `sort_multi` (operators/sorts.py) replaced its global row_number
with a two-pass range-partitioned rank in round 6; this module extracts
that pattern so every op whose global-ORDER-BY frame grows with the
data (|rows|, |users|, |docs|, |vocabulary|) shares one audited
implementation. plans/audit.py + tools/plan_audit.py flag any remaining
unpartitioned window registry-wide.

The shape:

  1. `repartitionByRange(npart, *keys)` — partition i holds strictly
     smaller sort keys than partition i+1; each partition ~|rows|/npart.
  2. LOCAL row numbers / running sums per range partition. Two forms:
     - FAST (no running sums requested): `sortWithinPartitions(keys)`
       + `monotonically_increasing_id()` — the local 0-based index is
       the mid's low 33 bits, assigned in sorted row order. No window
       over the data AT ALL, and critically no second exchange: a
       window partitioned by pid would demand
       ClusteredDistribution(pid), which the range layout does not
       satisfy, so Catalyst would insert a full hashpartitioning(pid)
       shuffle (and hash(0..npart-1) into npart buckets leaves ~1/e of
       the tasks empty while piling 2-3 range partitions onto others).
     - CUMSUM: running sums need sequential per-partition scans, so the
       window partitioned by `spark_partition_id()` remains (bounded
       frame, no warning) and pays that second exchange.
  3. Global value = local value + the partition's count/sum prefix
     offset: `groupBy(pid).agg(...)` (npart rows) is collected and
     prefix-summed on the driver, then attached as dense array literals
     read with `element_at(arr, pid + 1)` — an O(1) lookup per row, and
     no ledger exchange, window or broadcast join in the plan. Grand
     totals ride the same npart-row ledger for free.

CORRECTNESS-CRITICAL: the offsets ledger and the rank/cumsum side must
observe the SAME partition boundaries. RangePartitioner samples its
boundaries per physical exchange, so two separately-planned exchanges
over the same data can split boundary keys differently — the offsets
would then be computed against one layout and applied to another
(observed: a constant rank shift after the first boundary). Spark's
ReuseExchange dedupes the two subtrees ONLY while they stay canonically
identical, and ColumnPruning breaks that the moment the frame carries a
payload column the ledger doesn't aggregate (it prunes the ledger's
copy, the subtrees diverge, reuse silently vanishes). The helper
therefore pins the boundary decision structurally: the range-exchanged
spine is `localCheckpoint(eager=False)`-ed, so both consumers read one
materialized RDD with one partitioner. Cost: one extra in-memory pass
over the frame — the standard price of a multi-consumer exact-rank
pipeline, amortized across every statistic the call computes.
"""

from __future__ import annotations

import json
from decimal import Decimal
from typing import Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]

# Internal column names; prefixed to avoid colliding with caller schemas.
_PID = "_grn_pid"
_MID = "_grn_mid"

# --- scale-adaptive npart (r15, guide §2: partitioning must derive from
# input size / cores, not a constant tuned for one deployment). When the
# caller does not pin npart, it is max(cores, est_bytes / target) capped:
#   - cores floor keeps every core busy at any size (local[8] gets 8,
#     local[32] gets 32 — the r14 constant 32 was the local[32] value
#     hard-coded);
#   - est_bytes / _RANK_PART_BYTES keeps each range partition's sort at
#     ~256 MB of input as the frame grows, so a 100 TB spine gets ~400k
#     partitions instead of 32 x 3 TB tasks;
#   - _RANK_MAX_NPART bounds the driver-side offsets ledger (npart rows
#     collected, one array literal entry per pid) and the mid-based
#     local index far under its 2**33-row bound.
# The estimate is Catalyst's planning-time sizeInBytes (file-size-based
# for scans, propagated through projections/filters); frames with no
# usable estimate (post-checkpoint RDDs report the defaultSizeInBytes
# sentinel) fall back to the cores floor — exactly the r14 behavior at
# local[32].
_RANK_PART_BYTES = 256 << 20
_RANK_MAX_NPART = 65536
_STATS_UNKNOWN = 1 << 62  # >= this = missing-stats sentinel, not a size


def _derive_npart(df: DataFrame) -> int:
    """Range-partition count for `df`'s spine: max(cores, bytes/target),
    capped. See the constants block above for the derivation."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = 0
    if est <= 0 or est >= _STATS_UNKNOWN:
        return cores
    return max(cores, min(-(-est // _RANK_PART_BYTES), _RANK_MAX_NPART))


def _pid_lookup(vals: list, vtype: str) -> Column:
    """`vals[pid]` as a column: ONE array<vtype> literal parsed from a
    single JSON string, indexed with `element_at(arr, pid + 1)`.

    One string, not one `F.lit` per entry: at the 65536-entry cap the
    per-entry form spends seconds building Column objects, while
    `from_json` over a constant folds to a literal array at optimization
    time. JSON keeps every ledger type exact: ints verbatim, doubles by
    their round-trip repr (NaN/Infinity as Jackson's non-numeric
    tokens), decimals by their exact string."""
    body = ",".join(str(v) if isinstance(v, Decimal) else json.dumps(v) for v in vals)
    arr = F.from_json(F.lit(f"[{body}]"), f"array<{vtype}>")
    return F.element_at(arr, F.col(_PID) + 1)


# monotonically_increasing_id() = partition_id * 2**33 + row index
# within the partition, assigned in row iteration order.
_MID_PART_BITS = 33


def global_order_stats(
    df: DataFrame,
    keys: Sequence[ColumnOrName],
    *,
    rn: Optional[str] = None,
    cumsum: Optional[Mapping[str, str]] = None,
    totals: Optional[Mapping[str, str]] = None,
    ntotal: Optional[str] = None,
    npart: Optional[int] = None,
) -> DataFrame:
    """`df` + exact global order statistics under ORDER BY `keys`,
    without a single-partition window.

    rn      -> name of a 1-based global row_number column
    cumsum  -> {src: out}: INCLUSIVE global prefix sum of `src`
    totals  -> {src: out}: grand total of `src` on every row
    ntotal  -> name of a grand row-count column

    NULL handling for `cumsum`: NULL source rows contribute 0 and the
    running sum starts at 0 — i.e. a leading all-NULL prefix yields 0,
    where `SUM(src) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` would
    yield NULL until the first non-NULL value. Every current caller
    feeds non-null counts, where the two semantics coincide; pre-filter
    or pre-coalesce the source if you need the SQL NULL-prefix shape.

    `keys` must be a total order for `rn`/`cumsum` to be deterministic
    (add a unique tiebreaker as the last key, exactly as you would
    under `ROW_NUMBER() OVER (ORDER BY ...)`). `npart` bounds the
    per-task frame at ~|rows|/npart; the offsets side stays npart rows,
    collected to the driver and attached as array literals. npart=None
    (the default) derives it from the input-size estimate with a cores
    floor (`_derive_npart`) — rank/cumsum values are exact for ANY
    npart, so the choice is pure performance.
    """
    if npart is None:
        npart = _derive_npart(df)
    cumsum = dict(cumsum or {})
    totals = dict(totals or {})
    keys = [F.col(k) if isinstance(k, str) else k for k in keys]

    # The checkpointed spine: ONE range exchange, ONE partitioner —
    # see the module docstring for why this must not rely on
    # ReuseExchange.
    #
    # FAST PATH (no running sums requested): the local row number comes
    # from `monotonically_increasing_id()` assigned ABOVE a
    # `sortWithinPartitions`, not from a window.  A window partitioned
    # by pid requires ClusteredDistribution(pid), which the
    # range-partitioned spine does not satisfy, so Catalyst inserts a
    # SECOND full hashpartitioning(pid) exchange — and hash(0..npart-1)
    # into npart buckets leaves ~1/e of the tasks empty and piles 2-3
    # range partitions onto others (measured: the dominant cost of
    # sort_multi's 30x stress wall).  The mid form keeps the plan at
    # exactly one data-sized exchange + one local sort, both in the
    # same stage; the nondeterministic mid is frozen by the
    # localCheckpoint, so the ledger and the rank side read identical
    # values.  Local index < 2**33 bounds a range partition at 8.5e9
    # rows — size npart so partitions stay far under that (they must
    # fit an executor anyway).
    fast = not cumsum
    if fast:
        part = (
            df.repartitionByRange(npart, *keys)
            .sortWithinPartitions(*keys)
            .withColumn(_MID, F.monotonically_increasing_id())
            .localCheckpoint(eager=False)
            .withColumn(
                _PID,
                F.shiftrightunsigned(F.col(_MID), _MID_PART_BITS).cast("int"),
            )
        )
    else:
        part = (
            df.repartitionByRange(npart, *keys)
            .withColumn(_PID, F.spark_partition_id())
            .localCheckpoint(eager=False)
        )

    # npart-row ledger: per-partition row count + per-source sums,
    # prefix-summed ON THE DRIVER (one collect of <= _RANK_MAX_NPART
    # rows over the already-checkpointed spine) and re-attached as dense
    # array literals — no ledger exchange, window or broadcast join in
    # the plan. Measured on sort_multi (r15, interleaved min-of-7,
    # construction+collect): the driver-side ledger won 7/7 pairs over
    # the distributed window + broadcast-join form, min 1.98 vs 2.56 s.
    srcs = sorted(set(cumsum) | set(totals))
    ledger = part.groupBy(_PID).agg(
        F.count("*").alias("_grn_cnt"),
        *[F.sum(s).alias(f"_grn_sum_{s}") for s in srcs],
    )
    sum_ty = {f.name: f.dataType.simpleString() for f in ledger.schema.fields}
    lrows = {r[_PID]: r for r in ledger.collect()}
    width = max(lrows, default=-1) + 1

    def prefix(col: str):
        """(offsets, total) of ledger column `col`: offsets[p] = sum over
        pids < p — exactly the window's ROWS UNBOUNDED PRECEDING .. -1
        frame, dense over 0..max(pid) so a pid whose range partition
        came out empty carries the running prefix. SQL SUM's
        NULL-skipping is reproduced by treating a NULL partition sum as
        +0; the total is NULL when every partition sum is NULL."""
        offs, acc = [], None
        for p in range(width):
            offs.append(0 if acc is None else acc)
            v = lrows[p][col] if p in lrows else None
            if v is not None:
                acc = v if acc is None else acc + v
        return offs, acc

    out = part
    drop = [_PID]
    if fast:
        if rn is not None:
            # 1-based local row number straight from the frozen mid.
            out = out.withColumn(
                "_grn_lrn",
                F.col(_MID).bitwiseAND(F.lit((1 << _MID_PART_BITS) - 1))
                + F.lit(1),
            )
            drop.append("_grn_lrn")
        drop.append(_MID)
    else:
        w_local = Window.partitionBy(_PID).orderBy(*keys)
        w_run = w_local.rowsBetween(Window.unboundedPreceding, 0)
        if rn is not None:
            out = out.withColumn("_grn_lrn", F.row_number().over(w_local))
            drop.append("_grn_lrn")
        for s in cumsum:
            out = out.withColumn(f"_grn_lcs_{s}", F.sum(s).over(w_run))
            drop.append(f"_grn_lcs_{s}")
    cnt_offs, cnt_total = prefix("_grn_cnt")
    if rn is not None:
        out = out.withColumn(
            rn,
            (_pid_lookup(cnt_offs, "bigint") + F.col("_grn_lrn")).cast("bigint"),
        )
    if ntotal is not None:
        out = out.withColumn(ntotal, F.lit(cnt_total or 0).cast("bigint"))
    sums = {s: prefix(f"_grn_sum_{s}") for s in srcs}
    for s, name in cumsum.items():
        # coalesce: a partition whose leading rows are NULL would
        # otherwise poison soff + NULL -> NULL (see NULL handling above)
        out = out.withColumn(
            name,
            _pid_lookup(sums[s][0], sum_ty[f"_grn_sum_{s}"])
            + F.coalesce(F.col(f"_grn_lcs_{s}"), F.lit(0)),
        )
    for s, name in totals.items():
        out = out.withColumn(
            name, F.lit(sums[s][1]).cast(sum_ty[f"_grn_sum_{s}"])
        )
    return out.drop(*drop)


def global_row_number(
    df: DataFrame,
    keys: Sequence[ColumnOrName],
    out: str = "rn",
    npart: Optional[int] = None,
) -> DataFrame:
    """`df` + column `out` = exact 1-based global row_number under
    ORDER BY `keys` (see :func:`global_order_stats`)."""
    return global_order_stats(df, keys, rn=out, npart=npart)
