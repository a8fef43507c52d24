"""Streaming stateful-processor logic tests that need no streaming
runtime.

The TWS processor (`_TopKProcessor`) can only BIND into a live
transformWithStateInPandas query where `google.protobuf` exists — not
in this image (r12 verdict ask #8). Its fold logic is plain Python
over pandas, though, so this file drives `handleInputRows` directly
with stub state handles and pins it row-for-row to the
oracle-verified `applyInPandasWithState` fallback on the same
micro-batch sequences: the processor class stays exercised code, and
a divergence between the two folds (the bug class the twin design
risks) fails the suite instead of waiting for a protobuf-equipped
environment to surface it.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from snapshot_s3_util_spark.streaming.stateful import (
    _TopKProcessor,
    _topk_update_fallback,
)


class _StubValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _StubListState:
    def __init__(self):
        self._rows = None

    def exists(self):
        return self._rows is not None

    def get(self):
        return list(self._rows)

    def put(self, rows):
        self._rows = list(rows)


class _StubHandle:
    """Stands in for the TWS StatefulProcessorHandle: hands out named
    state primitives exactly as init() requests them."""

    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema):
        return self.states.setdefault(name, _StubValueState())

    def getListState(self, name, schema):
        return self.states.setdefault(name, _StubListState())


class _StubGroupState:
    """Stands in for pyspark GroupState: .exists/.get properties +
    .update(tuple), which is all the fallback fold touches."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def _norm(pdf: pd.DataFrame) -> list:
    out = []
    for r in pdf.to_dict("records"):
        out.append(
            {
                k: (None if isinstance(v, float) and math.isnan(v) else v)
                for k, v in r.items()
            }
        )
    return out


_BATCH_SEQUENCES = [
    # ordinary growth past the top-3 window
    [[1.0, 5.0], [3.0], [9.0, 2.0, 7.0]],
    # NaN ≡ NULL pin: counted in n_events, never ranked
    [[float("nan"), 4.0], [float("nan")], [6.0, float("nan"), 1.0]],
    # all-NaN key: n_events grows, top stays empty, sums stay NULL
    [[float("nan")], [float("nan"), float("nan")]],
    # ties: the top-3 multiset keeps duplicates
    [[5.0, 5.0], [5.0, 5.0, 2.0]],
    # empty micro-batch mid-stream
    [[2.0], [], [8.0]],
]


@pytest.mark.parametrize("values", _BATCH_SEQUENCES)
def test_tws_processor_matches_fallback_fold(values):
    key = (42,)
    proc = _TopKProcessor()
    proc.init(_StubHandle())
    gs = _StubGroupState()
    for batch in values:
        pdf = pd.DataFrame({"value": pd.Series(batch, dtype="float64")})
        got = list(proc.handleInputRows(key, [pdf], None))
        want = list(_topk_update_fallback(key, [pdf], gs))
        assert len(got) == len(want) == 1
        assert _norm(got[0]) == _norm(want[0]), (batch, values)


def test_tws_processor_timer_and_close_are_noops():
    proc = _TopKProcessor()
    proc.init(_StubHandle())
    assert list(proc.handleExpiredTimer((1,), None, None)) == []
    proc.handleInitialState((1,), None, None)
    proc.close()


def test_export_rebalance_gate_bounds_file_count(spark, tmp_path):
    """The r15 REBALANCE gate in the export sink (guide §6): a
    micro-batch arriving in MANY partitions must be clustered by the
    write's partition column so file count per epoch is bounded by
    ~|event_types| (ungated it is tasks x types); a micro-batch
    arriving in few partitions must take the gate's no-op branch —
    written as-is, one file per (task, type) pair present — so the
    local regime never pays an extra shuffle to fix a non-problem.
    Content equality is asserted in both regimes."""
    import glob

    from pyspark.sql import functions as F

    from snapshot_s3_util_spark.streaming.stream_ops import (
        _EXPORT_REBALANCE_MIN_PARTS,
        _export_write_partitioned,
    )

    df = spark.range(0, 2000).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds("id").alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.col("id").cast("double").alias("value"),
        F.lit("{}").alias("props"),
        (F.col("id") % 5).cast("string").alias("event_type"),
    )

    # ABOVE the gate: 32 source partitions, 5 types -> up to 160 files
    # ungated; the REBALANCE must bound it near one per type.
    many = df.repartition(32)
    assert many.rdd.getNumPartitions() > _EXPORT_REBALANCE_MIN_PARTS
    out_gated = str(tmp_path / "gated")
    _export_write_partitioned(many, out_gated)
    gated_files = glob.glob(f"{out_gated}/event_type=*/*.parquet")
    assert len(gated_files) <= 10, (
        f"REBALANCE did not bound the file fan-out: {len(gated_files)} "
        "files for 5 event types"
    )
    assert spark.read.parquet(out_gated).count() == 2000

    # BELOW the gate: 2 source partitions -> the branch must not
    # rebalance, so each type directory holds exactly one file per
    # source task that carries that type (= 2 here): 10 files total,
    # the untouched-write signature.
    few = df.repartition(2)
    assert few.rdd.getNumPartitions() <= _EXPORT_REBALANCE_MIN_PARTS
    out_plain = str(tmp_path / "plain")
    _export_write_partitioned(few, out_plain)
    plain_files = glob.glob(f"{out_plain}/event_type=*/*.parquet")
    assert len(plain_files) == 10, (
        "below-gate write was not left as-is: expected 2 tasks x 5 "
        f"types = 10 files, got {len(plain_files)}"
    )
    assert spark.read.parquet(out_plain).count() == 2000
