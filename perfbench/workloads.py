"""The benchmark's workloads: which registry ops run, over which tables.

Every workload is a closed loop with one client: each op starts after
the previous one has returned its rows. The cold pass runs the ops in
the order listed here, so the same op pays the session's one-time
costs (first parquet read, Python worker spawn) on every seed; later
passes run them in an order the seed shuffles. An op belongs to the
engine layer (subpackage) that defines its registry fn.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # Mostly read-only relational, LLM-curation and WAL-replay ops. At
    # this size every stage is one task, so fixed per-op cost (planning,
    # job barriers, driver round trips) dominates a pass. One small sink
    # and one streaming export keep every layer present in every
    # workload, so no layer metric is a constant zero.
    "flagship": {
        "ops": (
            "agg_hash_groupby",
            "join_3way_topk",
            "llm_dedup_exact",
            "llm_contamination_ngram",
            "hb_wal_replay_merge",
            "sink_s3_layout",
            "stream_foreach_batch_export",
        ),
        "tables": ("customer", "orders", "lineitem", "events", "documents"),
    },
    # The HBase-snapshot -> S3-layout backup path: each op but the last
    # two writes a snapshot or export layout of `events` and reads it
    # back; the two small read-only ops cover the operators and llm layers.
    "backup": {
        "ops": (
            "hb_export_import_cycle",
            "source_hbase_snapshot",
            "sink_s3_layout",
            "stream_foreach_batch_export",
            "hb_manifest_verify",
            "topk_per_group",
            "llm_dedup_exact",
        ),
        "tables": ("events", "documents"),
    },
}

# Layers whose ops the workloads run, in report order.
OP_LAYERS = ("operators", "llm", "sources", "hbase", "streaming")
