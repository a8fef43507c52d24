"""snapshot_s3_util_spark — a PySpark-native analytics engine.

A from-scratch engine with the query and data-processing capabilities of
the reference (`lospro7/snapshot-s3-util`, an HBase snapshot -> S3 export
CLI; see SURVEY.md §0-§2), re-expressed Spark-first:

- The reference's ETL workflow (snapshot / export / import / TTL-cleanup /
  verify) becomes declarative DataFrame read->transform->write plans
  (`hbase/` package).
- The relational + LLM-data-pipeline operator surface mandated by
  BASELINE.json's north star lives in `operators/`, `functions/`,
  `llm/`, `streaming/`, `udf/`.

Every operator registers itself in `registry.REGISTRY` with a DuckDB
oracle SQL string (or None for rows-only checks); `__spark_entry__.py`
exposes the registry to the driver harness.

Checkpoint policy: a `localCheckpoint` that only truncates lineage for
several consumers is LAZY (`eager=False`). An eager one runs its own
driver-blocking materialization job before any real work; a lazy one
folds into the first consuming action (a loop round's count, a
broadcast build, the final collect), so a whole input chain
materializes in one job instead of 2-3 sequential ones — interleaved
A/B per frame family in OPTIMIZATION_r15.md §7, results identical.
Racing stages of that job can transiently compute a partition twice;
every lazily checkpointed frame is deterministic, so the duplicate is
consistent. Checkpoints stay eager where (a) they must materialize
before a staging dir they read is removed — `io.on_scratch` takes that
checkpoint for every op that stages files (sinks, scans, streaming)
and skips it when every leaf of the result's plan is already on the
driver (rows built there, or a finished memory sink's, which streaming
ops return as they are), (b) they are per-round frontiers feeding a
broadcast build, where lazy would fold round compute into the
broadcast job, or (c) a measured lazy A/B lost (the IVF centroids,
reason at the site). Every eager checkpoint spells `eager=True` out.
"""

from snapshot_s3_util_spark.registry import REGISTRY, register  # noqa: F401


# The driver's correctness harness checks the FIRST 50 registry entries
# in registration order.  Rotation policy (round-4 revision, computed —
# the round-3 hand-curated list silently omitted fn_try, exactly the
# drift the policy was meant to prevent):
# 1. Ops behavior-changed this round (hand-declared below — the ONLY
#    remaining manual input, because "changed" isn't derivable from
#    CORRECTNESS history alone) come first: a behavior change must get
#    a fresh external row.
# 2. Never-verified ops: REGISTRY − union(CORRECTNESS_r*.json names),
#    computed at load time.  A newly registered op can no longer be
#    forgotten.
# 3. Ops whose LATEST driver row failed (rows/schema/hash mismatch or
#    error).
# 4. Everything else, oldest-green-round first, so stale verifications
#    drain; registration order breaks ties (stable sort).
# Listing convention (r11 ADVICE): an op whose implementation was
# SUBSTANTIALLY REWRITTEN this round is listed even when its output is
# claimed identical — round 11 omitted llm_dedup_simhash after the
# vote de-explosion on output-identity grounds and relied on the
# transitive check through llm_dedup_simhash_pairs; the driver row is
# exactly the external evidence such an identity claim needs, so
# claimed-identical rewrites get their own row from round 12 on.
_WINDOW_CHANGED_THIS_ROUND: list = [
    # round 14 changed set. New ops also enter via the never-verified
    # tier; listing keeps intra-window order explicit. Window
    # arithmetic (r13 verdict ask #1): the stale tier holds 6 ops at
    # r5 + 50 at r6; every changed/new entry here displaces one r6
    # drain slot, so this list stays minimal — the r13 entries (all
    # now green at r13) were cleared so they stop pinning 6 slots.
    # plan rewrite (r13 verdict ask #2, the round's one weak): blanket
    # x8 replication — measured at a 2.16x hot-key ratio and 3.6x
    # uniform premium against its own "expected ~flat" claim — replaced
    # by _smj_detect_hot's sampled selective salting; output is
    # provably identical (same oracle) and per the r11 listing
    # convention the claimed-identical rewrite gets a fresh driver row
    "join_salted_skew",
    # behavior change (r13 verdict ask #7): AHASH_BUCKET_SAMPLE moved
    # 2x -> 4x the shared cap on the r13 dial's curve + a measured
    # steady-state cost (params.py has the decision) — the dedup op
    # reports more pairs (recall 0.943 -> 0.988) and the audit row's
    # kept/recall/dial columns shift with the width
    "multimodal_ahash_dedup",
    "multimodal_ahash_recall_bucket_cap",
]


def _verification_history(repo_root) -> tuple:
    """Scan CORRECTNESS_r*.json driver artifacts.

    Returns (checked, latest, green) where
      checked: {op name -> latest round with any row},
      latest:  {op name -> that row's dict},
      green:   {op name -> latest round whose row was fully green}.
    Missing/corrupt files are skipped — with no artifacts every op
    ranks as never-verified, i.e. plain registration order.
    """
    import json
    import re

    checked: dict = {}
    latest: dict = {}
    green: dict = {}
    try:
        paths = sorted(repo_root.glob("CORRECTNESS_r*.json"))
    except OSError:
        return checked, latest, green
    for path in paths:
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            checked[name] = rnd
            latest[name] = row
            ok = (
                row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") in (True, None)
                and not row.get("err")
            )
            if ok:
                green[name] = rnd
    return checked, latest, green


def load_all_operators() -> None:
    """Import every operator module so REGISTRY is fully populated.

    After importing, reorder REGISTRY so ops needing a driver
    correctness row soonest come first (see window-rotation note
    above); relative order within each group is preserved.
    """
    from pathlib import Path

    import snapshot_s3_util_spark.operators  # noqa: F401
    import snapshot_s3_util_spark.functions  # noqa: F401
    import snapshot_s3_util_spark.hbase  # noqa: F401
    import snapshot_s3_util_spark.llm  # noqa: F401
    import snapshot_s3_util_spark.streaming  # noqa: F401
    import snapshot_s3_util_spark.udf  # noqa: F401
    import snapshot_s3_util_spark.sources  # noqa: F401

    repo_root = Path(__file__).resolve().parent.parent
    checked, _latest, green = _verification_history(repo_root)

    def _rank(op) -> tuple:
        if op.name in _WINDOW_CHANGED_THIS_ROUND:
            return (0, _WINDOW_CHANGED_THIS_ROUND.index(op.name))
        if op.name not in checked:
            return (1, 0)  # never verified
        if green.get(op.name) != checked[op.name]:
            return (2, 0)  # latest driver row failed
        return (3, green[op.name])  # oldest green first

    ordered = sorted(REGISTRY.values(), key=_rank)  # stable sort
    REGISTRY.clear()
    REGISTRY.update({op.name: op for op in ordered})
    _interpolate_docstrings()


def _interpolate_docstrings() -> None:
    """Resolve `{_CONST}` placeholders in operator docstrings.

    Many docstrings reference their module's tuning constants (band
    counts, thresholds, chunk widths) by name; f-strings can't be
    docstrings, so without this pass `help()` renders the braces
    literally (round-3 ADVICE item). Substitutes only `{_UPPER_CASE}`
    or `{UPPER_CASE}` names (module constants, including imported
    params like MINHASH_K — the r5 ADVICE leak class) that resolve to
    an int/float/str in the op's own module — anything else (legit
    braces, struct examples) is left untouched.
    """
    import re
    import sys

    pat = re.compile(r"\{(_?[A-Z][A-Z0-9_]*)\}")
    for op in REGISTRY.values():
        doc = op.fn.__doc__
        if not doc or "{" not in doc:
            continue
        mod_vars = vars(sys.modules[op.fn.__module__])

        def sub(m, mod_vars=mod_vars):
            v = mod_vars.get(m.group(1))
            if isinstance(v, (int, float, str)):
                return str(v)
            if isinstance(v, (tuple, list)) and all(
                isinstance(x, (int, float, str)) for x in v
            ):
                return "/".join(str(x) for x in v)
            return m.group(0)

        fixed = pat.sub(sub, doc)
        op.fn.__doc__ = fixed
        op.doc = fixed
