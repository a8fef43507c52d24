"""Degenerate-corpus gauntlet: every documents-reading op vs adversarial text.

The round-7 ADVICE found that `llm_heaps_law_fit` would CRASH on a
sub-3-token document in Spark (negative `slice()` length) while the
DuckDB oracle degraded gracefully — an engine-divergence class that a
fixture whose shortest doc has 10 tokens can never catch. This module
generalizes that probe: it AUGMENTS the real sf0.001 documents table
with adversarial rows (empty text, 1/2/3-token docs, a 10k-char single
token, unicode/CJK/emoji/RTL, whitespace runs, exact + near duplicate
pairs, a 300x-repeated token) and runs every llm-category operator PLUS
every other op whose oracle reads `documents` (hash/array/url/codec
functions, multimodal decoders, hbase split planners, sinks) against
the augmented directory, under the shared gauntlet contract
(gauntlet_common): Spark must not raise, and oracle ops must stay
hash-exact, so a "graceful" Spark path that silently diverges from SQL
semantics on weird input is a failure, not a pass.

Augmenting (rather than replacing) keeps every op's statistical
machinery solvable — group-bys stay populated, OLS fits keep enough
checkpoints — so a failure here means edge-case handling, not a
starved fixture.
"""

from __future__ import annotations

import pytest

from snapshot_s3_util_spark import REGISTRY
from tests.gauntlet_common import (
    assert_op_matches,
    build_augmented_dir,
    duck_views,
    ops_reading,
)

# (doc_id, text, lang, source) — n_chars is derived. Ids far above the
# fixture range so split/probe id-windows keep their real members.
_ROWS = [
    (900001, "", "en", "src0"),                       # empty text
    (900002, "solo", "en", "src1"),                   # 1 token
    (900003, "two tokens", "de", "src2"),             # 2 tokens
    (900004, "exactly three tokens", "fr", "src3"),   # 3 tokens (trigram edge)
    (900005, "x" * 10000, "en", "src4"),              # one 10k-char token
    (900006, "héllo wörld çafé naïve détente über straße", "de", "src5"),
    (900007, "模型 训练 数据 去重 质量 评估 然后 再来 一些 词元", "zh", "src6"),
    (900008, "🙂 emoji 🚀 tokens 🌍 mixed ascii too yes ok", "en", "src7"),
    (900009, "مرحبا بالعالم هذا نص تجريبي قصير للاختبار فقط حسنا نعم", "en", "src8"),
    (900010, "dup dup dup a duplicate pair body here ok", "en", "src9"),
    (900011, "dup dup dup a duplicate pair body here ok", "en", "src9"),
    (900012, "dup dup dup a duplicate pair body here no", "en", "src9"),  # near-dup
    (900013, "  leading and   multiple   spaces inside here ok", "en", "src10"),
    (900014, ("tok " * 300).strip(), "en", "src11"),  # 300x same token
    (900015, "UPPER lower MiXeD CASE tokens for case folds", "es", "src12"),
    (900016, "123 456 7.89 1e10 -42 0x1f numbers only here", "en", "src13"),
    # NULL text (failed scrape) with NULL lang/source metadata
    (900017, None, None, None),
    # Deliberately ABSENT: a reused doc_id with conflicting content.
    # doc_id uniqueness is an ingest contract, not dirt the engine
    # absorbs: "per document" is undefined under a PK violation (the
    # engines legitimately disagree on whether two same-id rows are one
    # doc or two), and enforcing keeper-dedup inside every scan would
    # tax every op with a shuffle. Duplicate RESOLUTION is a pipeline
    # stage (llm_dedup_exact / llm_dedup_cluster_keeper), and physical
    # audits (scan_file_metadata) catch out-of-order id reuse.
]

def _sql_str(v: str | None) -> str:
    return "CAST(NULL AS VARCHAR)" if v is None else "'" + v.replace("'", "''") + "'"


_ADVERSARIAL = (
    "SELECT doc_id, text, lang, source,\n"
    "       CAST(LENGTH(text) AS BIGINT) AS n_chars\n"
    "FROM (VALUES "
    + ",\n".join(
        f"({d}, {_sql_str(txt)}, {_sql_str(lang)}, {_sql_str(src)})"
        for d, txt, lang, src in _ROWS
    )
    + ") v(doc_id, text, lang, source)"
)


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degenerate_sf"))
    return build_augmented_dir(out, "documents", _ADVERSARIAL)


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duck_views(adv_dir)
    yield con
    con.close()


def _doc_ops():
    llm = {n for n, op in REGISTRY.items() if op.category == "llm"}
    return sorted(llm | set(ops_reading("documents")))


@pytest.mark.parametrize("name", _doc_ops())
def test_doc_op_survives_degenerate_text(name, spark, adv_dir, adv_duck):
    assert_op_matches(REGISTRY[name], spark, adv_dir, adv_duck)


def test_snapshot_manifest_keeps_null_doc_id_row(spark, tmp_path):
    """A NULL doc_id hashes as '' in the manifest fingerprint, as DuckDB
    CONCAT does, instead of dropping the row from the digest."""
    adv = build_augmented_dir(
        str(tmp_path), "documents",
        "SELECT CAST(NULL AS BIGINT), 'orphan text', 'en', 'src0', "
        "CAST(11 AS BIGINT)",
    )
    con = duck_views(adv)
    try:
        assert_op_matches(REGISTRY["hb_snapshot_manifest"], spark, adv, con)
    finally:
        con.close()
