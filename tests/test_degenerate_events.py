"""Degenerate-events gauntlet: every events-reading op vs adversarial rows.

The sf0.001 events fixture is statistically friendly in ways real
telemetry never is: no (user_id, ts) timestamp ties, no NULL values,
every value strictly positive (0.03..327.53), every user has dozens of
events, and every props string is valid JSON. Each of those is a
divergence class the round-7/8 corpus gauntlet caught for documents
(negative slice lengths, NULL-vs-0 fold seeds) — this module applies
the same discipline to the events table:

- a user with a SINGLE event (n-1 = 0 variance denominators),
- a zero-variance user (constant value — Levene/KW/z-score ties),
- four events at the SAME timestamp (window ORDER BY ties: offsets
  like lag/lead must be tiebroken deterministically in both engines),
- zero / negative / tiny / large values (log and sqrt domains, ratio
  denominators; large capped at ~1e4 so 6-decimal canonical rounding
  stays inside double summation error at fixture scale),
- a NULL value, an unseen event_type, and malformed / empty / NULL
  props JSON.

Contract per gauntlet_common: Spark must not raise AND oracle ops stay
hash-exact on the augmented table.
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

# (event_id, ts, user_id, event_type, value, props); fixture maxima are
# event_id 999 / user_id 14, so 9xxxxx ids are disjoint new groups.
_ADVERSARIAL = """
SELECT * FROM (VALUES
  -- singleton user: one event, no second point for any delta/variance
  (900001, TIMESTAMP '2024-01-02 00:00:00', 9001, 'click',  50.0,   '{"k": 1}'),
  -- zero-variance user: six constant values, regular spacing
  (900002, TIMESTAMP '2024-01-02 01:00:00', 9002, 'view',   10.0,   '{"k": 2}'),
  (900003, TIMESTAMP '2024-01-02 01:01:00', 9002, 'view',   10.0,   '{"k": 2}'),
  (900004, TIMESTAMP '2024-01-02 01:02:00', 9002, 'view',   10.0,   '{"k": 2}'),
  (900005, TIMESTAMP '2024-01-02 01:03:00', 9002, 'view',   10.0,   '{"k": 2}'),
  (900006, TIMESTAMP '2024-01-02 01:04:00', 9002, 'view',   10.0,   '{"k": 2}'),
  (900007, TIMESTAMP '2024-01-02 01:05:00', 9002, 'view',   10.0,   '{"k": 2}'),
  -- timestamp ties: four events, one instant (ORDER BY ts is ambiguous)
  (900008, TIMESTAMP '2024-01-02 06:00:00', 9003, 'purchase', 7.5,  '{"k": 3}'),
  (900009, TIMESTAMP '2024-01-02 06:00:00', 9003, 'purchase', 7.5,  '{"k": 3}'),
  (900010, TIMESTAMP '2024-01-02 06:00:00', 9003, 'purchase', 7.5,  '{"k": 3}'),
  (900011, TIMESTAMP '2024-01-02 06:00:00', 9003, 'purchase', 7.5,  '{"k": 3}'),
  -- value-domain stress: zero, negative, tiny, large, ordinary
  (900012, TIMESTAMP '2024-01-02 12:00:00', 9004, 'error',  0.0,    '{"k": 4}'),
  (900013, TIMESTAMP '2024-01-02 12:01:00', 9004, 'error', -5.5,    '{"k": 4}'),
  (900014, TIMESTAMP '2024-01-02 12:02:00', 9004, 'error',  1e-9,   '{"k": 4}'),
  (900015, TIMESTAMP '2024-01-02 12:03:00', 9004, 'error',  9999.25,'{"k": 4}'),
  (900016, TIMESTAMP '2024-01-02 12:04:00', 9004, 'error',  250.0,  '{"k": 4}'),
  -- NULL value, unseen event_type, malformed / empty / NULL props
  (900017, TIMESTAMP '2024-01-02 18:00:00', 9005, 'signup', NULL,   '{bad'),
  (900018, TIMESTAMP '2024-01-02 18:01:00', 9005, 'unseen_kind', 42.0, ''),
  (900019, TIMESTAMP '2024-01-02 18:02:00', 9005, 'click',  42.0,   NULL),
  -- NULL value on a 'purchase': the click/purchase-filtered rank ops
  -- (agg_ks_test) never see row 900017's signup NULL, so they need
  -- their own NULL observation to pin the exclusion rule
  (900022, TIMESTAMP '2024-01-02 18:03:00', 9005, 'purchase', NULL, '{"k": 9}'),
  -- epoch-straddling user: NEGATIVE unix micros. The real catch here
  -- was the streaming watermark floor (a watermark initializes at
  -- epoch zero, so pre-1970 rows are dropped as late); it also keeps
  -- epoch-sign arithmetic honest in grid/bucket math, though both
  -- engines' integer division truncates toward zero identically.
  (900020, TIMESTAMP '1969-12-31 23:58:00', 9006, 'view',   5.0,    '{"k": 5}'),
  (900021, TIMESTAMP '1970-01-01 00:02:00', 9006, 'view',   6.0,    '{"k": 5}')
) v(event_id, ts, user_id, event_type, value, props)
"""


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degenerate_events"))
    return build_augmented_dir(out, "events", _ADVERSARIAL)


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duck_views(adv_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ops_reading("events"))
def test_events_op_survives_degenerate_rows(name, spark, adv_dir, adv_duck):
    assert_op_matches(REGISTRY[name], spark, adv_dir, adv_duck)


# One event with a NULL user_id. The content fingerprints hash it as
# DuckDB's CONCAT does (NULL as ''), so the row stays in the digest
# instead of being dropped (Spark's concat) or losing its separator
# (concat_ws without coalesce).
_NULL_USER = """
SELECT * FROM (VALUES
  (900030, TIMESTAMP '2024-01-02 20:00:00', CAST(NULL AS BIGINT), 'click',
   3.0, '{"k": 6}')
) v(event_id, ts, user_id, event_type, value, props)
"""

_FINGERPRINT_OPS = (
    "hb_export_import_cycle",
    "hb_manifest_verify",
    "hb_time_travel_read",
    "sink_format_matrix",
    "stream_foreach_batch_export",
)


@pytest.fixture(scope="module")
def null_user_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("null_user_events"))
    return build_augmented_dir(out, "events", _NULL_USER)


@pytest.mark.parametrize("name", _FINGERPRINT_OPS)
def test_fingerprint_keeps_null_key_row(name, spark, null_user_dir):
    con = duck_views(null_user_dir)
    try:
        assert_op_matches(REGISTRY[name], spark, null_user_dir, con)
    finally:
        con.close()
