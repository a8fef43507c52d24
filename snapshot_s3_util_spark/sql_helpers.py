"""Oracle-SQL building blocks shared across operator modules.

The DuckDB oracle views are registered over the RAW parquet files, so
`events.ts` arrives as TIMESTAMP_NS there; every oracle query must go
through :data:`EVENTS_REL` which truncates it to microseconds exactly
like the engine's `io.load_table` does (SURVEY.md §1.2).
"""

# Canonical events relation for oracle SQL (ns -> us truncation mirrors
# Spark's timestamp_micros(ts DIV 1000)).
EVENTS_REL = (
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
    "event_type, value, props FROM events)"
)


# Shared order-insensitive BIGINT-key fingerprint (scan_ignore_corrupt,
# sink_python_datasource, stream_cdc_upsert): md5 over the sorted keys,
# each zero-padded to 10 digits.  NOTE the pad width bounds the key
# domain at 1e10-1 — widen BOTH sides together if keys outgrow it
# (DuckDB LPAD truncates overlong inputs; Spark's does too).
KEYS_FP_SQL = (
    "MD5(STRING_AGG(LPAD(CAST({col} AS STRING), 10, '0'), ''"
    " ORDER BY {col}))"
)


def keys_fp_col(col: str):
    """Spark twin of :data:`KEYS_FP_SQL` (an aggregate expression)."""
    from pyspark.sql import functions as F

    return F.md5(
        F.concat_ws(
            "",
            F.expr(
                f"transform(array_sort(collect_list({col})),"
                f" x -> lpad(cast(x AS string), 10, '0'))"
            ),
        )
    )


def digests_fp_col(col: str):
    """Order-insensitive content fingerprint over per-row md5 hex digests
    (an aggregate expression): the Spark twin of the oracles'
    ``MD5(STRING_AGG(row_md5, '' ORDER BY row_md5))``.

    Each digest is unhexed inside the aggregate's argument, so the
    partial ``collect_list`` buffer that crosses the shuffle holds 16
    raw bytes per row instead of a 32-char string. Spark orders
    ``BinaryType`` by unsigned bytes, the same order as the lowercase
    hex text, so sorting the bytes and re-hexing them afterwards joins
    the digests in the oracle's order. NULL digests are skipped, and a
    group without digests gives ``md5('')``.
    """
    from pyspark.sql import functions as F

    return F.md5(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.unhex(col))),
                lambda x: F.lower(F.hex(x)),
            ),
            "",
        )
    )


# NULL-distinct field encoding for hash / fingerprint keys
# (fn_hash salted key, hb_snapshot_manifest row digest).  NULL and ''
# must produce different digests — a cell corrupted from '' to NULL
# (or vice versa) has to change the fingerprint.  Encoding:
#     NULL  -> 'N'
#     value -> 'V' || utf8_byte_len || ':' || value
# The byte-length prefix makes the encoding prefix-free, so multi-field
# concatenations cannot collide across field boundaries either (an
# embedded separator in one field can no longer masquerade as the
# boundary).  Byte length (OCTET_LENGTH over UTF-8) is used instead of
# character length because it is bit-identical between Spark and DuckDB
# for every Unicode input, astral planes included.
ND_FIELD_SQL = "COALESCE('V' || CAST(OCTET_LENGTH(ENCODE({col})) AS VARCHAR) || ':' || {col}, 'N')"


def nd_field_col(col):
    """Spark twin of :data:`ND_FIELD_SQL`.

    `concat` is NULL-propagating (any NULL argument nulls the whole
    result), so `coalesce(concat('V', len, ':', c), 'N')` lands on the
    'N' branch exactly when the field is NULL.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    c = col if isinstance(col, Column) else F.col(col)
    return F.coalesce(
        F.concat(
            F.lit("V"),
            F.length(F.encode(c, "UTF-8")).cast("string"),
            F.lit(":"),
            c,
        ),
        F.lit("N"),
    )
