"""Log-line parsing: tokenize -> positional projection -> derived columns.

This one module replaces the reference's whole per-row Python path
(match_log s3access/serializer.py:5-10, transform_item
s3access/normalize.py:18-79) with a single Catalyst plan of built-in
expressions — no UDFs, fully whole-stage-codegen'd, so it scales linearly
with executors instead of being bound by a driver-side gather
(reference: cmd/export.py:97-134).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s3_access_logs_spark.functions.ip import ipv4_to_long
from s3_access_logs_spark.schema import (
    INT_SENTINEL_FIELDS,
    ISO_DATETIME_FORMAT,
    PY_WHITESPACE_CHARS,
    RAW_STRING_FIELDS,
    REQUEST_DATETIME_FORMAT,
    TOKEN_REGEX,
    WALL_CLOCK_FORMAT,
)


def tokenize(line: Column | str) -> Column:
    """One log line -> array of fields.

    Same semantics as the reference tokenizer (s3access/serializer.py:5-10):
    the line is whitespace-stripped first (Python str.strip parity — see
    PY_WHITESPACE_CHARS), ``"..."`` and ``[...]`` groups are single fields
    with delimiters stripped; an empty quoted field ``""`` is kept as the
    literal two-char token; runs of spaces collapse.
    """
    c = F.col(line) if isinstance(line, str) else line
    stripped = F.btrim(c, F.lit(PY_WHITESPACE_CHARS))
    raw = F.regexp_extract_all(stripped, F.lit(TOKEN_REGEX), 0)
    return F.transform(raw, _strip_delimiters)


def _strip_delimiters(tok: Column) -> Column:
    inner = F.substring(tok, 2, F.length(tok) - F.lit(2))
    quoted = tok.startswith('"') & tok.endswith('"') & (F.length(tok) > 2)
    bracketed = tok.startswith("[") & tok.endswith("]") & (F.length(tok) > 2)
    return F.when(quoted | bracketed, inner).otherwise(tok)


def _int_sentinel(c: Column) -> Column:
    """'-' -> 0, else cast to long; malformed -> NULL, not an ANSI error
    (reference: s3access/normalize.py:9-15 — int('x') would raise there)."""
    return F.when(c == "-", F.lit(0).cast("long")).otherwise(c.try_cast("long"))


def project_fields(df: DataFrame, fields_col: str = "fields") -> DataFrame:
    """Positional -> named projection of the 24 raw fields
    (reference: s3access/normalize.py:23-48). Lines with fewer tokens yield
    NULLs via try_element_at (the reference would raise IndexError, and
    Spark's ANSI-mode element_at would too — documented fix)."""
    cols = []
    for i, name in enumerate(RAW_STRING_FIELDS):
        c = F.try_element_at(F.col(fields_col), F.lit(i + 1))
        if name in INT_SENTINEL_FIELDS:
            c = _int_sentinel(c)
        cols.append(c.alias(name))
    return df.select(*cols)


def with_derived_columns(df: DataFrame) -> DataFrame:
    """Add the 11 derived columns (reference: s3access/normalize.py:50-79).

    Parity note: the reference derives year..second and the ISO string from
    the *offset-aware* datetime (normalize.py:58-64), i.e. in the log line's
    original UTC offset, while ``ts`` is the absolute epoch. We reproduce
    that exactly: wall-clock parts come from the string's first 20 chars
    (format is fixed-width 'dd/MMM/yyyy:HH:mm:ss'), the offset suffix is
    reformatted '+0000' -> '+00:00' for isoformat parity, and only the
    epoch uses the zoned parse.

    ``is_user`` keeps the reference quirk of a plain substring match: an
    assumed-role ARN containing 'user' sets both flags
    (s3access/normalize.py:76-77), and the exported table must agree with
    the reference's row for row.
    """
    ts_ts = F.try_to_timestamp(
        "requestdatetime", F.lit(REQUEST_DATETIME_FORMAT)
    )
    wall = F.try_to_timestamp(
        F.substring("requestdatetime", 1, 20), F.lit(WALL_CLOCK_FORMAT)
    )
    offset_iso = F.concat(
        F.substring("requestdatetime", 22, 3),
        F.lit(":"),
        F.substring("requestdatetime", 25, 2),
    )
    return (
        df.withColumn("ts_ts", ts_ts)
        .withColumn("wall_ts", wall)
        .withColumns(
            {
                "ts": F.unix_timestamp("ts_ts"),
                "year": F.year("wall_ts").cast("long"),
                "month": F.month("wall_ts"),
                "day": F.dayofmonth("wall_ts"),
                "hour": F.hour("wall_ts"),
                "minute": F.minute("wall_ts"),
                "second": F.second("wall_ts"),
                "datetime": F.concat(
                    F.date_format("wall_ts", ISO_DATETIME_FORMAT), offset_iso
                ),
                "remoteip_int": ipv4_to_long("remoteip"),
                "is_assumed_role": F.coalesce(
                    F.col("requester").contains("assumed-role"), F.lit(False)
                ),
                "is_user": F.coalesce(
                    F.col("requester").contains("user"), F.lit(False)
                ),
            }
        )
        .drop("wall_ts")
    )


def parse_logs(
    df: DataFrame,
    line_col: str = "value",
    keep_native_ts: bool = False,
) -> DataFrame:
    """Full parse pipeline: raw-line DataFrame -> 35-column parsed table.

    ``keep_native_ts`` additionally keeps the TimestampType column ``ts_ts``
    (engine extension — enables watermarks and native time predicates).
    """
    out = with_derived_columns(
        project_fields(df.select(tokenize(line_col).alias("fields")))
    )
    return out if keep_native_ts else out.drop("ts_ts")
