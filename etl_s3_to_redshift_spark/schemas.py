"""Explicit schemas for the JSON ingestion path, which never infers one
(JSON inference is a full extra pass over the data; at 100 TB that is a
second scan of the lake). Parquet lake reads (``sources/tables.py``)
take the schema from the file footers: inferred once per file version
and session, then passed to every later read.

Staging schemas mirror the reference DDL:
- staging_events: reference sql_queries.py:28-49 (+ the JSONPaths column
  map of sql_queries.py:121-124 collapses to name-based matching in Spark).
- staging_songs:  reference sql_queries.py:51-64 (``json 'auto'`` mode).

Raw schemas describe the JSON *as it arrives* (types per the samples at
reference README.md:31-42); the staged schemas describe the typed tables
after the implicit ingestion casts (SURVEY.md §1):
- ts / registration: epoch milliseconds (number) → timestamp
  (reference sql_queries.py:123 ``timeformat as 'epochmillisecs'``)
- userId: JSON string, "" → NULL int (reference sql_queries.py:47)
- status: JSON number → string (reference sql_queries.py:44)
- length/duration: decimal join keys kept as DecimalType end-to-end —
  reading them as double changes join cardinality (reference
  sql_queries.py:36,61,150).

IntegerType columns from the reference DDL are widened to LongType where
they are ids (100 TB scale: int32 ids overflow / collide).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Raw JSON shapes (what spark.read.json sees on disk)
# --------------------------------------------------------------------------

EVENTS_RAW = T.StructType(
    [
        T.StructField("artist", T.StringType()),
        T.StructField("auth", T.StringType()),
        T.StructField("firstName", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("itemInSession", T.LongType()),
        T.StructField("lastName", T.StringType()),
        T.StructField("length", T.DecimalType(12, 4)),
        T.StructField("level", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("page", T.StringType()),
        T.StructField("registration", T.DoubleType()),  # epoch ms, may be fractional
        T.StructField("sessionId", T.LongType()),
        T.StructField("song", T.StringType()),
        T.StructField("status", T.LongType()),  # JSON number; staged as string
        T.StructField("ts", T.LongType()),  # epoch ms
        T.StructField("userAgent", T.StringType()),
        T.StructField("userId", T.StringType()),  # JSON string, may be ""
    ]
)

SONGS_RAW = T.StructType(
    [
        T.StructField("num_songs", T.LongType()),
        T.StructField("artist_id", T.StringType()),
        T.StructField("artist_latitude", T.DecimalType(11, 3)),
        T.StructField("artist_longitude", T.DecimalType(11, 3)),
        T.StructField("artist_location", T.StringType()),
        T.StructField("artist_name", T.StringType()),
        T.StructField("song_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("duration", T.DecimalType(12, 6)),
        T.StructField("year", T.LongType()),
    ]
)

# --------------------------------------------------------------------------
# Staged (typed) shapes — after ingestion casts. Mirrors reference DDL.
# --------------------------------------------------------------------------

STAGING_EVENTS = T.StructType(
    [
        T.StructField("artist", T.StringType()),
        T.StructField("auth", T.StringType()),
        T.StructField("firstName", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("itemInSession", T.LongType()),
        T.StructField("lastName", T.StringType()),
        T.StructField("length", T.DecimalType(12, 4)),
        T.StructField("level", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("page", T.StringType()),
        T.StructField("registration", T.TimestampType()),
        T.StructField("sessionId", T.LongType()),
        T.StructField("song", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("userAgent", T.StringType()),
        T.StructField("userId", T.LongType()),
    ]
)

STAGING_SONGS = SONGS_RAW  # 'auto' mode: staged shape == raw shape

# --------------------------------------------------------------------------
# Star-schema outputs (reference sql_queries.py:66-117; FIXTURES.md §A3).
# Faithful: no surrogate key on the fact (README.md:52 documents one but the
# DDL at sql_queries.py:66-77 does not have it — code wins).
# --------------------------------------------------------------------------

SONGPLAY = T.StructType(
    [
        T.StructField("start_time", T.TimestampType(), False),
        T.StructField("user_id", T.LongType()),
        T.StructField("level", T.StringType()),
        T.StructField("song_id", T.StringType()),
        T.StructField("artist_id", T.StringType()),
        T.StructField("session_id", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("user_agent", T.StringType()),
    ]
)

USERS = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("gender", T.StringType()),
    ]
)

SONGS = T.StructType(
    [
        T.StructField("song_id", T.StringType(), False),
        T.StructField("song_title", T.StringType()),
        T.StructField("artist_id", T.StringType()),
        T.StructField("year", T.LongType()),
        T.StructField("duration", T.DecimalType(12, 6)),
    ]
)

ARTISTS = T.StructType(
    [
        T.StructField("artist_id", T.StringType(), False),
        T.StructField("artist_name", T.StringType()),
        T.StructField("artist_location", T.StringType()),
        T.StructField("artist_longitude", T.DecimalType(11, 8)),
        T.StructField("artist_latitude", T.DecimalType(11, 8)),
    ]
)

TIME = T.StructType(
    [
        T.StructField("start_time", T.TimestampType(), False),
        T.StructField("hour", T.IntegerType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("week", T.IntegerType()),
        T.StructField("month", T.IntegerType()),
        T.StructField("year", T.IntegerType()),
    ]
)

# --------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md / FIXTURES.md §B) — read-only parquet.
# --------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension-sized tables that mirror the reference's ``diststyle all``
# replication (reference sql_queries.py:85,95,105,116; README.md:75):
# always broadcast these in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "customer", "part"})

# --------------------------------------------------------------------------
# varchar(n)/char(n) length budgets from the reference DDL. Spark strings
# are unbounded, so these are not enforced by the schemas above; callers
# that need Redshift-COPY fidelity apply enforce_varchar_lengths before a
# warehouse write.
# --------------------------------------------------------------------------

VARCHAR_LENGTHS: dict[str, dict[str, int]] = {
    # reference sql_queries.py:30-47
    "staging_events": {"gender": 1, "level": 6, "status": 10},
    # reference sql_queries.py:83 (users.gender char(1))
    "users": {"gender": 1},
}


def enforce_varchar_lengths(df, lengths: dict[str, int], mode: str = "error"):
    """Apply the reference DDL's varchar(n)/char(n) budgets to a frame.

    Redshift COPY semantics (reference sql_queries.py:121-128 loads into
    the length-constrained staging DDL at :30-47):
    - ``mode="error"``: a too-long value aborts the load (COPY's default
      behavior) → raises ``ValueError`` naming the column, after ONE
      validation pass (an any-over-max aggregate, not a collect).
    - ``mode="truncate"``: COPY's TRUNCATECOLUMNS option → values are cut
      to the first n characters.

    Caveat, documented rather than emulated: Redshift counts BYTES of the
    UTF-8 encoding, Spark ``substring`` counts characters — identical for
    the reference's ASCII data; multi-byte text would need a byte-sliced
    variant. char(n) pad semantics (blank-padding) are not emulated:
    Redshift strips trailing blanks on comparison, so padding is
    unobservable in query results.
    """
    from pyspark.sql import functions as F

    if mode not in ("error", "truncate"):
        raise ValueError(f"mode must be 'error' or 'truncate', got {mode!r}")
    present = {c: n for c, n in lengths.items() if c in df.columns}
    if mode == "error":
        checks = df.agg(
            *[
                F.max(F.when(F.length(F.col(c)) > n, F.length(F.col(c))).otherwise(0)).alias(c)
                for c, n in present.items()
            ]
        ).collect()[0]
        bad = {c: checks[c] for c, n in present.items() if checks[c] > n}
        if bad:
            detail = ", ".join(f"{c} (max {ln} > varchar({present[c]}))" for c, ln in bad.items())
            raise ValueError(f"varchar length violation: {detail}")
        return df
    return df.select(
        *[
            F.substring(F.col(c), 1, present[c]).alias(c) if c in present else F.col(c)
            for c in df.columns
        ]
    )
