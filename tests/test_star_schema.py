"""Fidelity tests for the reference-equivalent star-schema build.

Each test pins a semantic documented in SURVEY.md §1/§5/§7 with a citation
into /root/reference."""

from __future__ import annotations

import datetime as dt
import threading
import time
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from etl_s3_to_redshift_spark.plans import star_schema as SS
from etl_s3_to_redshift_spark.sources.json_source import read_events_json, read_songs_json
from tests.fixtures_sparkify import BASE_TS, EXPECT, write_fixtures


@pytest.fixture(scope="module")
def star(spark, tmp_path_factory):
    events_path, songs_path = write_fixtures(tmp_path_factory.mktemp("sparkify"))
    events = read_events_json(spark, events_path)
    songs = read_songs_json(spark, songs_path)
    return SS.build_star_schema(events, songs)


def test_ingestion_casts(spark, tmp_path):
    """SURVEY §1: epoch-ms→timestamp, ''→NULL long, number→string."""
    events_path, _ = write_fixtures(tmp_path)
    events = read_events_json(spark, events_path)
    rows = events.orderBy("ts", "userId").collect()
    first = rows[0]
    # epochmillisecs conversion (reference sql_queries.py:123)
    assert first["ts"] == dt.datetime(2018, 10, 31, 15, 33, 20)
    # fractional-ms registration truncated, not errored
    assert first["registration"].microsecond == 0
    # ''→NULL (reference sql_queries.py:47 + README.md:42)
    logged_out = [r for r in rows if r["auth"] == "Logged Out"]
    assert logged_out and all(r["userId"] is None for r in logged_out)
    # number→varchar status (reference sql_queries.py:44)
    assert {r["status"] for r in rows} >= {"200", "307", "404"}
    # decimal length kept decimal (reference sql_queries.py:36)
    assert isinstance(events.schema["length"].dataType, T.DecimalType)


def test_songplay_no_page_filter_and_counts(star):
    """SURVEY §5: 8,056 songplays = ALL staged events — no 'NextSong'
    filter (test_etl.ipynb cell-8/9), Home/Login rows included."""
    assert star.songplay.count() == EXPECT["songplay_rows"]


def test_songplay_three_key_join(star):
    """Reference sql_queries.py:144-151: 3-key left outer join; decimal
    cross-scale equality (R3) matches 200.1234 == 200.123400 but not
    200.2; unmatched rows keep NULL ids."""
    rows = star.songplay.collect()
    matched = [r for r in rows if r["song_id"] is not None]
    assert len(matched) == EXPECT["matched_songplays"]
    assert matched[0]["song_id"] == "S1"
    assert matched[0]["artist_id"] == "A1"
    unmatched = [r for r in rows if r["song_id"] is None]
    assert all(r["artist_id"] is None for r in unmatched)


def test_songplay_schema_no_surrogate_key(star):
    """README.md:52 documents song_play_id but the DDL (sql_queries.py:66-77)
    has no such column — code wins."""
    assert star.songplay.columns == [
        "start_time", "user_id", "level", "song_id",
        "artist_id", "session_id", "location", "user_agent",
    ]


def test_users_dim_distinct_and_null_filter(star):
    """Reference sql_queries.py:155-160: DISTINCT tuple + userId NOT NULL."""
    rows = star.users.collect()
    assert len(rows) == EXPECT["users_rows"]
    assert all(r["user_id"] is not None for r in rows)


def test_songs_and_artists_dedup(star):
    """Reference sql_queries.py:163-177: full-row DISTINCT; lat/long widen
    to decimal(11,8) (sql_queries.py:103-104 vs :56-57)."""
    assert star.songs.count() == EXPECT["songs_rows"]
    artists = {r["artist_id"]: r for r in star.artists.collect()}
    assert len(artists) == EXPECT["artists_rows"]
    a1 = artists["A1"]
    assert a1["artist_latitude"] == Decimal("51.50000000")
    lat_type = star.artists.schema["artist_latitude"].dataType
    assert lat_type == T.DecimalType(11, 8)
    # null lat/long survive (nullable dims)
    assert artists["A2" if "A2" in artists else list(artists)[1]] is not None


def test_time_dim_distinct_timestamps(star):
    """DISTINCT collapses duplicate ts (reference golden: 8023 < 8056)."""
    rows = {r["start_time"]: r for r in star.time.collect()}
    assert len(rows) == EXPECT["time_rows"]
    t0 = dt.datetime(2018, 10, 31, 15, 33, 20)
    r = rows[t0]
    # extract parts (reference sql_queries.py:183-188); ISO week
    assert (r["hour"], r["day"], r["week"], r["month"], r["year"]) == (15, 31, 44, 10, 2018)


def test_time_dim_matches_tuple_distinct(spark):
    """build_time deduplicates ts before it derives the date parts; its rows
    equal the reference's DISTINCT over the projected tuple
    (sql_queries.py:180-189), duplicate and NULL ts included."""
    from pyspark.sql import functions as F

    from etl_s3_to_redshift_spark.operators.relational import date_parts

    t0 = dt.datetime(2018, 10, 31, 15, 33, 20)
    year_end = dt.datetime(2018, 12, 31, 23, 59, 59)  # ISO week 1 of 2019
    events = spark.createDataFrame(
        [(t0,), (t0,), (None,), (None,), (year_end,), (year_end,),
         (t0 + dt.timedelta(hours=1),)],
        "ts timestamp",
    )
    parts = date_parts("ts")
    tuple_distinct = events.select(
        F.col("ts").alias("start_time"),
        *[parts[p].alias(p) for p in ("hour", "day", "week", "month", "year")],
    ).distinct()
    got = SS.build_time(events)
    assert got.schema == tuple_distinct.schema
    rows = sorted(got.collect(), key=repr)
    assert rows == sorted(tuple_distinct.collect(), key=repr)
    assert len(rows) == 4


def test_csv_source_roundtrip(spark, tmp_path):
    """CSV source: explicit schema, ''→NULL, malformed→NULL (PERMISSIVE)."""
    from pyspark.sql import types as T

    from etl_s3_to_redshift_spark.sources.csv_source import read_csv

    p = tmp_path / "u.csv"
    p.write_text("user_id,name,score\n1,ada,3.5\n2,,\n,grace,bad\n")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rows = {r.name: r for r in read_csv(spark, str(p), schema).collect()}
    assert rows["ada"].score == 3.5
    assert rows[None].user_id == 2
    assert rows["grace"].user_id is None and rows["grace"].score is None


def test_full_pipeline_roundtrip(spark, tmp_path):
    """etl.py:55-109 equivalent: read → build → overwrite-write; outputs
    re-readable with expected cardinalities (full-refresh idempotency —
    run twice)."""
    events_path, songs_path = write_fixtures(tmp_path)
    out = str(tmp_path / "warehouse")
    for _ in range(2):  # idempotent full refresh (etl.py:22-29)
        paths = SS.run_pipeline(spark, events_path, songs_path, out)
    got = {name: spark.read.parquet(p).count() for name, p in paths.items()}
    assert got == {
        "songplay": EXPECT["songplay_rows"],
        "users": EXPECT["users_rows"],
        "songs": EXPECT["songs_rows"],
        "artists": EXPECT["artists_rows"],
        "time": EXPECT["time_rows"],
    }


def test_pipeline_writes_inherit_job_group(spark, tmp_path):
    """Every table is written from its own thread, which inherits the
    caller's local properties: the writes' jobs stay in the caller's job
    group, where cancelJobGroup and per-group metrics find them."""
    sc = spark.sparkContext
    events_path, songs_path = write_fixtures(tmp_path)
    group = f"star-schema-{tmp_path.name}"
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, "run_pipeline writes")
    try:
        SS.run_pipeline(spark, events_path, songs_path, str(tmp_path / "warehouse"))
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 5


def test_pipeline_fails_fast_after_all_writes(spark, tmp_path, monkeypatch):
    """A failed write is raised only once every write has ended, no writer
    thread outlives the call, and the first failure in insert order wins
    even when a later table fails first."""
    events_path, songs_path = write_fixtures(tmp_path)
    started, written = [], []

    def write_parquet(df, path, sort_key=None):
        name = path.rsplit("/", 1)[1]
        started.append(name)
        if name == "songs":
            time.sleep(0.2)
            raise RuntimeError("songs write failed")
        if name == "time":
            raise ValueError("time write failed")
        time.sleep(0.1)
        written.append(name)

    monkeypatch.setattr(SS, "write_parquet", write_parquet)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="songs write failed"):
        SS.run_pipeline(spark, events_path, songs_path, str(tmp_path / "warehouse"))
    assert sorted(started) == sorted(SS.SORT_KEYS)
    assert sorted(written) == ["artists", "songplay", "users"]
    assert [t for t in threading.enumerate() if t not in before] == []


def test_varchar_length_enforcement(spark):
    """Redshift COPY fidelity (reference sql_queries.py:30-47): the
    length-budget helper must reject overlong values like COPY's default
    and cut them like TRUNCATECOLUMNS."""
    import pytest as _pytest

    from etl_s3_to_redshift_spark.schemas import enforce_varchar_lengths

    df = spark.createDataFrame(
        [("M", "free", "200"), ("F", "paidpaidpaid", "307")],
        "gender string, level string, status string",
    )
    ok = df.filter(df.level == "free")
    # within budget: error mode passes rows through untouched
    assert enforce_varchar_lengths(ok, {"gender": 1, "level": 6, "status": 10}).count() == 1
    # overlong level: error mode aborts the load, naming the column
    with _pytest.raises(ValueError, match="level"):
        enforce_varchar_lengths(df, {"gender": 1, "level": 6, "status": 10})
    # TRUNCATECOLUMNS analogue: first n chars survive, schema unchanged
    got = {
        r.level for r in enforce_varchar_lengths(
            df, {"gender": 1, "level": 6, "status": 10}, mode="truncate"
        ).collect()
    }
    assert got == {"free", "paidpa"}


def test_csv_source_quarantines_corrupt_records(spark, tmp_path):
    """corrupt_col captures the raw unparseable line; clean rows split
    from the dead-letter set on corrupt_col IS NULL."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from etl_s3_to_redshift_spark.sources.csv_source import read_csv

    p = tmp_path / "u.csv"
    p.write_text("user_id,name,score\n1,ada,3.5\n,grace,bad\n2,alan,7.25\n")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = read_csv(spark, str(p), schema, corrupt_col="_bad").cache()
    clean = df.filter(F.col("_bad").isNull())
    dead = df.filter(F.col("_bad").isNotNull())
    try:
        assert {r.name for r in clean.collect()} == {"ada", "alan"}
        bad = dead.collect()
        assert len(bad) == 1 and bad[0]["_bad"] == ",grace,bad"
    finally:
        df.unpersist()
