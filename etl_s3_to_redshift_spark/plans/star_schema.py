"""The reference-equivalent star-schema build, Spark-first.

Rebuilds every INSERT-SELECT of the reference (sql_queries.py:132-190) as a
lazy DataFrame plan over the two staged inputs, in the reference's own
insert order (sql_queries.py:197): songplay, users, songs, artists, time.

Faithfulness notes (SURVEY.md §5, §7):
- NO ``page = 'NextSong'`` filter — this fork of the Sparkify pipeline does
  not filter (8,056 songplays = all staged events, test_etl.ipynb cell-8/9).
- NO surrogate key on the fact (README.md:52 is wrong vs the DDL).
- DISTINCT dedups the full projected tuple, not by key (sql_queries.py:157).
- The 3-key join keeps decimal keys decimal (duration numeric(12,6) =
  length numeric(12,4), sql_queries.py:150) — cross-scale decimal equality.
- The songs dimension is broadcast, mirroring ``diststyle all``
  (sql_queries.py:85,95,105,116; README.md:75): at 100 TB the events fact
  never shuffles for this join.

The full-refresh lifecycle of etl.py:22-34 (drop/create/copy/insert/drop
staging) collapses to: read → build plans → ``write(mode='overwrite')``.

Unlike etl.py:55-109, which runs the INSERT-SELECTs one after another,
``run_pipeline`` writes the five independent tables concurrently; its
docstring gives the failure semantics and why the write threads must
inherit the caller's Spark local properties.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import InheritableThread

from etl_s3_to_redshift_spark.operators.relational import (
    date_parts,
    distinct_projection,
    multi_key_left_join,
)
from etl_s3_to_redshift_spark.sources.json_source import read_events_json, read_songs_json
from etl_s3_to_redshift_spark.sources.sinks import write_parquet


def build_songplay(events: DataFrame, songs: DataFrame) -> DataFrame:
    """Fact table (reference sql_queries.py:132-151).

    ``staging_events e LEFT OUTER JOIN staging_songs s ON
    s.artist_name = e.artist AND s.title = e.song AND s.duration = e.length``
    — unmatched events kept with NULL song_id/artist_id (the dominant case,
    test_etl.ipynb cell-9).
    """
    joined = multi_key_left_join(
        events,
        songs,
        on=[("artist", "artist_name"), ("song", "title"), ("length", "duration")],
        broadcast_right=True,
    )
    return joined.select(
        events["ts"].alias("start_time"),
        events["userId"].alias("user_id"),
        events["level"].alias("level"),
        songs["song_id"].alias("song_id"),
        songs["artist_id"].alias("artist_id"),
        events["sessionId"].cast("string").alias("session_id"),
        events["location"].alias("location"),
        events["userAgent"].alias("user_agent"),
    )


def build_users(events: DataFrame) -> DataFrame:
    """users dim (reference sql_queries.py:155-160): DISTINCT projected
    tuple, NULL userId rows dropped."""
    return distinct_projection(
        events,
        {
            "user_id": "userId",
            "first_name": "firstName",
            "last_name": "lastName",
            "gender": "gender",
        },
        not_null="userId",
    )


def build_songs(songs: DataFrame) -> DataFrame:
    """songs dim (reference sql_queries.py:163-168)."""
    return distinct_projection(
        songs,
        {
            "song_id": "song_id",
            "song_title": "title",
            "artist_id": "artist_id",
            "year": "year",
            "duration": "duration",
        },
        not_null="song_id",
    )


def build_artists(songs: DataFrame) -> DataFrame:
    """artists dim (reference sql_queries.py:171-177).

    The insert list puts latitude before longitude (sql_queries.py:172-174)
    while the DDL declares longitude first — name-based select makes the
    ordering question moot, but the lat/long → decimal(11,8) widening from
    the staged decimal(11,3) is kept (sql_queries.py:56-57 vs :103-104).
    """
    return distinct_projection(
        songs,
        {
            "artist_id": "artist_id",
            "artist_name": "artist_name",
            "artist_location": "artist_location",
            "artist_longitude": F.col("artist_longitude").cast("decimal(11,8)"),
            "artist_latitude": F.col("artist_latitude").cast("decimal(11,8)"),
        },
        not_null="artist_id",
    )


def build_time(events: DataFrame) -> DataFrame:
    """time dim (reference sql_queries.py:180-189): DISTINCT timestamps with
    extracted date parts. The reference applies DISTINCT to the projected
    tuple; all parts are functions of ts, so that equals DISTINCT ts
    (8,023 < 8,056 events in the reference's golden counts,
    test_etl.ipynb cell-17). Deduplicating ts first shuffles one column
    instead of six; the parts are derived after the exchange."""
    times = events.select(F.col("ts").alias("start_time")).distinct()
    return times.withColumns(date_parts("start_time"))


@dataclass
class StarSchema:
    songplay: DataFrame
    users: DataFrame
    songs: DataFrame
    artists: DataFrame
    time: DataFrame

    def tables(self) -> dict[str, DataFrame]:
        return {
            "songplay": self.songplay,
            "users": self.users,
            "songs": self.songs,
            "artists": self.artists,
            "time": self.time,
        }


def build_star_schema(events: DataFrame, songs: DataFrame) -> StarSchema:
    """All five outputs as lazy plans (reference insert order,
    sql_queries.py:197)."""
    return StarSchema(
        songplay=build_songplay(events, songs),
        users=build_users(events),
        songs=build_songs(songs),
        artists=build_artists(songs),
        time=build_time(events),
    )


# Sort keys mirror the reference DDL (sql_queries.py:68,81,90,100,110);
# on parquet they become row-group min/max stats → zone-map pruning.
SORT_KEYS = {
    "songplay": "start_time",
    "users": "user_id",
    "songs": "song_id",
    "artists": "artist_id",
    "time": "start_time",
}


def run_pipeline(
    spark: SparkSession,
    events_path: str,
    songs_path: str,
    out_dir: str,
) -> dict[str, str]:
    """End-to-end full refresh mirroring etl.py:55-109.

    read (COPY) → build (INSERT-SELECT) → overwrite-write (full refresh).
    Returns {table: output_path} in the reference insert order.

    The five tables are written at the same time, one thread each, so the
    dimension jobs use the cores the fact write leaves idle during its
    set-up, tail and commit. Fail-fast: any write exception propagates (the
    reference prints-and-returns, etl.py:70-106; raising is the honest
    Spark equivalent). All writes are waited for first, so no job outlives
    the call, and the first failure in insert order is raised.

    The threads are ``InheritableThread``s: Spark local properties are per
    thread, and a plain thread would submit its jobs outside the caller's
    job group and tags, invisible to ``cancelJobGroup`` and per-group
    metrics. ``InheritableThread.start`` copies them from the caller.
    ``inheritable_thread_target(spark)`` would copy the same, but when
    pinned-thread mode is off (``PYSPARK_PIN_THREAD=false``) it returns the
    session itself instead of a decorator, which then raises a TypeError.

    The staged frames are not persisted although three tables read each:
    caching the parsed events and songs measured no faster, alone or with
    the concurrent writes (perfbench ``etl_load`` seeds 11 and 12, 100k
    events on ``local[2]``: 3.28 vs 3.23 s and 2.78 vs 2.66 s with
    sequential writes; 2.14 vs 2.02 s and 2.55 vs 1.97 s with concurrent
    ones).
    """
    events = read_events_json(spark, events_path)
    songs = read_songs_json(spark, songs_path)
    tables = build_star_schema(events, songs).tables()
    out = {name: f"{out_dir}/{name}" for name in tables}

    failures: dict[str, BaseException] = {}

    def write(name: str) -> None:
        try:
            write_parquet(tables[name], out[name], sort_key=SORT_KEYS[name])
        except BaseException as exc:  # raised below, in the caller's thread
            failures[name] = exc

    threads = [InheritableThread(target=write, args=(name,), session=spark) for name in tables]
    for thread in threads:
        thread.start()
    for thread in threads:
        thread.join()
    for name in tables:
        if name in failures:
            raise failures[name]
    # Staging cleanup (etl.py:31-34) is implicit: the staged frames are
    # unreferenced lazy plans after this point — nothing was cached.
    return out
