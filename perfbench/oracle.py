"""Expected outputs, computed with DuckDB during input prep.

Each expectation is ``{"columns", "rows", "digest"}``: the sorted column
names, the row count and a SHA-256 over the rows canonicalized exactly as
``tools/check_oracle.py`` does (that script is imported, not copied). A
query whose oracle is pinned to one scale (``oracle_sf``) or that DuckDB
cannot finish within ``ORACLE_BUDGET_S`` gets ``{"rows_only": reason}``
instead, and is checked for a non-empty result only.

``etl_load`` is checked against DuckDB SQL over the same JSON that mirrors
the reference's INSERT-SELECTs (``SPARKIFY_SQL``).
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os
import threading

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_BUDGET_S = 3.0


@functools.cache
def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def expectation(pdf: pd.DataFrame) -> dict:
    """Columns, row count and canonical-row digest of a result frame."""
    pdf = pdf.copy()
    for col in pdf.columns:
        # parquet written by Spark reads back tz-aware; DuckDB is naive UTC
        if isinstance(pdf[col].dtype, pd.DatetimeTZDtype):
            pdf[col] = pdf[col].dt.tz_convert("UTC").dt.tz_localize(None)
    rows = _check_oracle().canon_df(pdf)
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"columns": sorted(pdf.columns), "rows": len(rows), "digest": digest}


def verdict(expected: dict, got: dict) -> str | None:
    """None when ``got`` matches ``expected``, else the reason."""
    if "rows_only" in expected:
        return None if got["rows"] > 0 else "rows-only query returned 0 rows"
    for key in ("columns", "rows", "digest"):
        if expected[key] != got[key]:
            return f"{key} differ: expected {expected[key]!r}, got {got[key]!r}"
    return None


def _run(con, sql: str, budget_s: float) -> pd.DataFrame | None:
    """Run ``sql``; None if it does not finish within ``budget_s``."""
    timer = threading.Timer(budget_s, con.interrupt)
    timer.start()
    try:
        return con.sql(sql).df()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def _connect():
    con = duckdb.connect(
        config={
            "threads": 2,
            "memory_limit": "1GB",
            "temp_directory": os.path.join(ROOT, ".perfbench", "duckdb_tmp"),
        }
    )
    # keep DuckDB's progress bar off the benchmark's standard output
    con.execute("SET enable_progress_bar = false")
    return con


def lake_expectations(lake_dir: str, names: list[str]) -> dict[str, dict]:
    """Expected outputs of the registered queries ``names`` on the lake."""
    from etl_s3_to_redshift_spark.queries import REGISTRY, _load_extensions
    from etl_s3_to_redshift_spark.schemas import TESTDATA_TABLES

    _load_extensions()
    con = _connect()
    try:
        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{lake_dir}/{t}.parquet'")
        out = {}
        for name in names:
            spec = REGISTRY[name]
            if spec.oracle is None:
                out[name] = {"rows_only": "no oracle"}
            elif spec.oracle_sf is not None:
                out[name] = {"rows_only": f"oracle pinned to {spec.oracle_sf}"}
            else:
                pdf = _run(con, spec.oracle, ORACLE_BUDGET_S)
                out[name] = (
                    expectation(pdf)
                    if pdf is not None
                    else {"rows_only": f"DuckDB oracle over {ORACLE_BUDGET_S:g}s prep budget"}
                )
        return out
    finally:
        con.close()


# DuckDB twin of plans/star_schema.py, i.e. of the reference's
# INSERT-SELECTs: no page filter, DISTINCT over the projected tuple, the
# 3-key LEFT JOIN on staging songs with decimal keys, epoch-millis ts.
_SPARKIFY_VIEWS = """
CREATE VIEW staging_events AS SELECT * FROM read_json('{events}',
  format = 'newline_delimited',
  columns = {{artist: 'VARCHAR', auth: 'VARCHAR', firstName: 'VARCHAR',
    gender: 'VARCHAR', itemInSession: 'BIGINT', lastName: 'VARCHAR',
    length: 'DECIMAL(12,4)', level: 'VARCHAR', location: 'VARCHAR',
    method: 'VARCHAR', page: 'VARCHAR', registration: 'DOUBLE',
    sessionId: 'BIGINT', song: 'VARCHAR', status: 'BIGINT', ts: 'BIGINT',
    userAgent: 'VARCHAR', userId: 'VARCHAR'}});
CREATE VIEW staging_songs AS SELECT * FROM read_json('{songs}',
  format = 'newline_delimited',
  columns = {{num_songs: 'BIGINT', artist_id: 'VARCHAR',
    artist_latitude: 'DECIMAL(11,3)', artist_longitude: 'DECIMAL(11,3)',
    artist_location: 'VARCHAR', artist_name: 'VARCHAR', song_id: 'VARCHAR',
    title: 'VARCHAR', duration: 'DECIMAL(12,6)', year: 'BIGINT'}});
"""
SPARKIFY_SQL = {
    "songplay": """
        SELECT epoch_ms(e.ts) AS start_time, TRY_CAST(e.userId AS BIGINT) AS user_id,
               e.level, s.song_id, s.artist_id,
               CAST(e.sessionId AS VARCHAR) AS session_id, e.location,
               e.userAgent AS user_agent
        FROM staging_events e LEFT JOIN staging_songs s
          ON s.artist_name = e.artist AND s.title = e.song AND s.duration = e.length""",
    "users": """
        SELECT DISTINCT TRY_CAST(userId AS BIGINT) AS user_id, firstName AS first_name,
               lastName AS last_name, gender
        FROM staging_events WHERE TRY_CAST(userId AS BIGINT) IS NOT NULL""",
    "songs": """
        SELECT DISTINCT song_id, title AS song_title, artist_id, year, duration
        FROM staging_songs WHERE song_id IS NOT NULL""",
    "artists": """
        SELECT DISTINCT artist_id, artist_name, artist_location,
               CAST(artist_longitude AS DECIMAL(11,8)) AS artist_longitude,
               CAST(artist_latitude AS DECIMAL(11,8)) AS artist_latitude
        FROM staging_songs WHERE artist_id IS NOT NULL""",
    "time": """
        SELECT DISTINCT epoch_ms(ts) AS start_time, hour(epoch_ms(ts)) AS hour,
               day(epoch_ms(ts)) AS day, week(epoch_ms(ts)) AS week,
               month(epoch_ms(ts)) AS month, year(epoch_ms(ts)) AS year
        FROM staging_events""",
}


def sparkify_expectations(json_dir: str) -> dict[str, dict]:
    """Expected star-schema tables of ``run_pipeline`` on the JSON."""
    con = _connect()
    try:
        con.execute(
            _SPARKIFY_VIEWS.format(
                events=os.path.join(json_dir, "events.json"),
                songs=os.path.join(json_dir, "songs.json"),
            )
        )
        # through Arrow, so decimals stay Decimal as in the parquet Spark
        # writes (DuckDB's .df() makes them float: 139.0 vs 139)
        return {
            name: expectation(con.sql(sql).arrow().to_pandas())
            for name, sql in SPARKIFY_SQL.items()
        }
    finally:
        con.close()
