"""Seeded benchmark inputs: the relational/text lake and the Sparkify JSON.

Everything here is a pure function of ``seed`` (NumPy + PyArrow, no Spark),
so the same seed gives byte-identical inputs. ``prepare`` caches them per
seed under the benchmark's work directory; generation time is benchmark
prep and is never part of a timed number.

The lake has the schema of the repo's testdata lake (TESTDATA.md: ten
tables, one parquet file each) at its sf0.01 row counts, with its value
distributions: uniform TPC-H-shaped keys and attributes, 30-word synthetic
documents with planted exact and near duplicates, and 64-d unit embeddings
weakly clustered by label. Row order and row-group size are seeded.

The Sparkify JSON follows the reference's two S3 inputs (see
``tests/fixtures_sparkify.py``): events with string ``userId`` including
``""``, epoch-millis ``ts`` and fractional ``registration``, numeric
``status``; songs with exact duplicate rows, duplicate artists, NULL
coordinates and ``year`` 0, and events whose (artist, song, length) match a
song on all three keys, including cross-scale decimals (length 4 places,
duration 6 places).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts of the testdata lake (documents and embeddings are the
# same 500 rows at sf0.001 and sf0.01).
LAKE_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "part": 2000,
    "customer": 1500,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
SPARKIFY_EVENTS = 100000
SPARKIFY_SONGS = 1000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    """Midnight timestamps ``lo..hi`` days after 1995-01-01 (µs, naive)."""
    us = _EPOCH_1995 + rng.integers(lo, hi + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    # ~5% near duplicates (a few words swapped) and ~1% exact copies of
    # earlier documents, so every dedup family has work to find.
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        words = texts[int(rng.integers(0, i))].split()
        for j in rng.choice(len(words), max(1, len(words) // 25), replace=False):
            words[j] = str(rng.choice(_WORDS))
        texts[i] = " ".join(words)
    for i in rng.choice(np.arange(1, n), n // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    vecs = 0.15 * centers[label] + rng.normal(size=(n, dim)) / np.sqrt(dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def lake_tables(seed: int) -> dict[str, pa.Table]:
    """The ten lake tables for ``seed`` (rows already in seeded order)."""
    rng = np.random.default_rng([seed, 1])
    n = LAKE_ROWS
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
                "p_name": [
                    f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                    for _ in range(n["part"])
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                "p_type": rng.choice(_PART_TYPES, n["part"]).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
                "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
                "o_orderdate": _days(rng, 0, 2404, n["orders"]),
                "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist(),
            }
        ),
    }
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    partkey = rng.integers(0, n["part"], nl)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, 1, 2499, nl),
        }
    )
    ne = n["events"]
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    # seeded row order: the engine must not rely on the generator's order
    return {
        name: t.take(pa.array(rng.permutation(t.num_rows)))
        for name, t in tables.items()
    }


def write_lake(out_dir: str, seed: int) -> dict[str, dict[str, int]]:
    """Write the lake for ``seed``; return ``{table: {rows, bytes}}``."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, table in lake_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        row_group = int(rng.integers(table.num_rows // 4 + 1, table.num_rows + 1))
        pq.write_table(table, path, row_group_size=row_group)
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return stats


def _sparkify_songs(rng: np.random.Generator, n: int) -> list[dict]:
    n_artists = max(1, n // 3)
    artists = [
        {
            "artist_id": f"AR{a:08d}",
            "artist_name": f"Artist {a}",
            "artist_location": f"City {int(rng.integers(0, 200))}",
            # three decimals: the staged decimal(11,3) scale, so no
            # engine-specific rounding on read
            "artist_latitude": None if rng.random() < 0.3 else round(float(rng.uniform(-60, 70)), 3),
            "artist_longitude": None if rng.random() < 0.3 else round(float(rng.uniform(-150, 150)), 3),
        }
        for a in range(n_artists)
    ]
    songs = []
    for s in range(n):
        artist = artists[int(rng.integers(0, n_artists))]
        songs.append(
            {
                "num_songs": 1,
                **artist,
                "song_id": f"SO{s:08d}",
                "title": f"Song {s}",
                "duration": round(float(rng.uniform(60, 600)), 4),
                "year": 0 if rng.random() < 0.3 else int(rng.integers(1960, 2019)),
            }
        )
    # exact duplicate rows: a matching event joins each copy
    for i in rng.choice(n, n // 50, replace=False):
        songs.append(dict(songs[int(i)]))
    return [songs[int(i)] for i in rng.permutation(len(songs))]


def _sparkify_events(rng: np.random.Generator, n: int, songs: list[dict]) -> list[dict]:
    base_ts = 1_541_000_000_000
    users = [
        (str(u), f"First{u}", f"Last{u}", "F" if u % 2 else "M", "paid" if u % 3 else "free")
        for u in range(1, 97)
    ]
    events = []
    for i in range(n):
        logged_in = rng.random() > 0.03
        uid, first, last, gender, level = users[int(rng.integers(0, len(users)))]
        played = logged_in and rng.random() < 0.8
        artist = song = length = None
        if played:
            if rng.random() < 0.3:
                # 3-key match; the event writes the length at 4 places
                s = songs[int(rng.integers(0, len(songs)))]
                artist, song, length = s["artist_name"], s["title"], s["duration"]
            else:
                artist = f"Artist {int(rng.integers(0, 5000))}"
                song = f"Song {int(rng.integers(0, 100000))}"
                length = round(float(rng.uniform(60, 600)), 4)
        events.append(
            {
                "artist": artist,
                "auth": "Logged In" if logged_in else "Logged Out",
                "firstName": first if logged_in else None,
                "gender": gender if logged_in else None,
                "itemInSession": int(rng.integers(0, 100)),
                "lastName": last if logged_in else None,
                "length": length,
                "level": level,
                "location": f"City {int(rng.integers(0, 200))}",
                "method": "PUT" if played else "GET",
                "page": "NextSong" if played else str(rng.choice(["Home", "Login", "Logout", "Settings"])),
                "registration": base_ts - int(rng.integers(0, 10**10)) + 0.5,
                "sessionId": int(rng.integers(1, 2000)),
                "song": song,
                "status": 200 if played else int(rng.choice([200, 307, 404])),
                # ~2% duplicate timestamps: the time dimension dedups them
                "ts": base_ts + int(rng.integers(0, n * 49) // 50) * 1000,
                "userAgent": f"Mozilla/5.0 (agent {int(rng.integers(0, 20))})",
                "userId": uid if logged_in else "",
            }
        )
    return events


def write_sparkify(out_dir: str, seed: int) -> dict[str, dict[str, int]]:
    """Write ``events.json`` and ``songs.json`` (line-delimited) for
    ``seed``; return ``{name: {rows, bytes}}``."""
    rng = np.random.default_rng([seed, 3])
    songs = _sparkify_songs(rng, SPARKIFY_SONGS)
    events = _sparkify_events(rng, SPARKIFY_EVENTS, songs)
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, rows in (("events", events), ("songs", songs)):
        path = os.path.join(out_dir, f"{name}.json")
        with open(path, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")
        stats[name] = {"rows": len(rows), "bytes": os.path.getsize(path)}
    return stats
