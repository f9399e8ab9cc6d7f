"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from one integer
seed: the same seed writes byte-identical files, another seed writes other
files of the same shape. Two families:

* ``write_daily_drops`` — the product's own inputs: a songs dimension CSV
  and per-day stream drops of many CSV files (Zipf-skewed users and tracks,
  1–3 genres per track, ~1% malformed ``listen_time``, ~1% ``track_id``
  absent from songs). It returns the generator's own count of the rows each
  date must contribute to ``genre_kpis.listen_count``.
* ``write_tables`` — parquet tables with the schemas of the registry's
  test tables (``documents``, ``embeddings``, ``lineitem``, ``part``) for
  the query battery and the streaming index.

The songs dimension has the documented shape of the reference input
(SURVEY.md §6, BASELINE.md): the Spotify tracks dataset, ~114k rows of 21
columns over 114 genres, so ``genre_kpis`` holds ~114 rows a day.
"""

from __future__ import annotations

import datetime as dt
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

N_GENRES = 114
GENRES = tuple(f"genre-{i:03d}" for i in range(N_GENRES))
# Unparseable by Spark's try_to_timestamp and by DuckDB's TRY_CAST alike.
MALFORMED_TIMES = ("not-a-time", "n/a", "25:61:99", "2024-13-45 99:99:99", "never")
FIRST_DAY = dt.date(2024, 3, 1)
_B62 = np.array(list(string.digits + string.ascii_letters))

DAILY_SIZE = {
    # 89,700 tracks x mean fan-out 1.27 genres = ~114k songs rows
    "n_tracks": 89_700,
    "n_users": 50_000,
    "files_per_day": 8,
    "rows_per_file": 25_000,
    "malformed_share": 0.01,
    "unknown_share": 0.01,
}
TABLE_SIZE = {
    "documents": 600,
    "embeddings": 400,
    "lineitem": 20_000,
    "part": 1000,
}


def _zipf_choice(rng: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    """Ranks 0..n-1 drawn with P(k) ∝ 1/(k+1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def _track_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    ids = ["".join(row) for row in _B62[rng.integers(0, 62, size=(n, 22))]]
    return np.array(sorted(set(ids)))[rng.permutation(len(set(ids)))]


def _songs(rng: np.random.Generator, track_ids: np.ndarray) -> tuple[pa.Table, np.ndarray]:
    """Songs dimension: one row per (track, genre); returns the table and
    each track's genre count (the join fan-out)."""
    n = len(track_ids)
    fan = rng.choice([1, 2, 3], size=n, p=[0.78, 0.17, 0.05])
    n_art = max(2, n // 3)
    artists = np.array([f"Artist {i}" for i in range(n_art)], dtype=object)
    art = artists[rng.integers(0, n_art, n)]
    multi = rng.random(n) < 0.1
    art[multi] = [f"{a};{b}" for a, b in zip(art[multi], artists[rng.integers(0, n_art, multi.sum())])]
    # coarse popularity and a small name pool force argmax ties
    pop = (rng.integers(0, 21, n) * 5).astype(np.int32)
    name = np.array([f"Track {i}" for i in rng.integers(0, n // 3, n)], dtype=object)
    album = np.array([f"Album {i}" for i in rng.integers(0, 500, n)], dtype=object)
    album[rng.random(n) < 0.05] = None
    # up to three distinct genres per track: a first genre plus two distinct
    # nonzero offsets from it
    g = rng.integers(0, N_GENRES, n)
    d2 = rng.integers(1, N_GENRES, n)
    d3 = rng.integers(1, N_GENRES - 1, n)
    d3 += d3 >= d2
    genres = np.stack([g, (g + d2) % N_GENRES, (g + d3) % N_GENRES], axis=1)
    rep = np.repeat(np.arange(n), fan)
    genre = genres[np.arange(3) < fan[:, None]]  # row-major, as np.repeat
    m = len(rep)

    def unit(lo=0.0, hi=1.0):
        return np.round(lo + (hi - lo) * rng.random(n), 4)[rep]

    cols = {
        "id": np.arange(m, dtype=np.int64),
        "track_id": track_ids[rep],
        "artists": art[rep],
        "album_name": album[rep],
        "track_name": name[rep],
        "popularity": pop[rep],
        "duration_ms": rng.integers(60_000, 600_000, n)[rep],
        "explicit": (rng.random(n) < 0.2)[rep],
        "danceability": unit(),
        "energy": unit(),
        "song_key": rng.integers(0, 12, n).astype(np.int32)[rep],
        "loudness": unit(-60.0, 0.0),
        "mode": rng.integers(0, 2, n).astype(np.int32)[rep],
        "speechiness": unit(),
        "acousticness": unit(),
        "instrumentalness": unit(),
        "liveness": unit(),
        "valence": unit(),
        "tempo": unit(40.0, 220.0),
        "time_signature": rng.integers(3, 8, n).astype(np.int32)[rep],
        "track_genre": np.array(GENRES, dtype=object)[genre],
    }
    return pa.table(cols), fan


def write_daily_drops(root: str, seed: int, n_days: int, size: dict = DAILY_SIZE) -> dict:
    """Write ``root/songs/songs.csv`` and ``root/day_XX/part-NNN.csv``.

    Returns ``{"songs": dir, "days": [dir...], "dates": [iso...],
    "rows_per_day": int, "expected_listens": {iso_date: int}}`` where
    ``expected_listens`` counts, per date, the valid-time rows whose track is
    in songs, times that track's genre fan-out.
    """
    rng = np.random.default_rng([seed, 1])
    known = _track_ids(rng, size["n_tracks"] + 200)
    track_ids, unknown = known[: size["n_tracks"]], known[size["n_tracks"]:]
    songs, fan = _songs(rng, track_ids)
    songs_dir = os.path.join(root, "songs")
    os.makedirs(songs_dir, exist_ok=True)
    pacsv.write_csv(songs, os.path.join(songs_dir, "songs.csv"))
    track_rank = rng.permutation(len(track_ids))  # Zipf rank -> track index
    user_rank = rng.permutation(size["n_users"]) + 1
    out = {"songs": songs_dir, "days": [], "dates": [], "expected_listens": {}}
    n = size["rows_per_file"]
    for d in range(n_days):
        date = FIRST_DAY + dt.timedelta(days=d)
        day_dir = os.path.join(root, f"day_{d:02d}")
        os.makedirs(day_dir, exist_ok=True)
        expected = 0
        for f in range(size["files_per_day"]):
            users = user_rank[_zipf_choice(rng, size["n_users"], n)]
            tix = track_rank[_zipf_choice(rng, len(track_ids), n)]
            tracks = track_ids[tix]
            miss = rng.random(n) < size["unknown_share"]
            tracks[miss] = unknown[rng.integers(0, len(unknown), miss.sum())]
            secs = np.sort(rng.integers(0, 86_400, n))
            base = np.datetime64(date.isoformat(), "s")
            times = np.datetime_as_string(base + secs.astype("timedelta64[s]"), unit="s")
            times = np.char.replace(times, "T", " ").astype(object)
            bad = rng.random(n) < size["malformed_share"]
            times[bad] = np.array(MALFORMED_TIMES, dtype=object)[
                rng.integers(0, len(MALFORMED_TIMES), bad.sum())
            ]
            expected += int(fan[tix[~bad & ~miss]].sum())
            pacsv.write_csv(
                pa.table({"user_id": users.astype(np.int64), "track_id": tracks, "listen_time": times}),
                os.path.join(day_dir, f"part-{f:03d}.csv"),
            )
        out["days"].append(day_dir)
        out["dates"].append(date.isoformat())
        out["expected_listens"][date.isoformat()] = expected
    out["rows_per_day"] = n * size["files_per_day"]
    return out


_WORDS = (
    "stream play track genre album artist song tempo beat chorus verse mix "
    "radio live tour fan chart hit loop bass drum vocal guitar piano synth "
    "record label studio release single remix cover lyric melody rhythm "
    "night city dance dream love fire gold"
).split()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts with near-dup structure for the dedup operators.
    Every 25th document (4%) repeats the text of one of the 20 documents
    before it; those windows do not overlap, so each exact copy forms its
    own group. ~6% of the others are near copies (one or two words changed)
    of an earlier document."""
    vocab = np.array(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i % 25 == 24:
            texts.append(texts[i - 1 - rng.integers(0, 20)])
            continue
        if i > 10 and rng.random() < 0.06:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), rng.integers(1, 3)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))]))
    langs = np.array(["en", "en", "en", "en", "fr", "de", "es", "zh"], dtype=object)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": np.array([f"src{i}" for i in rng.integers(0, 20, n)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten label centroids, ~5% near copies."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, dim))
    v = centroids[labels] * 0.3 + rng.normal(size=(n, dim))
    near = np.flatnonzero(rng.random(n) < 0.05)
    near = near[near > 0]
    v[near] = v[rng.integers(0, near)] + rng.normal(scale=0.01, size=(len(near), dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels,
    })


def write_tables(root: str, seed: int, size: dict = TABLE_SIZE) -> str:
    """Write the parquet tables named in ``size`` into ``root`` and return
    it (an sf dir)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(root, exist_ok=True)
    n_part = size.get("part", TABLE_SIZE["part"])
    makers = {
        "documents": _documents,
        "embeddings": _embeddings,
        "part": _part,
        "lineitem": lambda r, n: _lineitem(r, n, n_part),
    }
    for name, n in size.items():
        pq.write_table(makers[name](rng, n), os.path.join(root, f"{name}.parquet"))
    return root


def _part(rng: np.random.Generator, n: int) -> pa.Table:
    nouns = np.array(["ring", "widget", "bolt", "gear", "valve", "panel", "pipe", "spring"], dtype=object)
    colors = np.array(["red", "blue", "green", "small", "large", "steel", "brass", "black"], dtype=object)
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{c} {w}" for c, w in zip(colors[rng.integers(0, 8, n)], nouns[rng.integers(0, 8, n)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": np.array(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"], dtype=object)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + rng.random(n) * 100, 1),
    })


def _lineitem(rng: np.random.Generator, n: int, n_part: int) -> pa.Table:
    ship0 = np.datetime64("1995-01-01T00:00:00", "us")
    return pa.table({
        "l_orderkey": rng.integers(0, n // 4, n).astype(np.int64),
        "l_partkey": _zipf_choice(rng, n_part, n, 0.8).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.random(n) * 90_000, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)],
        "l_shipdate": ship0 + (rng.integers(0, 2500, n) * 86_400_000_000).astype("timedelta64[us]"),
    })
