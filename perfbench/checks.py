"""Correctness checks, computed apart from the program.

Each ``check_*`` returns a list of human-readable problems; an empty list
means the output is right. The KPI oracle is the reference semantics written
out in DuckDB SQL over the same CSV files the program read; battery queries
are compared with their registered DuckDB oracles the way the repository's
parity tool compares them (column-name-sorted, row-sorted, exact values).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

STREAM_COLS = "{'user_id': 'BIGINT', 'track_id': 'VARCHAR', 'listen_time': 'VARCHAR'}"

# Reference semantics: lenient time parse (malformed -> NULL, row dropped),
# LEFT join on track_id keeping the genre fan-out, argmax tie-breaks
# popularity DESC NULLS LAST, track_name, track_id (genre) and play count
# DESC, artists (hour).
KPI_SQL = """
WITH streams AS (
    SELECT user_id, track_id, TRY_CAST(listen_time AS TIMESTAMP) AS ts
    FROM read_csv({streams}, header = true, columns = {cols})
),
songs AS (
    SELECT track_id, track_name, artists, track_genre, duration_ms, popularity
    FROM read_csv({songs}, header = true, all_varchar = true)
),
e AS (
    SELECT s.user_id, s.track_id, CAST(s.ts AS DATE) AS date, HOUR(s.ts) AS hour,
           g.track_name, g.artists, g.track_genre,
           CAST(g.duration_ms AS BIGINT) AS duration_ms,
           CAST(g.popularity AS INTEGER) AS popularity
    FROM streams s LEFT JOIN songs g USING (track_id)
    WHERE s.ts IS NOT NULL
)
"""

GENRE_SQL = KPI_SQL + """
SELECT CAST(date AS VARCHAR) AS date, track_genre,
       COUNT(track_id) AS listen_count,
       AVG(duration_ms) AS avg_duration_ms,
       AVG(popularity) AS popularity_index,
       FIRST(track_name ORDER BY popularity DESC NULLS LAST, track_name, track_id)
           AS most_popular_track,
       CAST(MAX(popularity) AS DOUBLE) AS most_popular_track_popularity
FROM e WHERE track_genre IS NOT NULL
GROUP BY date, track_genre
"""

HOURLY_SQL = KPI_SQL + """,
h AS (
    SELECT date, hour, COUNT(DISTINCT user_id) AS unique_listeners,
           CAST(COUNT(DISTINCT track_id) AS DOUBLE) / COUNT(track_id) AS track_diversity_index
    FROM e GROUP BY date, hour
),
a AS (
    SELECT date, hour, FIRST(artists ORDER BY n DESC, artists) AS top_artist
    FROM (SELECT date, hour, artists, COUNT(track_id) AS n FROM e
          WHERE artists IS NOT NULL GROUP BY ALL)
    GROUP BY date, hour
)
SELECT CAST(h.date AS VARCHAR) AS date, h.hour, h.unique_listeners, a.top_artist,
       h.track_diversity_index
FROM h LEFT JOIN a USING (date, hour)
"""


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def kpi_oracle(stream_files: list[str], songs_file: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    con = duckdb.connect()
    try:
        args = dict(streams=_sql_list(stream_files), songs=f"'{songs_file}'", cols=STREAM_COLS)
        return (con.execute(GENRE_SQL.format(**args)).fetchdf(),
                con.execute(HOURLY_SQL.format(**args)).fetchdf())
    finally:
        con.close()


def read_warehouse_table(path: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        df = con.execute(
            f"SELECT * FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
        ).fetchdf()
    finally:
        con.close()
    df["date"] = df["date"].astype(str)
    return df


def _same_value(a, b) -> bool:
    if a is None or (isinstance(a, float) and math.isnan(a)):
        return b is None or (isinstance(b, float) and math.isnan(b))
    if isinstance(a, float) or isinstance(b, float):
        if b is None or (isinstance(b, float) and math.isnan(b)):
            return False
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    return str(a) == str(b)


def compare_keyed(name: str, got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Row-by-row comparison on ``keys``; doubles to 1e-9 relative."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return [f"{name}: columns {sorted(got.columns)} != {cols}"]
    if got.duplicated(keys).any():
        return [f"{name}: duplicate keys {got[got.duplicated(keys)][keys].head(3).values.tolist()}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    g = got.astype(object).where(got.notna(), None).sort_values(keys).reset_index(drop=True)
    w = want.astype(object).where(want.notna(), None).sort_values(keys).reset_index(drop=True)
    for c in cols:
        for i, (a, b) in enumerate(zip(g[c], w[c])):
            if not _same_value(a, b):
                return [f"{name}: {c} at {dict(zip(keys, w.loc[i, keys]))}: {a!r} != oracle {b!r}"]
    return []


def check_daily(warehouse: str, genre_want: pd.DataFrame, hourly_want: pd.DataFrame,
                expected_listens: dict[str, int]) -> list[str]:
    """The warehouse read-back equals the oracle, each date holds one copy,
    and per-date listen counts equal the generator's own count."""
    genre = read_warehouse_table(f"{warehouse}/genre_kpis")
    hourly = read_warehouse_table(f"{warehouse}/hourly_kpis")
    problems = compare_keyed("genre_kpis", genre, genre_want, ["date", "track_genre"])
    problems += compare_keyed("hourly_kpis", hourly, hourly_want, ["date", "hour"])
    sums = genre.groupby("date")["listen_count"].sum().to_dict()
    for date, n in expected_listens.items():
        if int(sums.get(date, 0)) != n:
            problems.append(f"genre_kpis: listen_count sum on {date} is {sums.get(date, 0)}, generator counted {n}")
    return problems


# ------------------------------------------------------------- parity form


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist") and not hasattr(v, "strip"):
        v = v.tolist()
        if not isinstance(v, list):
            return _canon(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        out[c] = s.map(_canon)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def compare_exact(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return [f"{name}: columns {list(a.columns)} != {list(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows, oracle {len(b)}"]
    neq = a != b
    if neq.any().any():
        c = next(c for c in a.columns if neq[c].any())
        i = neq[c].idxmax()
        return [f"{name}: {c}[{i}] = {a[c][i]!r}, oracle {b[c][i]!r}"]
    return []


def duckdb_over(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_served_pairs(served: pd.DataFrame, want: pd.DataFrame, members_ids: set[int],
                       erased: set[int]) -> list[str]:
    problems = compare_exact("served pairs", served, want)
    left = erased & (set(served["da"]) | set(served["db"]))
    if left:
        problems.append(f"erased doc_ids still in served pairs: {sorted(left)[:5]}")
    left = erased & members_ids
    if left:
        problems.append(f"erased doc_ids still in members: {sorted(left)[:5]}")
    return problems
