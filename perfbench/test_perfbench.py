"""The benchmark's own tests: tiny inputs, no Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

TINY_DAILY = dict(gen.DAILY_SIZE, n_tracks=60, n_users=200, files_per_day=2, rows_per_file=400)
TINY_TABLES = dict(documents=60, embeddings=40, lineitem=300, part=50)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dp, dns, fs in sorted(os.walk(root)):
        dns.sort()
        for f in sorted(fs):
            h.update(os.path.relpath(os.path.join(dp, f), root).encode())
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_daily_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_daily_drops(str(tmp_path / "a"), 5, 2, TINY_DAILY)
    b = gen.write_daily_drops(str(tmp_path / "b"), 5, 2, TINY_DAILY)
    c = gen.write_daily_drops(str(tmp_path / "c"), 6, 2, TINY_DAILY)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a["expected_listens"] == b["expected_listens"]
    assert len(os.listdir(a["days"][0])) == TINY_DAILY["files_per_day"]


def test_table_generator_is_deterministic_per_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5, TINY_TABLES)
    gen.write_tables(str(tmp_path / "b"), 5, TINY_TABLES)
    gen.write_tables(str(tmp_path / "c"), 6, TINY_TABLES)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def _write_warehouse(root: str, table: str, df: pd.DataFrame, copies: int = 1) -> None:
    for date, part in df.groupby("date"):
        d = os.path.join(root, table, f"date={date}")
        os.makedirs(d, exist_ok=True)
        t = pa.Table.from_pandas(part.drop(columns="date"), preserve_index=False)
        for i in range(copies):
            pq.write_table(t, os.path.join(d, f"part-{i}.parquet"))


@pytest.fixture
def daily(tmp_path):
    drops = gen.write_daily_drops(str(tmp_path / "drops"), 3, 2, TINY_DAILY)
    files = sorted(os.path.join(d, f) for d in drops["days"] for f in os.listdir(d))
    genre, hourly = checks.kpi_oracle(files, os.path.join(drops["songs"], "songs.csv"))
    return tmp_path, drops, genre, hourly


def test_daily_check_accepts_the_oracle_itself(daily):
    tmp, drops, genre, hourly = daily
    _write_warehouse(str(tmp / "wh"), "genre_kpis", genre)
    _write_warehouse(str(tmp / "wh"), "hourly_kpis", hourly)
    assert checks.check_daily(str(tmp / "wh"), genre, hourly, drops["expected_listens"]) == []


def test_daily_check_rejects_listen_count_off_by_one(daily):
    tmp, drops, genre, hourly = daily
    bad = genre.copy()
    bad.loc[bad.index[0], "listen_count"] += 1
    _write_warehouse(str(tmp / "wh"), "genre_kpis", bad)
    _write_warehouse(str(tmp / "wh"), "hourly_kpis", hourly)
    problems = checks.check_daily(str(tmp / "wh"), genre, hourly, drops["expected_listens"])
    assert any("listen_count" in p for p in problems)


def test_daily_check_rejects_a_duplicated_date_partition(daily):
    tmp, drops, genre, hourly = daily
    first = genre["date"].min()
    _write_warehouse(str(tmp / "wh"), "genre_kpis", genre[genre["date"] == first], copies=2)
    _write_warehouse(str(tmp / "wh"), "genre_kpis", genre[genre["date"] != first])
    _write_warehouse(str(tmp / "wh"), "hourly_kpis", hourly)
    problems = checks.check_daily(str(tmp / "wh"), genre, hourly, drops["expected_listens"])
    assert any("duplicate keys" in p for p in problems)


def test_generator_count_matches_the_oracle(daily):
    _, drops, genre, _ = daily
    sums = genre.groupby("date")["listen_count"].sum().to_dict()
    assert {d: int(n) for d, n in sums.items()} == drops["expected_listens"]


def test_parity_check_rejects_a_dropped_battery_row():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert checks.compare_exact("q", want.sample(frac=1, random_state=1), want) == []
    assert checks.compare_exact("q", want.iloc[:2], want) != []


def test_served_pairs_check_rejects_an_erased_doc():
    want = pd.DataFrame({"da": [1, 2], "db": [5, 6], "jaccard": [0.9, 1.0]})
    erased = {7}
    assert checks.check_served_pairs(want, want, {1, 2, 5, 6}, erased) == []
    leaked = pd.concat([want, pd.DataFrame({"da": [2], "db": [7], "jaccard": [0.8]})])
    problems = checks.check_served_pairs(leaked, want, {1, 2, 5, 6}, erased)
    assert any("erased doc_ids still in served pairs" in p for p in problems)
    problems = checks.check_served_pairs(want, want, {1, 2, 5, 6, 7}, erased)
    assert any("still in members" in p for p in problems)


def test_layer_metrics_are_those_of_the_manifest():
    import json

    import layers

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    assert [(m["name"], m["unit"]) for m in manifest["per_layer"]] == list(layers.UNITS.items())
