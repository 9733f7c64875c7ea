"""Output checks. Each returns a list of problems (empty = correct), so a
mismatch is counted as a failed operation instead of aborting the run."""

from __future__ import annotations

import functools
import glob
import hashlib
import importlib.util
import json
import os
import re

import duckdb
import pandas as pd

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _compare():
    """The repository's Spark-vs-DuckDB canonicalization
    (``tests/compare.py``), loaded by path so no other ``tests``
    package on ``sys.path`` can shadow it."""
    path = os.path.join(ROOT, "tests", "compare.py")
    spec = importlib.util.spec_from_file_location("_repo_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canonical(pdf: pd.DataFrame) -> dict:
    return {
        "columns": sorted(pdf.columns),
        "rows": [list(r) for r in _compare().canonical_rows(_naive_utc(pdf))],
    }


def _naive_utc(pdf: pd.DataFrame) -> pd.DataFrame:
    """Tz-aware timestamp columns as naive UTC, so a Spark-written
    instant and the generator's naive-UTC hour canonicalize alike."""
    out = pdf.copy()
    for c in out.columns:
        if isinstance(out[c].dtype, pd.DatetimeTZDtype):
            out[c] = out[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return out


def frames_differ(name: str, got: dict, want: dict) -> str | None:
    if got["columns"] != want["columns"]:
        return f"{name}: columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{name}: {len(got['rows'])} rows != {len(want['rows'])}"
    if got["rows"] != want["rows"]:
        first = next(
            (g, w) for g, w in zip(got["rows"], want["rows"]) if g != w
        )
        return f"{name}: first differing row {first[0]} != {first[1]}"
    return None


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    return con


def _parquet_list(files: list[str]) -> str:
    return "[" + ",".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def snapshot_files(obs_path: str) -> list[str]:
    """Data files of the current silver snapshot, read from its manifest
    file on disk (the checker's own reader, independent of the engine's
    read path)."""
    with open(os.path.join(obs_path, "manifest.json")) as f:
        m = json.load(f)
    files: list[str] = []
    for rel in m["partitions"].values():
        files += sorted(glob.glob(os.path.join(obs_path, rel, "*.parquet")))
    return files


def check_ingest(lake_root: str, polls: list[pd.DataFrame]) -> list[str]:
    """Zero-loss bronze, last-write-wins silver and exact series
    registration after ``polls`` were ingested in order."""
    problems: list[str] = []
    con = _duck()
    bronze = glob.glob(os.path.join(lake_root, "bronze", "**", "*.parquet"), recursive=True)
    n_bronze = (
        con.sql(f"SELECT count(*) FROM read_parquet({_parquet_list(bronze)})").fetchone()[0]
        if bronze
        else 0
    )
    n_polled = sum(len(p) for p in polls)
    if n_bronze != n_polled:
        problems.append(f"bronze: {n_bronze} rows != {n_polled} polled rows")

    obs_path = os.path.join(lake_root, "silver", "observations")
    silver = con.sql(
        "SELECT series_id, observation_time, value, quality_flag FROM "
        f"read_parquet({_parquet_list(snapshot_files(obs_path))}, union_by_name=true)"
    ).df()
    bad = frames_differ("silver", canonical(silver), canonical(gen.lww_replay(polls)))
    if bad:
        problems.append(bad)

    series_files = glob.glob(os.path.join(lake_root, "dims", "meta_series", "*.parquet"))
    got = (
        con.sql(f"SELECT series_id FROM read_parquet({_parquet_list(series_files)})")
        .df()["series_id"]
        .tolist()
        if series_files
        else []
    )
    want = gen.registered_series(polls)
    if len(got) != len(set(got)) or set(got) != want:
        problems.append(
            f"meta_series: {len(got)} rows / {len(set(got))} distinct, "
            f"missing {sorted(want - set(got))[:3]}, extra {sorted(set(got) - want)[:3]}"
        )
    con.close()
    return problems


def summarize(canon: dict) -> dict:
    """A canonical result reduced to what the query check compares:
    sorted columns, row count and a digest of the canonical rows."""
    rows = json.dumps(canon["rows"], separators=(",", ":")).encode()
    return {
        "columns": canon["columns"],
        "n_rows": len(canon["rows"]),
        "digest": hashlib.sha256(rows).hexdigest(),
    }


def summaries_differ(name: str, got: dict, want: dict) -> str | None:
    for key in ("columns", "n_rows", "digest"):
        if got[key] != want[key]:
            return f"{name}: {key} {got[key]} != oracle {want[key]}"
    return None


class OracleCache:
    """DuckDB oracle results, summarized once per (query, oracle SQL,
    bytes of the tables the SQL names) and kept as JSON under
    ``cache_dir``: later runs over the same tables compare against the
    cached summary."""

    TABLES = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )

    def __init__(self, cache_dir: str, data_dir: str):
        self.cache_dir = cache_dir
        self.data_dir = data_dir
        self.table_keys = {}
        for t in self.TABLES:
            with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
                self.table_keys[t] = hashlib.sha256(f.read()).hexdigest()
        self._con = None

    def expected(self, name: str, sql: str) -> dict:
        read = [t for t in self.TABLES if re.search(rf"\b{t}\b", sql)] or list(self.TABLES)
        data_key = ",".join(self.table_keys[t] for t in read)
        key = hashlib.sha256(f"{name}\0{sql}\0{data_key}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key[:32]}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self._con is None:
            self._con = _duck()
            for t in self.TABLES:
                self._con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t + '.parquet')}'"
                )
        want = summarize(canonical(self._con.sql(sql).df()))
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(want, f)
        os.replace(tmp, path)
        return want

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
