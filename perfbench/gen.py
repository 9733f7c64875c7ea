"""Seeded input generators: the hourly gas feed and the operator tables.

Everything here is a pure function of its arguments (the seed included),
so one seed always yields byte-identical inputs. Nothing touches Spark:
the benchmark hands the engine only what these functions produce.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd

DATASET = "gasfeed"
SOURCE = "rest-poll"
ID_COL = "site"
TIME_COL = "ts"
QUALITY_COL = "quality"
# Gas-market flavoured metric names; the first ``FeedSpec.metrics`` are
# present from the first poll, the next one arrives mid-run (schema
# evolution: a new field and new series).
METRIC_NAMES = (
    "flow_mcm",
    "pressure_bar",
    "temp_c",
    "calorific_mj",
    "linepack_gwh",
    "nomination_gwh",
    "renomination_gwh",
    "capacity_gwh",
    "wobbe_index",
)
QUALITIES = ("ok", "estimated", "revised")
FEED_EPOCH = datetime(2024, 1, 1)


@dataclass(frozen=True)
class FeedSpec:
    """Shape of one synthetic feed: ``entities`` sites x ``metrics``
    numeric columns x hourly timestamps. Poll ``k`` re-fetches the
    ``window_hours`` ending ``k * step_hours`` past the first window,
    so consecutive polls overlap by ``window_hours - step_hours``: most
    keys of a poll are late revisions, ``step_hours`` per site are new.
    Poll ``evolve_at`` and every later poll carry one more metric."""

    entities: int = 24
    metrics: int = 5
    window_hours: int = 48
    step_hours: int = 12
    polls: int = 3
    evolve_at: int = 2
    null_frac: float = 0.02


def feed_metrics(spec: FeedSpec, poll: int) -> list[str]:
    n = spec.metrics + (1 if poll >= spec.evolve_at else 0)
    return list(METRIC_NAMES[:n])


def poll_frame(spec: FeedSpec, seed: int, poll: int) -> pd.DataFrame:
    """The wide page poll ``poll`` returns: one row per (site, hour).

    Values drift with the poll index, so a revised hour carries a new
    value and last-write-wins is observable. Site 0 never reports its
    first metric (that series must never be registered), and a small
    seeded share of other cells is null."""
    rng = np.random.default_rng([seed, poll])
    metrics = feed_metrics(spec, poll)
    first = poll * spec.step_hours
    hours = np.arange(first, first + spec.window_hours)
    sites = np.arange(spec.entities)
    site_col = np.repeat(sites, len(hours))
    hour_col = np.tile(hours, len(sites))
    n = len(site_col)
    out = {
        ID_COL: [f"SITE{s:03d}" for s in site_col],
        TIME_COL: pd.to_datetime(FEED_EPOCH) + pd.to_timedelta(hour_col, unit="h"),
    }
    for j, m in enumerate(metrics):
        base = 10.0 * (j + 1) + site_col * 0.5 + np.sin(hour_col / 6.0) * (j + 1)
        vals = np.round(base + rng.normal(0.0, 1.0, n) + poll * 0.01, 3)
        vals[rng.random(n) < spec.null_frac] = np.nan
        if j == 0:
            vals[site_col == 0] = np.nan
        out[m] = vals
    out[QUALITY_COL] = np.array(QUALITIES)[rng.integers(0, len(QUALITIES), n)]
    df = pd.DataFrame(out)
    df[TIME_COL] = df[TIME_COL].astype("datetime64[us]")
    return df


def feed_polls(spec: FeedSpec, seed: int) -> list[pd.DataFrame]:
    return [poll_frame(spec, seed, k) for k in range(spec.polls)]


def series_id(site: str, metric: str) -> str:
    """The engine's series identity (``NG_<DATASET>_<SITE>_<METRIC>``)
    for the generator's slug-safe names, computed independently."""
    return f"NG_{DATASET}_{site}_{metric}".upper()


def lww_replay(polls: list[pd.DataFrame]) -> pd.DataFrame:
    """Independent last-write-wins replay of the polls in arrival order:
    the silver rows the engine must hold (series_id, observation_time,
    value, quality_flag). Null values never reach silver. The quality
    column lands in bronze only: ``ingest_batch`` is called without
    ``quality_col`` (its melt does not carry that column), so every
    observation is flagged ``ok``."""
    longs = []
    for k, p in enumerate(polls):
        metrics = [c for c in p.columns if c not in (ID_COL, TIME_COL, QUALITY_COL)]
        long = p.melt(
            id_vars=[ID_COL, TIME_COL, QUALITY_COL],
            value_vars=metrics,
            var_name="metric",
            value_name="value",
        ).dropna(subset=["value", TIME_COL])
        long["poll"] = k
        longs.append(long)
    allp = pd.concat(longs, ignore_index=True)
    last = allp.sort_values("poll").drop_duplicates(
        [ID_COL, "metric", TIME_COL], keep="last"
    )
    return pd.DataFrame(
        {
            "series_id": [series_id(s, m) for s, m in zip(last[ID_COL], last["metric"])],
            "observation_time": last[TIME_COL].values,
            "value": last["value"].values,
            "quality_flag": "ok",
        }
    ).reset_index(drop=True)


def registered_series(polls: list[pd.DataFrame]) -> set[str]:
    """Series that must be in ``meta_series``: a site's metric with at
    least one non-null value at a non-null time."""
    out: set[str] = set()
    for p in polls:
        metrics = [c for c in p.columns if c not in (ID_COL, TIME_COL, QUALITY_COL)]
        present = p[p[TIME_COL].notna()].groupby(ID_COL)[metrics].count()
        for site, row in present.iterrows():
            out.update(series_id(site, m) for m in metrics if row[m] > 0)
    return out


def write_parquet(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)
    return path


# ----------------------------------------------------------------------
# Operator tables for the query mix: the star schema plus the events,
# documents and embeddings tables the registered queries read, in the
# shapes and value domains the engine's queries expect.
# ----------------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
_P_ADJ = ("red", "small", "hot", "old", "large", "blue", "green", "tiny")
_P_NOUN = ("plate", "widget", "ring", "rod", "gear", "pipe", "valve", "bolt")
_P_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


@dataclass(frozen=True)
class TableSpec:
    """Row counts of the operator tables: by default the size
    ``query_mix`` runs, between the sf0.001 and sf0.01 shapes."""

    customers: int = 300
    suppliers: int = 20
    parts: int = 400
    orders: int = 3000
    events: int = 3000
    users: int = 100
    documents: int = 300
    embeddings: int = 300
    dim: int = 64
    dup_frac: float = 0.05


def _days(rng, n: int, lo: str, span_days: int) -> np.ndarray:
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def operator_tables(spec: TableSpec, seed: int, docs_seed: int) -> dict[str, pd.DataFrame]:
    """Every table from ``seed`` except ``documents``, which is drawn
    from ``docs_seed``."""
    rng = np.random.default_rng([seed, 7])
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": list(_REGIONS)}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    nc = spec.customers
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = spec.suppliers
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = spec.parts
    names = [f"{a} {b}" for a in _P_ADJ for b in _P_NOUN]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype="int64"),
            "p_name": np.array(names)[rng.integers(0, len(names), npart)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(_P_TYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    no = spec.orders
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _days(rng, no, "1995-01-01", 2404),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okeys = np.repeat(np.arange(no, dtype="int64"), lines)
    linenos = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    qty = rng.integers(1, 51, nl).astype("float64")
    pkeys = rng.integers(0, npart, nl).astype("int64")
    price = t["part"]["p_retailprice"].to_numpy()[pkeys]
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": okeys,
            "l_partkey": pkeys,
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": linenos,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price * rng.uniform(0.98, 1.02, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, nl, "1995-01-02", 2498),
        }
    ).sample(frac=1.0, random_state=int(rng.integers(0, 2**31))).reset_index(drop=True)
    ne = spec.events
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, ne))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, spec.users, ne).astype("int64"),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = spec.documents
    drng = np.random.default_rng([docs_seed, 11])
    texts = [
        " ".join(np.array(_WORDS)[drng.integers(0, len(_WORDS), drng.integers(10, 100))])
        for _ in range(nd)
    ]
    # Planted near-duplicates: a copy of an earlier document plus one
    # marker word, so every dedup kernel has true pairs to find.
    for i in np.flatnonzero(drng.random(nd) < spec.dup_frac):
        if i > 0:
            texts[i] = texts[int(drng.integers(0, i))] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(nd, dtype="int64"),
            "text": texts,
            "lang": np.array(_LANGS)[drng.integers(0, len(_LANGS), nd)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    nv = spec.embeddings
    vec = rng.normal(0.0, 1.0, (nv, spec.dim)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(nv, dtype="int64"),
            "embedding": list(vec),
            "label": rng.integers(0, 10, nv).astype("int32"),
        }
    )
    return t


def write_operator_tables(spec: TableSpec, seed: int, docs_seed: int, out_dir: str) -> str:
    for name, df in operator_tables(spec, seed, docs_seed).items():
        write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
