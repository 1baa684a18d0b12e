"""Seeded input generators for the workloads.

Every generator is a pure function of its seed and size: it draws from one
``numpy.random.default_rng(seed)`` stream and writes files with pyarrow, so
the same seed gives byte-identical inputs and ``digest`` proves it. The
program under test sees only the files (and, for the FRED fetch, the
replayed payloads); it never sees the seed.
"""

from __future__ import annotations

import calendar
import datetime as dt
import hashlib
import json
import os
import pickle
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes),
    in sorted order: the fingerprint printed beside the results."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def isolated(func: str, *args, scratch: str):
    """Run ``perfbench.<module>.<function>(*args)`` in a child
    interpreter and return its result. Generators and DuckDB oracles run
    this way, so their memory never counts in the client's peak RSS."""
    module, name = func.rsplit(".", 1)
    os.makedirs(scratch, exist_ok=True)
    arg_path, out_path = os.path.join(scratch, "args.pkl"), os.path.join(scratch, "out.pkl")
    with open(arg_path, "wb") as fh:
        pickle.dump(args, fh)
    code = (
        "import pickle, sys\n"
        "from importlib import import_module\n"
        "args = pickle.load(open(sys.argv[1], 'rb'))\n"
        f"out = getattr(import_module('perfbench.{module}'), '{name}')(*args)\n"
        "pickle.dump(out, open(sys.argv[2], 'wb'))\n"
    )
    subprocess.run([sys.executable, "-c", code, arg_path, out_path], check=True,
                   stdout=subprocess.DEVNULL)
    with open(out_path, "rb") as fh:
        out = pickle.load(fh)
    os.remove(arg_path)
    os.remove(out_path)
    return out


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# --- analytics refresh: TPC-H-style star schema + events/documents/embeddings ----

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query filter group stream vector"
).split()
_EPOCH = dt.datetime(1970, 1, 1)


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH).days


def _day_ts(rng, lo: tuple, hi: tuple, n: int) -> pa.Array:
    days = rng.integers(_days_since_epoch(*lo), _days_since_epoch(*hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000, pa.timestamp("ms"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_fixture(seed: int, root: str, sf: float) -> dict[str, int]:
    """The ten fixture tables the catalog entries read, at scale ``sf``
    (sf0.01: 60k lineitems). Returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_vecs = 500 if sf >= 0.01 else 120
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _day_ts(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _day_ts(rng, (1995, 1, 2), (2001, 11, 4), n_line),
        }),
        "events": _events(rng, n_ev, n_users=max(20, int(15_000 * sf))),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    for name, t in tables.items():
        _write(t, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _events(rng, n: int, n_users: int) -> pa.Table:
    start_us = _days_since_epoch(2024, 1, 1) * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start_us
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n).tolist(),
        "value": _money(rng, 0.01, 490.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.06:
            # near duplicate of an earlier doc: one word swapped, so the
            # dedup/similarity entries have real candidate pairs
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = rng.choice(_WORDS, int(rng.integers(8, 90))).tolist()
        texts.append(" ".join(words))
    langs = rng.choice(_LANGS, n, p=[0.44, 0.14, 0.14, 0.13, 0.15]).tolist()
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(vecs.astype("float32").tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# --- fred_backfill: FRED series payloads + a half-overlapping sheet ----------

# (series_id, cadence): the reference catalog mixes daily market series
# with monthly releases
FRED_SERIES = [
    ("DGS10", "daily"), ("EFFR", "daily"), ("T10Y2Y", "daily"),
    ("DEXUSEU", "daily"), ("SP500", "daily"),
    ("UNRATE", "monthly"), ("CPIAUCSL", "monthly"), ("FEDFUNDS", "monthly"),
    ("PAYEMS", "monthly"), ("INDPRO", "monthly"), ("HOUST", "monthly"),
]


def _month_end(y: int, m: int) -> str:
    return f"{y:04d}-{m:02d}-{calendar.monthrange(y, m)[1]:02d}"


def make_fred(seed: int, first_year: int, years: int) -> dict:
    """Replay payloads for every series: {series: {(start, end): [obs]}},
    with ~4% "." sentinels and, per series, one month that is all
    sentinels (so its silver row is absent). Also returns the expected
    bronze/silver/gold counts per series."""
    rng = np.random.default_rng([seed, 2])
    payloads: dict[str, dict[tuple[str, str], list[dict]]] = {}
    expected: dict[str, dict[str, int]] = {}
    for sid, cadence in FRED_SERIES:
        level = float(rng.uniform(1, 500))
        dead_month = (int(rng.integers(0, years)), int(rng.integers(1, 13)))
        by_range: dict[tuple[str, str], list[dict]] = {}
        n_obs = n_months = 0
        for yi in range(years):
            y = first_year + yi
            for m in range(1, 13):
                if cadence == "daily":
                    days = [
                        d for d in range(1, calendar.monthrange(y, m)[1] + 1)
                        if dt.date(y, m, d).weekday() < 5
                    ]
                else:
                    days = [1]
                obs, live = [], 0
                for d in days:
                    level = max(0.01, level * (1 + rng.normal(0, 0.01)))
                    sentinel = (yi, m) == dead_month or rng.random() < 0.04
                    live += not sentinel
                    obs.append({
                        "date": f"{y:04d}-{m:02d}-{d:02d}",
                        "value": "." if sentinel else f"{level:.2f}",
                    })
                by_range[(f"{y:04d}-{m:02d}-01", _month_end(y, m))] = obs
                n_obs += len(obs)
                n_months += live > 0
        payloads[sid] = by_range
        expected[sid] = {"bronze": n_obs, "silver": n_months, "gold": n_months}
    return {"payloads": payloads, "expected": expected}


def make_sheet(seed: int, expected_keys: list[tuple[str, int, int]]) -> list[list[str]]:
    """A sheet already holding about half of the gold keys (as the
    all-string rows a sheet returns), plus some keys gold never has."""
    rng = np.random.default_rng([seed, 3])
    keep = rng.random(len(expected_keys)) < 0.5
    rows = [
        [sid, str(y), str(m), f"{rng.uniform(0, 100):.2f}"]
        for (sid, y, m), k in zip(expected_keys, keep) if k
    ]
    rows += [["RETIRED", "1990", str(m), "0.00"] for m in range(1, 13)]
    return rows


# --- lakehouse_cdc: a keyed base table and ~1% change batches ----------------

def make_cdc(seed: int, root: str, n_series: int, n_days: int, hops: int,
             delta_frac: float, view_at: tuple[int, ...]) -> dict:
    """Base table (series_id, date, value, vintage) with ``n_series`` x
    ``n_days`` rows, plus one change batch per hop. Even hops are upserts
    (updates + inserts, for ``merge_into``); odd hops are change feeds
    (updates, inserts and deletes, for ``apply_changes``). The model of
    the table after every hop is tracked here, so the generator also
    returns the expected per-(series, year) view at each version in
    ``view_at`` and the (rows, sum of value) of every version."""
    rng = np.random.default_rng([seed, 4])
    series = np.array([f"S{i:04d}" for i in range(n_series)])
    day0 = dt.date(1996, 1, 1)
    dates = [(day0 + dt.timedelta(days=d)).isoformat() for d in range(n_days)]
    sid = np.repeat(np.arange(n_series), n_days)
    day = np.tile(np.arange(n_days), n_series)
    value = np.round(rng.uniform(0, 1000, sid.size), 2)
    model = {(int(s), int(d)): float(v) for s, d, v in zip(sid, day, value)}
    _write(_cdc_table(series, dates, sid, day, value, 0), os.path.join(root, "base.parquet"))
    next_day = np.full(n_series, n_days)
    n_delta = max(1, int(delta_frac * sid.size))
    extra_dates: list[str] = []
    totals = [(len(model), float(value.sum()))]
    views = {}
    for hop in range(1, hops + 1):
        keys = list(model)
        pick = rng.choice(len(keys), n_delta, replace=False)
        upd = [keys[i] for i in pick[: n_delta * 6 // 10]]
        dele = [keys[i] for i in pick[n_delta * 6 // 10: n_delta * 8 // 10]] if hop % 2 else []
        ins = []
        for s in rng.integers(0, n_series, n_delta - len(upd) - len(dele)):
            ins.append((int(s), int(next_day[s])))
            next_day[s] += 1
        while len(dates) + len(extra_dates) <= int(next_day.max()):
            extra_dates.append(
                (day0 + dt.timedelta(days=len(dates) + len(extra_dates))).isoformat()
            )
        all_dates = dates + extra_dates
        rows = [(k, "update") for k in upd] + [(k, "insert") for k in ins] + [
            (k, "delete") for k in dele
        ]
        vals = np.round(rng.uniform(0, 1000, len(rows)), 2)
        for ((s, d), kind), v in zip(rows, vals):
            if kind == "delete":
                del model[(s, d)]
            else:
                model[(s, d)] = float(v)
        t = _cdc_table(
            series, all_dates,
            np.array([s for (s, _), _k in rows]), np.array([d for (_, d), _k in rows]),
            vals, hop,
        )
        if hop % 2:
            t = t.append_column("_change_type", pa.array([k for _, k in rows]))
        _write(t, os.path.join(root, f"delta_{hop:03d}.parquet"))
        totals.append((len(model), sum(model.values())))
        if hop in view_at:
            views[hop] = _view(model, series, all_dates)
    return {"rows": sid.size, "delta_rows": n_delta, "views": views, "totals": totals}


def _view(model: dict, series, dates: list[str]) -> dict[tuple[str, int], list[float]]:
    view: dict[tuple[str, int], list[float]] = {}
    for (s, d), v in model.items():
        g = view.setdefault((str(series[s]), int(dates[d][:4])), [0, 0.0])
        g[0] += 1
        g[1] += v
    return view


def _cdc_table(series, dates, sid, day, value, vintage) -> pa.Table:
    return pa.table({
        "series_id": pa.array(series[sid].tolist(), pa.string()),
        "date": pa.array([dates[d] for d in day], pa.string()),
        "value": pa.array(value, pa.float64()),
        "vintage": pa.array(np.full(len(value), vintage), pa.int32()),
    })


def save_json(obj, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
