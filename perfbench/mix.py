"""The analytics refresh of ``fred_backfill``: read-only catalog entries
in a seeded order, one entry per operator family reached through
``plans``.

Each read op is ``fn(spark, sf_dir)`` plus ``collect()``: collecting
materializes every column a consumer reads, which ``count()`` would let
Catalyst prune. Every result is checked order-insensitively (rows
normalized and sorted, as a row hash digests them) against the entry's
DuckDB oracle from ``plans.all_oracles()``; the oracles run in the input
generator's child process, outside every timed op.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict

import numpy as np

from . import gen

SF, WARM_SF = 0.01, 0.001
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# entry -> operator family it reaches through plans: the cheapest entry
# found per family
ENTRIES = {
    "fred_gold_yearly": "fred",
    "asof_clicks_to_purchases": "temporal",
    "calibration_length_deciles": "rank",
    "dedup_exact_keep_min": "dedup",
    "embedding_kmeans_assign": "similarity",
    "text_token_counts": "text",
    "graph_weighted_sssp": "graph",
    "multimodal_decode_meta": "multimodal",
}
# Spark and DuckDB round some halves apart: a float may differ by this much
FLOAT_TOL = 0.01


def _norm(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0 else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_norm(x) for x in v) + "]"
    if isinstance(v, np.ndarray):
        return _norm(v.tolist())
    return repr(v)


def _lines(cols: list[str], rows) -> list[str]:
    """Rows as text: columns sorted by name, values normalized, rows
    sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)


def _close(x: str, y: str) -> bool:
    try:
        u, v = float(x), float(y)
    except ValueError:
        return False
    return abs(u - v) <= FLOAT_TOL + 1e-9 * max(abs(u), abs(v))


def same_rows(got: list[str], want: list[str]) -> bool:
    """Normalized rows equal, except that a float may differ by
    FLOAT_TOL."""
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if a == b:
            continue
        fa, fb = a.split("\x1f"), b.split("\x1f")
        if len(fa) != len(fb) or not all(x == y or _close(x, y) for x, y in zip(fa, fb)):
            return False
    return True


def oracle_rows(sql: str, sf_dir: str) -> list[str]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        cur = con.execute(sql)
        return _lines([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()


def prepare(seed: int, root: str) -> dict:
    """Fixtures at SF (timed) and WARM_SF (warm-up) under ``root``, the
    oracle rows of every entry and the seeded entry order."""
    from fred_economic_data_pipeline_local_spark.plans import all_oracles

    sf_dir, warm_dir = os.path.join(root, "sf"), os.path.join(root, "warm")
    fixture_rows = gen.make_fixture(seed, sf_dir, SF)
    gen.make_fixture(seed + 1, warm_dir, WARM_SF)
    oracles = all_oracles()
    expected = {name: oracle_rows(oracles[name], sf_dir) for name in ENTRIES}
    order = [list(ENTRIES)[i] for i in np.random.default_rng([seed, 6]).permutation(len(ENTRIES))]
    return {"sf_dir": sf_dir, "warm_dir": warm_dir, "expected": expected,
            "fixture_rows": fixture_rows, "order": order}


class Mix:
    """Runs the entries on the owner's recorder (``rec``, set by the
    owner before each pass)."""

    def __init__(self, spark, inp: dict):
        self.spark, self.inp = spark, inp
        self.rec = None
        self.rounded: list[str] = []  # entries that matched only within FLOAT_TOL

    def scan(self) -> None:
        """catalog layer: every fixture table loaded schema-pinned (the
        session tuning, file listing and footer reads every entry's scan
        starts from). No data is read; the warm-up reads it."""
        from fred_economic_data_pipeline_local_spark import catalog

        for t in TABLES:
            catalog.load_table(self.spark, t, self.inp["sf_dir"])

    def warm(self) -> None:
        """Warm-up: every entry once at WARM_SF."""
        self._run(self.inp["warm_dir"], checks=False)

    def run(self) -> None:
        self._run(self.inp["sf_dir"], checks=True)

    def _run(self, sf_dir: str, checks: bool) -> None:
        from fred_economic_data_pipeline_local_spark.plans import all_queries

        qs, rec, sp = all_queries(), self.rec, self.rec.span
        for name in self.inp["order"]:
            def run(name=name):
                with sp("plans", "build"):
                    df = qs[name](self.spark, sf_dir)
                with sp("plans", "collect"):
                    rows = df.collect()
                return df.schema, rows

            rec.op("read", name, run, check=(lambda r, name=name: self._check(name, r)) if checks else None)

    def _check(self, name: str, result) -> bool:
        schema, rows = result
        lines, want = _lines(schema.names, rows), self.inp["expected"][name]
        if lines == want:
            return True
        if same_rows(lines, want):
            self.rounded.append(name)
            return True
        return False

    def layer_metrics(self) -> dict[str, float]:
        rec = self.rec
        op_s, jobs = defaultdict(float), defaultdict(float)
        for op, counters in zip(rec.ops, rec.op_spark):
            fam = ENTRIES.get(op["name"])
            if fam is not None:
                op_s[fam] += op["s"]
                jobs[fam] += counters["jobs"]
        build_jobs = sum(
            sp.get("spark", {}).get("jobs", 0) for sp in rec.spans
            if sp["layer"] == "plans" and sp["name"] == "build"
        )
        out = {
            "plans.build_s": rec.layer_time("plans", "build"),
            "plans.build_jobs": build_jobs,
            "plans.collect_s": rec.layer_time("plans", "collect"),
        }
        for fam in ENTRIES.values():
            out[f"operators.{fam}.op_s"] = op_s[fam]
            out[f"operators.{fam}.jobs"] = jobs[fam]
        return out
