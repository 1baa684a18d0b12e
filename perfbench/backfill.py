"""fred_backfill: the reference's historical-backfill DAG.

Seeded FRED series are replayed through ``replay_fetcher`` into
``jobs.run_series`` (bronze JSON -> silver -> gold, Hive-partitioned);
gold is then upserted into an in-memory Derby table
(``sources.serving.jdbc_upsert``, ``dialect="merge"``) and dedup-appended
to a half-overlapping sheet (``sheet_append_delta``). Finally a seeded
subset of series re-runs a recent window, taking the idempotent
dynamic-overwrite path. Downstream readers then read each series' gold
and the serving table back, and the analytics refresh (``mix``) runs one
catalog entry per operator family.
"""

from __future__ import annotations

import os
import time

import numpy as np

from fred_economic_data_pipeline_local_spark.jobs import SeriesConfig, run_series
from fred_economic_data_pipeline_local_spark.operators.fred import (
    FRED_KEY,
    format_observations,
    gold_aggregate,
    silver_transform,
)
from fred_economic_data_pipeline_local_spark.sources import lake
from fred_economic_data_pipeline_local_spark.sources.extract import (
    fetch_observations,
    month_ranges,
    replay_fetcher,
)
from fred_economic_data_pipeline_local_spark.sources.serving import (
    jdbc_upsert,
    read_jdbc,
    sheet_append_delta,
    sheet_rows_to_df,
)

from . import gen, mix

FIRST_YEAR, YEARS = 2021, 3
DAILY, MONTHLY = 1, 1  # series per pass, drawn from gen.FRED_SERIES
WARM_YEARS = 1
RERUN_SERIES, RERUN_YEARS = 1, 1  # daily series re-run, so every seed lands as many rows
READ_ROUNDS = 5  # downstream readers poll gold and the serving table this often
DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
GOLD_DDL = (
    '"indicator" VARCHAR(16) NOT NULL, "observation_year" INT NOT NULL, '
    '"observation_month" INT NOT NULL, "value" DOUBLE, '
    '"observation_count" BIGINT, "ingested_at" VARCHAR(40), '
    '"processed_at" VARCHAR(40), "aggregated_at" VARCHAR(40), '
    'PRIMARY KEY ("indicator", "observation_year", "observation_month")'
)
STAGING_TYPES = (
    "indicator VARCHAR(16), ingested_at VARCHAR(40), "
    "processed_at VARCHAR(40), aggregated_at VARCHAR(40)"
)
SHEET_HEADER = ["indicator", "observation_year", "observation_month", "value"]


def prepare(seed: int, work: str) -> dict:
    rng = np.random.default_rng([seed, 5])
    daily = [sid for sid, cadence in gen.FRED_SERIES if cadence == "daily"]
    monthly = [sid for sid, cadence in gen.FRED_SERIES if cadence == "monthly"]
    picked = list(rng.choice(daily, DAILY, replace=False)) + list(
        rng.choice(monthly, MONTHLY, replace=False)
    )
    order = [str(sid) for sid in rng.permutation(picked)]
    rerun = [sid for sid in order if sid in daily][:RERUN_SERIES]
    fred = gen.make_fred(seed, FIRST_YEAR, YEARS)
    fred = {part: {sid: fred[part][sid] for sid in order} for part in ("payloads", "expected")}
    keys = sorted(
        (sid, int(s[:4]), int(s[5:7]))
        for sid, by_range in fred["payloads"].items()
        for (s, _e), obs in by_range.items()
        if any(o["value"] != "." for o in obs)
    )
    sheet = gen.make_sheet(seed, keys)
    sheet_keys = {(r[0], int(r[1]), int(r[2])) for r in sheet}
    raw_bytes = sum(
        len(o["date"]) + len(o["value"])
        for by_range in fred["payloads"].values()
        for obs in by_range.values()
        for o in obs
    )
    gen.save_json(
        {sid: {f"{s}|{e}": obs for (s, e), obs in by.items()} for sid, by in fred["payloads"].items()},
        os.path.join(work, "inputs", "fred_payloads.json"),
    )
    gen.save_json(sheet, os.path.join(work, "inputs", "sheet.json"))
    return {
        "mix": mix.prepare(seed, os.path.join(work, "inputs")),
        "payloads": fred["payloads"],
        "expected": fred["expected"],
        "gold_keys": len(keys),
        "append_expected": sum(k not in sheet_keys for k in keys),
        "sheet": sheet,
        "order": order,
        "rerun": rerun,
        "raw_bytes": raw_bytes,
        "digest_root": os.path.join(work, "inputs"),
    }


def _cfg(sid: str, first: int, last: int) -> SeriesConfig:
    return SeriesConfig(sid, start_date=f"{first}-01-01", end_date=f"{last}-12-31")


def _window(payloads: dict, first: int, last: int) -> dict:
    return {k: v for k, v in payloads.items() if first <= int(k[0][:4]) <= last}


class Backfill:
    def __init__(self, spark, rec, inp: dict, work: str):
        self.spark, self.inp, self.work = spark, inp, work
        self.mix = mix.Mix(spark, inp["mix"])
        self.rec = rec
        sc = spark.sparkContext
        self.fetch_acc = (sc.accumulator(0.0), sc.accumulator(0))
        self.passes = 0

    @property
    def rec(self):
        return self._rec

    @rec.setter
    def rec(self, rec) -> None:
        self._rec = self.mix.rec = rec

    @property
    def rounded(self) -> list[str]:
        return self.mix.rounded

    @property
    def lock_roots(self):
        return ()

    def _fetcher(self, payloads: dict):
        fetch = replay_fetcher(payloads)
        if not self.rec.traced:
            return fetch
        secs, calls = self.fetch_acc

        def timed(series_id, start, end):
            t0 = time.perf_counter()
            out = fetch(series_id, start, end)
            secs.add(time.perf_counter() - t0)
            calls.add(1)
            return out

        return timed

    def _series(self, root: str, sid: str, first: int, last: int, payloads: dict):
        """jobs.run_series untraced; traced, the public steps it
        composes, in the same order, each under its own span."""
        fetcher = self._fetcher(_window(payloads, first, last))
        cfg = _cfg(sid, first, last)
        if not self.rec.traced:
            return run_series(self.spark, cfg, root, fetcher)
        from pyspark.sql import functions as F

        from fred_economic_data_pipeline_local_spark.functions.scalars import now_iso_utc

        sp, spark = self.rec.span, self.spark
        with sp("jobs", "run_series"):
            stamp = now_iso_utc()
            with sp("sources.extract", "month_ranges"):
                ranges = month_ranges(spark, cfg.start_date, cfg.end_date)
            with sp("sources.extract", "fetch_observations"):
                raw = fetch_observations(ranges, cfg.series_id, fetcher)
            with sp("operators.fred", "format_observations"):
                bronze = format_observations(raw, cfg.series_id, ingested_at_iso=stamp)
            with sp("sources.lake", "write_bronze"):
                lake.write_bronze(bronze, root)
            with sp("sources.lake", "read_bronze"):
                bronze_back = lake.read_bronze(spark, root).where(F.col("indicator") == F.lit(sid))
            with sp("operators.fred", "silver_transform"):
                silver = silver_transform(bronze_back, processed_at_iso=stamp)
            with sp("sources.lake", "write_silver"):
                lake.write_silver(silver, root)
            with sp("sources.lake", "read_silver"):
                silver_back = lake.read_silver(spark, root).where(F.col("indicator") == F.lit(sid))
            with sp("operators.fred", "gold_aggregate"):
                gold = gold_aggregate(silver_back, aggregated_at_iso=stamp)
            with sp("sources.lake", "write_gold"):
                lake.write_gold(gold, root)
            return {"bronze": bronze_back.count(), "silver": silver_back.count(), "gold": gold.count()}

    def scan(self) -> None:
        self.mix.scan()

    def setup(self) -> None:
        """Warm-up: the whole pass at tiny size (the same series, one
        year) on its own lake root and Derby database, and every refresh
        entry at its warm-up size."""
        self._pass(os.path.join(self.work, "warm_lake"), "warm", self.inp["order"],
                   FIRST_YEAR + YEARS - WARM_YEARS, FIRST_YEAR + YEARS - 1,
                   rerun=self.inp["rerun"], checks=False)
        self.mix.warm()

    def timed_pass(self) -> None:
        """The whole DAG on a fresh lake root and Derby database, then the
        analytics refresh."""
        n, self.passes = self.passes, self.passes + 1
        self._pass(os.path.join(self.work, f"lake_{n}"), f"pass{n}", self.inp["order"],
                   FIRST_YEAR, FIRST_YEAR + YEARS - 1, rerun=self.inp["rerun"], checks=True)
        self.mix.run()

    def _derby(self, db: str) -> str:
        url = f"jdbc:derby:memory:{db};create=true"
        jvm = self.spark._jvm
        jvm.java.lang.Class.forName(DERBY["driver"])
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            conn.createStatement().execute(f'CREATE TABLE "FRED_GOLD" ({GOLD_DDL})')
        finally:
            conn.close()
        return url

    def _pass(self, root, db, order, first, last, rerun, checks: bool) -> None:
        rec, sp, spark, inp = self.rec, self.rec.span, self.spark, self.inp
        exp = inp["expected"]
        url = self._derby(db)
        for sid in order:
            rec.op("write", f"run_series {sid}",
                   lambda sid=sid: self._series(root, sid, first, last, inp["payloads"][sid]),
                   check=(lambda got, sid=sid: got == exp[sid]) if checks else None)
        sheet: list[list] = [list(r) for r in inp["sheet"]]
        appended: list[list] = []

        def upsert():
            with sp("sources.lake", "read_gold"):
                gold = lake.read_gold(spark, root)
            with sp("sources.serving", "jdbc_upsert"):
                return jdbc_upsert(gold, url, "FRED_GOLD", FRED_KEY, DERBY,
                                   staging_table="FRED_GOLD_STAGING", dialect="merge",
                                   staging_options={"createTableColumnTypes": STAGING_TYPES})

        def append():
            with sp("sources.lake", "read_gold"):
                gold = lake.read_gold(spark, root)
            with sp("sources.serving", "sheet_rows_to_df"):
                existing = sheet_rows_to_df(spark, sheet, SHEET_HEADER)
            with sp("sources.serving", "sheet_append_delta"):
                return sheet_append_delta(gold, existing, FRED_KEY, appended.extend)

        rec.op("write", "jdbc_upsert", upsert)
        self.append_op = len(rec.ops)
        n_app = rec.op("write", "sheet_append_delta", append,
                       check=(lambda n: n == inp["append_expected"]) if checks else None)
        if n_app is not None:
            self.append_ratio = n_app / max(1, inp["gold_keys"])
        # idempotent re-run of a recent window: same partitions overwritten
        lo = max(first, last - RERUN_YEARS + 1)
        for sid in rerun:
            rec.op("write", f"rerun {sid}",
                   lambda sid=sid: self._series(root, sid, lo, last, inp["payloads"][sid]),
                   check=(lambda got, sid=sid: got == exp[sid]) if checks else None)
        # downstream readers: each series' gold, then the serving table
        def read_series(sid):
            from pyspark.sql import functions as F

            with sp("sources.lake", "read_gold"):
                df = lake.read_gold(spark, root).where(F.col("indicator") == F.lit(sid))
            return df.collect()

        def read_serving():
            with sp("sources.serving", "read_jdbc"):
                df = read_jdbc(spark, url, 'SELECT * FROM "FRED_GOLD"', DERBY)
            return df.collect()

        for _ in range(READ_ROUNDS):
            for sid in order:
                rec.op("read", f"read_gold {sid}", lambda sid=sid: read_series(sid),
                       check=(lambda rows, sid=sid: len(rows) == exp[sid]["gold"]) if checks else None)
            rec.op("read", "read_jdbc", read_serving,
                   check=(lambda rows: len(rows) == inp["gold_keys"]) if checks else None)
        if checks:
            self.root = root

    def rows_landed(self) -> int:
        """Observations landed in bronze per pass (runs and re-runs)."""
        exp = self.inp["expected"]
        total = sum(e["bronze"] for e in exp.values())
        years = self.inp["payloads"]
        for sid in self.inp["rerun"]:
            total += sum(
                len(obs) for (s, _e), obs in years[sid].items()
                if int(s[:4]) > FIRST_YEAR + YEARS - 1 - RERUN_YEARS
            )
        return total

    def space_amp(self) -> float:
        return _du(self.root) / self.inp["raw_bytes"]

    def layer_metrics(self) -> dict[str, float]:
        """The pipeline layers, operators.serve (reached through
        sheet_append_delta) and the refresh's plans and operators."""
        rec = self.rec
        append = rec.ops[self.append_op]
        return {
            **self.mix.layer_metrics(),
            "operators.serve.op_s": append["s"],
            "operators.serve.jobs": rec.op_spark[self.append_op]["jobs"],
            "jobs.run_series_s": rec.layer_time("jobs", "run_series"),
            "sources.extract.fetch_s": self.fetch_acc[0].value,
            "sources.extract.fetch_calls": self.fetch_acc[1].value,
            "sources.lake.write_bronze_s": rec.layer_time("sources.lake", "write_bronze"),
            "sources.lake.write_silver_s": rec.layer_time("sources.lake", "write_silver"),
            "sources.lake.write_gold_s": rec.layer_time("sources.lake", "write_gold"),
            "sources.lake.files_written": _files(self.root),
            "sources.lake.bytes_written": _du(self.root),
            "sources.serving.upsert_s": rec.layer_time("sources.serving", "jdbc_upsert"),
            "sources.serving.append_s": rec.layer_time("sources.serving", "sheet_append_delta"),
            "sources.serving.append_ratio": getattr(self, "append_ratio", 0.0),
        }


def _du(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(root) for f in files
    )


def _files(root: str) -> int:
    return sum(
        1 for _d, _s, files in os.walk(root) for f in files
        if not f.startswith(".") and not f.startswith("_")
    )
