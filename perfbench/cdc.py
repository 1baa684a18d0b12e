"""lakehouse_cdc: writes beside reads on one ManifestLakeTable.

A seeded base table keyed (series_id, date) takes one ~1% change batch
per hop: even hops upsert through ``merge_into``, odd hops replay a change
feed (updates, inserts, deletes) through ``apply_changes``. After each
commit a reader pulls ``changes(v-1, v, update_preimages=True)``, folds it
with ``incremental_agg_delta`` + ``apply_agg_delta`` into a
per-(series, year) view and collects the view. Every few hops a
time-travel read and a ``vacuum`` run. Set-up commits WARM_HOPS hops of
its own before the timed ones: the first hops of a session run up to
twice as slow as later ones while the JVM compiles the commit and
change-feed paths.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from fred_economic_data_pipeline_local_spark.operators.ivm import (
    apply_agg_delta,
    incremental_agg_delta,
    materialize_agg,
)
from fred_economic_data_pipeline_local_spark.sources.lakehouse import ManifestLakeTable

from . import gen

N_SERIES, N_DAYS, DELTA_FRAC = 100, 200, 0.01
WARM_HOPS = 4  # hops committed in set-up
HOPS = 3  # hops per pass
PASSES = 2  # a traced run runs a traced and an untraced pass
TRAVEL_EVERY, TRAVEL_BACK, VACUUM_KEEP = 2, 1, 3
GROUP, SUMS = ["series_id", "year"], ["value"]
VIEW_SCHEMA = "series_id string, year string, n_rows bigint, sum_value double"


def prepare(seed: int, work: str) -> dict:
    root = os.path.join(work, "inputs")
    ends = tuple(WARM_HOPS + HOPS * (k + 1) for k in range(PASSES))
    model = gen.make_cdc(seed, root, N_SERIES, N_DAYS, ends[-1], DELTA_FRAC, ends)
    return {"model": model, "root": root, "digest_root": root}


def _with_year(df):
    return df.withColumn("year", F.substring("date", 1, 4))


class Cdc:
    def __init__(self, spark, rec, inp: dict, work: str):
        self.spark, self.rec, self.inp, self.work = spark, rec, inp, work
        self.tables: list[ManifestLakeTable] = []
        self.rewrites: list[tuple[int, int, int]] = []  # (hop, buckets, bytes) per traced commit
        self.passes = 0

    @property
    def lock_roots(self):
        return tuple(t.root for t in self.tables)

    def setup(self) -> None:
        """Bootstrap the table and its view (set-up work a deployment also
        pays), then warm up with a time-travel read, a vacuum and
        WARM_HOPS hops."""
        table = ManifestLakeTable(os.path.join(self.work, "table"), keys=["series_id", "date"])
        self.tables.append(table)
        base = os.path.join(self.inp["root"], "base.parquet")
        self.rec.op("write", "bootstrap", lambda: table.overwrite(self.spark.read.parquet(base)))
        rows = self.rec.op("read", "bootstrap view", lambda: materialize_agg(
            _with_year(table.read(self.spark)), GROUP, SUMS).collect())
        self.st = {"table": table, "view": rows}
        self._travel(0)
        self._vacuum()
        for hop in range(1, WARM_HOPS + 1):
            self._hop(hop)

    def timed_pass(self) -> None:
        """HOPS hops after the ones already committed."""
        first = WARM_HOPS + HOPS * self.passes
        self.passes += 1
        self.hops = range(first + 1, first + HOPS + 1)
        for i, hop in enumerate(self.hops, 1):
            self._hop(hop)
            if i % TRAVEL_EVERY == 0:
                v = hop - TRAVEL_BACK
                want = self.inp["model"]["totals"][v]
                self.rec.op("read", f"time_travel v{v}", lambda v=v: self._travel(v),
                            check=lambda r, want=want: r[0][0] == want[0]
                            and abs(r[0][1] - want[1]) <= 1e-6 * abs(want[1]))
                self.rec.op("maint", "vacuum", self._vacuum)

    def _hop(self, hop: int) -> None:
        rec, sp, spark, st = self.rec, self.rec.span, self.spark, self.st
        table = st["table"]
        path = os.path.join(self.inp["root"], f"delta_{hop:03d}.parquet")

        def commit():
            src = spark.read.parquet(path)
            if hop % 2:
                with sp("sources.lakehouse", "apply_changes"):
                    touched = table.apply_changes(src)
            else:
                with sp("sources.lakehouse", "merge_into"):
                    touched = table.merge_into(src)
            return touched

        def feed_fold():
            v = table.current_version()
            with sp("sources.lakehouse", "changes"):
                feed = table.changes(spark, v - 1, v, update_preimages=True)
            with sp("operators.ivm", "fold"):
                delta = incremental_agg_delta(_with_year(feed), GROUP, SUMS)
                view = spark.createDataFrame(st["view"], VIEW_SCHEMA)
                rows = apply_agg_delta(view, delta, GROUP, SUMS).collect()
            st["view"] = rows
            return rows

        rec.op("write", f"commit {hop}", commit, check=lambda t: len(t) > 0)
        if rec.traced:
            # manifest diff: the buckets whose data dir this commit replaced
            before, after = table.manifest(hop - 1), table.manifest(hop)
            changed = [b for b in after if after[b] != before.get(b)]
            self.rewrites.append(
                (hop, len(changed), sum(_du(os.path.join(table.root, after[b])) for b in changed))
            )
        rec.op("read", f"feed_fold {hop}", feed_fold, check=lambda rows: len(rows) > 0)

    def _travel(self, version: int):
        with self.rec.span("sources.lakehouse", "read"):
            df = self.st["table"].read(self.spark, version)
        return df.agg(F.count(F.lit(1)), F.sum("value")).collect()

    def _vacuum(self):
        with self.rec.span("sources.lakehouse", "vacuum"):
            return self.st["table"].vacuum(keep=VACUUM_KEEP)

    # --- checks and metrics ---------------------------------------------

    def check_final(self) -> list[str]:
        """The maintained view must equal a direct recompute over the last
        version and the generator's model, to rounding."""
        st = self.st
        direct = materialize_agg(_with_year(st["table"].read(self.spark)), GROUP, SUMS).collect()
        model = self.inp["model"]["views"][self.hops[-1]]
        errors = []
        for name, rows in (("maintained", st["view"]), ("direct", direct)):
            got = {(r["series_id"], int(r["year"])): (r["n_rows"], r["sum_value"]) for r in rows}
            if set(got) != set(model):
                errors.append(f"{name} view groups differ from the model")
                continue
            bad = [
                k for k, (n, s) in got.items()
                if n != model[k][0] or abs(s - model[k][1]) > 1e-6 * max(1.0, abs(model[k][1]))
            ]
            if bad:
                errors.append(f"{name} view differs from the model on {len(bad)} groups")
        return errors

    def rows_landed(self) -> int:
        """Delta rows committed per pass."""
        return HOPS * self.inp["model"]["delta_rows"]

    def space_amp(self) -> float:
        """Lake bytes on disk per byte of live data (the current
        version's files)."""
        table = self.st["table"]
        live = sum(_du(os.path.join(table.root, rel)) for rel in table.manifest().values())
        return _du(table.root) / live

    def layer_metrics(self) -> dict[str, float]:
        rec, table = self.rec, self.st["table"]
        commits = [sp for sp in rec.spans if sp["name"] in ("merge_into", "apply_changes")]
        folds = [sp for sp in rec.spans if sp["layer"] == "operators.ivm"]
        delta_bytes = sum(
            os.path.getsize(os.path.join(self.inp["root"], f"delta_{h:03d}.parquet"))
            for h, _b, _n in self.rewrites
        )
        live_files = sum(_nfiles(os.path.join(table.root, rel)) for rel in table.manifest().values())
        return {
            "sources.lakehouse.commit_s": sum(sp["end"] - sp["start"] for sp in commits) / HOPS,
            "sources.lakehouse.buckets_rewritten": sum(b for _h, b, _n in self.rewrites) / HOPS,
            "sources.lakehouse.write_amp": sum(n for _h, _b, n in self.rewrites) / delta_bytes,
            "sources.lakehouse.files_live": live_files,
            "sources.lakehouse.changes_s": rec.layer_time("sources.lakehouse", "changes") / HOPS,
            "sources.lakehouse.read_s": rec.layer_time("sources.lakehouse", "read"),
            "sources.lakehouse.vacuum_s": rec.layer_time("sources.lakehouse", "vacuum"),
            "operators.ivm.fold_s": sum(sp["end"] - sp["start"] for sp in folds) / HOPS,
            "operators.ivm.jobs_per_hop": sum(sp.get("spark", {}).get("jobs", 0) for sp in folds) / HOPS,
        }


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(root) for f in files)


def _nfiles(root: str) -> int:
    return sum(1 for _d, _s, files in os.walk(root) for f in files if f.endswith(".parquet"))
