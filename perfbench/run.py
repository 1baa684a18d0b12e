"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {fred_backfill,lakehouse_cdc}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One closed-loop client drives the package's
public functions on ``session.get_spark()`` as shipped (``local[nproc]``,
no Spark conf of its own). Inputs are generated from the seed under
``.perfbench_work/`` by a child process and are the only thing the
program sees. Each run measures one fixed pass of its workload after a
warm-up in set-up; ``--seconds`` is accepted for the caller's contract
and does not change the work (``run_seconds`` in BENCHMARK.json is about
one pass).

``--trace 0`` reports the end-to-end metrics of an untraced pass. Its
bounded ones are set-up time, the CPU seconds the client's process tree
(client, driver JVM, Python workers) spends in the pass's ops, in all and
in read and in write ops, and space amplification. Wall-clock figures
(pass wall time without result checks, read and write p50, rows per
second) are in the report line: on a shared 4-vCPU host with CPU steal,
over ten seeds, they spread up to 0.24 of their median (quartile
distance) where the CPU seconds spread up to 0.16.

``--trace 1`` runs the pass with tracing on, then an untraced pass once
more. Tracing wraps every call into a package layer in a span (each
under its own Spark job group) and reads Spark's status store per group
after each op. The run reports the per-layer metrics of the traced pass
and the tracing overhead: the traced pass's wall time minus that of the
untraced pass after it. That pass runs a little faster for coming later
in the session, so the overhead reads somewhat high. Spans are written
to ``.perfbench_work/spans.json``. The last stdout line is the result;
the line before it is the full report.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

REPO = os.getcwd()
WORK = os.path.join(REPO, ".perfbench_work")
WORKLOADS = ("fred_backfill", "lakehouse_cdc")


def _isolate() -> None:
    """Keep every file the run makes inside the checkout."""
    if os.path.isdir(WORK):
        shutil.rmtree(WORK)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # python workers and child processes import from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, REPO)


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit, so that no process
    the run started outlives it (it exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(REPO, "fred_economic_data_pipeline_local_spark")):
        print("perfbench: run from the repository root (package not found)", file=sys.stderr)
        return 2
    # clearing the last run's files and generating inputs (and oracles)
    # count in neither setup nor the pass
    t0 = time.perf_counter()
    _isolate()
    from perfbench import backfill, cdc, gen, trace

    module, cls = {
        "fred_backfill": ("backfill", backfill.Backfill),
        "lakehouse_cdc": ("cdc", cdc.Cdc),
    }[args.workload]
    t_clear = time.perf_counter() - t0
    inp = gen.isolated(f"{module}.prepare", args.seed, WORK, scratch=os.path.join(WORK, "isolated"))
    input_digest = gen.digest(inp["digest_root"])
    t_gen = time.perf_counter() - t0 - t_clear

    from fred_economic_data_pipeline_local_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    boot_s = time.perf_counter() - t0

    warm = trace.Recorder(spark, traced=False)
    wl = cls(spark, warm, inp, WORK)
    scan_s = 0.0
    if hasattr(wl, "scan"):
        t0 = time.perf_counter()
        wl.scan()
        scan_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.setup()
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START - t_clear - t_gen

    def timed_pass(traced: bool):
        rec = trace.Recorder(spark, traced=traced, scratch_dirs=(os.environ["TMPDIR"],),
                             lock_roots=wl.lock_roots)
        wl.rec = rec
        t0 = time.perf_counter()
        wl.timed_pass()
        return rec, time.perf_counter() - t0 - rec.check_s

    recs = [warm]
    if args.trace:
        traced, traced_wall = timed_pass(True)
        recs.append(traced)
    rec, wall_s = timed_pass(False)
    recs.append(rec)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "read_p50_s": (statistics.median(rec.latencies("read")), "s"),
        "write_p50_s": (statistics.median(rec.latencies("write")), "s"),
        "rows_per_s": (wl.rows_landed() / wall_s, "1/s"),
        "space_amp": (wl.space_amp(), "ratio"),
        "cpu_s": (rec.cpu(), "s"),
        "read_cpu_s": (rec.cpu("read"), "s"),
        "write_cpu_s": (rec.cpu("write"), "s"),
    }

    errors = [f"{o['name']}: {o.get('error', 'wrong result')}" for r in recs for o in r.failed()]
    if hasattr(wl, "check_final"):
        errors += wl.check_final()
    attempted = sum(len(r.ops) for r in recs[1:])
    failed = sum(len(r.failed()) for r in recs[1:])
    rss = trace.peak_rss_mb(spark.sparkContext)
    report = {
        "workload": args.workload, "seed": args.seed, "input_digest": input_digest,
        "seconds_requested": args.seconds, "generate_s": round(t_gen, 3),
        "boot_s": round(boot_s, 3), "scan_s": round(scan_s, 3), "warmup_s": round(warmup_s, 3),
        "warmup_ops": {o["name"]: round(o["s"], 3) for o in warm.ops},
        "pass_ops": {o["name"]: round(o["s"], 3) for o in rec.ops},
        "pass_ops_cpu_s": {o["name"]: round(o["cpu"], 2) for o in rec.ops},
        "ops": attempted, "errors": errors[:20], "error_rate": failed / attempted,
        "matched_within_tolerance": getattr(wl, "rounded", []),
        "read_tail_s": trace.tail(rec.latencies("read")),
        "write_tail_s": trace.tail(rec.latencies("write")),
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.trace:
        wl.rec = traced
        layers = {
            "session.boot_s": boot_s, "session.warmup_s": warmup_s, "catalog.scan_s": scan_s,
            "trace.wall_s": traced_wall, "trace.overhead_s": traced_wall - wall_s,
            "trace.bookkeeping_s": traced.overhead_s,
            "plans.scratch_dirs_left": max(x["scratch_entries"] for x in traced.leaks),
            "sources.lakehouse.locks_left": max(x["locks"] for x in traced.leaks),
        }
        layers.update(traced.spark_layer_metrics())
        layers.update(wl.layer_metrics())
        for layer, s in traced.self_times().items():
            layers[f"{layer}.self_s"] = s
        report["layers"] = layers
        units = {m["name"]: m["unit"] for m in declared["per_layer"]}
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in units.items()}
        traced.dump(os.path.join(WORK, "spans.json"))
    else:
        units = {m["name"]: m["unit"] for m in declared["end_to_end"]}
        metrics = {n: {"value": float(e2e[n][0]), "unit": u} for n, u in units.items()}
    _stop(spark)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
