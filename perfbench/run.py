#!/usr/bin/env python3
"""Benchmark of the metadata-driven ETL engine and its operator library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_fact --seed 1 --seconds 8 --trace 0

One process runs one workload as a closed loop with one client: the next
operation starts when the previous one has finished. An operation is one
pipeline run, or one operator call whose result is collected to the
driver. The loop runs whole units (one fact-load run; one 30-day backfill
pass; the five operator keys in a seed-permuted order and then in
reverse), at least one, until ``--seconds`` have passed. Outputs are then checked against DuckDB, outside the timed
region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` then runs one
more unit with layer spans on (the Spark event log is on for the whole
run), reports the per-layer metrics of that unit instead, and the
traced time per unit over the untraced one as ``trace.overhead_ratio``. The last line of stdout is one JSON object;
the exit code is 0 only when every output check passed.

Inputs are generated once per checkout under ``.perfbench/data``, and the
DuckDB results the operator calls are checked against are kept there too
(neither is part of set-up time, like the rest of the DuckDB reference
work); every run works in its own ``.perfbench/run-<pid>`` directory,
removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402
from statistics import median  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH_DIR = ROOT / ".perfbench"
DEFAULT_SCALE = 0.1


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=DEFAULT_SCALE,
                   help="source-table scale factor (0.1 = 600k lineitem rows)")
    return p.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, by
    nearest rank; the maximum when there are ten samples or fewer."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], f"max of n={n}"
    k = n - 11
    return xs[k], f"p{100.0 * (k + 1) / n:.1f} of n={n}, 10 beyond"


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark(work: Path, trace: bool):
    from metadata_etl_framework_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf
    )


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between
    (column 8 of /proc/stat): high values mean noisy timings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta[:8]), 1)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def loop(wl, run, rec, seconds: float) -> tuple[float, int]:
    """Closed loop of whole units, at least one, until ``seconds`` have
    passed; returns (wall seconds, units run)."""
    t0 = time.perf_counter()
    n = 0
    while True:
        wl.unit(run, rec)
        n += 1
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0, n


RUN_LOG_TABLES = (
    "PIPELINE_RUNS", "TRANSFORM_LOG", "EXTRACTION_LOG", "LOAD_LOG", "ERROR_LOG",
    "AUDIT_LOG", "SLA_RESULTS", "LINEAGE_EDGES",
)


def catalog_rows(wl) -> int:
    """Run-history rows in the workload's catalog (0 without one)."""
    store = getattr(wl, "store", None)
    if store is None:
        return 0
    return sum(
        store.query(f"SELECT count(*) AS n FROM {t}")[0]["n"] for t in RUN_LOG_TABLES
    )


def measure(args: argparse.Namespace, work: Path) -> tuple[dict, list[str], str]:
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    import metadata_etl_framework_spark  # noqa: F401 - fails fast without the program
    import datagen
    import layers
    import spans
    import workloads

    wl = workloads.make(args.workload, args.seed)
    t_data = time.perf_counter()
    data_dir = datagen.ensure_tables(BENCH_DIR / "data", args.scale)
    data_s = time.perf_counter() - t_data

    t = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    session_s = time.perf_counter() - t
    try:
        run = workloads.Run(spark, data_dir, work)
        t = time.perf_counter()
        wl.register(run)
        register_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up(run)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - data_s

        rec = workloads.Recorder()
        cpu0 = cpu_ticks()
        wall, n_units = loop(wl, run, rec, args.seconds)
        steal = steal_share(cpu0, cpu_ticks())
        records = list(rec.records)
        if args.trace:
            tracer = spans.Tracer(spark.sparkContext)
            layers.install(tracer)
            trec = workloads.Recorder(tracer)
            try:
                wall_traced, _ = loop(wl, run, trec, 0.0)  # one unit
            finally:
                tracer.unwrap_all()
            records += trec.records
        extra = {  # before the checks, whose DuckDB work is not the program's
            "memory.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            "memory.py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "catalog.rows_total": float(catalog_rows(wl)),
        }
        t = time.perf_counter()
        problems = wl.check(run)
        check_s = time.perf_counter() - t
    finally:
        stop_spark(spark)

    ok = [r for r in rec.records if not r.failed]
    lat = [r.seconds for r in ok] or [float("nan")]
    tail_s, tail_desc = tail(lat)
    rows_per_op = sorted({r.rows for r in rec.records})
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (median(lat), "s"),
        "latency_tail_s": (tail_s, "s"),
        "rows_per_s": (sum(r.rows for r in ok) / wall, "rows/s"),
    }
    failed = sum(r.failed for r in records)
    summary = (
        f"{args.workload} seed={args.seed}: "
        + " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in e2e.items())
        + f" failed_ratio={failed / max(len(records), 1):.6g} fraction"
        f" | tail={tail_desc}; ops={len(rec.records)} in {n_units} units,"
        f" {wall:.3f} s timed, host CPU steal {100 * steal:.1f}%; input rows/op={rows_per_op};"
        f" data build {data_s:.2f} s excluded from setup_s;"
        f" session {session_s:.2f} s, warm-up {warmup_s:.2f} s, checks {check_s:.2f} s"
        " | op latencies: " + " ".join(f"{r.name}={r.seconds:.3f}" for r in rec.records)
    )
    if not args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        split = spans.layer_split(tracer.spans)
        problems += spans.reconcile(split)
        tracer.dump(BENCH_DIR / "traces" / f"{args.workload}-seed{args.seed}.json")
        extra.update({
            "setup.session_s": session_s,
            "setup.register_s": register_s,
            "setup.warmup_s": warmup_s,
            "trace.overhead_ratio": wall_traced / (wall / n_units),
        })
        spark_ops = spans.spark_split(work / "events")
        values = layers.metrics(tracer, trec.records, spark_ops, extra)
        units = dict(layers.PER_LAYER)
        metrics = {k: {"value": values[k], "unit": units[k]} for k, _ in layers.PER_LAYER}
        self_split = {
            layer: sum(s.get(layer, 0.0) for s in split.values()) / max(len(split), 1)
            for layer in sorted({k for s in split.values() for k in s})
        }
        summary += " | self time per op: " + " ".join(
            f"{k}={v:.4f}" for k, v in self_split.items())
    result = {
        "correct": not problems,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }
    return result, problems, summary


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    BENCH_DIR.mkdir(exist_ok=True)
    work = BENCH_DIR / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True)
    sys.path.insert(1, str(ROOT))
    try:
        result, problems, summary = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"[perfbench] CHECK FAILED: {p}", file=sys.stderr)
    print(summary)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
