"""Seeded single-client benchmark of dynamo2es_lambda_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. ``--workload all`` runs the four workloads
one after another, each in its own process. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The lines before it are a readable report.
Exits non-zero, printing no result, when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"

# per workload, throughput_per_s = totals[items] / totals[seconds]
THROUGHPUT = {
    "bulk_build": ("docs", "build_s"),
    "stream_ingest": ("events", "cdc_s"),
    "search_selective": ("queries", "search_s"),
    "search_hot": ("queries", "search_s"),
}
WORKLOADS = tuple(THROUGHPUT)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seed < 0 or a.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return a


def session(nproc: int, tmp: str, traced: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} "
                "-XX:-UsePerfData")
    )
    if traced:
        os.makedirs(os.path.join(tmp, "eventlog"))
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir",
                     "file://" + os.path.join(tmp, "eventlog"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and its driver JVM, and wait until the JVM has exited
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def units() -> dict:
    """Metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def e2e_metrics(name: str, run) -> dict:
    from perfbench import stats

    items, busy = THROUGHPUT[name]
    t = run.totals
    return {
        "setup_s": run.setup_s,
        "search_call_p50_ms": stats.median(run.samples["search_call_ms"]),
        "throughput_per_s": t[items] / t[busy],
        "index_bytes_per_input_byte": t["index_bytes"] / t["input_bytes"],
    }


def report_lines(name: str, run) -> list[str]:
    """The full metric set of this workload, each with its unit and
    sample count."""
    from perfbench import stats

    s, t = run.samples, run.totals
    lines = [("setup_s", run.setup_s, "s", 1)]
    if "build_s" in s:
        lines.append(("build_docs_per_s", t["docs"] / t["build_s"], "docs/s",
                      len(s["build_s"])))
    lines.append(("index_bytes_per_input_byte",
                  t["index_bytes"] / t["input_bytes"], "ratio", 1))
    if "cdc_batch_s" in s:
        lines.append(("cdc_batch_p50_s", stats.median(s["cdc_batch_s"]), "s",
                      len(s["cdc_batch_s"])))
        lines.append(("cdc_events_per_s", t["events"] / t["cdc_s"],
                      "events/s", len(s["cdc_batch_s"])))
    if "compact_s" in s:
        lines.append(("compact_s", stats.median(s["compact_s"]), "s",
                      len(s["compact_s"])))
    if "search_call_ms" in s:
        calls = s["search_call_ms"]
        lines.append(("search_call_p50_ms", stats.median(calls), "ms",
                      len(calls)))
        p90 = stats.supported_percentile(calls, 90.0)
        if p90 is not None:
            lines.append(("search_call_p90_ms", p90, "ms", len(calls)))
        if name.startswith("search"):
            lines.append(("queries_per_s", t["queries"] / t["search_s"],
                          "queries/s", len(calls)))
    lines.append(("failed_ops_frac", run.failed / max(run.attempted, 1),
                  "fraction", run.attempted))
    out = [f"{n:28s} {v:14.4f} {u:10s} n={c}" for n, v, u, c in lines]
    if "search_call_ms" in s and stats.supported_percentile(
            s["search_call_ms"], 90.0) is None:
        out.append(f"{'search_call_p90_ms':28s} {'-':>14s} {'ms':10s} "
                   f"n={len(s['search_call_ms'])} (under 10 samples beyond "
                   "p90: not reported)")
    return out


def layer_metrics(run, profiles, kern: dict, tables: dict) -> dict:
    from perfbench import stats, trace, workloads as wl

    out = trace.per_call(profiles, wl.SPANS)
    loads = [p.metrics["wall_ms"] for p in profiles if p.span.name == wl.LOAD]
    out["plans.search.load_store.wall_ms"] = sum(loads) / max(len(loads), 1)
    out.update(kern)
    for table, mb in tables.items():
        out[f"sources.store_io.{table}_mb"] = mb
    searches = [p for p in profiles if p.span.name in wl.SEARCH_SPANS]
    out["sources.store_io.segment_batches"] = sum(
        p.span.counts["segment_batches"] for p in searches
    ) / max(len(searches), 1)
    writes = [p.span for p in profiles if p.span.name in wl.WRITE_SPANS]
    out["sources.store_io.bytes_written_per_input_byte"] = sum(
        s.counts.get("bytes_written", 0) for s in writes
    ) / max(sum(s.counts.get("input_bytes", 0) for s in writes), 1)
    out["plans.search.hits_per_scan_row"] = sum(
        p.span.counts["hits"] for p in searches
    ) / max(sum(p.metrics["scan_rows"] for p in searches), 1.0)
    # the traced twin of the end-to-end latency: traced minus untraced
    # median is the tracing overhead
    out["perfbench.traced.search_call_p50_ms"] = stats.median(
        run.samples["search_call_ms"])
    return out


def run_one(args) -> int:
    # import the benchmark as a package from the root, never its modules
    # from their own directory (perfbench/trace.py would shadow stdlib trace)
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import tests.oracle  # noqa: F401
        from perfbench import trace, workloads
    except ImportError as err:
        print(f"perfbench: cannot import the engine or its oracle from "
              f"{ROOT}: {err}", file=sys.stderr)
        return 2

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    os.makedirs(tmp)
    os.makedirs(os.path.join(tmp, "java"))
    # Python workers inherit these from the JVM: the package path (every
    # mapInPandas imports dynamo2es_lambda_spark) and the scratch dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    try:
        return _measure(args, tmp, trace, workloads)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass


def _measure(args, tmp: str, trace, workloads) -> int:
    import pyarrow
    import pyspark

    traced = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = session(nproc, tmp, traced)
    session_s = time.perf_counter() - t0
    tracer = trace.Tracer(spark.sparkContext if traced else None)
    run = workloads.Run(spark, args.seed, args.seconds, nproc, tmp, tracer,
                        traced)
    kern, tables = {}, {}
    try:
        workloads.WORKLOADS[args.workload](run)
        if traced:
            kern = workloads.kernel_metrics(run)
            tables = workloads.table_mb(run.store)
        app_id = spark.sparkContext.applicationId
    finally:
        stop(spark)
    run.setup_s += session_s

    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} nproc={nproc} "
          f"driver_memory={DRIVER_MEMORY} spark={pyspark.__version__} "
          f"pyarrow={pyarrow.__version__} python={sys.version.split()[0]} "
          f"clients=1 (closed loop) oracle_s="
          f"{run.totals.get('oracle_s', 0.0):.1f} (untimed)")
    for line in report_lines(args.workload, run):
        print("# " + line)
    for err in run.errors[:20]:
        print(f"perfbench: failed op: {err}", file=sys.stderr)

    correct = run.failed == 0
    if traced:
        log = trace.read_event_log(os.path.join(tmp, "eventlog", app_id))
        profiles = trace.profile(log, tracer.spans)
        bad = trace.reconcile_failures(profiles)
        for p in bad:
            print(f"perfbench: span {p.span.name} does not reconcile: "
                  f"(jobs + driver gaps) / wall = {p.reconcile:.3f}",
                  file=sys.stderr)
        correct = correct and not bad
        worst = max((abs(p.reconcile - 1) for p in profiles), default=0.0)
        print(f"# spans={len(profiles)} worst reconciliation error="
              f"{worst:.4f} (limit {trace.RECONCILE_TOLERANCE})")
        metrics = layer_metrics(run, profiles, kern, tables)
    else:
        metrics = e2e_metrics(args.workload, run)
    unit = units()
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own process; prints their reports and one
    combined result whose metric names are ``<workload>.<metric>``."""
    results = {}
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        results[w] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()},
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
