#!/usr/bin/env python3
"""Benchmark of the BAG import/export path and the pinned catalog core.

Run from the repository root:

    python3 perfbench/run.py --workload bag --seed 1 --seconds 10 --trace 0

One run starts Spark (``local[nproc]``) several times to time set-up, then
runs the workload's operation in the last session until ``--seconds`` have
passed (at least once; the first operation is the one a fresh process pays
for), and checks every output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; with ``--trace 1`` the first operation is split at layer
boundaries (for ``catalog_core``, one corpus ``prepare`` follows it), and
the run prints the per-layer table, then reports the per-layer metrics.
Run records (and spans, when traced) go to ``.perfbench_work/runs/``;
generated inputs are cached in ``.perfbench_work/inputs/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# Spark starts per run; set-up time is their median
SETUPS = 3
# pages of the crawl the traced catalog_core run prepares
CRAWL_PAGES = 400

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}
COMMON_LAYER = {
    "op.wall_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "proc.py_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "host.steal_pct": "%",
    "host.load1": "load",
    "trace.overhead_s": "s",
}
BAG_LAYER = {
    "bag_xml.nummeraanduiding_s": "s",
    "bag_xml.verblijfsobject_s": "s",
    "bag_xml.pand_s": "s",
    "bag_xml.rest_s": "s",
    "bag_xml.records": "count",
    "bag_xml.kept_ratio": "ratio",
    "bag_xml.py_cpu_s": "s",
    "bag_xml.py_cpu_share": "ratio",
    "bag_pipeline.adressen_s": "s",
    "bag_pipeline.rows": "count",
    "bag_job.bytes_written": "B",
    "bag_job.bytes_per_input_byte": "ratio",
    "bag_job.addr_per_s": "1/s",
    "export.postcode_s": "s",
    "export.all_s": "s",
    "export.p4_s": "s",
    "export.p5_s": "s",
    "export.p6_s": "s",
    "export.csv_bytes": "B",
    "validate.battery_s": "s",
    "validate.jobs": "count",
}
CORPUS_LAYER = {
    "warc.front_s": "s",
    "warc.records": "count",
    "warc.kept_ratio": "ratio",
    "corpus_prep.curate_s": "s",
    "corpus_prep.jobs": "count",
}


def per_layer_units() -> dict[str, str]:
    from inputs import crawl_counts
    from workloads import CORE

    units = {**COMMON_LAYER, **BAG_LAYER, **CORPUS_LAYER}
    for k in crawl_counts(CRAWL_PAGES)["stages"]:
        units[f"corpus_prep.stage.{k}"] = "count"
    for q in CORE:
        units[f"catalog.{q}_s"] = "s"
        units[f"catalog.{q}.jobs"] = "count"
    return units


def _environment() -> None:
    """Spark settings for a run confined to the checkout: Python workers
    import the package from the root, and scratch space, emptied first,
    stays inside it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for d in (tmp, os.environ["SPARK_LOCAL_DIRS"]):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)


def warm_up(spark) -> None:
    """Small jobs (aggregate, window, broadcast join, an Arrow UDF) so that
    JVM start, class loading and the Python workers' start are billed to
    set-up, and the operation reuses the workers. Without the UDF a
    restart took ~1.2 s, and its run-to-run spread was ~40% of that."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    r = spark.range(64).withColumn("k", F.col("id") % 5)
    for df in (
        r.groupBy("k").agg(F.min("id")),
        r.withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("id"))),
        r.join(F.broadcast(r.select("k").distinct()), "k", "left"),
        r.select(ident("id")),
    ):
        df.write.format("noop").mode("overwrite").save()


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_spark(times: list[float]):
    from bag_parser_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    warm_up(spark)
    times.append(time.perf_counter() - t)
    return spark


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark() -> None:
    """Stop Spark and the JVM it runs in, then wait for every process this
    run started to end (killing any left after 60 s)."""
    from pyspark import SparkContext

    from observe import descendants

    started = descendants()
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.2)


def code_version() -> str:
    """Hash of the program's and the benchmark's Python sources, so that
    run records of different code are told apart in a checkout that is
    not a git repository."""
    h = hashlib.sha1()
    for top in ("bag_parser_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _untraced_op_seconds(kind: str, code: str) -> float | None:
    """Median wall seconds of the first operation of the untraced runs of
    ``kind`` recorded so far with the same code version."""
    runs = os.path.join(WORK, "runs")
    vals = []
    for name in os.listdir(runs) if os.path.isdir(runs) else ():
        if name.startswith(f"{kind}-seed") and name.endswith("-trace0.json"):
            with open(os.path.join(runs, name)) as f:
                rec = json.load(f)
            if rec.get("code") == code and rec["ops"]:
                vals.append(rec["ops"][0]["seconds"])
    return statistics.median(vals) if vals else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["bag", "catalog_core"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (1000 addresses, 3 queries) for the tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bag_parser_spark  # noqa: F401
    except ImportError as e:
        _log(f"the program is not in {ROOT}: {e}")
        return 2
    _environment()
    import observe
    import workloads

    t0 = time.perf_counter()
    cache, work = os.path.join(WORK, "inputs"), os.path.join(WORK, "out")
    if args.workload == "bag":
        n = 1000 if args.smoke else workloads.BAG_ADDRESSES
        wl = workloads.BagWorkload(cache, work, args.seed, n)
    else:
        wl = workloads.CatalogWorkload(
            cache, args.seed, workloads.CORE[:3] if args.smoke else None)
    corpus = None
    if args.trace and args.workload == "catalog_core":
        corpus = workloads.CorpusPrepare(
            cache, work, args.seed, 100 if args.smoke else CRAWL_PAGES)
    _log(f"inputs ready in {time.perf_counter() - t0:.1f} s")

    steal0, total0 = observe.cpu_times()
    setup_times: list[float] = []
    ops: list[dict] = []
    results: list = []
    extra = None
    tracer = root = None
    try:
        for _ in range(SETUPS - 1):
            start_spark(setup_times).stop()
        spark = start_spark(setup_times)
        _log("set-up " + ", ".join(f"{t:.2f}" for t in setup_times) + " s")

        def op(w, tracer=None):
            load, s0 = observe.load1(), observe.cpu_times()
            res = w.run(spark, len(ops), tracer)
            ops.append({"workload": w.name, "rep": len(ops),
                        "traced": tracer is not None,
                        "seconds": res.seconds, "cpu_s": res.cpu_s,
                        "parts": res.parts, "cpu_parts": res.cpu,
                        "attempted": res.attempted, "failed": res.failed,
                        "errors": res.errors, "load1": load,
                        "steal_jiffies": observe.cpu_times()[0] - s0[0]})
            _log(f"{w.name} op {res.seconds:.2f} s wall, {res.cpu_s:.2f} s CPU, "
                 f"{res.failed} failed")
            return res

        t_window = time.perf_counter()
        while not results or time.perf_counter() - t_window < args.seconds:
            if args.trace and not results:
                tracer = observe.Tracer(spark)
                with tracer.span(f"op:{wl.name}") as root:
                    results.append(op(wl, tracer))
                n_spans = len(tracer.spans)
            else:
                results.append(op(wl))
        if corpus is not None:
            with tracer.span(f"op:{corpus.name}"):
                extra = op(corpus, tracer)
    finally:
        cpu = observe.tree_cpu()
        rss = observe.tree_peak_rss()
        t_stop = time.perf_counter()
        stop_spark()
        _log(f"stopped in {time.perf_counter() - t_stop:.1f} s")
    steal1, total1 = observe.cpu_times()
    peak_rss = sum(v for k, v in rss.items() if not k.startswith("n_"))
    loads = [o["load1"] for o in ops]

    kind = f"{wl.name}-smoke" if args.smoke else wl.name
    code = code_version()
    done = results + ([extra] if extra else [])
    attempted = sum(r.attempted for r in done)
    failed = sum(r.failed for r in done)
    if args.trace:
        traced = results[0]
        units = per_layer_units()
        metrics = {k: 0.0 for k in units}
        metrics.update(traced.layer)
        if extra:
            metrics.update(extra.layer)
        spans = tracer.records()[:n_spans]  # the workload's own op
        untraced = _untraced_op_seconds(kind, code)
        metrics.update({
            "op.wall_s": traced.seconds,
            "spark.jobs": sum(s.get("jobs", 0) for s in spans),
            "spark.stages": sum(s.get("stages", 0) for s in spans),
            "spark.tasks": sum(s.get("tasks", 0) for s in spans),
            "proc.py_cpu_s": root.attrs.get("py_cpu_s", 0.0),
            "proc.jvm_cpu_s": root.attrs.get("jvm_cpu_s", 0.0),
            "host.steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "host.load1": statistics.median(loads),
            "trace.overhead_s": traced.seconds - untraced if untraced else 0.0,
        })
        if "bag_xml.py_cpu_s" in traced.layer:
            metrics["bag_xml.py_cpu_share"] = traced.layer["bag_xml.py_cpu_s"] / traced.cpu_s
        print(tracer.table())
        if untraced:
            print(f"tracing overhead: {traced.seconds:.3f} s traced - "
                  f"{untraced:.3f} s untraced (median of earlier untraced runs "
                  f"of the same code)")
    else:
        units = END_TO_END
        metrics = {
            "setup_s": statistics.median(setup_times),
            "op_cpu_s": statistics.median(r.cpu_s for r in results),
            "peak_rss_mb": peak_rss / 2**20,
        }

    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "code": code, "setup_times": setup_times, "ops": ops,
        "cpu_s": cpu, "peak_rss_bytes": peak_rss, "peak_rss_by_kind": rss,
        "host": {"steal_jiffies": steal1 - steal0, "jiffies": total1 - total0,
                 "load1_per_op": loads},
        "metrics": metrics,
        **({"spans": tracer.records()} if args.trace else {}),
    }
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{kind}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
