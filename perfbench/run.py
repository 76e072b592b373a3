"""Benchmark of the crawl engine and the query suite.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 30 --trace 0

Run from the repository root. Workloads: crawl_wide, crawl_deep,
query_suite (see README.md; BENCHMARK.json lists crawl_wide and
query_suite). The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer ones with
``--trace 1``. Everything the run writes goes under ``.perfbench/`` in the
working directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

CRAWL_WORKLOADS = ("crawl_wide", "crawl_deep")
WORKLOADS = CRAWL_WORKLOADS + ("query_suite",)

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_s": "s",
    "output_mb": "MB",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric and its unit. A workload reports 0 for a
    layer it does not run (the crawl tables on query_suite, the queries on
    the crawls)."""
    from crawl_workload import PHASES, TABLES
    from spans import METRIC_FIELDS
    from suite_workload import MODULES, SUITE

    m = {"extract.pages_per_s": "1/s", "urlnorm.urls_per_s": "1/s"}
    for ph in PHASES:
        m[f"crawler.{ph}_s"] = "s"
        m[f"crawler.{ph}_p50_s"] = "s"
    m["seen.blob_mb"] = "MB"
    m["seen.links_dedup_slope_s"] = "s"
    for t in TABLES:
        m[f"checkpoint.{t}_mb"] = "MB"
    for q in SUITE:
        m[f"query.{q}_s"] = "s"
    for mod in MODULES:
        m[f"operators.{mod}_s"] = "s"
    for k in METRIC_FIELDS:
        m[f"spark.{k}"] = "count" if k in ("jobs", "tasks") else (
            "s" if k.endswith("_s") else "MB")
    m["spark.jobs_per_op"] = "count"
    m["spark.tasks_per_op"] = "count"
    m["process.peak_rss_mb"] = "MB"
    m["trace.items_per_s"] = "1/s"
    m["trace.op_s"] = "s"
    return m


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """State of one benchmark run: its directories, spans and counters."""

    def __init__(self, args, root: str) -> None:
        from spans import Tracer

        self.args = args
        self.root = root
        self.work = os.path.join(
            root, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}  # per-layer metrics of a traced run

    def log(self, msg: str) -> None:
        print(f"[{time.time() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr,
              flush=True)

    def fail_check(self, what: str, msgs: list[str]) -> None:
        for m in msgs:
            self.failures.append(f"{what}: {m}")

    # ---------- Spark ----------
    def start_spark(self):
        from spider_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        extra = {
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(app=f"perfbench_{self.args.workload}",
                          master=f"local[{cpus}]", extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception as e:  # the JVM may already be gone after a crash
        print(f"perfbench: session stop failed: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _prepare_env(root: str) -> None:
    # Spark's Python workers import the UDFs' module by name, and they
    # start from the JVM's environment, not from this process's sys.path.
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "spider_spark", "engine", "crawler.py")):
        print("perfbench: run from the repository root (spider_spark/ not found)",
              file=sys.stderr)
        return 2
    _prepare_env(root)
    from spans import RssSampler

    run = Run(args, root)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "spark-local")
    sampler = RssSampler().start()
    spark = None
    try:
        if args.workload in CRAWL_WORKLOADS:
            import crawl_workload as wl
        else:
            import suite_workload as wl
        with run.tracer.span("setup"):
            spark = run.start_spark()
            run.log("session started")
            wl.warm_up(run, spark)
            spark.catalog.clearCache()
        run.e2e["setup_s"] = time.time() - PROCESS_START
        run.log("warm-up done")
        wl.measure(run, spark)
        if args.trace:
            run.layer["trace.items_per_s"] = run.e2e["items_per_s"]
            run.layer["trace.op_s"] = run.e2e["op_s"]
            stop_spark(spark)  # the event log is complete once stopped
            spark = None
            wl.trace_layers(run)
    finally:
        if spark is not None:
            stop_spark(spark)
        peak = sampler.stop()
    run.layer["process.peak_rss_mb"] = peak
    shutil.rmtree(run.work, ignore_errors=True)

    for f in run.failures:
        print("CHECK FAILED:", f, file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": run.layer.get(k, 0.0), "unit": u}
                   for k, u in per_layer_metrics().items()}
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
