"""crawl_wide and crawl_deep: whole crawls through ``CrawlEngine``.

The engine runs with its constructor defaults (bloom pre-screen on, join
fetch, no bench mode); only the politeness policy comes from the workload.
A timed crawl spans engine construction to the end of ``run()``, so it
includes building the engine's page-store cache. The traced run drives
the same crawl one round at a time with ``run(max_rounds=1)``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from checks import Observed, check_against_expected, check_properties
from crawlsim import simulate
from common import dir_mb, median
from webgen import WebSpec, build_web, write_web

# Host sizes are fixed; the seed draws delays, contents and extra links.
WIDE = WebSpec(
    sizes=(140,) + tuple(18 + (7 * i) % 23 for i in range(1, 48)),
    branching=224,  # every host's tree is one level below its root
    grid_rows=(56, 66),  # ~8 KB pages: extraction carries the crawl
    delays=(0,),
    dead_rate=0.03,
    cross_rate=0.3,
    private_every=11,
    max_per_host=1_000_000,
    max_retries=0,  # dead links die in round 3, when first fetched
)
DEEP = WebSpec(
    sizes=tuple(10 + (3 * i) % 4 for i in range(16)),
    branching=2,  # binary trees: four levels, the last split by the budget
    grid_rows=(1, 2),  # small pages: extraction is minor
    delays=(7_500, 10_000),  # budgets of 8 and 6 pages per host and round
    dead_rate=0.05,
    cross_rate=0.15,
    private_every=9,
    max_per_host=8,
    max_retries=0,
    blocked_links=24,  # the seen set grows ~25x faster than the crawl
)
TINY = WebSpec(  # drains in two rounds
    sizes=(4, 3, 3),
    branching=8,
    grid_rows=(2, 3),
    delays=(0,),
    dead_rate=0.0,
    cross_rate=0.0,
    private_every=3,
    max_per_host=8,
    max_retries=0,
)
SPECS = {"crawl_wide": WIDE, "crawl_deep": DEEP}
TABLES = ("results", "seen_delta", "seen_blob", "state", "dead", "metrics", "lineage")
PHASES = ("fetch_extract_write", "links_dedup", "parallel_writes", "counts")
SAMPLE_PAGES = 200  # fixed sample for the single-thread layer probes


def _policy(spec: WebSpec):
    from spider_spark.oracle import CrawlPolicy

    return CrawlPolicy(
        max_per_host=spec.max_per_host,
        round_ms=spec.round_ms,
        max_retries=spec.max_retries,
        max_rounds=spec.max_rounds,
    )


def _crawl(run, spark, paths: dict, spec: WebSpec, ckpt: str, stepwise: bool):
    """One crawl from a fresh checkpoint; returns (engine, meta, seconds)."""
    from spider_spark.engine import CrawlEngine

    seeds = spark.read.parquet(paths["seeds"])
    t0 = time.time()
    with run.tracer.span("construct"):
        eng = CrawlEngine(spark, paths["pages"], paths["robots"], ckpt,
                          policy=_policy(spec))
    if not stepwise:
        meta = eng.run(seeds)
    else:
        meta, r = None, 1
        while meta is None or meta["pending"] > 0:
            with run.tracer.span(f"round_{r}"):
                meta = eng.run(seeds if meta is None else None, max_rounds=1)
            if meta["round"] < r:  # no round ran: the round cap was reached
                break
            r += 1
    return eng, meta, time.time() - t0


def _round_seconds(ckpt: str) -> list[float]:
    """Wall time of each round, between consecutive commit markers (each
    round's marker is the last file it writes)."""
    marks = sorted(
        (int(os.path.basename(p)[len("round_"):-len(".json")]), os.path.getmtime(p))
        for p in glob.glob(os.path.join(ckpt, "commits", "round_*.json"))
    )
    return [b[1] - a[1] for a, b in zip(marks, marks[1:])]


def _observe(eng, meta) -> Observed:
    res = eng.results().select("url", "seq", "text", "round", "fetch_priority").toArrow()
    seen = eng.seen().select("url", "disposition", "round").toArrow()
    dead_df = eng.dead()
    dead = dead_df.select("url").toArrow().column(0).to_pylist() if dead_df else []
    return Observed(
        results=list(zip(*(res.column(c).to_pylist() for c in
                           ("url", "seq", "text", "round", "fetch_priority")))),
        seen=list(zip(*(seen.column(c).to_pylist() for c in
                        ("url", "disposition", "round")))),
        dead=dead,
        drained=meta["pending"] == 0,
    )


def warm_up(run, spark) -> None:
    """A whole crawl of a three-host web: every round plan runs once."""
    web = build_web(TINY, seed=0)
    paths = write_web(web, os.path.join(run.work, "tiny"))
    from spider_spark.engine import CrawlEngine
    eng = CrawlEngine(spark, paths["pages"], paths["robots"], os.path.join(run.work, "tiny_ckpt"), policy=_policy(TINY))
    eng.run(spark.read.parquet(paths["seeds"]), max_rounds=1)


def measure(run, spark) -> None:
    spec = SPECS[run.args.workload]
    web = build_web(spec, run.args.seed)
    paths = write_web(web, os.path.join(run.work, "web"))
    exp = simulate(web.links, web.seed_canon, web.robots, spec.max_per_host,
                   spec.round_ms, spec.max_retries, spec.max_rounds)
    run.web = web
    run.log(f"input ready: {len(web.pages)} pages, {exp.rounds} rounds expected")
    rates, round_means, sizes = [], [], []
    window = 0.0
    k = 0
    # whole crawls while the next is expected to end inside the window; at
    # least two, so the median is not the first crawl alone
    while k < 2 or window + window / k <= run.args.seconds:
        ckpt = os.path.join(run.work, f"ckpt_{k}")
        try:
            eng, meta, secs = _crawl(run, spark, paths, spec, ckpt,
                                     stepwise=bool(run.args.trace))
        except Exception as e:  # a crawl that raises counts as a failed round
            run.attempted += 1
            run.failed += 1
            run.fail_check("crawl", [f"{type(e).__name__}: {e}"])
            break
        window += secs
        per_round = _round_seconds(ckpt)
        run.log(f"crawl {k} done in {secs:.2f}s, rounds "
                + " ".join(f"{r:.2f}" for r in per_round))
        k += 1
        run.attempted += len(per_round)
        # the whole crawl's time per round: its rounds differ in size (seed
        # round, bulk round, dead-link round), so one round's time, or their
        # median, jumps between them from run to run
        round_means.append(secs / max(len(per_round), 1))
        sizes.append(dir_mb(ckpt))
        with run.tracer.span("check"):
            obs = _observe(eng, meta)
            run.fail_check("expected crawl", check_against_expected(web, exp, obs))
            run.fail_check("properties", check_properties(web, obs))
        run.log("outputs checked")
        rates.append(len(obs.results) / secs)
        if run.args.trace:
            run.trace_ckpt = ckpt  # kept for the per-layer read
        else:
            shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.clearCache()
    run.e2e["items_per_s"] = median(rates)
    run.e2e["op_s"] = median(round_means)
    run.e2e["output_mb"] = median(sizes)


def _slope(xs: list[float], ys: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


def layer_probes(run, web) -> None:
    """Single-thread speed of the extract and urlnorm layers over a fixed
    sample of this workload's pages and their raw hrefs."""
    from spider_spark.extract import extract_text_and_links
    from spider_spark.urlnorm import canonicalize_url

    sample = sorted(web.pages)[:SAMPLE_PAGES]
    t0 = time.perf_counter()
    for u in sample:
        extract_text_and_links(web.pages[u], u)
    run.layer["extract.pages_per_s"] = len(sample) / (time.perf_counter() - t0)
    pairs = [(h, u) for u in sample for h in web.hrefs[u]]
    t0 = time.perf_counter()
    for h, u in pairs:
        canonicalize_url(h, base=u)
    run.layer["urlnorm.urls_per_s"] = len(pairs) / (time.perf_counter() - t0)


def trace_layers(run) -> None:
    """Per-layer metrics of the traced crawl: the engine's per-round phase
    timings, checkpoint table sizes, and the Spark event log per span."""
    from spans import event_log_file, fold_event_log, fold_spark_rows, read_events

    ckpt = run.trace_ckpt
    commits = [
        json.load(open(p)) for p in
        sorted(glob.glob(os.path.join(ckpt, "commits", "round_*.json")),
               key=lambda p: int(os.path.basename(p)[6:-5]))
    ][1:]  # round 0 is the seed commit, which has no timings
    for ph in PHASES:
        vals = [c["timings"][ph] for c in commits]
        run.layer[f"crawler.{ph}_s"] = sum(vals)
        run.layer[f"crawler.{ph}_p50_s"] = median(vals)
    run.layer["seen.links_dedup_slope_s"] = _slope(
        [c["round"] for c in commits],
        [c["timings"]["links_dedup"] for c in commits])
    for t in TABLES:
        run.layer[f"checkpoint.{t}_mb"] = dir_mb(os.path.join(ckpt, t))
    run.layer["seen.blob_mb"] = run.layer["checkpoint.seen_blob_mb"]
    rows = fold_event_log(read_events(event_log_file(run.event_dir)),
                          run.tracer.spans)
    op_spans = [s.name for s in run.tracer.spans if s.name.startswith("round_")]
    # a run crawls more than once: each span name is folded once, and the
    # per-operation shares divide by every round of every crawl
    fold_spark_rows(run, rows, sorted(set(op_spans)) + ["construct"],
                    len(op_spans))
    layer_probes(run, run.web)
