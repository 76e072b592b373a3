"""Tests of the benchmark's own checks and trace fold.

    python3 -m pytest perfbench -q

Each planted fault must make its check fail; the unmodified output must
pass. None of these tests starts Spark.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import Observed, check_against_expected, check_properties, compare_rows  # noqa: E402
from crawlsim import host_of, simulate  # noqa: E402
from spans import Span, assign_span, fold_event_log, read_events  # noqa: E402
from webgen import WebSpec, build_web  # noqa: E402

# small hosts with tight budgets, so rounds are budget-limited
SPEC = WebSpec(sizes=(9, 7, 6, 5), branching=3, grid_rows=(2, 3),
               delays=(0, 20_000, 30_000), dead_rate=0.3, cross_rate=0.4,
               private_every=4, max_per_host=3, max_retries=1, blocked_links=2)


@pytest.fixture()
def crawl():
    web = build_web(SPEC, seed=7)
    exp = simulate(web.links, web.seed_canon, web.robots, SPEC.max_per_host,
                   SPEC.round_ms, SPEC.max_retries, SPEC.max_rounds)
    obs = Observed(
        results=[(u, seq, web.text[u], exp.round_of[u], exp.prio_of[u])
                 for seq, u in enumerate(exp.order)],
        seen=[(u, "blocked" if u in exp.blocked else "frontier", exp.discovered[u])
              for u in exp.seen],
        dead=sorted(exp.dead),
        drained=exp.drained,
    )
    return web, exp, obs


def _fails(web, exp, obs):
    return check_against_expected(web, exp, obs) + check_properties(web, obs)


def test_the_correct_crawl_passes(crawl):
    web, exp, obs = crawl
    assert exp.drained and exp.dead and exp.blocked and exp.rounds > 3
    assert _fails(web, exp, obs) == []


def test_swapped_seq_fails(crawl):
    web, exp, obs = crawl
    r = obs.results
    r[2], r[5] = (r[2][0], r[5][1]) + r[2][2:], (r[5][0], r[2][1]) + r[5][2:]
    assert check_against_expected(web, exp, obs)
    assert check_properties(web, obs)


def test_changed_text_byte_fails(crawl):
    web, exp, obs = crawl
    u, seq, text, rnd, prio = obs.results[3]
    obs.results[3] = (u, seq, text[:-1] + chr(ord(text[-1]) ^ 1), rnd, prio)
    assert any("texts differ" in f for f in check_against_expected(web, exp, obs))


def test_dropped_url_fails(crawl):
    web, exp, obs = crawl
    dropped = obs.seen.pop(4)
    assert any("seen set" in f for f in check_against_expected(web, exp, obs))
    obs.seen.append(dropped)
    obs.results.pop()
    assert check_against_expected(web, exp, obs)
    assert check_properties(web, obs)


def test_host_over_budget_fails(crawl):
    web, exp, obs = crawl
    # move one page into a round where its host already used its budget
    counts = {}
    for u, _s, _t, rnd, _p in obs.results:
        counts[(rnd, host_of(u))] = counts.get((rnd, host_of(u)), 0) + 1
    full = next(k for k, c in counts.items() if c == SPEC.max_per_host)
    i = next(i for i, r in enumerate(obs.results)
             if host_of(r[0]) == full[1] and r[3] != full[0])
    u, seq, text, _rnd, prio = obs.results[i]
    obs.results[i] = (u, seq, text, full[0], prio)
    assert any("budget" in f for f in check_properties(web, obs))


def test_undrained_or_overlapping_sets_fail(crawl):
    web, exp, obs = crawl
    obs.dead.append(obs.results[0][0])
    assert any("overlap" in f or "|seen|" in f for f in check_properties(web, obs))
    obs.drained = False
    assert any("drained" in f for f in check_properties(web, obs))


def test_wrong_query_row_fails():
    want = {"k": [1, 2, 3], "v": [0.5, 1.25, None]}
    assert compare_rows({"v": [None, 0.5, 1.25], "k": [3, 1, 2]}, want) == []
    assert compare_rows({"k": [1, 2, 3], "v": [0.5, 1.2500000000000002, None]}, want)
    assert compare_rows({"k": [1, 2, 4], "v": [0.5, 1.25, None]}, want)
    assert compare_rows({"k": [1, 2], "v": [0.5, 1.25]}, want)
    assert compare_rows({"k": [1, 2, 3], "w": [0.5, 1.25, None]}, want)


def test_expected_links_cover_every_raw_form():
    web = build_web(SPEC, seed=3)
    raw = [h for hs in web.hrefs.values() for h in hs]
    assert any(h.startswith("../") for h in raw)
    assert any(":80/" in h for h in raw)
    assert any("#" in h for h in raw)
    assert any("/./x/../" in h for h in raw)
    assert any(h != h.lower() for h in raw)
    assert all(u == u.lower() and "#" not in u for ls in web.links.values() for u in ls)


def test_assign_span_picks_the_innermost_cover():
    spans = [Span("outer", 10.0, 20.0), Span("inner", 12.0, 14.0, "outer")]
    assert assign_span(11.0, spans) == "outer"
    assert assign_span(12.0, spans) == "inner"
    assert assign_span(14.0, spans) == "outer"  # end is exclusive
    assert assign_span(25.0, spans) is None


def test_event_log_fold_on_a_recorded_log():
    with open(os.path.join(HERE, "testdata", "spans_small.json")) as f:
        spans = [Span(**s) for s in json.load(f)]
    events = list(read_events(os.path.join(HERE, "testdata", "eventlog_small.jsonl")))
    rows = fold_event_log(events, spans)
    assert rows["scan"]["jobs"] == 1
    assert rows["scan"]["shuffle_write_mb"] == 0
    assert rows["shuffle"]["jobs"] >= 1
    assert rows["shuffle"]["shuffle_write_mb"] > 0
    assert rows["shuffle"]["shuffle_read_mb"] > 0
    assert rows["write"]["output_mb"] > 0
    # every task is folded exactly once
    n_tasks = sum(1 for e in events if e["Event"] == "SparkListenerTaskEnd")
    assert sum(r["tasks"] for r in rows.values()) == n_tasks
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in events
                 if e["Event"] == "SparkListenerTaskEnd")
    assert sum(r["executor_run_s"] for r in rows.values()) == pytest.approx(run_ms / 1e3)


def test_fast_d3_sql_matches_the_pinned_sql(tmp_path):
    duckdb = pytest.importorskip("duckdb")  # noqa: F841
    from oracle_sql import ORACLE_SQL
    from suite_workload import TINY, duckdb_connection, write_tables

    write_tables(str(tmp_path), seed=5, scale=dict(TINY, documents=30))
    con = duckdb_connection(str(tmp_path))
    pinned = sorted(con.execute(ORACLE_SQL["d3_minhash_lsh"]).fetchall())
    from suite_workload import fast_d3_sql

    fast = sorted(con.execute(fast_d3_sql(ORACLE_SQL["d3_minhash_lsh"])).fetchall())
    assert pinned and fast == pinned


def test_benchmark_json_lists_what_the_run_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_metrics()
