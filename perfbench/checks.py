"""Output checks: the engine's crawl against the simulated one, properties
the crawl must have whatever the input, and query rows against DuckDB.

Each check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
from dataclasses import dataclass

from crawlsim import Expected, budget, host_of
from webgen import Web, digest


@dataclass
class Observed:
    """What the engine's public readers returned after a crawl."""

    results: list[tuple[str, int, str, int, int]]  # url, seq, text, round, prio
    seen: list[tuple[str, str, int]]  # url, disposition, round
    dead: list[str]
    drained: bool


def _first(items, n: int = 3) -> list:
    return sorted(items)[:n]


def check_against_expected(web: Web, exp: Expected, obs: Observed) -> list[str]:
    fails = []
    by_seq = sorted(obs.results, key=lambda r: r[1])
    urls = [r[0] for r in by_seq]
    if urls != exp.order:
        at = next((i for i, (a, b) in enumerate(zip(urls, exp.order)) if a != b),
                  min(len(urls), len(exp.order)))
        fails.append(
            f"crawl order differs at seq {at} (got {len(urls)} pages, "
            f"expected {len(exp.order)})"
        )
    if [r[1] for r in by_seq] != list(range(len(exp.order))):
        fails.append("seq values are not 0..n-1 for the expected n")
    seen = {u for u, _d, _r in obs.seen}
    blocked = {u for u, d, _r in obs.seen if d == "blocked"}
    for name, got, want in (
        ("seen", seen, exp.seen),
        ("blocked", blocked, exp.blocked),
        ("dead", set(obs.dead), exp.dead),
    ):
        if got != want:
            fails.append(
                f"{name} set differs: missing {_first(want - got)}, "
                f"unexpected {_first(got - want)}"
            )
    bad_text = [u for u, _s, text, _r, _p in obs.results
                if u in web.text and digest(text or "") != web.text_digest(u)]
    if bad_text:
        fails.append(f"{len(bad_text)} texts differ, e.g. {_first(bad_text, 1)}")
    return fails


def check_properties(web: Web, obs: Observed) -> list[str]:
    """Properties that hold for any correct crawl, read off the output."""
    fails = []
    spec = web.spec
    n = len(obs.results)
    seqs = sorted(r[1] for r in obs.results)
    if seqs != list(range(n)):
        fails.append("seq is not dense from 0 to n-1")
    discovered = {u: r for u, _d, r in obs.seen}
    keyed = sorted(
        ((rnd, prio, discovered.get(u, -1), u), seq)
        for u, seq, _t, rnd, prio in obs.results
    )
    if [seq for _k, seq in keyed] != seqs:
        fails.append("seq does not follow (round, priority, discovery_time, url)")
    per_round_host: dict[tuple[int, str], int] = {}
    for u, _s, _t, rnd, _p in obs.results:
        key = (rnd, host_of(u))
        per_round_host[key] = per_round_host.get(key, 0) + 1
    over = [
        key for key, c in per_round_host.items()
        if c > budget(web.robots.get(key[1], (0, []))[0], spec.max_per_host,
                      spec.round_ms)
    ]
    if over:
        fails.append(f"hosts over their per-round budget: {_first(over)}")
    if obs.drained:
        seen = {u for u, _d, _r in obs.seen}
        crawled = {r[0] for r in obs.results}
        dead = set(obs.dead)
        blocked = {u for u, d, _r in obs.seen if d == "blocked"}
        parts = (crawled, dead, blocked)
        if len(seen) != sum(len(p) for p in parts):
            fails.append(
                f"|seen|={len(seen)} != |crawled|+|dead|+|blocked|="
                f"{len(crawled)}+{len(dead)}+{len(blocked)}"
            )
        if (crawled & dead) or (crawled & blocked) or (dead & blocked):
            fails.append("crawled, dead and blocked sets overlap")
    else:
        fails.append("frontier not drained")
    return fails


def norm_cell(v):
    """One comparable form for a cell read from parquet or from DuckDB:
    floats by shortest round-trip repr, integral decimals as ints."""
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() and v.as_tuple().exponent >= 0 \
            else float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return str(v)


def compare_rows(got: dict[str, list], want: dict[str, list]) -> list[str]:
    """Column-name-sorted, order-insensitive, exact comparison of two
    column dicts (name -> values)."""
    if sorted(got) != sorted(want):
        return [f"columns differ: {sorted(got)} vs {sorted(want)}"]
    cols = sorted(got)
    rows_g = sorted((tuple(norm_cell(v) for v in r) for r in
                     zip(*(got[c] for c in cols))), key=repr)
    rows_w = sorted((tuple(norm_cell(v) for v in r) for r in
                     zip(*(want[c] for c in cols))), key=repr)
    if len(rows_g) != len(rows_w):
        return [f"row counts differ: {len(rows_g)} vs {len(rows_w)}"]
    if rows_g != rows_w:
        only_g = [r for r in rows_g if r not in set(rows_w)][:2]
        only_w = [r for r in rows_w if r not in set(rows_g)][:2]
        return [f"values differ: engine-only {only_g}, oracle-only {only_w}"]
    return []
