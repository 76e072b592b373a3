"""The crawl a correct engine must produce, simulated on link lists.

Applies the crawl rules stated in ``spider_spark/oracle.py``'s docstring to
the generator's canonical link lists. It never parses HTML and imports
nothing from the program under test:

1. ``seen`` holds every canonical URL ever discovered, blocked and dead ones
   included; the frontier holds pending (priority, discovery_time, retries).
2. Seeds enter at discovery_time 0 with the min of their priorities;
   robots-disallowed URLs enter ``seen`` but never the frontier.
3. Round r takes, per host, the first ``budget(host)`` pending URLs by
   (priority, discovery_time, url), with
   ``budget = max(1, min(max_per_host, round_ms // delay))`` (or
   ``max_per_host`` at delay 0).
4. A URL in the page store is crawled; a miss is retried until
   ``retries > max_retries``, then it is dead.
5. A new URL gets discovery_time r and priority min(parent priority) + 1.
6. Within a round, crawled URLs take consecutive ``seq`` numbers in
   (priority, discovery_time, url) order.
"""

from __future__ import annotations

from dataclasses import dataclass, field


def host_of(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0]


def path_of(url: str) -> str:
    rest = url.split("://", 1)[1]
    path = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
    return path.split("?", 1)[0]


def budget(delay_ms: int, max_per_host: int, round_ms: int) -> int:
    if delay_ms <= 0:
        return max_per_host
    return max(1, min(max_per_host, round_ms // delay_ms))


@dataclass
class Expected:
    order: list[str] = field(default_factory=list)  # url at seq = index
    round_of: dict[str, int] = field(default_factory=dict)  # crawled url
    prio_of: dict[str, int] = field(default_factory=dict)  # crawled url
    discovered: dict[str, int] = field(default_factory=dict)  # seen url
    seen: set[str] = field(default_factory=set)
    dead: set[str] = field(default_factory=set)
    blocked: set[str] = field(default_factory=set)
    rounds: int = 0
    drained: bool = False


def simulate(links: dict[str, list[str]], seeds: dict[str, int],
             robots: dict[str, tuple[int, list[str]]], max_per_host: int,
             round_ms: int, max_retries: int, max_rounds: int) -> Expected:
    """``links`` maps every stored page to its canonical out-links;
    ``seeds`` maps canonical seed URL to its (min) priority."""
    exp = Expected()
    frontier: dict[str, list[int]] = {}  # url -> [priority, dt, retries]

    def disallowed(u: str) -> bool:
        prefixes = robots.get(host_of(u), (0, []))[1]
        p = path_of(u)
        return any(p.startswith(x) for x in prefixes)

    def admit(u: str, prio: int, dt: int) -> None:
        exp.seen.add(u)
        exp.discovered[u] = dt
        if disallowed(u):
            exp.blocked.add(u)
        else:
            frontier[u] = [prio, dt, 0]

    for u in sorted(seeds):
        admit(u, seeds[u], 0)

    for r in range(1, max_rounds + 1):
        if not frontier:
            break
        exp.rounds = r
        by_host: dict[str, list[str]] = {}
        for u in frontier:
            by_host.setdefault(host_of(u), []).append(u)
        dequeued = []
        for h, us in by_host.items():
            us.sort(key=lambda u: (frontier[u][0], frontier[u][1], u))
            k = budget(robots.get(h, (0, []))[0], max_per_host, round_ms)
            dequeued += us[:k]
        crawled = []
        child_prio: dict[str, int] = {}
        for u in dequeued:
            prio, dt, retries = frontier[u]
            if u in links:
                crawled.append((prio, dt, u))
                del frontier[u]
                for v in links[u]:
                    child_prio[v] = min(child_prio.get(v, prio + 1), prio + 1)
            elif retries + 1 > max_retries:
                exp.dead.add(u)
                del frontier[u]
            else:
                frontier[u][2] = retries + 1
        for prio, _dt, u in sorted(crawled):
            exp.order.append(u)
            exp.round_of[u] = r
            exp.prio_of[u] = prio
        for v in sorted(child_prio):
            if v not in exp.seen:
                admit(v, child_prio[v], r)
    exp.drained = not frontier
    return exp
