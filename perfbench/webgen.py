"""Seeded synthetic web for the crawl workloads, with its expected outputs.

Every page is assembled from parts whose extracted text is known when the
part is written, so the expected text of a page is built next to its HTML
and never by parsing it. The rules followed are the ones the engine's
extractor documents (``spider_spark/extract.py``):

- ``<script>``/``<style>`` contents are dropped;
- a ``<tr>`` row becomes one line of tab-joined, stripped cell texts; a cell
  whose class list holds ``img`` is blanked;
- other text is whitespace-collapsed and stripped, one line per block
  element (``p div br li h1 title ul`` ...); inline tags do not break lines;
- character references are decoded; empty lines are dropped; lines are
  joined with ``\\n``.

Every ``<a href>`` is written in one of several raw forms (relative path,
root-relative, upper-case host, explicit ``:80``, ``#fragment``, dot
segments) of a canonical URL the generator chose first, so each page's
canonical out-link list is known without resolving any href.

Nothing here imports the program under test.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)

_WORDS = (
    "crawl frontier seen page host robots delay budget round fetch parse "
    "index shard merge queue batch table window order link text data "
    "数据 页面 站点 链接 抓取 队列"
).split()
_LEVELS = ["good", "fair", "light", "moderate", "heavy"]
_KV_KEYS = ["licence", "project", "developer", "location", "area", "approved"]


@dataclass(frozen=True)
class WebSpec:
    """Shape of one synthetic web. ``sizes`` are pages per host; host i is
    ``h{i}.bench``. Even-numbered hosts disallow ``/private`` in robots."""

    sizes: tuple[int, ...]
    branching: int
    grid_rows: tuple[int, int]  # rows of the data grid per page (lo, hi)
    delays: tuple[int, ...]  # crawl-delay choices in ms, drawn per host
    dead_rate: float  # chance a page links to a URL absent from the store
    cross_rate: float  # chance a page links into another host
    private_every: int  # page j lives under /private when j % k == k - 1
    max_per_host: int
    blocked_links: int = 0  # links per page to distinct robots-blocked URLs
    round_ms: int = 60_000
    max_retries: int = 1
    max_rounds: int = 200


@dataclass
class Web:
    spec: WebSpec
    pages: dict[str, bytes] = field(default_factory=dict)  # url -> html
    links: dict[str, list[str]] = field(default_factory=dict)  # canonical
    text: dict[str, str] = field(default_factory=dict)  # expected text
    hrefs: dict[str, list[str]] = field(default_factory=dict)  # raw forms
    seeds: list[tuple[str, int]] = field(default_factory=list)  # raw forms
    seed_canon: dict[str, int] = field(default_factory=dict)  # url -> prio
    robots: dict[str, tuple[int, list[str]]] = field(default_factory=dict)

    def text_digest(self, url: str) -> str:
        return digest(self.text[url])


def digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def host_name(i: int) -> str:
    return f"h{i}.bench"


def page_path(j: int, private_every: int) -> str:
    private = j % private_every == private_every - 1
    return f"/private/p/{j}" if private else f"/p/{j}"


def _raw_href(rng: random.Random, host: str, path: str, base_path: str,
              same_host: bool) -> str:
    """A raw href whose canonical form is ``http://{host}{path}``."""
    forms = ["abs", "upper", "port", "frag", "dots"]
    if same_host:
        forms += ["root", "rel", "rel"]
    form = rng.choice(forms)
    if form == "abs":
        return f"http://{host}{path}"
    if form == "upper":
        return f"http://{host.upper()}{path}"
    if form == "port":
        return f"http://{host}:80{path}"
    if form == "frag":
        return f"http://{host}{path}#s{rng.randrange(100)}"
    if form == "dots":
        head, _, last = path.rpartition("/")
        return f"http://{host}{head}/./x/../{last}"
    if form == "root":
        return path
    # relative to the base page's directory: climb to the root, descend
    depth = base_path.count("/") - 1
    return "../" * depth + path.lstrip("/")


class _Page:
    """Collects HTML and the expected text lines of one page side by side."""

    def __init__(self) -> None:
        self.html: list[str] = []
        self.lines: list[str] = []

    def block(self, tag: str, inner_html: str, text: str) -> None:
        self.html.append(f"<{tag}>{inner_html}</{tag}>")
        if text:
            self.lines.append(text)


def _words(rng: random.Random, lo: int, hi: int) -> list[str]:
    return [rng.choice(_WORDS) for _ in range(rng.randint(lo, hi))]


def _make_page(rng: random.Random, spec: WebSpec, host: str, j: int,
               base_path: str, hrefs: list[str]) -> tuple[str, str]:
    """(html, expected text) of one page; ``hrefs`` are raw link forms in
    document order: the first few go into grid cells, the rest into the
    nav list."""
    p = _Page()
    title = f"{host} page {j}"
    head = (f"<head><title>{title}</title>"
            f"<script>var n = {rng.randrange(10**6)};</script>"
            "<style>td { padding: 2px }</style></head>")
    p.lines.append(title)

    words = _words(rng, 2, 5)
    p.block("h1", " ".join(words), " ".join(words))

    # a paragraph with irregular whitespace, an inline tag and an entity
    a, b, c = _words(rng, 3, 6), _words(rng, 2, 4), _words(rng, 1, 3)
    inner = ("\n  " + "  ".join(a) + " <b>" + " ".join(b) + "</b>\t"
             + " ".join(c) + " R&amp;D ")
    p.block("p", inner, " ".join(a + b + c) + " R&D")

    # a line break splits one paragraph into two lines
    a, b = _words(rng, 2, 4), _words(rng, 2, 4)
    p.html.append(f"<p>{' '.join(a)}<br>{' '.join(b)}</p>")
    p.lines += [" ".join(a), " ".join(b)]

    # the data grid: header row, numeric rows, an image column to blank
    n_grid_links = min(len(hrefs), 2)
    rows_html = ["<tr><th> station </th><th>aqi</th><th>pm25</th>"
                 "<th>level</th><th>icon</th><th>link</th></tr>"]
    p_rows = ["\t".join(["station", "aqi", "pm25", "level", "icon", "link"])]
    n_rows = rng.randint(*spec.grid_rows)
    for r in range(n_rows):
        station = rng.choice(_WORDS)
        aqi = str(rng.randrange(500))
        pm = f"{rng.uniform(0, 250):.1f}"
        level = rng.choice(_LEVELS)
        if r < n_grid_links:
            link_html = f'<a href="{hrefs[r]}">detail {r}</a>'
            link_text = f"detail {r}"
        else:
            link_html, link_text = "-", "-"
        rows_html.append(
            f"<tr><td>  {station} </td><td>{aqi}</td><td> {pm}</td>"
            f"<td>{level}</td>"
            f'<td class="cell img"><img src="/lvl{rng.randint(1, 6)}.png"/>'
            f"icon</td><td>{link_html}</td></tr>"
        )
        p_rows.append("\t".join([station, aqi, pm, level, "", link_text]))
    if n_rows < n_grid_links:
        n_grid_links = n_rows
    p.html.append("<table><tbody>" + "".join(rows_html) + "</tbody></table>")
    p.lines += p_rows

    # key-value lines: inline <b> joins key and value on one line
    for k in _KV_KEYS[: rng.randint(2, len(_KV_KEYS))]:
        v = f"{rng.randint(1000, 99999)}"
        p.html.append(f"<div><b>{k}</b>: {v}</div>")
        p.lines.append(f"{k}: {v}")

    items = []
    for n, href in enumerate(hrefs[n_grid_links:]):
        label = f"link {n} " + " ".join(_words(rng, 1, 2))
        items.append(f'<li><a href="{href}">{label}</a></li>')
        p.lines.append(label)
    p.html.append("<ul>" + "".join(items) + "</ul>")

    html = f"<html>{head}<body>{''.join(p.html)}</body></html>"
    return html, "\n".join(p.lines)


def build_web(spec: WebSpec, seed: int) -> Web:
    """The whole web for one seed. Page ids, host sizes and the link tree
    are fixed by ``spec``; the seed draws crawl delays, page contents,
    cross-host and dead links, and each href's raw form."""
    rng = random.Random(seed)
    web = Web(spec=spec)
    n_hosts = len(spec.sizes)
    hosts = [host_name(i) for i in range(n_hosts)]
    for i, h in enumerate(hosts):
        web.robots[h] = (
            rng.choice(spec.delays),
            ["/private"] if i % 2 == 0 else [],
        )

    def url(i: int, j: int) -> str:
        return f"http://{hosts[i]}{page_path(j, spec.private_every)}"

    for i, h in enumerate(hosts):
        n = spec.sizes[i]
        for j in range(n):
            base_path = page_path(j, spec.private_every)
            me = url(i, j)
            targets: list[tuple[int, str]] = []  # (host index, path)
            first = spec.branching * j + 1
            for c in range(first, min(n, first + spec.branching)):
                targets.append((i, page_path(c, spec.private_every)))
            if rng.random() < spec.cross_rate and n_hosts > 1:
                o = (i + 1 + rng.randrange(n_hosts - 1)) % n_hosts
                targets.append(
                    (o, page_path(rng.randrange(spec.sizes[o]),
                                  spec.private_every))
                )
            if rng.random() < spec.dead_rate:
                targets.append((i, f"/gone/{j}"))
            for k in range(spec.blocked_links):
                # a host that disallows /private, so the URL is only seen
                o = 2 * rng.randrange((n_hosts + 1) // 2)
                targets.append((o, f"/private/x/{i}-{j}-{k}"))
            if j % 7 == 3:
                targets.append((i, base_path))  # self link
            if targets and j % 5 == 1:
                targets.append(targets[0])  # duplicate, another raw form
            hrefs = [
                _raw_href(rng, hosts[t], path, base_path, t == i)
                for t, path in targets
            ]
            canon: list[str] = []
            for t, path in targets:
                u = f"http://{hosts[t]}{path}"
                if u not in canon:
                    canon.append(u)
            html, text = _make_page(rng, spec, h, j, base_path, hrefs)
            web.pages[me] = html.encode("utf-8")
            web.links[me] = canon
            web.text[me] = text
            web.hrefs[me] = hrefs

    # every host's root is a seed at priority 0; a few are seeded twice, in
    # another raw form and at a worse priority, so min() must win
    for i in range(n_hosts):
        web.seeds.append((url(i, 0), 0))
        web.seed_canon[url(i, 0)] = 0
        if i % 4 == 1:
            web.seeds.append((f"http://{hosts[i].upper()}:80/p/./0", 2))
    return web


def write_web(web: Web, out_dir: str) -> dict[str, str]:
    """Write the engine's input tables (pages, seeds, robots) as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    urls = sorted(web.pages)
    paths = {
        "pages": os.path.join(out_dir, "pages.parquet"),
        "seeds": os.path.join(out_dir, "seeds.parquet"),
        "robots": os.path.join(out_dir, "robots.parquet"),
    }
    pq.write_table(
        pa.table({
            "url": urls,
            "warc_ts": pa.array(
                [EPOCH + timedelta(seconds=k) for k in range(len(urls))],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array([web.pages[u] for u in urls], pa.binary()),
        }),
        paths["pages"],
        row_group_size=2048,
    )
    pq.write_table(
        pa.table({
            "url": [u for u, _ in web.seeds],
            "priority": pa.array([p for _, p in web.seeds], pa.int32()),
        }),
        paths["seeds"],
    )
    hosts = sorted(web.robots)
    pq.write_table(
        pa.table({
            "host": hosts,
            "crawl_delay_ms": pa.array(
                [web.robots[h][0] for h in hosts], pa.int64()
            ),
            "disallow_prefixes": pa.array(
                [web.robots[h][1] for h in hosts], pa.list_(pa.string())
            ),
            "fetched_ts": pa.array(
                [EPOCH] * len(hosts), pa.timestamp("us", tz="UTC")
            ),
        }),
        paths["robots"],
    )
    return paths
