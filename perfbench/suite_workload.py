"""query_suite: 13 of the 16 headline queries over seeded TPC-H-like tables.

One check pass collects each query's result and compares it, value for
value, with DuckDB running the pinned oracle SQL on the same parquet
files. Timed passes then run all queries into the ``noop`` sink, in an
order the seed permutes per pass.
"""

from __future__ import annotations

import math
import os
import re
import time
from datetime import datetime

import numpy as np

from checks import compare_rows
from common import dir_mb, median, seeded_order
from oracle_sql import HEADLINE, ORACLE_SQL

# rows per table; the tiny scale feeds the warm-up pass
SCALE = dict(customer=1500, supplier=100, orders=15_000, lineitem=60_000,
             events=20_000, users=1_500, documents=300, embeddings=500)
TINY = dict(customer=60, supplier=10, orders=300, lineitem=1200,
            events=400, users=40, documents=40, embeddings=40)
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
          "events", "documents", "embeddings")
MODULES = ("relational", "textstats", "dedup", "similarity")
# Left out: each rounds, to cents, a float sum of price * (1 - discount),
# whose exact value has four decimals, so about one value in 200 sits on a
# half-cent tie that summation order decides; Spark and DuckDB then differ
# in the last cent on some seeds (q3 on seed 34).
UNSTABLE = ("q1_pricing_rollup", "q3_order_revenue", "q5_nation_volume")
SUITE = [q for q in HEADLINE if q not in UNSTABLE]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "error", "login"]


def _days(rng, n, start: datetime, span_days: int):
    base = np.datetime64(start.strftime("%Y-%m-%d"), "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _document_texts(rng, n: int) -> list[str]:
    """Token texts over a large vocabulary, with planted exact copies and
    near-copies (one token changed) so the dedup queries find pairs."""
    vocab = [f"w{i}" for i in range(3000)] + ["the", "a"] * 40
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, 3000))]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(15, 60))
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), k)))
    return texts


def write_tables(out_dir: str, seed: int, scale: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(n, lo, hi):
        return np.round(rng.integers(lo * 100, hi * 100, n) / 100.0, 2)

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    put("region", {"r_regionkey": i32(np.arange(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": i32(np.arange(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32(np.arange(25) % 5)})
    ns, nc, no, nl = scale["supplier"], scale["customer"], scale["orders"], scale["lineitem"]
    put("supplier", {"s_suppkey": np.arange(ns, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                     "s_nationkey": i32(rng.integers(0, 25, ns)),
                     "s_acctbal": money(ns, -999, 9999)})
    put("customer", {"c_custkey": np.arange(nc, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                     "c_nationkey": i32(rng.integers(0, 25, nc)),
                     "c_acctbal": money(nc, -999, 9999),
                     "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    put("orders", {"o_orderkey": np.arange(no, dtype=np.int64),
                   "o_custkey": rng.integers(0, nc, no).astype(np.int64),
                   "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
                   "o_totalprice": money(no, 900, 450_000),
                   "o_orderdate": _days(rng, no, datetime(1992, 1, 1), 2400),
                   "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    put("lineitem", {"l_orderkey": np.sort(rng.integers(0, no, nl)).astype(np.int64),
                     "l_partkey": rng.integers(0, 20_000, nl).astype(np.int64),
                     "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
                     "l_linenumber": i32(rng.integers(1, 8, nl)),
                     "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                     "l_extendedprice": money(nl, 900, 100_000),
                     "l_discount": rng.integers(0, 11, nl) / 100.0,
                     "l_tax": rng.integers(0, 9, nl) / 100.0,
                     "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
                     "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
                     "l_shipdate": _days(rng, nl, datetime(1992, 1, 1), 3650)})
    ne = scale["events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 10**6, ne)).astype("timedelta64[us]")
    put("events", {"event_id": np.arange(ne, dtype=np.int64),
                   "ts": ts,
                   "user_id": rng.integers(0, scale["users"], ne).astype(np.int64),
                   "event_type": [_EVENT_TYPES[i] for i in
                                  rng.choice(5, ne, p=[0.45, 0.25, 0.15, 0.05, 0.1])],
                   "value": money(ne, 0, 500),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = scale["documents"]
    texts = _document_texts(rng, nd)
    put("documents", {"doc_id": np.arange(nd, dtype=np.int64),
                      "text": texts,
                      "lang": [("en", "zh")[i] for i in rng.integers(0, 2, nd)],
                      "source": [f"src{i}" for i in rng.integers(0, 3, nd)],
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = scale["embeddings"]
    emb = rng.normal(0, 0.15, (nv, 64)).astype(np.float32)
    put("embeddings", {"vec_id": np.arange(nv, dtype=np.int64),
                       "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                       "label": i32(rng.integers(0, 5, nv))})


# ---------- DuckDB side ----------

_M = 0xFFFFFFFF


def murmur3_32(data: bytes, seed: int = 42) -> int:
    """Murmur3 x86_32 with Spark's tail rule (each tail byte mixed alone,
    sign-extended); signed result, as the pinned d3 SQL computes it."""

    def mix(h1, k1):
        k1 = (k1 * 0xCC9E2D51) & _M
        k1 = ((k1 << 15) | (k1 >> 17)) & _M
        k1 = (k1 * 0x1B873593) & _M
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & _M
        return (h1 * 5 + 0xE6546B64) & _M

    h1, n = seed, len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        h1 = mix(h1, int.from_bytes(data[i:i + 4], "little"))
    for i in range(aligned, n):
        b = data[i]
        h1 = mix(h1, (b - 256 if b >= 128 else b) & _M)
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def fast_d3_sql(sql: str) -> str:
    """The pinned d3 SQL with two rewrites that keep its result and make it
    fast enough to run on every check: the per-shingle Murmur3 written as
    SQL lambdas becomes one call of ``bench_murmur3_32`` (this module's
    implementation, equal on ASCII shingles), and the LSH band key becomes
    a string, so the band self-join can hash instead of loop."""
    start = sql.index("based AS (")
    end = sql.index("), xs AS (")
    out = (sql[:start] + "based AS (\n      SELECT doc_id, bench_murmur3_32(s) AS mh"
           " FROM shingle\n    " + sql[end:])
    out, n = re.subn(r"\[(m\d+), (m\d+), (m\d+), (m\d+)\] AS k",
                     r"concat_ws(',', \1, \2, \3, \4) AS k", out)
    if n != 8:
        raise ValueError("pinned d3 SQL no longer has 8 list band keys")
    return out


def duckdb_connection(data_dir: str):
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    con.create_function(
        "bench_murmur3_32",
        lambda col: pa.array([murmur3_32(s.encode("utf-8")) for s in col.to_pylist()],
                             pa.int64()),
        ["VARCHAR"], "BIGINT", type="arrow",
    )
    return con


def oracle_rows(con, name: str) -> dict[str, list]:
    sql = ORACLE_SQL[name]
    if name == "d3_minhash_lsh":
        sql = fast_d3_sql(sql)
    return con.execute(sql).fetch_arrow_table().to_pydict()


# ---------- workload ----------

def _run_pass(run, spark, data_dir: str, names: list[str], span: str,
              prefix: str = "query:") -> list[tuple[str, float]]:
    from spider_spark.operators import QUERIES

    times = []
    with run.tracer.span(span):
        for name in names:
            run.attempted += 1
            t0 = time.time()
            try:
                with run.tracer.span(prefix + name):
                    QUERIES[name](spark, data_dir).write.format("noop").mode(
                        "overwrite").save()
            except Exception as e:  # counted, reported, and the pass goes on
                run.failed += 1
                run.fail_check(name, [f"{type(e).__name__}: {e}"])
                continue
            times.append((name, time.time() - t0))
    return times


def warm_up(run, spark) -> None:
    tiny = os.path.join(run.work, "tiny")
    write_tables(tiny, seed=0, scale=TINY)
    _run_pass(run, spark, tiny, SUITE, "warm_pass", prefix="warm:")
    run.attempted = run.failed = 0  # the warm-up's queries are set-up, not operations


def check_pass(run, spark, data_dir: str) -> None:
    from spider_spark.operators import QUERIES

    con = duckdb_connection(data_dir)
    out_bytes = 0
    for name in SUITE:
        run.attempted += 1
        try:
            got = QUERIES[name](spark, data_dir).toArrow()
        except Exception as e:
            run.failed += 1
            run.fail_check(name, [f"{type(e).__name__}: {e}"])
            continue
        out_bytes += got.nbytes
        run.fail_check(name, compare_rows(got.to_pydict(), oracle_rows(con, name)))
    con.close()
    run.e2e["output_mb"] = out_bytes / 1e6


def geomean_of_query_medians(execs: list[tuple[str, float]]) -> float:
    """Geometric mean, over queries, of each query's median time. The
    median of all executions pooled would be whichever query ranks in the
    middle, and which one that is changes from run to run."""
    per_query: dict[str, list[float]] = {}
    for name, t in execs:
        per_query.setdefault(name, []).append(t)
    if not per_query:
        return 0.0
    logs = [math.log(median(ts)) for ts in per_query.values()]
    return math.exp(sum(logs) / len(logs))


def measure(run, spark) -> None:
    data_dir = os.path.join(run.work, "data")
    write_tables(data_dir, run.args.seed, SCALE)
    run.log("tables written")
    with run.tracer.span("check"):
        check_pass(run, spark, data_dir)
    run.log("check pass done")
    passes, execs = [], []
    k = 0
    while k < 2 or sum(passes) + median(passes) <= run.args.seconds:
        t0 = time.time()
        times = _run_pass(run, spark, data_dir,
                          seeded_order(SUITE, run.args.seed, k), f"pass_{k}")
        passes.append(time.time() - t0)
        execs += times
        k += 1
    run.log(f"{k} timed passes, median {median(passes):.2f}s")
    run.e2e["items_per_s"] = len(SUITE) / median(passes)
    run.e2e["op_s"] = geomean_of_query_medians(execs)
    run.suite_execs = execs


def trace_layers(run) -> None:
    from spans import event_log_file, fold_event_log, fold_spark_rows, read_events
    from spider_spark.operators import QUERIES

    per_query = {}
    for name in SUITE:
        per_query[name] = median([t for n, t in run.suite_execs if n == name])
        run.layer[f"query.{name}_s"] = per_query[name]
    for mod in MODULES:
        run.layer[f"operators.{mod}_s"] = sum(
            t for n, t in per_query.items()
            if QUERIES[n].__module__.rsplit(".", 1)[-1] == mod)
    rows = fold_event_log(read_events(event_log_file(run.event_dir)),
                          run.tracer.spans)
    fold_spark_rows(run, rows, [f"query:{n}" for n in SUITE],
                    len(run.suite_execs))

    # the crawl layers are not on this workload's path; their single-thread
    # probes still run, on crawl_wide's pages, so a crawl-side change shows
    # here as a moved probe and an unmoved suite
    import crawl_workload
    from webgen import build_web

    crawl_workload.layer_probes(run, build_web(crawl_workload.WIDE, run.args.seed))
