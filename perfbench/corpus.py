"""corpus_queries: the 31 ``__spark_entry__`` queries over a seeded corpus.

The corpus has the ten tables, column types, row counts and value shapes of
the project's sf0.01 test data, generated from the seed. One
round = each query once, in the entry-point order, with its result collected
to the driver; the operation is one query. Every result must match its
DuckDB oracle (``oracle_sql``), compared as ``scripts/check_oracles.py``
does: columns by name, rows sorted, floats at full precision.
"""

from __future__ import annotations

import decimal
import json
import math
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import busy_s, log, median

WARMUP_ROUNDS = 1
#: "full" has the row counts of the project's sf0.01 test data
SIZES = {
    "full": {"events": 10_000, "users": 150, "documents": 500, "embeddings": 500,
             "customers": 1_500, "suppliers": 100, "parts": 2_000, "orders": 15_000,
             "lineitems": 60_000},
    "tiny": {"events": 600, "users": 30, "documents": 60, "embeddings": 60,
             "customers": 100, "suppliers": 10, "parts": 20, "orders": 150,
             "lineitems": 600},
}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark"
    " line sort window data column join small big query customer stream order"
    " group filter vector"
).split()
#: share of documents that copy an earlier document with " dup" appended
NEAR_DUP_SHARE = 0.05
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["error", "click", "view", "signup", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
DIM = 64
#: Python-boundary operators of a physical plan (each is one JVM<->Python hop)
PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas"
    r"|FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython"
    r"|WindowInPandas|ArrowWindowPython|BatchEvalPythonUDTF|ArrowEvalPythonUDTF)\b"
)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n: int) -> list[str]:
    """Texts of 10-99 words from ``WORDS``. A fixed share are near-duplicates:
    an earlier text (possibly itself a near-duplicate) plus the word "dup",
    shuffled into the corpus."""
    texts: list[str] = []
    dups = set(rng.choice(np.arange(1, n), max(int(n * NEAR_DUP_SHARE), 1), replace=False))
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[j] for j in words))
    return [texts[i] for i in rng.permutation(n)]


def _days(rng, start: datetime, span: int, n: int) -> pa.Array:
    return pa.array([start + timedelta(days=int(d)) for d in rng.integers(0, span, n)],
                    pa.timestamp("us"))


def generate(out: str, seed: int, scale: str) -> None:
    """Write the ten corpus tables for ``seed`` into ``out``.

    Shapes follow the sf0.01 test data: uniform keys and categories, money
    at two decimals, Poisson event arrivals over 30 days, exponential event
    values, unit-norm isotropic embeddings whose labels carry no geometry."""
    s = SIZES[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = s["customers"]
    _write(out, "customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = s["suppliers"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    np_ = s["parts"]
    _write(out, "part", {
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}"
                   for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(np_)],
    })
    no = s["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [["O", "F", "P"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, no),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = s["lineitems"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, nl),
    })

    ne = s["events"]
    # Poisson arrivals over 30 days, event ids in time order; distinct
    # timestamps, so no cursor ties within a key
    gaps = np.maximum(rng.exponential(30 * 86_400_000_000 / ne, ne).astype(np.int64), 1)
    t0 = datetime(2024, 1, 1)
    _write(out, "events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array([t0 + timedelta(microseconds=int(o)) for o in np.cumsum(gaps)],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = s["documents"]
    texts = _documents(rng, nd)
    _write(out, "documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = s["embeddings"]
    vecs = rng.normal(size=(nv, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })


# ------------------------------------------------------------ comparison
def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v)) if v % 1 else str(int(v))
    return str(v)


def canon(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def oracle_results(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    try:
        for name in sqls:
            rel = con.execute(sqls[name])
            cols = [d[0] for d in rel.description]
            out[name] = (sorted(cols), canon(cols, rel.fetchall()))
    finally:
        con.close()
    return out


class Workload:
    def __init__(self, ctx):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.entry = entry
        self.queries = entry.queries()
        self.sf = os.path.join(ctx.work, "corpus")
        self.python_nodes: dict[str, int] = {}
        self._pool = None

    def prepare(self) -> None:
        """Generate the corpus and start the DuckDB oracles, which release
        the GIL and run beside session start and the warm-up round."""
        generate(self.sf, self.ctx.seed, self.ctx.scale)
        sqls = self.entry.oracle_sql()
        missing = set(self.queries) - set(sqls)
        if missing:
            raise KeyError(f"queries without an oracle: {sorted(missing)}")
        self._pool = ThreadPoolExecutor(1)
        self._expected = self._pool.submit(
            oracle_results, self.sf, {q: sqls[q] for q in self.queries}
        )

    def setup(self) -> None:
        for _ in range(WARMUP_ROUNDS):
            self.round(check=False)
        self.expected = self._expected.result()
        self._pool.shutdown()

    def _run(self, name: str, fn, check: bool):
        """One query, result delivered to the driver; returns (sec, cpu_s, ok)."""
        ctx, tr = self.ctx, self.ctx.tracer
        if tr:
            with tr.span(f"queries.{name}"):
                fn(ctx.spark, self.sf).write.format("noop").mode("overwrite").save()
        c0, t0 = busy_s(), time.perf_counter()
        df = fn(ctx.spark, self.sf)
        rows = df.collect()
        sec = time.perf_counter() - t0
        cpu = busy_s() - c0
        if name not in self.python_nodes:
            plan = df._jdf.queryExecution().sparkPlan().toString()
            self.python_nodes[name] = len(PYTHON_NODES.findall(plan))
        if not check:
            return sec, cpu, True
        cols, want = self.expected[name]
        ok = sorted(df.columns) == cols and canon(df.columns, rows) == want
        if not ok:
            ctx.fail(f"{name}: result differs from its oracle")
        return sec, cpu, ok

    def round(self, check: bool = True) -> dict:
        t0 = time.perf_counter()
        secs, cpu, failed = {}, 0.0, 0
        for name, fn in self.queries.items():
            try:
                secs[name], c, ok = self._run(name, fn, check)
                cpu += c
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                self.ctx.fail(f"{name}: {type(e).__name__}: {e}")
                failed += 1
                continue
            failed += not ok
        t1 = time.perf_counter()
        log(json.dumps({"query_s": {k: round(v, 3) for k, v in secs.items()}}))
        return {
            "t0": t0, "t1": t1, "round_s": sum(secs.values()), "ops": list(secs.values()),
            "cpu_s": cpu,
            "attempted": len(self.queries), "failed": failed,
        }

    def extra_kb(self) -> int:
        return 0

    def close(self) -> None:
        if self._pool is not None:
            self._pool.shutdown(cancel_futures=True)

    def layers(self, tr, rounds: list[dict]) -> dict[str, float]:
        out = {}
        for name in self.queries:
            spans = [s for r in rounds for s in tr.select(f"queries.{name}", r["t0"], r["t1"])]
            out[f"queries.{name}_s"] = median([s["sec"] for s in spans]) if spans else 0.0
            out[f"queries.{name}.python_nodes"] = self.python_nodes.get(name, 0)
        return out
