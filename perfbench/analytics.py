"""Analytics workload: an interleaved pass of headline queries over the
committed sf0.01 corpus, each result checked against its DuckDB oracle."""

from __future__ import annotations

import hashlib
import json
import os
import random

import duckdb

import __spark_entry__
from makerdao_dw_spark.session import TESTDATA_TABLES, gc_hint, load_table

from tools.drive_entry import canon  # last: importing it prepends a path to sys.path

from .common import Op, timed_query

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# Six of bench.py's headline queries plus its streaming query, chosen so
# that each layer the pass should load has a query that leans on it. The
# banded cosine query is left out: its DuckDB oracle alone takes 20 s.
MIX = (
    "flagship_events_funnel",      # the reference's analytics plan shape
    "q1_pricing_summary",          # scan + hash aggregate
    "multiway_join_revenue",       # 5-way join, shuffle
    "asof_join_order_events",      # 15k result rows: result transfer
    "window_cumulative",           # 10k result rows: result transfer
    "dedup_connected_components",  # driver-side iterative loop: construction
    "streaming_windowed_counts",   # streaming drain
)


class Analytics:
    def __init__(self, seed: int):
        self.order = list(MIX)
        random.Random(seed).shuffle(self.order)
        self.fns = {n: __spark_entry__.queries()[n] for n in MIX}
        self.oracle: dict[str, tuple] = {}

    def prepare(self, cache_dir: str) -> None:
        """Expected results: every query's oracle SQL run in DuckDB, once
        per corpus and oracle text (cached under ``cache_dir``)."""
        sql = __spark_entry__.oracle_sql()
        key = hashlib.sha256(repr((
            duckdb.__version__,
            [sql[n] for n in MIX],
            [os.path.getsize(os.path.join(DATA_DIR, f"{t}.parquet")) for t in TESTDATA_TABLES],
        )).encode()).hexdigest()[:16]
        cache = os.path.join(cache_dir, f"oracle-{key}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                self.oracle = {n: (cols, [tuple(r) for r in rows]) for n, (cols, rows) in json.load(f).items()}
            return
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                path = os.path.join(DATA_DIR, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for n in MIX:
                res = con.execute(sql[n])
                self.oracle[n] = canon([c[0] for c in res.description], res.fetchall())
        finally:
            con.close()
        with open(cache + ".tmp", "w") as f:
            json.dump(self.oracle, f)
        os.replace(cache + ".tmp", cache)

    def setup(self, spark) -> None:
        """Table loads: one schema-inferring read per corpus table."""
        for t in TESTDATA_TABLES:
            load_table(spark, DATA_DIR, t)

    def run_pass(self, spark, tracer) -> list[Op]:
        ops = []
        for n in self.order:
            gc_hint(spark)  # untimed, as in bench.py: no GC debt carried into the next query
            q = timed_query(tracer, n, lambda n=n: self.fns[n](spark, DATA_DIR))
            ok = q.rows is not None and canon(q.columns, q.rows) == self.oracle[n]
            ops.append(Op(n, q.wall_s, ok, query=q))
        return ops
