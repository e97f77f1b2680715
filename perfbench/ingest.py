"""Ingest workload: a MockChain backfill of vat/jug logs through fetch,
decode and the partitioned parquet sink into a fresh warehouse dir, an
incremental append that extends the chain head by 10%, and
``assets_per_type`` over the fresh tables. Every step is checked: rows
written per table against an independent count of the chain's logs by
topic0, and the query result against ``DUCKDB_SQL`` over the written
parquet."""

from __future__ import annotations

import bisect
import dataclasses
import json
import math
import os
import shutil
import tempfile
import time
from contextlib import contextmanager

import duckdb

from makerdao_dw_spark.abi.schema import compile_contract
from makerdao_dw_spark.decode import decoders
from makerdao_dw_spark.ingest import pipeline
from makerdao_dw_spark.ingest.fixtures import JUG_ADDRESS, VAT_ADDRESS, maker_value_gen
from makerdao_dw_spark.ingest.rpc import ContractSim, MockChain
from makerdao_dw_spark.queries.assets_per_type import DUCKDB_SQL, TABLES, assets_per_type
from makerdao_dw_spark.session import gc_hint

from .common import Op, timed_query

ABI_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "maker_abi.json")
SCHEMA = "makermcd"
HEAD = 1500                # ~2,600 logs at the fixture chain's 1.72 logs per block
APPEND_HEAD = HEAD + HEAD // 10
STEP = 250                 # blocks per fetch window
PARTITION_BLOCKS = 500     # so the append re-ingests only its own partition

# FIXTURES.md §B2-B5: table -> (column names, ABI param types)
_FRAME = ["i", "u", "v", "w", "dink", "dart"]
_FRAME_TYPES = ["bytes32", "address", "address", "address", "int256", "int256"]
FIXTURE_TABLES = {
    "vat_call_frob": (_FRAME, _FRAME_TYPES),
    "vat_call_grab": (_FRAME, _FRAME_TYPES),
    "vat_call_fold": (["i", "u", "rate"], ["bytes32", "address", "int256"]),
    "jug_call_file": (["ilk", "what", "data"], ["bytes32", "bytes32", "uint256"]),
}


def maker_specs():
    """Compile the vat and jug ABI fragments and check them against the
    fixture tables. Returns (vat specs, jug specs) as the chain uses them:
    frob/grab/fold, and jug's 3-arg ``file`` overload."""
    with open(ABI_PATH) as f:
        abi = json.load(f)
    vat = compile_contract("vat", abi["vat"])
    jug = compile_contract("jug", abi["jug"])
    jug_tables = [s.table for s in jug]
    if jug_tables != ["jug_call_file", "jug_call_file0", "jug_call_file1"]:
        raise ValueError(f"jug file overloads compiled to {jug_tables}")
    by_table = {s.table: s for s in vat + jug}
    for table, (names, types) in FIXTURE_TABLES.items():
        got = (by_table[table].param_names, by_table[table].param_types)
        if got != (names, types):
            raise ValueError(f"{table}: compiled {got}, fixtures say {(names, types)}")
    return vat, [by_table["jug_call_file"]]


def make_chain(head: int, seed: int, vat, jug) -> MockChain:
    return MockChain(
        head=head,
        seed=seed,
        contracts=[
            ContractSim(address=VAT_ADDRESS, specs=vat, value_gen=maker_value_gen, logs_per_block=1.6),
            ContractSim(address=JUG_ADDRESS, specs=jug, value_gen=maker_value_gen, logs_per_block=0.12),
        ],
    )


def _duckdb(out: str):
    """A DuckDB connection with one view per written warehouse table."""
    con = duckdb.connect()
    for t in TABLES:
        pattern = os.path.join(out, SCHEMA, t, "**", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}', hive_partitioning=1)")
    return con


def _golden(out: str) -> list[tuple]:
    with _duckdb(out) as con:
        return con.execute(DUCKDB_SQL).fetchall()


def _table_rows(out: str) -> dict[str, int]:
    with _duckdb(out) as con:
        return {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES}


def _same_result(spark_rows, duck_rows) -> bool:
    """dt and collateral exactly; the value columns pass through decimal
    to double conversion and pow(), which differ by ULPs across engines."""
    if spark_rows is None or len(spark_rows) != len(duck_rows) or not spark_rows:
        return False
    for a, b in zip(spark_rows, duck_rows):
        if a[:2] != b[:2]:
            return False
        for x, y in zip(a[2:], b[2:]):
            if (x is None) != (y is None):
                return False
            if x is not None and not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-4):
                return False
    return True


class Ingest:
    def __init__(self, seed: int, work_dir: str):
        self.work_dir = work_dir
        self.vat, self.jug = maker_specs()
        self.chain = make_chain(HEAD, seed, self.vat, self.jug)
        self.expected: dict[int, dict[str, int]] = {}
        self.log_blocks: dict[str, list[int]] = {}
        self.layers: dict[str, float] = {}

    def prepare(self, cache_dir: str) -> None:
        """Independent expected counts: the chain's logs by topic0."""
        table_of = {s.signature: s.table for s in self.vat + self.jug}
        for head in (HEAD, APPEND_HEAD):
            self.expected[head] = dict.fromkeys(TABLES, 0)
        for addr in (VAT_ADDRESS, JUG_ADDRESS):
            logs = self.chain.get_logs(0, APPEND_HEAD, addr)
            self.log_blocks[addr] = [lg["blockNumber"] for lg in logs]
            for lg in logs:
                for head, counts in self.expected.items():
                    if lg["blockNumber"] <= head:
                        counts[table_of[lg["topics"][0]]] += 1

    def logs_in(self, addresses, from_block: int, to_block: int) -> int:
        return sum(
            bisect.bisect_right(self.log_blocks.get(a, []), to_block)
            - bisect.bisect_left(self.log_blocks.get(a, []), from_block)
            for a in addresses
        )

    def setup(self, spark) -> None:
        """Spec compilation and the resume probe of an empty warehouse."""
        self.vat, self.jug = maker_specs()
        with tempfile.TemporaryDirectory(dir=self.work_dir) as out:
            pipeline.resume_block(spark, out, SCHEMA, self.vat + self.jug, 0)

    def _backfill(self, spark, head: int, out: str) -> dict[str, int]:
        """Both contracts in one pipeline run: one fetch grid over the two
        addresses, one decode fan-out over the four tables."""
        return pipeline.backfill_contract(
            spark, dataclasses.replace(self.chain, head=head), SCHEMA, "maker",
            self.vat + self.jug, [VAT_ADDRESS, JUG_ADDRESS], out,
            creation_block=0, step=STEP, partition_blocks=PARTITION_BLOCKS,
        )

    def run_pass(self, spark, tracer) -> list[Op]:
        """Backfill, append, query. The checks after each step are kept
        out of the step timings."""
        out = tempfile.mkdtemp(prefix="warehouse_", dir=self.work_dir)
        try:
            gc_hint(spark)  # untimed, before each step
            with tracer.span("backfill"):
                t0 = time.perf_counter()
                counts = self._backfill(spark, HEAD, out)
                backfill_s = time.perf_counter() - t0
            ops = [Op("backfill", backfill_s, counts == self.expected[HEAD])]
            gc_hint(spark)
            with tracer.span("append"):
                t0 = time.perf_counter()
                self._backfill(spark, APPEND_HEAD, out)
                append_s = time.perf_counter() - t0
            ops.append(Op("append", append_s, _table_rows(out) == self.expected[APPEND_HEAD]))
            gc_hint(spark)
            q = timed_query(tracer, "assets_per_type", lambda: assets_per_type(spark, out))
            ops.append(Op("assets_per_type", q.wall_s, _same_result(q.rows, _golden(out)), query=q))
            files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
            self.layers = {
                "ingest.logs_per_s": self.logs_in([VAT_ADDRESS, JUG_ADDRESS], 0, HEAD) / backfill_s,
                "ingest.append_to_result_s": append_s + q.wall_s,
                "ingest.files_written": len(files),
                "ingest.bytes_written_mb": sum(os.path.getsize(f) for f in files) / (1 << 20),
            }
            return ops
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @contextmanager
    def traced_layers(self, tracer, sink: dict):
        """Wrap the pipeline's layer entry points in spans for a traced
        pass. ``backfill_contract`` looks them up as module globals."""
        originals = {n: getattr(pipeline, n) for n in ("resume_block", "fetch_raw_logs", "demux_and_write")}

        def wrap(name, metric, after=None):
            fn = originals[name]

            def wrapped(*args, **kwargs):
                with tracer.span(f"ingest.{name}"):
                    t0 = time.perf_counter()
                    res = fn(*args, **kwargs)
                    sink[metric] = sink.get(metric, 0.0) + time.perf_counter() - t0
                if after:
                    after(args, res)
                return res
            return wrapped

        def fetched(args, _res):
            addrs, lo, hi = args[2], args[3], args[4]
            sink["ingest.logs_fetched"] = sink.get("ingest.logs_fetched", 0) + self.logs_in(addrs, lo, hi)

        def written(_args, res):
            sink["ingest.rows_written"] = sink.get("ingest.rows_written", 0) + sum(res.values())

        patched = {
            "resume_block": wrap("resume_block", "ingest.resume_s"),
            "fetch_raw_logs": wrap("fetch_raw_logs", "ingest.fetch_s", fetched),
            "demux_and_write": wrap("demux_and_write", "ingest.demux_write_s", written),
        }
        for n, fn in patched.items():
            setattr(pipeline, n, fn)
        try:
            yield
        finally:
            for n, fn in originals.items():
                setattr(pipeline, n, fn)

    def decode_probe(self, spark, tracer) -> dict[str, float]:
        """Decode alone, per spec, over a cached fetch of the whole chain."""
        raw = pipeline.fetch_raw_logs(spark, self.chain, [VAT_ADDRESS, JUG_ADDRESS], 0, HEAD, step=STEP).persist()
        try:
            raw.count()
            secs, rows = 0.0, 0
            for spec in self.vat + self.jug:
                with tracer.span(f"decode:{spec.table}"):
                    t0 = time.perf_counter()
                    rows += decoders.decode_logs_for_table(raw, spec).count()
                    secs += time.perf_counter() - t0
            return {"decode.s": secs, "decode.rows": rows}
        finally:
            raw.unpersist()
