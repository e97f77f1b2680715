"""One-pass ingest decode: the tagged frame against the per-table view,
the plan shape of `demux_and_write` (one Python operator for any number
of tables, JVM-only writes), the footer-based resume probe, and the
sink's empty-table and re-run behavior."""

from __future__ import annotations

import glob
import json
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from makerdao_dw_spark.abi.keccak import keccak256
from makerdao_dw_spark.abi.schema import compile_contract
from makerdao_dw_spark.decode import decoders
from makerdao_dw_spark.decode.abi_codec import encode_abi
from makerdao_dw_spark.decode.decoders import decode_logs_for_table, decode_tagged, python_map
from makerdao_dw_spark.ingest import pipeline
from makerdao_dw_spark.ingest.fixtures import JUG_ADDRESS, MAKER_ABI, VAT_ADDRESS, maker_chain, maker_specs
from makerdao_dw_spark.ingest.pipeline import RAW_LOG_SCHEMA, demux_and_write, fetch_raw_logs, resume_block

ADDR = "ab" * 20

ABI = [
    {
        "type": "function", "stateMutability": "nonpayable", "name": "frob",
        "inputs": [
            {"name": "i", "type": "bytes32"}, {"name": "u", "type": "address"},
            {"name": "v", "type": "address"}, {"name": "w", "type": "address"},
            {"name": "dink", "type": "int256"}, {"name": "dart", "type": "int256"},
        ],
    },
    {
        "type": "function", "stateMutability": "nonpayable", "name": "batch",
        "inputs": [{"name": "who", "type": "address[]"}, {"name": "flag", "type": "bool"}],
    },
    {
        "type": "event", "anonymous": False, "name": "Named",
        "inputs": [
            {"name": "name", "type": "string", "indexed": True},
            {"name": "owners", "type": "address[]", "indexed": True},
            {"name": "level", "type": "uint8", "indexed": False},
            {"name": "amount", "type": "uint256", "indexed": False},
        ],
    },
]


def _log(i, topics, data):
    return {
        "address": "0x" + ADDR.upper(), "topics": topics, "data": data,
        "block_number": 100 + i, "block_hash": "0x" + f"{i:064x}", "log_index": i % 3,
        "transaction_index": i % 2, "transaction_hash": "0x" + f"{i + 7:064x}",
    }


def _mixed_logs(frob, batch, named):
    ilk = b"ETH-A".ljust(32, b"\x00")
    logs = []
    for i in range(6):
        call = frob.signature[2:10] + encode_abi(
            frob.param_types, [ilk, ADDR, "cd" * 20, "ef" * 20, -(10**18) * i, 10**20 + i]
        ).hex()
        logs.append(_log(len(logs), [frob.signature], "0x" + "00" * 4 * (i % 2) + call))
    logs.append(_log(len(logs), [frob.signature], "0x" + "11" * 40))  # undecodable calldata
    for i in range(3):
        call = batch.signature[2:10] + encode_abi(batch.param_types, [["12" * 20] * i, i % 2 == 0]).hex()
        logs.append(_log(len(logs), [batch.signature], "0x" + call))
    for i, amount in enumerate([5 * 10**18, 10**45, 0]):  # 10**45 overflows decimal(38)
        topics = [named.signature, "0x" + keccak256(f"name{i}".encode()).hex(), "0x" + "aa" * 32]
        logs.append(_log(len(logs), topics, "0x" + encode_abi(["uint8", "uint256"], [i + 1, amount]).hex()))
    logs.append(_log(len(logs), ["0x" + "ff" * 32], "0x"))  # unknown topic0
    logs.append(_log(len(logs), [], "0x"))  # anonymous event: no topic0
    return logs


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _python_nodes(plan) -> int:
    """Python operators in a physical plan, walking into AQE and query
    stages but not into a cached relation's plan."""
    name = plan.getClass().getName()
    n = int(name.startswith("org.apache.spark.sql.execution.python."))
    if name.endswith("AdaptiveSparkPlanExec"):
        return n + _python_nodes(plan.executedPlan())
    if "QueryStageExec" in name:
        return n + _python_nodes(plan.plan())
    children = plan.children()
    return n + sum(_python_nodes(children.apply(i)) for i in range(children.size()))


def _python_ops(df) -> int:
    return _python_nodes(df._jdf.queryExecution().executedPlan())


def test_one_pass_matches_per_table_view(spark):
    specs = compile_contract("t", ABI)
    frob, batch, named = specs
    raw = spark.createDataFrame(_mixed_logs(*specs), RAW_LOG_SCHEMA)
    fused = python_map(raw, lambda it: (pdf for pdf in it), RAW_LOG_SCHEMA)

    for source in (raw, fused):
        layout, tagged = decode_tagged(source, specs)
        assert _python_ops(tagged) == 1
        # each type gets the most any one spec needs: frob's 3 strings
        # and 2 decimals cover Named's one uint256, Named's 2 binaries
        # cover frob's one bytes32
        slot_types = [f.dataType.simpleString() for f in layout.schema.fields[7:]]
        assert sorted(slot_types) == sorted(
            ["binary", "string", "string", "string", "decimal(38,0)", "decimal(38,0)",
             "array<string>", "boolean", "binary", "int"]
        )
        for i, spec in enumerate(specs):
            got = layout.table(tagged, i)
            want = decode_logs_for_table(source, spec)
            assert got.schema == spec.schema == want.schema
            assert _rows(got) == _rows(want)

    f_rows = decode_logs_for_table(raw, frob).collect()
    assert len(f_rows) == 6  # the undecodable call is skipped, not mis-filed
    assert {r["address"] for r in f_rows} == {ADDR}
    assert {r["dart"] for r in f_rows} == {Decimal(10**20 + i) for i in range(6)}
    b_rows = sorted(decode_logs_for_table(raw, batch).collect(), key=lambda r: len(r["who"]))
    assert [len(r["who"]) for r in b_rows] == [0, 1, 2] and b_rows[0]["flag"] is True
    n_rows = sorted(decode_logs_for_table(fused, named).collect(), key=lambda r: r["level"])
    assert [r["level"] for r in n_rows] == [1, 2, 3]
    assert [r["amount"] for r in n_rows] == [Decimal(5 * 10**18), None, Decimal(0)]
    assert n_rows[0]["name"] == keccak256(b"name0") and n_rows[0]["owners"] == b"\xaa" * 32


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_demux_runs_one_python_operator_for_any_table_count(spark, tmp_path, monkeypatch, n):
    vat, jug = maker_specs()
    specs = (vat + jug)[:n]
    captured, writes = [], []
    decode = pipeline.decode_tagged

    def spy_decode(raw, specs_):
        layout, tagged = decode(raw, specs_)
        captured.append(tagged)
        return layout, tagged

    table = decoders.TaggedLayout.table

    def spy_table(self, tagged, i, *extra):
        df = table(self, tagged, i, *extra)
        writes.append(_python_ops(df))  # planned while the tagged frame is cached
        return df

    monkeypatch.setattr(pipeline, "decode_tagged", spy_decode)
    monkeypatch.setattr(decoders.TaggedLayout, "table", spy_table)
    raw = fetch_raw_logs(spark, maker_chain(head=300), [VAT_ADDRESS, JUG_ADDRESS], 0, 300, step=100)
    counts = demux_and_write(raw, specs, str(tmp_path), "makermcd", partition_blocks=100)

    assert len(captured) == 1 and _python_ops(captured[0]) == 1  # fetch + decode fused
    assert writes == [0] * sum(1 for v in counts.values() if v)
    assert set(counts) == {s.table for s in specs} and sum(counts.values()) > 0


def test_resume_reads_footers_and_matches_spark_max(spark, tmp_path):
    vat, _ = maker_specs()
    frob, grab, fold = vat
    out = str(tmp_path)
    root = os.path.join(out, "makermcd")
    raw = fetch_raw_logs(spark, maker_chain(head=400), [VAT_ADDRESS], 0, 400, step=100)
    demux_and_write(raw, [frob], out, "makermcd", partition_blocks=100)
    # grab: one file written without column statistics, beyond frob's max
    os.makedirs(os.path.join(root, grab.table, "block_range=9"))
    pq.write_table(
        pa.table({"block_number": pa.array([900, 950], pa.int64())}),
        os.path.join(root, grab.table, "block_range=9", "part-0.parquet"),
        write_statistics=False,
    )
    assert pq.read_metadata(os.path.join(root, grab.table, "block_range=9", "part-0.parquet")).row_group(
        0
    ).column(0).statistics is None
    # fold: no table dir at all

    spark_max = max(
        spark.read.parquet(os.path.join(root, t)).agg({"block_number": "max"}).first()[0]
        for t in (frob.table, grab.table)
    )
    assert resume_block(spark, out, "makermcd", vat, 0) == spark_max + 1 == 951
    assert resume_block(spark, out, "makermcd", [frob], 0) == (
        spark.read.parquet(os.path.join(root, frob.table)).agg({"block_number": "max"}).first()[0] + 1
    )
    assert resume_block(spark, out, "makermcd", [frob], 10_000) == 10_000

    # a warehouse of missing tables costs no Spark job
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("resume-probe", "resume over missing tables")
    try:
        assert resume_block(spark, os.path.join(out, "absent"), "makermcd", vat, 42) == 42
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("resume-probe") == []


def test_sink_skips_empty_tables_and_reruns_without_duplicates(spark, tmp_path):
    vat, jug = maker_specs()
    out = str(tmp_path)
    root = os.path.join(out, "makermcd")
    with open(MAKER_ABI) as f:
        jug_all = compile_contract("jug", json.load(f)["jug"])
    unused = [s for s in jug_all if s.table == "jug_call_file0"]  # never emitted by the chain
    specs = vat + jug + unused
    chain = maker_chain(head=600)

    def ingest(lo, hi):
        raw = fetch_raw_logs(spark, chain, [VAT_ADDRESS, JUG_ADDRESS], lo, hi, step=100)
        return demux_and_write(raw, specs, out, "makermcd", partition_blocks=200)

    def on_disk():
        return {
            s.table: spark.read.parquet(os.path.join(root, s.table)).count()
            for s in specs
            if os.path.isdir(os.path.join(root, s.table))
        }

    first = ingest(0, 599)
    assert first["jug_call_file0"] == 0 and not os.path.exists(os.path.join(root, "jug_call_file0"))
    assert on_disk() == {t: n for t, n in first.items() if n}

    assert ingest(0, 599) == first  # same range again: no duplicate rows
    assert on_disk() == {t: n for t, n in first.items() if n}

    # re-ingesting one block_range partition replaces only that partition
    part = ingest(200, 399)
    assert on_disk() == {t: n for t, n in first.items() if n}
    assert sum(part.values()) < sum(first.values())
    assert glob.glob(os.path.join(root, "vat_call_frob", "block_range=0", "*.parquet"))
