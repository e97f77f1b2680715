#!/usr/bin/env python
"""Ingest-plane load test: backfill ~10^6 logs from the deterministic
mock chain through the full A-plane pipeline (windowed fetch + one-pass
topic-dispatched decode in one Python operator -> partitioned parquet
sink) and report throughput.

The mock RPC generates logs deterministically per block inside executor
tasks, so the fetch stage measures the pipeline's fan-out/decode cost
with a zero-latency provider — an upper bound on achievable throughput;
with a real provider the same plan is network-bound and scales by
adding fetch partitions. Fetch and decode run in the same Python
operator, so they are timed together; every fixture log has a known
topic0, so logs fetched equal rows written.

Prints ONE JSON line:
{"metric": "ingest_logs_per_sec", "value": N, ...}

Usage: python tools/bench_ingest.py [--logs 1000000] [--step 2000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from makerdao_dw_spark.ingest.fixtures import (  # noqa: E402
    JUG_ADDRESS,
    VAT_ADDRESS,
    maker_chain,
    maker_specs,
)
from makerdao_dw_spark.ingest.pipeline import demux_and_write, fetch_raw_logs  # noqa: E402
from makerdao_dw_spark.session import get_spark  # noqa: E402

# fixture chain emits ~1.72 logs/block (vat 1.6 + jug 0.12)
LOGS_PER_BLOCK = 1.72


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--logs", type=int, default=1_000_000)
    ap.add_argument("--step", type=int, default=2000, help="blocks per fetch window")
    args = ap.parse_args()

    head = int(args.logs / LOGS_PER_BLOCK)
    chain = maker_chain(head=head)
    vat_specs, jug_specs = maker_specs()
    specs = vat_specs + jug_specs

    spark = get_spark("makerdao-dw-spark-ingest-bench")
    spark.sparkContext.setLogLevel("ERROR")
    out = tempfile.mkdtemp(prefix="ingest_bench_")
    try:
        t0 = time.perf_counter()
        raw = fetch_raw_logs(spark, chain, [VAT_ADDRESS, JUG_ADDRESS], 0, head, step=args.step)
        counts = demux_and_write(raw, specs, out, "makermcd", partition_blocks=100_000)
        total = time.perf_counter() - t0
        n_written = sum(counts.values())
        # sink layout: parquet file count + sizes across all tables —
        # the small-file accretion the 10^7 run is checking for
        sizes = [
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        ]
        print(
            json.dumps(
                {
                    "metric": "ingest_logs_per_sec",
                    "value": round(n_written / total, 1),
                    "unit": "logs/sec",
                    "n_rows_written": n_written,
                    "n_tables": len(counts),
                    "total_sec": round(total, 2),
                    "sink_files": len(sizes),
                    "sink_bytes": sum(sizes),
                    "sink_avg_file_kb": round(sum(sizes) / max(len(sizes), 1) / 1024, 1),
                    "table_counts": counts,
                }
            )
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
