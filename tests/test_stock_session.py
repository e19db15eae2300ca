"""Environment-coupling regression gate.

The failure class it pins: an engine that works on `get_spark()`'s
carefully-configured session but breaks on the driver harness's
*stock* session + regenerated parquet (TIMESTAMP(NANOS) needing
`nanosAsLong`; plain timestamp[us] read as TIMESTAMP_NTZ breaking
`unix_millis`). This test launches a SUBPROCESS (a fresh JVM
— `getOrCreate()` in-process would just reuse the configured test
session) that builds a vanilla `SparkSession` and runs one
oracle-checked smoke query per module family through
`scripts/check_oracle.py --stock`, including every query that the
TIMESTAMP_NTZ read broke. Full-registry value parity is covered by the non-stock
gate; this pins that no query *depends* on `get_spark`'s confs.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one per module family + every query the TIMESTAMP_NTZ read broke
SMOKE = [
    # plans/queries.py (events ts path + TPC-H + ES-style)
    "dau_by_hour",
    "pricing_summary",
    "get_by_id",
    # log_queries / operators/log_split.py — a TIMESTAMP_NTZ family
    "log_split_error",
    "log_split_page",
    "log_split_displays",
    "log_split_actions",
    "log_split_start",
    # cdc_queries / operators/cdc.py — a TIMESTAMP_NTZ family
    "cdc_route_counts",
    "cdc_fact_rows",
    "cdc_dim_snapshot",
    "dau_realtime_endpoint",
    # llm_queries (documents/embeddings; Arrow conf must not be assumed)
    "doc_exact_dedup",
    "doc_token_stats",
    "emb_int8_quantize",
    "doc_binary_meta",  # mapInPandas — exercises Arrow on a stock session
    "doc_pii_scrub",
    "doc_chunk_dedup",
    "emb_ivf_multiprobe_topk",
    # warehouse round-trip on a stock session
    "dau_warehouse_day_slice",
    # maintenance/layout/gate paths run FS + swap +
    # bit-arithmetic code that must not depend on get_spark confs
    "events_quality_expectations",
    "zordered_two_dim_lookup",
    "warehouse_compaction_roundtrip",
    "emb_ivf_append_topk",
    # compacted-index serving (store fold + manifest),
    # the resize mapInPandas path, and the streaming gate's
    # foreachBatch routing — all stock-session-sensitive surfaces
    "emb_ivf_compact_topk",
    "doc_resize_images",
    "streaming_quality_gate_parity",
    # the store-backed /statsByItem fold (pyarrow over the store dirs)
    "streaming_item_stats_parity",
]

SF_DIR = os.environ.get("SPARK_GRAFT_STOCK_SF", "/root/testdata/sf0.001")


def test_stock_session_runs_smoke_queries():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "check_oracle.py"),
         "--stock", SF_DIR, *SMOKE],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"},
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-30:])
    assert proc.returncode == 0, f"stock-session gate failed:\n{tail}"
    assert "0 failures" in proc.stdout, tail
