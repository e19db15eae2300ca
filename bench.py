"""Benchmark harness (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print the result JSON — the full
per-query line first, then a COMPACT summary as the LAST line (the
driver stores a ~2k-char stdout tail; the compact line fits it whole
so the artifact is always parseable), with the full artifact also
written to BENCH_local.json.

Each query is executed to completion with the noop sink (full plan
runs, nothing collected to the driver — the honest way to time a
distributed plan). One warm-up pass of a tiny query amortizes JVM/
codegen startup so numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkstreaming_realtime_spark.plans import queries
from sparkstreaming_realtime_spark.session import get_spark

HEADLINE = [
    "dau_by_hour",
    "session_entry_first_daily",
    "hourly_window_rollup",
    "order_wide_join",
    "revenue_by_nation",
    "pricing_summary",
    "stats_by_item_segment",
    "top_k_grouped_avg",
    "doc_minhash_near_dup",
    "doc_simhash",
    "emb_cosine_topk",
    "doc_token_stats",
    "log_split_page",
    "cdc_dim_snapshot",
    "dau_enriched",
    "user_sessions",
    "shipping_priority",
    "forecast_revenue",
    "returned_orders_by_priority",
    "promo_revenue_pct",
    "doc_incremental_near_dup",
    "doc_stratified_sample",
    "small_qty_order_revenue",
    "local_supplier_volume",
    "customer_order_distribution",
    "disjunctive_part_revenue",
    "corpus_curation_funnel",
    "emb_int8_quantize",
    "dau_warehouse_day_slice",
    "bucketed_colocated_join",
    "doc_winnow_fingerprints",
    "doc_pii_scrub",
    "doc_source_mix",
    "doc_chunk_dedup",
    # persisted-index IVF serving (index built once per session —
    # min-of-2 reports steady-state serving, pass 1 includes the
    # build), winnowing pair detection, stride chunk dedup
    "emb_ivf_topk",
    "doc_overlap_spans",
    "doc_chunk_dedup_stride",
    # the new operator families — batched kNN retrieval,
    # SemDeDup components, SCD2 history build, DSIR scoring, adaptive
    # quality thresholds
    "emb_knn_join",
    "emb_semantic_dedup",
    "cdc_scd2_history",
    "doc_importance_resample",
    "doc_quality_adaptive",
    "doc_lm_perplexity",
    "doc_heavy_hitters_sketch",
    "clustered_point_lookup",
    "emb_ivf_knn_join",
    "doc_remove_dup_spans",
    "events_table_profile",
    "cdc_scd2_asof_enrich",
    "doc_exact_k_sample",
    "corpus_curation_funnel_v2",
    # the N-derived-band SemDeDup (the 100 TB scale path; its
    # pinned-width twin above stays for oracle comparability), the
    # incremental-IVF append serve, and the warehouse ops trio
    # (z-order skipping, compaction round-trip, quality gate)
    "emb_semantic_dedup_auto",
    "emb_ivf_append_topk",
    "zordered_two_dim_lookup",
    "warehouse_compaction_roundtrip",
    "events_quality_expectations",
    "doc_audio_windows",
    "emb_truncated_overlap",
    # compacted-IVF serving (one file set per cell vs append's
    # three), the byte-exact resize path, and the streaming
    # quality-gate routing parity
    "emb_ivf_compact_topk",
    "doc_resize_images",
    "streaming_quality_gate_parity",
    # k-means cluster profiling (the SemDeDup/IVF
    # training job surfaced as a query) and product-quantized ADC
    # serving (codes-only scan + TakeOrdered)
    "emb_kmeans_clusters",
    "emb_pq_topk",
    "emb_ivfpq_topk",
    # binary sign-bit quantization + Hamming two-stage
    # search (16-byte/vector serving scan, exact-cosine rerank)
    "emb_hamming_topk",
    # cluster-pruned SemDeDup (the published recipe — candidates
    # bounded by k-means cluster size, coarse quantizer shared with
    # the persisted IVF index) and its cluster-AND-band scale
    # composition
    "emb_semantic_dedup_clustered",
    "emb_semantic_dedup_clustered_banded",
    # the two new end-to-end streaming parities
    "streaming_idempotent_sink_parity",
    "streaming_observe_metrics_parity",
    # corpus boilerplate-line removal (explode +
    # two-phase distinct-count + AQE-broadcast gate), the zero-shuffle
    # within-doc line collapse (pure projection — the flattest shape
    # in the suite), and the quality-aware keep-longest survivor
    # (components + max_by agg winner)
    "doc_line_dedup",
    "doc_intra_line_dedup",
    "doc_dup_keep_longest",
    # the Arrow matmul assignment path (k=96 — above the
    # LARGE_K_ASSIGN dispatch cutover through training and serving)
    "emb_cells_arrow_assign",
    # arbitrary-offset repeated-substring removal
    # (ExactSubstr, Lee et al. 2022 — sliding-window hashes, linear in
    # tokens) and the deterministic inverted-index Jaccard twin of the
    # MinHash pair query (df-capped postings — linear at fixed cap)
    "doc_exact_substr_dedup",
    "doc_ngram_jaccard_dedup",
    "doc_topk_similar",
    # topic-balanced corpus selection — persisted-
    # quantizer cell assignment + hash-ranked exact-k quota per cell
    "emb_cluster_balanced_sample",
    # online ANN serving parity — 4 query micro-batches
    # through the persisted IVF index, batch-keyed idempotent sink
    "streaming_ivf_serve_parity",
    # serving through the AUTO-K index (fixed ~512-
    # vector cells at any N — the production knob, driver-hashed)
    "emb_ivf_auto_topk",
    # the five new operator families — BM25 lexical retrieval,
    # segment-blocked fuzzy record linkage, the sliding-window rollup
    # pair (batch + watermarked streaming parity), cross-frame
    # semantic decontamination (batch + ingest-time streaming
    # parity), and integer-arithmetic PageRank
    "doc_bm25_search",
    "customer_fuzzy_match",
    "sliding_window_rollup",
    "streaming_sliding_rollup_parity",
    "emb_semantic_decontaminate",
    "streaming_decontaminate_parity",
    "order_graph_pagerank",
    # event-sequence analytics + span-bound gap fill
    "user_funnel",
    "user_retention_cohorts",
    "events_gap_filled_resample",
    # KMV distinct-count sketch (batch estimate + streaming
    # merge parity + cross-corpus Jaccard overlap) and the rolling/
    # anomaly pair over the per-nation daily revenue rollup
    "doc_shingle_distinct_sketch",
    "streaming_distinct_sketch_parity",
    "corpus_overlap_sketch",
    "revenue_rolling_windows",
    "revenue_anomaly_days",
    # grouped KMV + the incremental-rollup anomaly
    # parity + market-basket co-purchase lift
    "doc_lang_distinct_sketch",
    "streaming_anomaly_parity",
    "part_copurchase_pairs",
    "event_transition_matrix",
    # banded kNN (hard-negative mining)
    "emb_hard_negatives",
    # graph pair, token entropy, BPE train+encode,
    # key-skew Gini diagnostic
    "part_copurchase_triangles",
    "part_link_prediction",
    "doc_token_entropy",
    "doc_bpe_learn_merges",
    "doc_bpe_compression",
    "events_key_skew",
    "warehouse_schema_evolution",
    "events_value_ddsketch",
    "streaming_ddsketch_parity",
    "doc_phrase_search",
    "order_touch_attribution",
    "cdc_snapshot_diff",
    "events_winsorized_stats",
    "streaming_attribution_parity",
    "doc_split_leakage",
    # incremental co-purchase maintenance (basket-atomic
    # micro-batches, read-time support threshold + lift over the
    # folded counts — parity vs part_copurchase_pairs) and the skew
    # profiler's incremental twin (additive key counts, profile at
    # read — parity vs events_key_skew)
    "streaming_copurchase_parity",
    "streaming_key_skew_parity",
    # the transition matrix's incremental twin (touched-user
    # recompute over the deduped event store — parity vs
    # event_transition_matrix at a random split)
    "streaming_transition_parity",
    # the statsByItem rollup store's end-to-end twin (additive
    # exact-cents partials at the query-agnostic part/segment/band
    # grain, match-AND + grouping at read — parity vs
    # stats_by_item_segment)
    "streaming_item_stats_parity",
    # exact threshold-pruned link prediction (hub-probe τ + the
    # min-degree containment bound cut the pair shuffle map-side;
    # same oracle as part_link_prediction)
    "part_link_prediction_pruned",
    # streaming BM25 inverted-index maintenance (per-batch
    # postings/doclen/stats shards over disjoint docs, served through
    # the shared bm25_rank fold; same oracle as doc_bm25_search)
    "streaming_bm25_parity",
    # retention's incremental twin (per-batch distinct user-day
    # sets, distinct-over-union + the shared fold at read; same
    # oracle as user_retention_cohorts)
    "streaming_retention_parity",
    # hybrid retrieval — exact-integer reciprocal-rank fusion of
    # the BM25 and brute-cosine top-10s, and its end-to-end twin
    # serving BOTH branches from streaming-maintained stores
    # (term-clustered BM25 index + idempotent embeddings store, each
    # compacted mid-run; same oracle)
    "doc_hybrid_rrf_search",
    "streaming_hybrid_rrf_parity",
]

#: queries that build a PERSISTED per-(session, sf) index on first
#: invocation (the offline indexing job). Their docstrings time the
#: SERVE path — the build belongs to warm-up, not the timed passes:
#: emb_ivf_topk measured 11.5 s on the build-bearing first pass vs
#: 0.6 s steady, and under machine load the build-contaminated pass
#: can become the min-of-2 (a phantom 6-9x "regression").
INDEX_BUILDERS = [
    "emb_ivf_topk",
    "emb_ivf_auto_topk",
    "emb_ivfpq_topk",
    "emb_ivf_append_topk",
    "emb_ivf_compact_topk",
]


#: serving-latency protocol: requests per (endpoint, path) after two
#: untimed warm-ups. Small on purpose — the section exists to compare
#: the store-backed path against the fact-scan path (the reference's
#: controller-reads-the-index architecture), not to load-test.
SERVING_N = 12


def _bench_serving(spark, sf_dir: str) -> dict:
    """Latency of the two REST endpoints (p50/p95 ms over SERVING_N
    requests) for both paths of each — served from the
    streaming-maintained stores (the reference's architecture:
    DwdDauApp keeps the deduped actives in an index, the controller
    only queries that) vs aggregating the fact tables per request.
    The store builds are reported but untimed in the percentiles.

    Reading the local numbers: the store paths run no Spark job per
    request (serving.dau_realtime_cached — the reference's
    controller-reads-the-index economics: each committed store dir is
    folded once with pyarrow, responses are cached per store
    snapshot), while the fact-scan path deliberately launches Spark
    jobs per request to show what per-request recomputation costs.
    The repeated requests timed here hit the response cache; the
    perfbench ``serve`` workload measures the store path under
    commits."""
    import urllib.request
    import uuid

    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark import materialize
    from sparkstreaming_realtime_spark.serving import serve
    from sparkstreaming_realtime_spark.sources.files import (
        events_with_ts,
        stream_table,
    )
    from sparkstreaming_realtime_spark.streaming import (
        idempotent_parquet_sink,
        streaming_dau_dedup,
    )
    from sparkstreaming_realtime_spark.streaming.pipelines import (
        run_available_now,
    )

    td = "2024-01-15"  # the registry endpoint queries' pinned day

    # build the DAU store once via the real streaming pipeline
    # (session-scoped dir: removed at process exit, never mid-run)
    root = materialize.session_dir("srvbench_" + uuid.uuid4().hex[:8])
    store = os.path.join(root, "dau_store")
    t0 = time.time()
    # stream_table handles both table shapes (single file / directory)
    raw = stream_table(spark, sf_dir, "events")
    page_log = events_with_ts(
        raw.filter(F.col("event_type") == "view")
    ).select(
        F.col("user_id").cast("string").alias("mid"),
        F.lit(None).cast("string").alias("last_page_id"),
        F.col("ts").cast("timestamp").alias("event_time"),
    )
    q = run_available_now(
        streaming_dau_dedup(page_log),
        idempotent_parquet_sink(
            store, key_cols=("mid", "dt"), partition_col="dt"
        ),
        os.path.join(root, "ckpt"),
        query_name="srvbench_" + uuid.uuid4().hex[:8],
    )
    store_built = q.awaitTermination(600)
    if not store_built:
        # a partial store would make every latency below misleading —
        # stop the build and flag the artifact instead of recording
        # numbers measured against incomplete state
        q.stop()
    store_build_s = round(time.time() - t0, 3)

    def measure(base_url: str, path_qs: str) -> dict:
        url = base_url + path_qs
        lat: list[float] = []
        for i in range(2 + SERVING_N):
            t = time.time()
            with urllib.request.urlopen(url, timeout=300) as resp:
                resp.read()
            if i >= 2:  # first two requests are warm-up
                lat.append((time.time() - t) * 1000.0)
        lat.sort()
        return {
            "n": len(lat),
            "p50_ms": round(lat[len(lat) // 2], 1),
            "p95_ms": round(lat[min(len(lat) - 1, int(len(lat) * 0.95))], 1),
            "min_ms": round(lat[0], 1),
        }

    results: dict = {"store_build_sec": store_build_s, "n_requests": SERVING_N}
    if not store_built:
        results["error"] = (
            "store build exceeded 600s and was stopped; store-backed "
            "latencies below are against a PARTIAL store"
        )
    # statsByItem rollup store: additive exact-cents partials at
    # the query-agnostic (part, name, segment, band) grain — same
    # pipeline shape as streaming_item_stats_parity
    from sparkstreaming_realtime_spark.functions.money import money_units
    from sparkstreaming_realtime_spark.serving import ITEM_STATS_KEYS
    from sparkstreaming_realtime_spark.sources.files import read_table
    from sparkstreaming_realtime_spark.streaming.sinks import (
        rollup_sum_sink,
    )

    item_store = os.path.join(root, "item_store")
    t0 = time.time()
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 2000, "low")
        .when(F.col("c_acctbal") <= 6000, "mid")
        .otherwise("high")
    )
    wide = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "p_partkey", "p_name",
            F.col("c_mktsegment").alias("segment"),
            band.alias("band"),
            money_units(F.col("l_extendedprice"), 2).alias("cents"),
        )
    )
    rollup_sum_sink(item_store, key_cols=ITEM_STATS_KEYS, value_col="cents")(
        wide, 0
    )
    results["item_store_build_sec"] = round(time.time() - t0, 3)

    srv, _ = serve(spark, sf_dir, port=0, dau_store=store,
                   item_store=item_store)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        results["dau_realtime_store"] = measure(base, f"/dauRealtime?td={td}")
        results["stats_by_item_store"] = measure(
            base, "/statsByItem?itemName=widget&t=segment"
        )
    finally:
        srv.shutdown()
    srv, _ = serve(spark, sf_dir, port=0)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        results["dau_realtime_factscan"] = measure(
            base, f"/dauRealtime?td={td}"
        )
        results["stats_by_item"] = measure(
            base, "/statsByItem?itemName=widget&t=segment"
        )
    finally:
        srv.shutdown()
    return results


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    load_at_start = round(os.getloadavg()[0], 2)
    spark = get_spark(app_name="bench")
    qs = queries()

    # EFFECTIVE parallelism of this run: the session honors
    # $SPARK_GRAFT_CPUS via local[N] (session.py), while
    # os.cpu_count() reports the machine's CPUs, which would make an
    # 8-core scaling probe unattributable. Parse N out of the actual
    # master so the artifact records what the run really used.
    master = spark.sparkContext.master
    if master.startswith("local[") and master.rstrip("]")[6:].isdigit():
        n_cpus = int(master.rstrip("]")[6:])
    else:  # local[*] or a cluster master: defaultParallelism is N
        n_cpus = spark.sparkContext.defaultParallelism

    # warm-up: JVM, parquet footer cache, codegen. Every headline
    # query once at the smallest SF — the generated classes are the
    # same, so the timed sf run measures steady-state execution, not
    # Janino compilation (cold codegen is 5-10s for the big
    # synthesis/hash expression trees and would dominate one-shot
    # timings).
    # Per-query failure isolation: one broken query must never kill
    # the whole artifact (a single AnalysisException in warm-up must
    # not crash the bench to rc=1 with zero timings recorded).
    warm_dir = "/root/testdata/sf0.001"
    errors: dict[str, str] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        try:
            qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — record and move on
            errors[name] = f"warmup: {type(e).__name__}: {e}"[:500]

    # index pre-build at the TIMED SF: the persisted-index queries'
    # first invocation per (session, sf) runs the offline index build
    # (~11-19 s each at sf0.1); untimed here so both timed passes
    # measure steady-state serving — the thing those queries are
    prebuilt: list[str] = []
    t_prebuild = time.time()
    for name in INDEX_BUILDERS:
        if name not in qs or name in errors:
            continue
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            prebuilt.append(name)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"prebuild: {type(e).__name__}: {e}"[:500]
    prebuild_s = round(time.time() - t_prebuild, 3)

    # two timed passes, report the per-query MIN: steady-state cost,
    # robust to one-off JVM/GC stalls mid-session
    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    for _ in range(2):
        for name in HEADLINE:
            if name not in qs or name in errors:
                continue
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = round(time.time() - t0, 3)
                timings[name] = min(timings.get(name, dt), dt)
                passes.setdefault(name, []).append(dt)
            except Exception as e:  # noqa: BLE001
                errors[name] = f"timed: {type(e).__name__}: {e}"[:500]
                # never report a half-failed query in both timings and
                # errors — the headline total covers clean queries only
                timings.pop(name, None)
                passes.pop(name, None)

    # adaptive third pass for the NOISY queries only: when the two
    # passes disagree >15%, one of them hit a GC/IO stall and min-of-2
    # still carries it round-over-round as phantom drift; a third
    # sample costs seconds and settles exactly the queries that need it
    for name, ts in passes.items():
        if len(ts) == 2 and abs(ts[0] - ts[1]) > 0.15 * min(ts):
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = round(time.time() - t0, 3)
                timings[name] = min(timings[name], dt)
                ts.append(dt)
            except Exception:  # noqa: BLE001 — min-of-2 already stands
                pass

    # endpoint latency section: the serving layer is
    # pytest-curled for correctness; this records its LATENCY against
    # the streaming-maintained store vs the per-request fact scan.
    # Isolated like everything else — a serving failure must not cost
    # the per-query artifact.
    serving: dict
    try:
        serving = _bench_serving(spark, sf_dir)
    except Exception as e:  # noqa: BLE001 — record and move on
        serving = {"error": f"{type(e).__name__}: {e}"[:500]}

    total = round(sum(timings.values()), 3)
    # Per-query pass lists + relative spread ride along so a reader
    # can separate load noise from real drift WITHOUT re-running:
    # min-of-N is robust to one stall, but persistent machine load
    # inflates every pass and the min silently drifts (a 6x phantom
    # regression on emb_ivf_knn_join once survived min-of-3).
    # rel_spread = (max-min)/min per query; a whole artifact where
    # most queries show large spreads (or where loadavg is high) is
    # a loaded-machine run, not a code regression.
    spread = {
        name: {
            "passes": ts,
            "rel_spread": round((max(ts) - min(ts)) / min(ts), 3)
            if min(ts) > 0
            else 0.0,
        }
        for name, ts in sorted(passes.items())
    }
    out: dict = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "pass_spread": spread,
        "loadavg_1m_start": load_at_start,
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
        "n_cpus": n_cpus,
        "machine_cpus": os.cpu_count(),
        # methodology self-description: these queries' offline
        # index builds ran UNTIMED in warm-up, so their timings are
        # steady-state serving, not build plus serve.
        "prebuilt_indexes": prebuilt,
        "prebuild_sec": prebuild_s,
        "serving": serving,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))

    # The driver's BENCH artifact keeps only a ~2,000-char stdout
    # TAIL and parses JSON from it — the full line above outgrows
    # that window (the artifact then records "parsed": null and the
    # per-query mins are lost). Two fixes, belt and braces: (1) the
    # full artifact is written to BENCH_local.json beside this
    # script, and (2) the LAST stdout line is a
    # COMPACT summary — same contract keys, queries trimmed to the
    # shared-8 — that always fits inside the tail window whole.
    art = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    try:
        with open(art, "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        pass
    shared8 = {n: timings[n] for n in HEADLINE[:8] if n in timings}
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": shared8,
        "shared8_sum": round(sum(shared8.values()), 3),
        "n_queries": len(timings),
        "n_errors": len(errors),
        "n_cpus": n_cpus,
        "loadavg_1m": [load_at_start, round(os.getloadavg()[0], 2)],
        "prebuilt_indexes": prebuilt,
        "prebuild_sec": prebuild_s,
        "serving_p50_ms": {
            k: v.get("p50_ms")
            for k, v in serving.items()
            if isinstance(v, dict)
        }
        or serving,
        "full_artifact": "BENCH_local.json",
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
