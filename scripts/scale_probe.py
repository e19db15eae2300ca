"""Scaling probe for PERF.md: time the shared-8 + LLM-heavy queries
at a base SF dir and a scaled dir (see make_scaled.py), report the
observed ratio per query. bench.py's protocol (noop sink, warm-up at
sf0.001, min of 2 timed passes).

Usage: python scripts/scale_probe.py [base_dir] [scaled_dir] [factor]
                                     [names_csv] [passes]

``names_csv`` restricts the probe to a comma-separated subset of the
PROBE list (big-factor runs probe the representative heavy shapes,
not all 33 queries); ``passes`` drops min-of-2 to one timed pass when
a scaled run is minutes long.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstreaming_realtime_spark.plans import queries
from sparkstreaming_realtime_spark.session import get_spark

PROBE = [
    # shared-8
    "dau_by_hour",
    "session_entry_first_daily",
    "hourly_window_rollup",
    "order_wide_join",
    "revenue_by_nation",
    "pricing_summary",
    "stats_by_item_segment",
    "top_k_grouped_avg",
    # LLM-heavy
    "doc_minhash_near_dup",
    "doc_simhash",
    "doc_incremental_near_dup",
    "corpus_curation_funnel",
    "emb_ivf_topk",
    # embedding, CDC and corpus-curation operators
    "emb_knn_join",
    "emb_semantic_dedup",
    "cdc_scd2_history",
    "doc_importance_resample",
    "doc_lm_perplexity",
    "doc_heavy_hitters_sketch",
    "clustered_point_lookup",
    # the skew-safe quota sampler (pre-filter must hold
    # the window's input ~constant per stratum → ratio ≤ ~2) and the
    # N-derived-band SemDeDup (the pinned-width twin goes quadratic
    # by construction; this is the variant a 100 TB caller gets)
    "doc_exact_k_sample",
    "emb_semantic_dedup_auto",
    # index append serve, layout jobs, quality gate, audio
    "emb_ivf_append_topk",
    "zordered_two_dim_lookup",
    "warehouse_compaction_roundtrip",
    "events_quality_expectations",
    "doc_audio_windows",
    # the 6×6 re-pinned twin (must stop probing
    # quadratic), compacted-index serving, byte-sampling resize, and
    # the streaming gate (linear in routed bytes by construction)
    "emb_ivf_compact_topk",
    "doc_resize_images",
    "streaming_quality_gate_parity",
    # cluster profiling (training scans + one profile
    # scan — linear by construction), PQ ADC serving (codes-only
    # scan), and the two-level IVF-PQ (partition-pruned codes scan —
    # should probe FLAT like the other routed serves)
    "emb_kmeans_clusters",
    "emb_pq_topk",
    "emb_ivfpq_topk",
    # binary Hamming two-stage search — the candidate
    # stage is XOR+POPCNT per row (should probe ~linear-in-scan with
    # big 32-core headroom), the rerank stage is constant-size
    "emb_hamming_topk",
    # the heavy shapes not probed above, plus the cluster-pruned
    # SemDeDup (candidates
    # bounded by cluster size — should probe far under the LSH twins)
    "emb_semantic_dedup_clustered",
    "emb_semantic_dedup_clustered_banded",
    "corpus_curation_funnel_v2",
    "doc_dup_clusters",
    # probe-only variants (not registry queries): dup_clusters FORCED
    # through the distributed star-contraction fallback
    # (local_threshold=0 skips the union-find cutover, max_iters=2
    # burns propagation in one round — the fallback always contracts
    # to completion, and this measures
    # what that costs at scale), and the auto-width cluster∩band
    # SemDeDup (the registry twin pins 6×6 for its static oracle)
    "doc_dup_clusters_star",
    "emb_semantic_dedup_clustered_banded_auto",
    # corpus boilerplate-line removal (explode + two-phase
    # distinct-count + AQE-broadcast gate — should probe ~linear in
    # corpus lines) and the zero-shuffle within-doc collapse (pure
    # projection — should probe at scan bandwidth, the flattest shape
    # in the suite)
    "doc_line_dedup",
    "doc_intra_line_dedup",
    # the auto-k clustered SemDeDup (probe-only — the
    # published recipe's ACTUAL scale knob, k ∝ N at fixed cell size;
    # see _sdc_auto_k)
    "emb_semantic_dedup_clustered_auto_k",
    # the keep-longest survivor policy (re-runs the minhash+components
    # chain, then ONE max_by winner join — expect ~doc_dup_clusters'
    # ratio), and three streaming parities (each replays its
    # batch oracle after the stream, so the probe measures the full
    # parity harness, the shape the driver times)
    "doc_dup_keep_longest",
    "streaming_idempotent_sink_parity",
    "streaming_observe_metrics_parity",
    "streaming_line_dedup_parity",
    # the Arrow matmul assignment registry twin — k=96
    # fixed while N grows means N·k dot products, linear in N; the
    # probe confirms the mapInPandas path scales at scan bandwidth
    "emb_cells_arrow_assign",
    # ExactSubstr sliding-window dedup — ~n_tokens hash
    # rows (×w the C4 chunker's row count, the price of arbitrary
    # alignment), one content-hash window, one doc-keyed collect;
    # linear by construction, the probe verifies it
    "doc_exact_substr_dedup",
    # the deterministic inverted-index Jaccard family —
    # candidate pairs ≤ df_cap/2 × |postings| (linear at the fixed
    # per-gram cap, NOT a corpus-sized knob), and its per-doc
    # group-top-k neighbor ranking (hash aggregate, no corpus window)
    "doc_ngram_jaccard_dedup",
    "doc_topk_similar",
    # topic-balanced selection — one assignment scan +
    # a pre-filtered per-cell quota window (~4K rows per partition
    # regardless of cluster size); should probe ~linear-in-scan
    "emb_cluster_balanced_sample",
    # online serve parity — per-batch probes-bounded
    # pruned scans; cost tracks query count × cell size, not corpus
    "streaming_ivf_serve_parity",
    # probe-only: the same serve core through an auto_k_cells index
    # (fixed cell size) — the production knob; see _ivf_serve_auto_k
    "emb_ivf_serve_auto_k",
    # single-query serving through the auto-k index —
    # per-query cost is probes × ~512 vectors at ANY corpus size
    "emb_ivf_auto_topk",
    # BM25 retrieval (postings filtered to the query's
    # terms BEFORE the tf shuffle + tiny broadcast scalars — should
    # probe ~linear-in-scan), segment-blocked fuzzy linkage (cap
    # drops degenerate blocks, survivors pair through selective
    # segments — near-linear; needs the digit-permuted customer
    # fixture or cross-copy verbatim names densify the pair graph
    # quadratically by artifact), the overlapping-window rollup
    # (2 windows/event — a constant fan-out, so ~2× the tumbling
    # sentinel at every factor, ~linear absolute), and its streaming
    # parity (same state shape as the hourly parity)
    "doc_bm25_search",
    "customer_fuzzy_match",
    "sliding_window_rollup",
    "streaming_sliding_rollup_parity",
    # event-sequence analytics (stage aggregates and
    # distinct-activity frames are user-keyed — linear) and the
    # zero-filled resample (grid size is SPAN-bound, so the fill cost
    # is constant while the aggregate scales with events)
    "user_funnel",
    "user_retention_cohorts",
    "events_gap_filled_resample",
    # the incremental funnel sink — each of the 4
    # batches merges the event store and recomputes touched users
    # (at a random 4-way split that is ~every user every batch, the
    # WORST case for the touched-key pattern; real streams touch a
    # sliver)
    "streaming_funnel_parity",
    # integer PageRank — one edges⋈ranks shuffle per
    # iteration over a linear-in-data edge list, lineage cut per
    # round; should probe ~linear (3 fixed iterations at any N)
    "order_graph_pagerank",
    # probe-only: decontamination at the AUTO band width (the
    # registry twin pins 6×6 for its static oracle and GUARD-raises
    # past 50k train vectors; this is the knob a 100 TB caller gets —
    # per-bucket work |train∩bucket|·|eval∩bucket| stays put as both
    # the corpus and the bucket count grow)
    "emb_semantic_decontaminate_auto",
    # the KMV distinct sketch (map-side WindowGroupLimit
    # prune → every shuffle carries ≤ k·partitions rows; should probe
    # ~linear-in-scan with the md5 projection the only per-row cost),
    # its streaming merge parity (4 batch sketches + a ≤ k·batches
    # merge — same scan, constant merge), and the rolling revenue
    # windows (facts aggregate FIRST; the windows run over the
    # nation × day rollup whose size is data-INDEPENDENT at fixed
    # date span, so the probe should track the rollup shuffle only)
    "doc_shingle_distinct_sketch",
    "streaming_distinct_sketch_parity",
    "revenue_rolling_windows",
    # cross-corpus overlap (two sketch scans + ≤ 2k-
    # integer algebra — should track the shingle scans), grouped KMV
    # (same scan, per-group prune), the anomaly tripwire (same rollup
    # as rolling windows + one more window pass), and its incremental
    # streaming twin (per-batch rollup sums + detector at read)
    "corpus_overlap_sketch",
    "doc_lang_distinct_sketch",
    "revenue_anomaly_days",
    "streaming_anomaly_parity",
    # within-basket pair enumeration (per-basket work
    # C(width, 2), width schema-bounded — should probe ~linear) and
    # the Markov transition matrix (the user_sessions window sort +
    # a map-side count into a |types|² frame — ~the sessions ratio)
    "part_copurchase_pairs",
    "event_transition_matrix",
    # triangle counting (oriented wedge work is
    # O(m^1.5) PER COMPONENT and the scaled fixture is factor
    # disjoint copies — so expect ~linear in copies with the 41M-
    # wedge-per-copy constant), link prediction over the SUPPORT-2
    # graph (which EMPTIES under scaling — copies dilute pair support
    # — so the probe measures the basket rollup, not the wedges),
    # per-doc token entropy (zero-shuffle projection — expect the
    # doc_intra_line_dedup class, ~scan-flat), hard-negative mining
    # (the banded kNN join — queries fixed at the band filter, corpus
    # ×N partial top-k), and the ingest-time decontamination parity
    # RE-measured after the frozen-eval-index change
    "part_copurchase_triangles",
    "part_link_prediction",
    "doc_token_entropy",
    "emb_hard_negatives",
    "streaming_decontaminate_parity",
    # BPE merge learning — corpus-token shuffle once,
    # then 6 vocabulary-sized iterations (type count grows far slower
    # than tokens; the scaled fixture's letter substitution multiplies
    # types ×~26, the worst case for this shape)
    "doc_bpe_learn_merges",
    # the encode side (adds one corpus scan to
    # the train loop), the skew profiler (key-count shuffle + a
    # histogram-sized window), the two-era mergeSchema roundtrip
    # (write + read + rollup — linear in facts), the DDSketch pair
    # (scan + ~540-bucket sketch; the streaming twin adds 4 batch
    # rollups), in-row phrase search (scan-flat by construction),
    # the attribution range join (user+bucket equi-join), and the
    # full-outer reconciliation diff (one co-partitioned join)
    "doc_bpe_compression",
    "events_key_skew",
    "warehouse_schema_evolution",
    "events_value_ddsketch",
    "streaming_ddsketch_parity",
    "doc_phrase_search",
    "order_touch_attribution",
    "cdc_snapshot_diff",
    # sketch-driven winsorization (two scans
    # by construction) and the incremental attribution parity (4
    # order micro-batches against the static event side)
    "events_winsorized_stats",
    "streaming_attribution_parity",
    # the contamination audit (the minhash
    # chain — already probed via doc_minhash_near_dup — plus two
    # id-keyed label joins)
    "doc_split_leakage",
    # the two incremental-twin parities — co-purchase (4
    # basket-atomic batches, each rolls its baskets and writes three
    # partial frames; merge + threshold + lift at read — expect ~the
    # part_copurchase_pairs ratio plus fixed per-batch write costs)
    # and key-skew (4 batches of additive key counts; histogram/Gini
    # at read — expect ~the events_key_skew ratio)
    "streaming_copurchase_parity",
    "streaming_key_skew_parity",
    # the transition twin — same touched-key recompute economics
    # as streaming_funnel_parity (a random 4-way split touches ~every
    # user every batch, the worst case; expect its ratio class)
    "streaming_transition_parity",
    # the statsByItem rollup-store twin (4 batches of
    # stream-static dim joins + additive cents partials; match-AND +
    # grouping over the parts-sized merged store at read — expect
    # ~the stats_by_item_segment ratio plus fixed per-batch writes)
    "streaming_item_stats_parity",
    # the BM25 inverted-index twin (per-batch tokenize + postings
    # shards over disjoint docs; query = term-filtered merged postings
    # through the shared scorer — expect ~linear in corpus tokens)
    "streaming_bm25_parity",
    # threshold-pruned link prediction (NOTE: the ×100 fixture is
    # 100 sparse sf0.01 copies — degree-UNIFORM, so τ degenerates to 1
    # by design and this row measures the prune's overhead-when-idle,
    # not its win; the win shows on a skewed fixture)
    "part_link_prediction_pruned",
]

# NOTE: at factors where the corpus passes 50k vectors, the
# three PINNED-knob registry twins (emb_semantic_dedup 6×6,
# emb_semantic_dedup_clustered fixed-k, …_clustered_banded 6×6) now
# RAISE by design (similarity.FIXED_KNOB_GUARD_N — at ×100 corpus
# they measured ×423/×156/×127). Their probe rows
# record the ValueError: that IS the result — the quadratic setting
# can no longer be lifted into a big job. The auto twins beside them
# keep probing normally.


def _dup_clusters_star(spark, sf_dir: str):
    from sparkstreaming_realtime_spark.operators import dedup as dd
    from sparkstreaming_realtime_spark.sources.files import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = dd.near_dup_pairs(docs, threshold=0.6)
    return dd.connected_components(
        pairs, max_iters=2, local_threshold=0
    )


def _sdc_banded_auto(spark, sf_dir: str):
    # the true 100 TB path of the clustered family: N-derived band
    # width (the registry twin pins 6×6 for its static oracle) over
    # the session's persisted coarse quantizer
    from sparkstreaming_realtime_spark.operators import similarity as sim
    from sparkstreaming_realtime_spark.plans.llm_queries import (
        _EMB_DIM,
        _ivf_index_path,
    )
    from sparkstreaming_realtime_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = sim.load_centroids(spark, _ivf_index_path(spark, sf_dir))
    return sim.semantic_dedup_clustered_banded(
        emb, cents, dim=_EMB_DIM, threshold=0.4
    )


def _sdc_auto_k(spark, sf_dir: str):
    # the published SemDeDup scaling: k GROWS with N so expected cell
    # size stays ~fixed (Abbas et al. use k up to N/2000) — total
    # within-cluster pair work is then N·cell_size/2, LINEAR in N.
    # The registry twin pins k to the persisted IVF quantizer's cell
    # count for its static oracle; at ×100 corpus that fixed-k shape
    # measured ×155.8 (quadratic by construction), so THIS is
    # the knob setting a 100 TB caller must use.
    from sparkstreaming_realtime_spark.operators import similarity as sim
    from sparkstreaming_realtime_spark.plans.llm_queries import _EMB_DIM
    from sparkstreaming_realtime_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # the registry's exact clamp — imported, not re-hardcoded, so the
    # probe cannot drift from the query it models
    k = sim.auto_k_cells(n)
    cents = sim.train_kmeans_cells(emb, dim=_EMB_DIM, n_cells=k, iters=2)
    return sim.semantic_dedup_clustered(
        emb, cents, threshold=0.4, max_cluster=8192, approx_count=n
    )


def _ivf_serve_auto_k(spark, sf_dir: str):
    # the PRODUCTION serve economics: index built at auto_k_cells(n)
    # (fixed ~cell size), query batch = vec_id % 41. Total serve work
    # is then |queries| × probes × cell_size — linear in N when the
    # query rate scales with the corpus. The registry parity serves
    # through the fixed-IVF_CELLS index its oracle replays, which at
    # ×100 means 100×-bigger cells AND 100× more queries — quadratic
    # by knob, exactly like the pinned SemDeDup twins; this EXTRA row
    # measures the same serve core at the knob a 100 TB deployment
    # uses. (One-shot, no streaming harness: the micro-batch split is
    # measured by the registry row; serve economics are what scale.)
    import hashlib
    import os

    from sparkstreaming_realtime_spark.materialize import session_dir
    from sparkstreaming_realtime_spark.operators import similarity as sim
    from sparkstreaming_realtime_spark.plans.llm_queries import _EMB_DIM
    from sparkstreaming_realtime_spark.sources.files import read_table
    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = sim.auto_k_cells(n)
    # hashlib, not hash(): PYTHONHASHSEED randomizes str hash per
    # process, so a hash(sf_dir) name would differ between probe runs;
    # md5 of the abspath is stable
    dir_tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    tag = f"{spark.sparkContext.applicationId}_{dir_tag}_k{k}"
    path = session_dir(f"ivf_auto_{tag}")
    # gate rebuild on a COMPLETION marker, not on the centroids dir: a
    # build that crashed after writing centroids but before the corpus
    # leaves a partial index that later probe rows in the same session
    # would serve and fail on
    done = os.path.join(path, "_PROBE_BUILD_DONE")
    if not os.path.exists(done):
        sim.build_ivf_index(emb, _EMB_DIM, path, n_cells=k)
        with open(done, "w") as f:
            f.write("ok\n")
    corpus = sim.read_ivf_corpus(spark, path)
    queries = corpus.filter(F.col("vec_id") % 41 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    return sim.ivf_serve(
        spark, path, queries, k=5, probes=2,
        exclude=F.col("vec_id") % 41 != 0,
    )


def _decon_auto(spark, sf_dir: str):
    # cross-frame LSH decontamination at the N-derived band width
    # (the registry twin pins 6×6 for its static oracle — and past
    # FIXED_KNOB_GUARD_N train vectors that pin raises by design)
    from sparkstreaming_realtime_spark.operators import similarity as sim
    from sparkstreaming_realtime_spark.plans.llm_queries import (
        _DECON_MOD,
        _EMB_DIM,
    )
    from sparkstreaming_realtime_spark.sources.files import read_table
    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings")
    return sim.semantic_decontaminate(
        emb.filter(F.col("vec_id") % _DECON_MOD != 0),
        emb.filter(F.col("vec_id") % _DECON_MOD == 0),
        dim=_EMB_DIM,
        threshold=0.4,
    )


#: probe-only entries: operator paths worth scale-measuring that no
#: registry query exercises with these exact knobs
EXTRA = {
    "doc_dup_clusters_star": _dup_clusters_star,
    "emb_semantic_dedup_clustered_banded_auto": _sdc_banded_auto,
    "emb_semantic_dedup_clustered_auto_k": _sdc_auto_k,
    "emb_ivf_serve_auto_k": _ivf_serve_auto_k,
    "emb_semantic_decontaminate_auto": _decon_auto,
}


def _time(qs, name: str, sf_dir: str, spark, passes: int = 2):
    ts = []
    for _ in range(passes):
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        ts.append(round(time.time() - t0, 3))
    return round(min(ts), 3), ts


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scaled = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_scaled"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    only = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None
    passes = int(sys.argv[5]) if len(sys.argv) > 5 else 2
    global PROBE
    if only:
        unknown = only - set(PROBE)
        assert not unknown, f"not in PROBE: {sorted(unknown)}"
        PROBE = [n for n in PROBE if n in only]
    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(queries())
    qs.update(EXTRA)
    for name in PROBE:  # warm-up: codegen at the smallest SF
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    rows = {}
    for name in PROBE:
        # failure isolation (as in bench.py): one broken
        # query must not void the whole probe's timings
        load0 = os.getloadavg()[0]
        try:
            tb, pb = _time(qs, name, base, spark, passes)
            ts_, ps = _time(qs, name, scaled, spark, passes)
        except Exception as e:  # noqa: BLE001 — record and move on
            rows[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            print(f"{name:32s} ERROR {rows[name]['error'][:80]}", flush=True)
            continue
        rows[name] = {
            "base_s": tb,
            "scaled_s": ts_,
            "ratio": round(ts_ / tb, 2) if tb > 0 else None,
            # per-pass lists + the loadavg bracketing this query: the
            # host is shared, and a neighbor-load spike inflates a
            # min-of-N silently — these fields
            # let a reader spot which ratios were measured under load
            "passes": {"base": pb, "scaled": ps},
            "loadavg_1m": [round(load0, 2), round(os.getloadavg()[0], 2)],
        }
        print(
            f"{name:32s} {tb:8.3f}s {ts_:8.3f}s  x{rows[name]['ratio']}",
            flush=True,
        )
    print(json.dumps({"factor": factor, "queries": rows}))


if __name__ == "__main__":
    main()
