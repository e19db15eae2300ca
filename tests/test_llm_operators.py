"""Unit tests for the LLM-pipeline operators (dedup / similarity /
textstats / multimodal) on tiny in-memory frames, plus sf0.001
oracle-parity spot checks for the hash-heavy ones."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreaming_realtime_spark.operators import dedup as dd
from sparkstreaming_realtime_spark.operators import multimodal as mm
from sparkstreaming_realtime_spark.operators import similarity as sim
from sparkstreaming_realtime_spark.operators import textstats as ts


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_collapses_normalized_copies(spark):
    docs = _docs(
        spark,
        [
            (1, "Hello World"),
            (2, "  hello world "),  # normalization collapses to #1
            (3, "something else"),
        ],
    )
    out = {r["keep_id"]: r["n_copies"] for r in dd.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_near_dup_pairs_finds_reordered_text(spark):
    # b is a reordered copy of a (high bigram overlap); c is unrelated
    a = "spark query engine reads parquet fast " * 4
    b = "engine reads parquet fast spark query engine reads parquet fast " * 3
    docs = _docs(spark, [(1, a), (2, b), (3, "totally different words here")])
    pairs = dd.near_dup_pairs(docs, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] >= 0.5


def test_near_dup_ignores_low_overlap(spark):
    docs = _docs(
        spark,
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
    )
    assert dd.near_dup_pairs(docs, threshold=0.3).count() == 0


def test_ngram_jaccard_pairs_finds_reordered_text(spark):
    # same fixture as the minhash test — the inverted-index path must
    # find the pair deterministically (no LSH miss probability)
    a = "spark query engine reads parquet fast " * 4
    b = "engine reads parquet fast spark query engine reads parquet fast " * 3
    docs = _docs(spark, [(1, a), (2, b), (3, "totally different words here")])
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] >= 0.5


def test_ngram_jaccard_df_cap_drops_boilerplate_only_overlap(spark):
    # 3 identical docs: every gram has df=3. With df_cap=2 no gram
    # survives the posting filter → zero pairs despite jaccard 1.0;
    # at the default cap all C(3,2) pairs appear with jaccard 1.0.
    docs = _docs(spark, [(i, "same text every time really") for i in range(3)])
    assert dd.ngram_jaccard_pairs(docs, threshold=0.9, df_cap=2).count() == 0
    full = dd.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    assert sorted((r["doc_a"], r["doc_b"]) for r in full) == [
        (0, 1), (0, 2), (1, 2)
    ]
    assert all(r["jaccard"] == 1.0 for r in full)


def test_ngram_jaccard_is_superset_of_minhash_at_same_threshold(spark):
    """On the sf0.001 corpus the deterministic inverted-index pairs
    must contain every MinHash-LSH pair (LSH can only miss), and the
    exact-Jaccard values must agree bit-for-bit on the common pairs —
    both paths verify with the identical expression shape."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.near_dup_pairs(docs, threshold=0.6).collect()
    }
    ng = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    assert set(mh) <= set(ng)
    assert all(ng[k] == v for k, v in mh.items())


def test_topk_similar_docs_ranks_by_jaccard_with_id_tiebreak(spark):
    # doc 1's neighbors: 2 (near-copy, high J) and 3 (partial overlap,
    # lower J) — rank must order them by jaccard desc; 4 is unrelated
    a = "spark query engine reads parquet fast " * 4
    b = "engine reads parquet fast spark query engine reads parquet fast " * 3
    c = "spark query engine reads parquet fast but then does other things entirely"
    docs = _docs(spark, [(1, a), (2, b), (3, c), (4, "nothing shared at all")])
    out = dd.topk_similar_docs(docs, k=2, threshold=0.1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["nbr_id"]))
    assert sorted(by_doc[1]) == [(1, 2), (2, 3)]
    assert by_doc[2][0] == (1, 1)
    assert 4 not in by_doc
    # ranks are 1-based and dense per doc
    assert all(
        sorted(rk for rk, _ in v) == list(range(1, len(v) + 1))
        for v in by_doc.values()
    )


def test_topk_similar_docs_k_truncates(spark):
    # 4 identical docs: each has 3 jaccard-1.0 neighbors; k=2 keeps
    # the two smallest nbr ids (tie-break on id)
    docs = _docs(spark, [(i, "same text every time really") for i in range(4)])
    out = dd.topk_similar_docs(docs, k=2, threshold=0.5).collect()
    assert len(out) == 8
    nbrs0 = sorted(r["nbr_id"] for r in out if r["doc_id"] == 0)
    assert nbrs0 == [1, 2]


def test_max_bucket_caps_degenerate_buckets(spark):
    # 5 identical docs → one bucket of 5; cap of 4 drops it entirely
    docs = _docs(spark, [(i, "same text every time really") for i in range(5)])
    sh = dd.shingle_sets(docs)
    buckets = dd.lsh_buckets(dd.minhash_signature(sh))
    assert dd.lsh_candidate_pairs(buckets).count() == 10  # C(5,2)
    assert dd.lsh_candidate_pairs(buckets, max_bucket=4).count() == 0


def test_simhash_deterministic_and_close_for_similar_docs(spark):
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely unrelated financial report text"),
        ],
    )
    rows = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    ham12 = bin(rows[1] ^ rows[2]).count("1")
    ham13 = bin(rows[1] ^ rows[3]).count("1")
    assert ham12 < ham13  # similar docs → closer fingerprints
    # rerun must be bit-identical
    rows2 = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    assert rows == rows2


def test_cosine_topk_orders_by_similarity(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),   # most similar to query
            (2, [0.0, 1.0], 1),   # orthogonal
            (3, [-1.0, 0.0], 1),  # opposite
        ],
        "vec_id long, embedding array<float>, label int",
    )
    q = sim.query_vector(emb, 0)
    got = sim.cosine_topk(emb, q, k=3, exclude_id=0).collect()
    assert [r["vec_id"] for r in got] == [1, 2, 3]
    assert got[0]["cos"] > 0.99


def test_ivf_index_build_and_pruned_search(spark, tmp_path):
    # two clean clusters around x-axis and y-axis
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.95, 0.05], 0),
            (2, [0.9, 0.2], 0),
            (3, [0.0, 1.0], 1),
            (4, [0.05, 0.99], 1),
            (5, [0.1, 0.9], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, dim=2, path=path, n_cells=2, iters=2)
    q = sim.query_vector(emb, 0)
    got = sim.ivf_search(spark, path, q, k=10, exclude_id=0).collect()
    # only the query's own (x-axis) cell is scanned: 1 and 2 come
    # back, the y-axis cluster doesn't — the recall trade IVF makes
    assert sorted(r["vec_id"] for r in got) == [1, 2]
    # probes=2 widens to the second cell
    got2 = sim.ivf_search(spark, path, q, k=10, exclude_id=0, probes=2)
    assert sorted(r["vec_id"] for r in got2.collect()) == [1, 2, 3, 4, 5]


def test_ivf_recall_strictly_improves_with_probes_on_clustered_data(
    spark, tmp_path
):
    """The nprobe knob must DEMONSTRABLY trade cost for recall. The
    registry recall-curve query runs on the driver's near-uniform
    embeddings, where every probe count returns the same flat recall
    — it checks parity but can't distinguish a working knob from a
    broken one. This fixture is a deterministic mixture of Gaussians
    (8 well-separated clusters, 3 points each) with the query a
    decreasing-weight blend of ALL cluster centers, so its true
    top-10 spans four clusters: each extra probed cell must add
    neighbors — recall@10 strictly increases over probes 1 → 2 → 4.
    (Monotone non-decrease is automatic — candidates(p) ⊆
    candidates(p+1) and BF-top-10 members outrank all other
    candidates — so the STRICT assertion is what the clustered
    geometry buys.)"""
    import hashlib

    DIM, C, PER = 16, 8, 3

    def noise(i, j, scale=0.05):
        h = int(hashlib.md5(f"n:{i}:{j}".encode()).hexdigest()[:8], 16)
        return (h % 2001 - 1000) / 1000.0 * scale

    rows = []
    for vid in range(C * PER):
        c = vid // PER
        v = [noise(vid, j) for j in range(DIM)]
        v[2 * c] += 1.0  # cluster center = basis vector e_{2c}
        rows.append((vid, v, c))
    q_vec = [0.0] * DIM
    for c in range(C):
        q_vec[2 * c] = 1.0 / (c + 1.0)  # cos to cluster c ~ 1/(c+1)
    QID = 1000
    rows.append((QID, q_vec, 99))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, DIM, path, n_cells=C, iters=2)
    q = sim.query_vector(emb, QID)
    bf = {
        r["vec_id"]
        for r in sim.cosine_topk(emb, q, k=10, exclude_id=QID).collect()
    }
    recalls = []
    for p in (1, 2, 4):
        ids = {
            r["vec_id"]
            for r in sim.ivf_search(
                spark, path, q, k=10, exclude_id=QID, probes=p
            ).collect()
        }
        recalls.append(len(ids & bf) / 10.0)
    assert recalls[0] < recalls[1] < recalls[2], recalls
    # pin the exact deterministic curve so a routing/indexing
    # regression that merely preserves order still flags
    assert recalls == [0.3, 0.6, 0.9], recalls


def test_truncated_overlap_improves_with_dims_on_clustered_data(spark):
    """The dims knob must demonstrably trade cost for quality (the
    registry query checks engine/oracle parity on near-uniform
    vectors, where the curve is noise). On the clustered fixture —
    cluster centers on basis dims 0,2,...,14, query a decreasing
    blend — truncating to d dims can only separate clusters whose
    center dim < d, so top-10 overlap vs full search must increase
    with d and reach 1.0 at full width."""
    import hashlib

    DIM, C, PER = 16, 8, 3

    def noise(i, j, scale=0.05):
        h = int(hashlib.md5(f"n:{i}:{j}".encode()).hexdigest()[:8], 16)
        return (h % 2001 - 1000) / 1000.0 * scale

    rows = []
    for vid in range(C * PER):
        c = vid // PER
        v = [noise(vid, j) for j in range(DIM)]
        v[2 * c] += 1.0
        rows.append((vid, v, c))
    q_vec = [0.0] * DIM
    for c in range(C):
        q_vec[2 * c] = 1.0 / (c + 1.0)
    rows.append((1000, q_vec, 99))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r["dims"]: r["overlap"]
        for r in sim.truncated_overlap_curve(
            emb, query_id=1000, dims_list=(2, 4, 12, 16), k=10
        ).collect()
    }
    # pinned deterministic curve: non-decreasing, strictly better
    # than the narrowest cut, exact at full width
    assert got == {2: 0.5, 4: 0.6, 12: 0.8, 16: 1.0}, got


def test_kmeans_training_is_deterministic(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)], 0) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    )
    c1 = sim.train_kmeans_cells(emb, dim=2, n_cells=3, iters=2)
    c2 = sim.train_kmeans_cells(emb, dim=2, n_cells=3, iters=2)
    assert c1 == c2  # no RNG, no partition-order dependence


def _clustered_fixture(spark, DIM=16, C=8, PER=3, qid=1000):
    """Deterministic mixture of Gaussians (cluster centers on basis
    dims 0,2,..), query a decreasing blend of all centers — shared by
    the IVF-recall, truncation, and PQ tests."""
    import hashlib

    def noise(i, j, scale=0.05):
        h = int(hashlib.md5(f"n:{i}:{j}".encode()).hexdigest()[:8], 16)
        return (h % 2001 - 1000) / 1000.0 * scale

    rows = []
    for vid in range(C * PER):
        c = vid // PER
        v = [noise(vid, j) for j in range(DIM)]
        v[2 * c] += 1.0
        rows.append((vid, v, c))
    q_vec = [0.0] * DIM
    for c in range(C):
        q_vec[2 * c] = 1.0 / (c + 1.0)
    rows.append((qid, q_vec, 99))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    return emb, q_vec


def test_pq_training_is_deterministic_with_expected_shape(spark):
    emb, _ = _clustered_fixture(spark)
    b1 = sim.train_pq_codebooks(emb, dim=16)
    b2 = sim.train_pq_codebooks(emb, dim=16)
    assert b1 == b2  # no RNG, no partition-order dependence
    assert len(b1) == sim.PQ_M
    assert all(len(book) == sim.PQ_K for book in b1)
    assert all(len(vec) == 16 // sim.PQ_M for book in b1 for _, vec in book)


def test_pq_adc_search_matches_exact_topk_on_clustered_data(spark):
    """On well-separated clusters the 4×8 product quantizer must
    reconstruct the neighborhood structure: ADC top-10 from the
    CODES-ONLY representation equals the exact brute-force top-10
    (pinned — a quantizer or table-lookup regression that merely
    stays plausible still flags)."""
    emb, q_vec = _clustered_fixture(spark)
    q = sim.query_vector(emb, 1000)
    bf = {
        r["vec_id"]
        for r in sim.cosine_topk(emb, q, k=10, exclude_id=1000).collect()
    }
    books = sim.train_pq_codebooks(emb, dim=16)
    enc = sim.pq_encode(emb, books, dim=16)
    ids = {
        r["vec_id"]
        for r in sim.pq_search(
            enc, books, [float(x) for x in q_vec], k=10, exclude_id=1000
        ).collect()
    }
    assert ids == bf, (sorted(ids), sorted(bf))


def test_pq_search_plan_is_single_scan_takeordered(spark):
    """The ADC serving claim, pinned as a plan test: scoring the
    encoded corpus is a scan + TakeOrdered — no aggregate, no
    Exchange, no join on the query path (the lookup tables are plan
    literals)."""
    emb, q_vec = _clustered_fixture(spark)
    books = sim.train_pq_codebooks(emb, dim=16)
    enc = sim.pq_encode(emb, books, dim=16)
    plan = (
        sim.pq_search(enc, books, [float(x) for x in q_vec], k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "Exchange" not in plan and "Join" not in plan


def test_ivfpq_recall_improves_with_probes_and_matches_ivf_curve(
    spark, tmp_path
):
    """The two-level index must keep BOTH knobs honest: recall@10
    strictly increases over probes 1 → 2 → 4 (routing works), and on
    well-separated clusters the curve equals plain IVF's pinned
    [0.3, 0.6, 0.9] — the 4×8 product quantizer loses nothing here,
    so any drop below the IVF curve is a quantizer regression, not a
    geometry artifact."""
    emb, q_vec = _clustered_fixture(spark)
    path = str(tmp_path / "ivfpq")
    sim.build_ivfpq_index(emb, 16, path, n_cells=8, iters=2)
    q = sim.query_vector(emb, 1000)
    bf = {
        r["vec_id"]
        for r in sim.cosine_topk(emb, q, k=10, exclude_id=1000).collect()
    }
    recalls = []
    for p in (1, 2, 4):
        ids = {
            r["vec_id"]
            for r in sim.ivfpq_search(
                spark,
                path,
                [float(x) for x in q_vec],
                k=10,
                probes=p,
                exclude_id=1000,
            ).collect()
        }
        recalls.append(len(ids & bf) / 10.0)
    assert recalls == [0.3, 0.6, 0.9], recalls


def test_ivfpq_serve_plan_is_partition_pruned_codes_scan(spark, tmp_path):
    """The serve-path claim, pinned: the codes scan is STATICALLY
    partition-pruned (literal IN over the cell partition column — no
    join, no DPP), reads only the code columns, and tops out in a
    TakeOrdered. No Exchange, no aggregate, no raw-vector read
    anywhere."""
    emb, q_vec = _clustered_fixture(spark)
    path = str(tmp_path / "ivfpq")
    sim.build_ivfpq_index(emb, 16, path, n_cells=8, iters=2)
    plan = (
        sim.ivfpq_search(
            spark, path, [float(x) for x in q_vec], k=10, probes=2
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "PartitionFilters: [cell" in plan and " IN " in plan
    assert "Exchange" not in plan and "Join" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    # codes-only read: the serving scan must never load raw vectors
    assert "embedding" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_assign_cell_scored_matches_assign_cell_and_driver_math(spark):
    """The scored variant must pick the identical cell as assign_cell
    and report the winning cosine — checked against a driver-side
    float recompute of the same 6dp-rounded argmax."""
    import math

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)], 0) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    )
    cents = sim.train_kmeans_cells(emb, dim=2, n_cells=3, iters=2)
    rows = emb.select(
        "vec_id",
        "embedding",
        sim.assign_cell("embedding", cents).alias("cell"),
        F.explode(
            F.array(sim.assign_cell_scored("embedding", cents))
        ).alias("s"),
    ).collect()
    assert len(rows) == 30
    for r in rows:
        assert r["s"]["cell"] == r["cell"]
        v = [float(x) for x in r["embedding"]]
        nv = math.sqrt(sum(x * x for x in v))
        best = max(
            (
                round(
                    (
                        sum(a * b for a, b in zip(v, c))
                        / (nv * math.sqrt(sum(b * b for b in c)))
                        if nv > 0 and any(c)
                        else 0.0
                    ),
                    6,
                ),
                -cell,
            )
            for cell, c in cents
        )
        assert r["s"]["cell"] == -best[1]
        assert abs(r["s"]["cos"] - best[0]) < 1e-9


def test_ivf_search_plan_has_no_corpus_aggregate(spark, tmp_path):
    """No per-query centroid recomputation (a full-corpus aggregate
    on the query path): the serving plan reads the persisted centroid table — it contains NO aggregate
    node at all, and the corpus join is broadcast on the routed cells."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], 0) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, dim=2, path=path, n_cells=2, iters=1)
    q = sim.query_vector(emb, 0)
    plan = (
        sim.ivf_search(spark, path, q, k=5, exclude_id=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the corpus scan must be pruned to the routed cells' partition
    # directories — the whole point of the persisted inverted lists
    assert "dynamicpruning" in plan


def test_ivf_append_replay_is_idempotent_and_served(spark, tmp_path):
    """Incremental IVF maintenance (T5 for the index): appended
    vectors must be served by the same cell-pruned search, and a
    REPLAYED delta batch (at-least-once delivery) must leave the
    index content — and every search result — identical."""
    from sparkstreaming_realtime_spark.streaming.sinks import (
        ivf_append_sink,
    )

    base = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0),
            (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(base, dim=2, path=path, n_cells=2, iters=1)
    # two new vectors arrive later, one per cluster
    late = spark.createDataFrame(
        [(10, [0.95, 0.05], 0), (11, [0.05, 0.95], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    append = ivf_append_sink(path)
    append(late, 0)
    q = sim.query_vector(base, 1)
    first = sorted(
        (r["vec_id"], r["cos"])
        for r in sim.ivf_search(spark, path, q, k=10, exclude_id=1).collect()
    )
    # the appended x-cluster vector must be served from the x cell
    assert [v for v, _ in first] == [2, 10]
    append(late, 0)  # replay of the same epoch
    second = sorted(
        (r["vec_id"], r["cos"])
        for r in sim.ivf_search(spark, path, q, k=10, exclude_id=1).collect()
    )
    assert first == second
    # probes=2 reaches the appended y-cluster vector too
    wide = sorted(
        r["vec_id"]
        for r in sim.ivf_search(
            spark, path, q, k=10, exclude_id=1, probes=2
        ).collect()
    )
    assert wide == [2, 3, 4, 10, 11]


def test_ivf_frame_cache_reuses_relation_and_invalidates(spark, tmp_path):
    """The relation-frame cache: a second read of an unchanged index
    returns the SAME DataFrame object (no re-listing), a mutator drops
    the entry, and a stale entry — one a mutation by another session
    never dropped — is never served: the delta store's stamp moved."""
    base = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(base, dim=2, path=path, n_cells=2, iters=1)
    f1 = sim.read_ivf_corpus(spark, path)
    f2 = sim.read_ivf_corpus(spark, path)
    assert f1 is f2  # relation reused, not re-listed
    c1 = sim.read_ivf_centroids(spark, path)
    assert sim.read_ivf_centroids(spark, path) is c1
    # a DIFFERENT session must never be handed another session's frame
    _, mtime, frame = sim._IVF_CENTROID_FRAME_CACHE[path]
    sim._IVF_CENTROID_FRAME_CACHE[path] = (object(), mtime, frame)
    assert sim.read_ivf_centroids(spark, path) is not c1
    late = spark.createDataFrame(
        [(10, [0.95, 0.05], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    pre_append = sim._IVF_FRAME_CACHE[path]
    sim.ivf_append(late, path, batch_id=0)
    assert path not in sim._IVF_FRAME_CACHE  # append invalidates
    # an append this session did not see: the pre-append entry is
    # back, and the next read still serves the appended vector
    sim._IVF_FRAME_CACHE[path] = pre_append
    f3 = sim.read_ivf_corpus(spark, path)
    assert f3 is not f1
    assert {r["vec_id"] for r in f3.collect()} == {1, 2, 3, 10}
    assert sim.read_ivf_corpus(spark, path) is f3
    # so does a compaction: the folded index reads the same rows
    pre_compact = sim._IVF_FRAME_CACHE[path]
    assert sim.ivf_compact(spark, path) == 1
    sim._IVF_FRAME_CACHE[path] = pre_compact
    f4 = sim.read_ivf_corpus(spark, path)
    assert f4 is not f3
    assert {r["vec_id"] for r in f4.collect()} == {1, 2, 3, 10}
    # path aliases ('/x/' vs '/x') resolve to the same entry
    sim.read_ivf_centroids(spark, path)
    sim.invalidate_ivf_layout(path + "/")
    assert path not in sim._IVF_CENTROID_FRAME_CACHE
    assert path not in sim._IVF_FRAME_CACHE


def test_ivf_centroid_cache_sees_a_rebuilt_index(spark, tmp_path):
    """A rebuild rewrites ``centroids``; a centroid frame cached
    before it (as another session's rebuild would leave it) must not
    serve the old centroids."""
    path = str(tmp_path / "ivf")
    schema = "vec_id long, embedding array<float>, label int"
    sim.build_ivf_index(
        spark.createDataFrame(
            [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)], schema
        ),
        dim=2, path=path, n_cells=2, iters=1,
    )
    old = sim.load_centroids(spark, path)
    stale = sim._IVF_CENTROID_FRAME_CACHE[path]
    sim.build_ivf_index(
        spark.createDataFrame(
            [(1, [1.0, 1.0], 0), (2, [-1.0, 1.0], 1)], schema
        ),
        dim=2, path=path, n_cells=2, iters=1,
    )
    sim._IVF_CENTROID_FRAME_CACHE[path] = stale
    new = sim.load_centroids(spark, path)
    assert new != old
    assert new == sorted(
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )


def test_ivf_append_serving_prunes_both_layers(spark, tmp_path):
    """Plan pin for the append-serving path: after a delta append the
    search reads TWO corpus layers (base + delta), and BOTH scans
    must carry dynamic partition pruning on the routed cells — an
    unpruned delta would silently re-introduce the full-scan cost
    the inverted lists exist to avoid."""
    from sparkstreaming_realtime_spark.streaming.sinks import (
        ivf_append_sink,
    )

    base = spark.createDataFrame(
        [(i, [float(i % 3), 1.0], 0) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(base, dim=2, path=path, n_cells=2, iters=1)
    ivf_append_sink(path)(
        spark.createDataFrame(
            [(100, [1.0, 1.0], 0)],
            "vec_id long, embedding array<float>, label int",
        ),
        0,
    )
    q = sim.query_vector(base, 1)
    plan = (
        sim.ivf_search(spark, path, q, k=5, exclude_id=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one pruned scan per corpus layer (each FileScan's partition
    # filter references the dynamicpruning subquery)
    assert plan.count("dynamicpruning") >= 2


def test_ivf_compact_folds_deltas_and_preserves_search(spark, tmp_path):
    """Delta compaction: folding appended batches into one segment of
    the delta store must change layout only — every search result is
    identical before and after, and a second run is a no-op. A replay
    of a folded batch is not served twice; a batch appended after the
    fold serves and folds next time."""
    from sparkstreaming_realtime_spark.streaming import store as st
    from sparkstreaming_realtime_spark.streaming.sinks import (
        ivf_append_sink,
    )

    base = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0),
         (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(base, dim=2, path=path, n_cells=2, iters=1)
    append = ivf_append_sink(path)
    append(spark.createDataFrame(
        [(10, [0.95, 0.05], 0)], "vec_id long, embedding array<float>, label int"
    ), 0)
    append(spark.createDataFrame(
        [(11, [0.05, 0.95], 1)], "vec_id long, embedding array<float>, label int"
    ), 1)
    q = sim.query_vector(base, 1)

    def search():
        return sorted(
            (r["vec_id"], r["cos"])
            for r in sim.ivf_search(
                spark, path, q, k=10, exclude_id=1, probes=2
            ).collect()
        )

    before = search()
    assert sim.ivf_compact(spark, path) == 2
    assert st.load_manifest(f"{path}/delta")["segments"] == {"": ["seg=0"]}
    assert search() == before
    assert sim.ivf_compact(spark, path) == 0  # idempotent
    append(spark.createDataFrame(
        [(11, [0.05, 0.95], 1)], "vec_id long, embedding array<float>, label int"
    ), 1)  # the streaming checkpoint replays the folded batch
    assert search() == before
    assert sim.ivf_compact(spark, path) == 0
    append(spark.createDataFrame(
        [(12, [0.9, 0.05], 0)], "vec_id long, embedding array<float>, label int"
    ), 2)
    after = search()
    assert sorted(v for v, _ in after) == sorted(v for v, _ in before) + [12]
    assert sim.ivf_compact(spark, path) == 1
    assert search() == after


def test_predict_lang_markers(spark):
    docs = _docs(
        spark,
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze ist nicht da"),
            (3, "xyzzy plugh qwerty"),
        ],
    )
    got = {r["doc_id"]: r["p"] for r in
           docs.select("doc_id", ts.predict_lang("text").alias("p")).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_quality_score_range_and_monotonicity(spark):
    docs = _docs(spark, [(1, "word"), (2, "the and of to in is that it " * 20)])
    got = {r["doc_id"]: r["q"] for r in
           docs.select("doc_id", ts.quality_score("text").alias("q")).collect()}
    assert 0.0 <= got[1] < got[2] <= 1.0


def test_binary_meta_roundtrip(spark):
    docs = _docs(spark, [(1, "abc"), (2, "é")])  # é = 2 UTF-8 bytes
    out = {r["doc_id"]: r for r in
           mm.extract_binary_meta(mm.documents_as_binary(docs)).collect()}
    assert out[1]["n_bytes"] == 3 and out[2]["n_bytes"] == 2
    assert out[1]["fake_width"] == 3 % 640 + 1
    assert out[1]["fake_height"] == 3 % 480 + 1


def test_minhash_parity_with_duckdb_oracle(spark, duck, sf_dir):
    """End-to-end spot check at sf0.001: the Spark pipeline and the
    generated DuckDB oracle produce identical verified pairs."""
    from sparkstreaming_realtime_spark.plans import REGISTRY

    spec = REGISTRY["doc_minhash_near_dup"]
    got = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in spec.fn(spark, sf_dir).collect()
    )
    want = sorted(tuple(r) for r in duck.execute(spec.oracle).fetchall())
    assert got == want


def test_simhash_parity_with_duckdb_oracle(spark, duck, sf_dir):
    from sparkstreaming_realtime_spark.plans import REGISTRY

    spec = REGISTRY["doc_simhash"]
    got = sorted(tuple(r) for r in spec.fn(spark, sf_dir).collect())
    want = sorted(tuple(r) for r in duck.execute(spec.oracle).fetchall())
    assert got == want


def test_rh_near_dup_finds_planted_pair(spark):
    import math
    base = [1.0] + [0.0] * 63
    near = [0.99] + [0.01] * 63   # cos ≈ 0.99 with base
    far = [0.0, 1.0] + [0.0] * 62
    emb = spark.createDataFrame(
        [(0, base, 0), (1, near, 0), (2, far, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = sim.rh_near_dup_pairs(emb, dim=64, threshold=0.9).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in pairs] == [(0, 1)]
    assert pairs[0]["cos"] > 0.9


def test_auto_lsh_params_track_corpus_size():
    """The N-derived banding contract: rows_per_band holds expected
    bucket size at ~2^4 rows (so candidate work per row is constant
    in N), bands grow one per extra bit, and small corpora keep the
    pinned 4x4 defaults (oracle-stable)."""
    # small N: the classic 4 bands of 4 — unchanged behavior
    assert sim.auto_lsh_params(100) == (4, 4)
    assert sim.auto_lsh_params(256) == (4, 4)
    # each 2^k growth past 2^8 adds a bit (bucket stays ~16) + a band
    assert sim.auto_lsh_params(512) == (5, 5)
    assert sim.auto_lsh_params(1 << 13) == (9, 9)
    assert sim.auto_lsh_params(1 << 20) == (16, 16)
    # monotone, never below the base
    prev = (0, 0)
    for p in range(2, 30):
        cur = sim.auto_lsh_params(1 << p)
        assert cur >= prev and cur[1] >= sim.RH_ROWS
        prev = cur


def test_auto_lsh_banding_keeps_candidate_growth_subquadratic(spark):
    """At x10 corpus size the
    LSH candidate-pair count with AUTO banding must grow ~linearly
    (<= ~3x per row, i.e. <= 30x total), where the old fixed 4-bit
    default grew quadratically (~100x). Deterministic pseudo-random
    vectors, so the counts are exact and stable."""
    import hashlib

    from sparkstreaming_realtime_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    # dim must comfortably exceed rows_per_band at the big size: more
    # hyperplanes than dimensions makes sign bits linearly dependent,
    # which shrinks the reachable key space and re-inflates buckets
    DIM = 32

    def mk(n):
        rows = []
        for i in range(n):
            v = [
                (int(hashlib.md5(f"v:{i}:{j}".encode()).hexdigest()[:8], 16)
                 % 2001 - 1000) / 1000.0
                for j in range(DIM)
            ]
            rows.append((i, v))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def n_cands(df, n):
        bands, rows = sim.auto_lsh_params(n)
        planes = sim.random_hyperplanes(bands * rows, DIM)
        buckets = sim.rh_band_buckets(df, planes, bands=bands,
                                      rows_per_band=rows)
        return lsh_candidate_pairs(
            buckets.withColumnRenamed("vec_id", "doc_id")
        ).count()

    small, big = 400, 4000
    c_small = n_cands(mk(small), small)
    c_big = n_cands(mk(big), big)
    assert c_small > 0
    # x10 rows -> at most ~3x candidates per row with auto banding
    assert c_big <= 30 * max(c_small, 1), (c_small, c_big)


def test_semantic_dedup_auto_matches_dynamic_oracle(spark, duck, sf_dir):
    """The auto-banded semantic dedup has no static registry oracle
    (band literals depend on the corpus count), so verify it here
    against a DuckDB oracle REBUILT at the width the fixture's count
    derives — full value-level parity, same recursive-closure
    protocol as the pinned twin's gate."""
    from sparkstreaming_realtime_spark.plans import REGISTRY
    from sparkstreaming_realtime_spark.plans.llm_queries import (
        _semantic_dedup_oracle,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    bands, rows = sim.auto_lsh_params(n)
    assert (bands, rows) != (sim.RH_BANDS, sim.RH_ROWS)  # non-vacuous
    got = sorted(
        (r["vec_id"], r["cluster_id"], r["is_keep"])
        for r in REGISTRY["emb_semantic_dedup_auto"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        (int(a), int(b), int(c))
        for a, b, c in duck.execute(
            _semantic_dedup_oracle(bands, rows)
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_tfidf_rare_term_outranks_common(spark):
    docs = _docs(
        spark,
        [(1, "common common rareword"), (2, "common common common"),
         (3, "common other")],
    )
    rows = {r["term"]: r["tfidf"] for r in ts.tfidf_top_terms(docs, k=10).collect()}
    # 'rareword' appears in 1/3 docs; 'common' in all → idf 0, drops
    assert rows["rareword"] > rows.get("common", 0.0)


def test_frame_sample_geometry_and_heads(spark):
    docs = _docs(spark, [(1, "abcdefgh"), (2, "xy"), (3, "")])
    frames = mm.frame_sample(mm.documents_as_binary(docs), n_frames=4)
    rows = sorted(
        (r["doc_id"], r["frame_idx"], r["frame_bytes"], bytes(r["frame_head"]))
        for r in frames.collect()
    )
    # doc 1: 8 bytes / 4 frames of 2; doc 2: 2 bytes → 2 frames of 1;
    # doc 3: empty → no frames
    assert rows == [
        (1, 0, 2, b"ab"), (1, 1, 2, b"cd"), (1, 2, 2, b"ef"), (1, 3, 2, b"gh"),
        (2, 0, 1, b"x"), (2, 1, 1, b"y"),
    ]


def test_bpe_ish_counts_punctuation_separately(spark):
    docs = _docs(spark, [(1, "don't stop-me now!!")])
    got = docs.select(ts.bpe_ish_token_count("text").alias("n")).collect()[0]["n"]
    # don / ' / t / stop / - / me / now / ! / ! = 9
    assert got == 9


def test_dup_clusters_transitive_chain(spark):
    # a~b and b~c are near-dups; a~c overlap is weaker — transitivity
    # must still put all three in ONE cluster, keeping min id only.
    base = "spark query engine reads parquet files fast and well "
    a = base * 6
    b = base * 5 + "with vectorized readers enabled today "
    c = base * 5 + "with vectorized readers enabled soon "
    docs = _docs(spark, [(10, a), (11, b), (12, c), (99, "unrelated text")])
    rows = {
        r["doc_id"]: (r["cluster_id"], r["is_keep"])
        for r in dd.dup_clusters(docs, threshold=0.5).collect()
    }
    assert set(rows) == {10, 11, 12}  # 99 is a singleton: not emitted
    assert {cid for cid, _ in rows.values()} == {10}
    assert rows[10][1] == 1 and rows[11][1] == 0 and rows[12][1] == 0


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    from sparkstreaming_realtime_spark.operators.sampling import stratified_sample

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en").otherwise("zh").alias("lang"),
    )
    rates = {"en": 0.25, "zh": 0.75}
    s1 = stratified_sample(df, "lang", rates, "doc_id")
    got = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # 1000 en rows at 25%, 3000 zh rows at 75% — allow ±20% relative
    assert abs(got["en"] - 250) < 50 and abs(got["zh"] - 2250) < 450
    # rerun selects the exact same rows (no rand())
    s2 = stratified_sample(df, "lang", rates, "doc_id")
    assert sorted(r["doc_id"] for r in s1.collect()) == sorted(
        r["doc_id"] for r in s2.collect()
    )
    # unknown stratum defaults to dropped
    df2 = df.withColumn("lang", F.lit("xx"))
    assert stratified_sample(df2, "lang", rates, "doc_id").count() == 0


def test_near_dup_join_only_crosses_batch_and_corpus(spark):
    a = "spark query engine reads parquet files fast " * 5
    new = _docs(spark, [(100, a)])
    # corpus contains TWO near-identical docs; their mutual pair must
    # NOT appear — only new×corpus matches do
    corpus = _docs(spark, [(1, a + "extra tail words "), (2, a + "extra tail words again ")])
    got = dd.near_dup_join(new, corpus, threshold=0.5).collect()
    assert sorted((r["new_id"], r["corpus_id"]) for r in got) == [(100, 1), (100, 2)]


# --- corpus curation: repetition / decontamination / resample / packing ---


def test_repetition_ratio_counts_duplicate_bigrams(spark):
    docs = _docs(
        spark,
        [
            (1, "a b a b a b"),   # bigrams: ab ba ab ba ab → 5 total, 2 distinct
            (2, "w x y z"),       # 3 distinct bigrams, no repeats
            (3, "single"),        # <2 tokens → ratio 0
        ],
    )
    out = {
        r["doc_id"]: r["r"]
        for r in docs.select(
            "doc_id", ts.repetition_ratio("text").alias("r")
        ).collect()
    }
    assert out[1] == 0.6  # 1 - 2/5
    assert out[2] == 0.0
    assert out[3] == 0.0


def test_decontaminate_flags_only_overlapping_docs(spark):
    ev = _docs(spark, [(100, "one two three four five six")])
    corpus = _docs(
        spark,
        [
            # shares the 5-gram "two three four five six"
            (1, "zero two three four five six"),
            (2, "totally different text with many words"),
        ],
    )
    rows = dd.decontaminate(corpus, ev, n=5).collect()
    assert [(r["doc_id"], r["n_shared"]) for r in rows] == [(1, 1)]


def test_decontaminate_short_doc_uses_whole_text_shingle(spark):
    # both sides fall back to the whole-text shingle below n tokens
    ev = _docs(spark, [(100, "tiny doc")])
    corpus = _docs(spark, [(1, "tiny doc"), (2, "other doc")])
    rows = dd.decontaminate(corpus, ev, n=5).collect()
    assert [(r["doc_id"], r["n_shared"]) for r in rows] == [(1, 1)]


def test_temperature_resample_rates_and_bounds(spark):
    rows = [(i, "x", "big") for i in range(80)] + [
        (100 + i, "x", "small") for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in ts.temperature_resample(docs).collect()}
    assert out["small"]["rate"] == 1.0
    assert abs(out["big"]["rate"] - 0.5) < 1e-9  # sqrt(20/80)
    assert out["small"]["n_kept"] == 20  # rate 1 keeps everything
    assert 0 < out["big"]["n_kept"] < 80  # hash-thinned


def test_sequence_packing_bins_by_running_budget(spark):
    # 3-token docs, budget 6 → two docs per bin, in doc_id order
    rows = [(i, "tok tok tok", "s0") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["source"], r["bin"]): (r["n_docs"], r["sum_tokens"])
        for r in ts.sequence_packing(docs, budget=6).collect()
    }
    assert out == {("s0", 0): (2, 6), ("s0", 1): (2, 6), ("s0", 2): (2, 6)}


def _emb64(spark, rows):
    """rows = [(vec_id, [64 floats], label)]"""
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_binary_quantize_packs_sign_bits_msb_first(spark):
    """Packing layout is part of the oracle contract: dim 1 → bit 31
    of bits_hi, dim 33 → bit 31 of bits_lo, dim 64 → bit 0 of
    bits_lo; zeros and negatives pack as 0."""
    def vec(on_dims):
        return [1.0 if (i + 1) in on_dims else -1.0 for i in range(64)]

    emb = _emb64(
        spark,
        [
            (1, vec({1}), 0),
            (2, vec({33}), 0),
            (3, vec({64}), 0),
            (4, [0.0] * 64, 0),  # zeros are NOT positive → all-0 words
            (5, vec(set(range(1, 65))), 0),
        ],
    )
    out = {r["vec_id"]: (r["bits_hi"], r["bits_lo"])
           for r in sim.binary_quantize(emb).collect()}
    assert out[1] == (1 << 31, 0)
    assert out[2] == (0, 1 << 31)
    assert out[3] == (0, 1)
    assert out[4] == (0, 0)
    assert out[5] == ((1 << 32) - 1, (1 << 32) - 1)


def test_hamming_topk_ranks_by_sign_agreement_then_exact_cosine(spark):
    """Candidates come from Hamming on the packed bits; the short
    list reorders by exact cosine — a vector with the same signs but
    different magnitudes must still beat a sign-flipped one, and the
    plan must be a TakeOrdered scan with zero Python."""
    base = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]
    same_signs = [x * (0.5 + 0.01 * i) for i, x in enumerate(base)]
    three_flips = list(base)
    for i in (0, 2, 4):
        three_flips[i] = -three_flips[i]
    opposite = [-x for x in base]
    emb = _emb64(
        spark,
        [(0, base, 0), (1, same_signs, 0), (2, three_flips, 1),
         (3, opposite, 1)],
    )
    q = sim.query_vector(emb, 0)
    got = sim.hamming_topk(emb, q, k=3, rerank=2, exclude_id=0)
    plan = got._jdf.queryExecution().executedPlan().toString()
    rows = got.collect()
    assert [r["vec_id"] for r in rows] == [1, 2, 3]
    assert rows[0]["hamming"] == 0 and rows[0]["cos"] > 0.9
    assert rows[1]["hamming"] == 3
    assert rows[2]["hamming"] == 64
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_hamming_topk_recall_vs_exact_on_real_embeddings(spark):
    """On the sf0.001 fixture the two-stage binary search must agree
    with brute-force cosine on the head of the top-10. The fixture's
    embeddings are near-isotropic — the WORST case for 1-bit
    quantization (measured: 6/10 overlap at the default 4x
    over-fetch; clustered corpora rank far higher, see the sign-
    agreement test above) — so the pin is the honest measured floor,
    and the top hit must be the true top-1."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = sim.query_vector(emb, 0)
    exact = [r["vec_id"] for r in
             sim.cosine_topk(emb, q, k=10, exclude_id=0).collect()]
    binary = [r["vec_id"] for r in
              sim.hamming_topk(emb, q, k=10, exclude_id=0).collect()]
    assert binary[0] == exact[0]
    assert len(set(exact) & set(binary)) >= 6


def test_quantize_int8_roundtrip_and_zero_vector_guard(spark):
    rows = [(1, [1.0, -0.5, 0.25], 0), (2, [0.0, 0.0, 0.0], 1)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["vec_id"]: r for r in sim.quantize_int8(emb).collect()}
    assert out[1]["q"] == [127, -64, 32]  # scale = 1/127
    assert out[1]["roundtrip_cos"] > 0.999
    assert out[2]["q"] == [0, 0, 0]  # zero vector: scale guard, no NaN
    assert out[2]["scale"] == 1.0


def test_pii_scrub_redacts_all_patterns(spark):
    """Redaction order and replacement tokens are part of the operator
    contract (the registry query hashes the scrubbed text)."""
    from sparkstreaming_realtime_spark.operators.pii import pii_counts, scrub

    df = spark.createDataFrame(
        [("reach bob@x.co or 555-123-4567 from 10.0.0.1",),
         ("no pii here",)],
        "text string",
    )
    rows = {r["text"]: r for r in df.select(
        "text", scrub("text").alias("s"), *pii_counts("text")).collect()}
    hit = rows["reach bob@x.co or 555-123-4567 from 10.0.0.1"]
    assert hit["s"] == "reach [EMAIL] or [PHONE] from [IP]"
    assert (hit["n_email"], hit["n_phone"], hit["n_ipv4"]) == (1, 1, 1)
    clean = rows["no pii here"]
    assert clean["s"] == "no pii here"
    assert (clean["n_email"], clean["n_phone"], clean["n_ipv4"]) == (0, 0, 0)


def test_gopher_flags_rules(spark):
    """Each Gopher rule trips on the document built to violate it and
    only that one (plus knock-ons its construction forces)."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.operators.textstats import (
        gopher_flags_t,
    )
    from sparkstreaming_realtime_spark.functions.text import tokenize

    good = "the cat and the dog " + " ".join(f"word{i}" for i in range(60))
    short = "the cat and the dog sat"  # < 50 words
    longtoks = "the and " + " ".join(
        f"pneumonoultramicroscopic{i}" for i in range(60)
    )  # mean len > 10
    numeric = "the and " + " ".join(str(i) * 3 for i in range(60))  # digits
    nostop = " ".join(f"word{i}" for i in range(60))  # no stopwords
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, longtoks), (4, numeric), (5, nostop)],
        "doc_id long, text string",
    )
    flags = gopher_flags_t(F.col("__t"))
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            F.explode(F.array(tokenize("text"))).alias("__t"),
        )
        .select("doc_id", *[c.alias(k) for k, c in flags.items()])
        .collect()
    }
    assert all(rows[1][k] for k in
               ("words_ok", "mean_len_ok", "alpha_ok", "stop_ok"))
    assert not rows[2]["words_ok"] and rows[2]["stop_ok"]
    assert not rows[3]["mean_len_ok"] and rows[3]["words_ok"]
    assert not rows[4]["alpha_ok"] and rows[4]["words_ok"]
    assert not rows[5]["stop_ok"] and rows[5]["alpha_ok"]


def test_training_shards_layout(spark, tmp_path):
    """write_training_shards: one directory per shard, every row in
    its h mod n shard, rows h-ascending within each shard's file (the
    trainer-order contract), and the whole layout reproducible."""
    import os

    import pyarrow.parquet as pq

    from sparkstreaming_realtime_spark.operators.sampling import (
        shuffle_sharded,
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, n_shards=4, key_col="doc_id")
    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    expected = {
        r["doc_id"]: (r["shard"], r["h"])
        for r in shuffle_sharded(docs, 4, "doc_id").collect()
    }
    seen = 0
    for d in dirs:
        shard = int(d.split("=")[1])
        files = [f for f in os.listdir(f"{path}/{d}") if f.endswith(".parquet")]
        assert len(files) == 1  # one task per shard → one file
        t = pq.read_table(f"{path}/{d}/{files[0]}")
        hs = t.column("h").to_pylist()
        assert hs == sorted(hs)  # trainer reads in h order
        for doc_id in t.column("doc_id").to_pylist():
            assert expected[doc_id][0] == shard
        seen += len(hs)
    assert seen == 200


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing guarantee (Schleimer et al. 2003): any shared
    token run of length >= w + k - 1 between two documents must yield
    at least one shared fingerprint. Two otherwise-different docs
    embed the same (w+k-1)-token run; their fingerprint sets must
    intersect. A doc with no overlap must not collide."""
    from sparkstreaming_realtime_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    run = " ".join(f"shared{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + run + " delta epsilon"),
            (2, "zeta eta theta iota " + run + " kappa"),
            (3, "totally disjoint words appear here only once ever"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs)
    sets = {
        r["doc_id"]: set()
        for r in docs.select("doc_id").collect()
    }
    for r in fps.collect():
        sets[r["doc_id"]].add(r["fingerprint"])
    assert sets[1] & sets[2], "shared run must produce a shared fingerprint"
    assert not (sets[1] & sets[3])
    assert not (sets[2] & sets[3])


def test_overlap_spans_pairs_docs_with_shared_runs(spark):
    """overlap_spans pairs exactly the docs whose winnowing
    fingerprint sets intersect in >= min_shared places: a long planted
    overlap clears the bar, a short one doesn't, disjoint docs never
    pair, and max_bucket drops a degenerate boilerplate fingerprint."""
    from sparkstreaming_realtime_spark.operators.dedup import overlap_spans

    long_run = " ".join(f"common{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + long_run + " delta"),
            (2, "zeta eta theta " + long_run + " kappa"),
            (3, "totally disjoint words appear here only once ever"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in overlap_spans(docs, min_shared=3).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] >= 3
    # raising the bar above the overlap's fingerprint yield empties it
    high = overlap_spans(docs, min_shared=1000).collect()
    assert high == []
    # max_bucket=1 drops every shared fingerprint (each lives in 2
    # docs) — the boilerplate-cap escape hatch
    capped = overlap_spans(docs, min_shared=1, max_bucket=1).collect()
    assert capped == []


def test_stride_chunks_catch_straddling_duplicate(spark):
    """A duplicated 15-token run shifted by 8 tokens of junk prefix
    straddles the aligned chunk boundary: stride-15 chunking misses
    it, stride-8 overlapping windows catch it (the offsets agree
    mod 8) — the recall the w/2 stride buys."""
    from sparkstreaming_realtime_spark.operators.dedup import chunk_dedup

    run = " ".join(f"dup{i}" for i in range(15))
    junk = " ".join(f"junk{i}" for i in range(8))
    tail_a = " ".join(f"taila{i}" for i in range(10))
    tail_b = " ".join(f"tailb{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, run + " " + tail_a), (2, junk + " " + run + " " + tail_b)],
        "doc_id long, text string",
    )
    aligned = chunk_dedup(docs, w=15, stride=15).collect()
    assert aligned == []  # boundary-straddling: invisible when aligned
    strided = [
        r for r in chunk_dedup(docs, w=15, stride=8).collect()
        if r["n_docs"] == 2
    ]
    assert len(strided) == 1  # the shifted run fingerprint-matches
    assert strided[0]["keep_doc"] == 1


def test_semantic_dedup_clusters_planted_paraphrases(spark):
    # three near-identical vectors (one semantic cluster) + one far
    # vector with no >=threshold neighbor (no row at all)
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(8)
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in base + 0.01 * rng.randn(8)]),
        (3, [float(x) for x in base + 0.01 * rng.randn(8)]),
        (4, [float(x) for x in -base]),  # antipodal: cosine ≈ -1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: (r["cluster_id"], r["is_keep"])
           for r in sim.semantic_dedup(emb, dim=8, threshold=0.9).collect()}
    assert out.get(1) == (1, 1)
    assert out.get(2) == (1, 0)
    assert out.get(3) == (1, 0)
    assert 4 not in out  # isolated vector: trivially kept, no row


def test_knn_join_matches_bruteforce(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.randn(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sim.knn_join(emb, dim=8, k=3, query_mod=10)
    res = {(r["query_id"], r["rank"]): r["vec_id"] for r in got.collect()}
    # brute-force reference in numpy (float64, same widening as JVM)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    ids = np.array([r[0] for r in rows])
    qs = ids[ids % 10 == 0]
    for q in qs:
        qv = mat[q]
        cs = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
        order = sorted(
            [(round(float(cs[i]), 6), int(ids[i])) for i in range(60)
             if ids[i] % 10 != 0],
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (_, vid) in enumerate(order[:3], start=1):
            assert res[(q, rank)] == vid


def test_adaptive_quality_filter_per_source_median(spark):
    # source a: clearly bimodal quality; source b: uniform junk — each
    # keeps >= half by ITS OWN median, not a global cutoff
    long_good = ("the quick brown fox jumps over the lazy dog and keeps "
                 "going with many more words " * 5)
    rows = (
        [(i, long_good, "a") for i in range(4)]
        + [(i + 4, "tiny", "a") for i in range(4)]
        + [(i + 8, "junk words here", "b") for i in range(4)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in ts.adaptive_quality_filter(docs).collect()}
    assert out["a"]["n_docs"] == 8 and out["b"]["n_docs"] == 4
    # every source keeps at least the >= median half
    assert out["a"]["n_kept"] >= 4
    assert out["b"]["n_kept"] == 4  # identical scores: all >= median
    # thresholds differ per source (per-domain calibration, the point)
    assert out["a"]["threshold"] != out["b"]["threshold"]


def test_importance_weights_prefers_target_like_docs(spark):
    from sparkstreaming_realtime_spark.operators.importance import (
        importance_weights,
    )

    # target docs share a distinctive vocabulary; one raw doc mimics
    # it (should score high), one is alien (should score low)
    target_text = "alpha bravo charlie delta echo foxtrot " * 3
    rows = (
        [(i, target_text, "en") for i in range(4)]
        + [(10, "alpha bravo charlie delta", "xx")]     # target-like
        + [(11, "zulu yankee xray whiskey victor", "xx")]  # alien
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in
           importance_weights(docs, F.col("lang") == "en").collect()}
    assert out[10]["score_micro"] > out[11]["score_micro"]
    assert out[11]["keep"] == 0


def test_connected_components_strategies_agree(spark):
    """The driver-side union-find cutover and the distributed
    pointer-jumped label propagation are two physical strategies for
    ONE contract — on the same pair graph they must emit identical
    (id, cluster, is_keep) rows. Chain + triangle + isolated pair
    exercises transitivity, cycles, and multi-component output."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain: min 1
         (10, 11), (11, 12), (10, 12),        # triangle: min 10
         (20, 21)],                           # pair: min 20
        "doc_a long, doc_b long",
    )
    local = sorted(map(tuple, dd.connected_components(
        pairs, local_threshold=10**9).collect()))
    dist = sorted(map(tuple, dd.connected_components(
        pairs, local_threshold=0).collect()))
    assert local == dist
    clusters = {r[0]: r[1] for r in local}
    assert all(clusters[n] == 1 for n in (1, 2, 3, 4, 5))
    assert all(clusters[n] == 10 for n in (10, 11, 12))
    assert all(clusters[n] == 20 for n in (20, 21))


def test_connected_components_self_loops_dropped_consistently(spark):
    """Self-loop pairs (a == b) carry no component information, and
    the three physical strategies once DISAGREED on them: the
    driver union-find emitted a self-loop-only node, while star
    contraction filters node != nbr and dropped it. They are now
    stripped once at entry, so every strategy returns the same node
    set — nodes with at least one real edge. The chain is long
    enough (and max_iters=2 small enough) that the third variant
    genuinely reaches the star-contraction fallback."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)]       # chain 0..8: min 0
        + [(3, 3), (99, 99)],                # self-loops: one on the
        "doc_a long, doc_b long",            # chain, one isolated
    )
    local = sorted(map(tuple, dd.connected_components(
        pairs, local_threshold=10**9).collect()))
    dist = sorted(map(tuple, dd.connected_components(
        pairs, local_threshold=0).collect()))
    star = sorted(map(tuple, dd.connected_components(
        pairs, max_iters=2, local_threshold=0).collect()))
    assert local == dist == star
    nodes = {r[0] for r in local}
    assert nodes == set(range(9))  # 99 dropped everywhere, 3 kept
    assert all(r[1] == 0 for r in local)


def test_connected_components_long_chain_star_contraction(spark):
    """The diameter pathology (a PERF.md known limit, now closed): a
    10k-node PATH graph has diameter 9999, so min-label propagation
    with pointer jumping needs ~log2(10k) ≈ 14 rounds — and with
    max_iters=10 the old loop burned its whole budget and returned
    silently WRONG partial labels. The large-star/small-star
    fallback (Kiveris et al.) that now takes over at max_iters/2
    contracts by component structure instead of walking the
    diameter, so the same budget must yield the exact single
    component with min-id 0 keeping."""
    n = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = dd.connected_components(
        pairs, max_iters=10, local_threshold=0
    ).collect()
    assert len(out) == n
    assert all(r["cluster_id"] == 0 for r in out)
    keeps = [r["doc_id"] for r in out if r["is_keep"] == 1]
    assert keeps == [0]


def test_knn_join_candidate_stage_has_no_shuffle(spark):
    """The kNN join's scale contract: candidate generation (scan →
    mapInPandas partial top-k) must plan WITHOUT any Exchange — the
    corpus×queries cross product never shuffles; only the tiny
    candidate set does (broadcast + window)."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.knn_join(emb, dim=8, k=3, query_mod=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("\n")
    starts = [i for i, ln in enumerate(lines) if "InPandas" in ln]
    assert starts, plan

    def indent(ln: str) -> int:
        body = ln.lstrip(" :+-*")
        return len(ln) - len(body)

    # the subtree FEEDING the Python stage (deeper-indented lines
    # below it) must contain no Exchange: the corpus scans straight
    # into the Arrow partial top-k. Exchanges elsewhere in the plan
    # (candidate broadcast, final tiny rank window) are the design.
    i = starts[0]
    base = indent(lines[i])
    j = i + 1
    subtree = []
    while j < len(lines) and indent(lines[j]) > base:
        subtree.append(lines[j])
        j += 1
    assert subtree, plan
    assert not any("Exchange" in ln for ln in subtree), "\n".join(subtree)


def test_count_min_never_undercounts(spark):
    """The count-min invariant: for EVERY queried term, est >= true
    (collisions only add). Tiny vocabulary + tiny width forces heavy
    collisions, so the test exercises the interesting regime."""
    from sparkstreaming_realtime_spark.operators.sketches import (
        heavy_hitters_check,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma alpha " * (i + 1)) for i in range(6)],
        "doc_id long, text string",
    )
    rows = heavy_hitters_check(docs, k=5, width=8).collect()
    assert rows
    for r in rows:
        assert r["est_count"] >= r["true_count"]


def test_kmv_sketch_exact_below_k_and_accurate_above(spark):
    """KMV contract: below k distinct items the sketch IS the
    distinct set and the estimate is EXACT; above k the estimate
    lands within a few std errors (1/sqrt(k-2)) of truth. Duplicates
    must not perturb either regime (same item → same hash)."""
    from sparkstreaming_realtime_spark.operators import sketches as sk

    # 40 distinct < k=64, each duplicated 3x
    small = spark.createDataFrame(
        [(f"item{i % 40}",) for i in range(120)], "item string"
    )
    est = sk.kmv_estimate(sk.kmv_sketch(small, k=64), k=64).collect()
    assert est[0]["est_distinct"] == 40

    # 5000 distinct >> k=256: expect within ~4 std errors (~25%)
    big = spark.createDataFrame(
        [(f"val{i}",) for i in range(5000)], "item string"
    )
    got = sk.kmv_estimate(sk.kmv_sketch(big)).collect()[0]["est_distinct"]
    assert abs(got - 5000) / 5000 < 0.25, got


def test_kmv_sketch_is_partitioning_independent_and_merges(spark):
    """The sketch VALUES (not just the estimate) are a deterministic
    function of the item set: any partitioning, any duplication, any
    split into sub-sketches merged by union -> k smallest produces
    the identical k hash values."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.operators import sketches as sk

    items = spark.createDataFrame(
        [(f"x{i % 700}",) for i in range(2100)], "item string"
    )
    k = 128
    ref = [r.h for r in sk.kmv_sketch(items, k=k).collect()]
    alt = [
        r.h
        for r in sk.kmv_sketch(items.repartition(17), k=k).collect()
    ]
    assert sorted(ref) == sorted(alt) and len(ref) == k

    # merge property: split by hash parity, sketch each, union, re-take
    a = items.filter(F.crc32(F.col("item")) % 2 == 0)
    b = items.filter(F.crc32(F.col("item")) % 2 == 1)
    merged = (
        sk.kmv_sketch(a, k=k)
        .unionByName(sk.kmv_sketch(b, k=k))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    assert sorted(r.h for r in merged.collect()) == sorted(ref)


def test_kmv_prunes_map_side_before_any_exchange(spark):
    """The 100 TB claim: every shuffle input is pre-pruned to <= k
    (distinct) values per partition. Spark plans the dense_rank<=k
    filter as a PARTIAL WindowGroupLimit below the window's Exchange
    (rank-limit pushdown), so the exchange never carries O(corpus)
    rows — the node order scan -> WindowGroupLimit Partial ->
    Exchange is the invariant; a plan where the first Exchange sees
    un-pruned rows is the regression this pins against. The top-k is
    TakeOrderedAndProject (no global Sort)."""
    from sparkstreaming_realtime_spark.operators import sketches as sk

    items = spark.range(10000).selectExpr("cast(id as string) AS item")
    plan = (
        sk.kmv_sketch(items)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    # reading bottom-up: the DEEPEST Exchange must have a Partial
    # WindowGroupLimit beneath it (plans print top-down, so 'below'
    # in execution order = later in the string)
    last_exchange = plan.rfind("Exchange hashpartitioning")
    assert last_exchange != -1, plan
    assert "WindowGroupLimit" in plan[last_exchange:], plan
    assert "Partial" in plan[last_exchange:], plan


def test_ivf_knn_join_plan_prunes_and_broadcasts(spark, tmp_path):
    """Batched ANN serving contract: the corpus side joins the tiny
    (query, cell) routing table by BROADCAST on the partition column
    (scan prunes to routed cells), and the query path contains no
    full-corpus aggregate — same invariants as single-query
    ivf_search, now per batch."""
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0], 0) for i in range(60)],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, dim=3, path=path, n_cells=2, iters=1)
    out = sim.ivf_knn_join(spark, path, k=3, probes=1, query_mod=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "BroadcastHashJoin" in plan
    # results are well-formed: <=k rows per query, ranks 1..k
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert by_q
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_ivf_serve_is_batch_partition_independent(spark, tmp_path):
    """The streaming-serve contract: serving the query set in ANY
    micro-batch split returns the identical row set as the one-shot
    batched join, because each query's result depends only on its own
    vector and the static index. Split the ivf_knn_join query set
    into 3 arbitrary slices, serve each independently, union, and
    compare row-for-row."""
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0], 0) for i in range(60)],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, dim=3, path=path, n_cells=2, iters=1)
    one_shot = {
        (r["query_id"], r["vec_id"], r["cos"], r["rank"])
        for r in sim.ivf_knn_join(
            spark, path, k=3, probes=1, query_mod=10
        ).collect()
    }
    corpus = sim.read_ivf_corpus(spark, path)
    served = set()
    from pyspark.sql import functions as FF

    for slice_no in range(3):
        qs = corpus.filter(
            (FF.col("vec_id") % 10 == 0)
            & (FF.col("vec_id") % 3 == slice_no)
        ).select(
            FF.col("vec_id").alias("query_id"),
            FF.col("embedding").alias("__qv"),
        )
        served |= {
            (r["query_id"], r["vec_id"], r["cos"], r["rank"])
            for r in sim.ivf_serve(
                spark, path, qs, k=3, probes=1,
                exclude=FF.col("vec_id") % 10 != 0,
            ).collect()
        }
    assert served == one_shot and one_shot


def test_remove_dup_chunks_cuts_all_but_first_and_reassembles(spark):
    """C4 span removal: the duplicated chunk survives only at its
    first (doc_id, idx) occurrence; unique text reassembles exactly;
    the sub-w tail is preserved."""
    dup = "one two three four five"  # w=5 chunk duplicated across docs
    docs = _docs(
        spark,
        [
            (1, dup + " tail bit"),          # first occurrence + tail
            (2, dup),                        # exact re-occurrence: all cut
            (3, "fresh words only here now"),
        ],
    )
    out = {r["doc_id"]: r for r in
           dd.remove_dup_chunks(docs, w=5).collect()}
    assert out[1]["text_clean"] == "one two three four five tail bit"
    assert out[1]["n_removed"] == 0 and out[1]["n_chunks"] == 2
    assert out[2]["text_clean"] == "" and out[2]["n_removed"] == 1
    assert out[3]["text_clean"] == "fresh words only here now"
    assert out[3]["n_removed"] == 0


def test_resize_images_size_contract_and_determinism(spark):
    """Resize plumbing: every output payload is exactly the target
    byte size regardless of input length (the loader contract) —
    long payloads downsample, short ones stretch (nearest-neighbor)
    — empty payloads yield no row, and the stand-in is
    deterministic."""
    from sparkstreaming_realtime_spark.operators.multimodal import (
        resize_images,
    )

    df = spark.createDataFrame(
        [(1, bytes(range(200))), (2, b"ab"), (3, b"")],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in
            resize_images(df, target_w=4, target_h=4).collect()}
    assert set(rows) == {1, 2}  # empty payload dropped
    assert all(len(r["resized"]) == 16 for r in rows.values())
    assert rows[1]["orig_bytes"] == 200
    # even-stride sampling of a 200-byte ramp: bytes 0,12,25,...
    assert rows[1]["resized"][0] == 0 and rows[1]["resized"][8] == 100
    # short payloads stretch nearest-neighbor: first half 'a', then 'b'
    assert rows[2]["resized"] == b"a" * 8 + b"b" * 8
    again = {r["doc_id"]: r["resized"] for r in
             resize_images(df, target_w=4, target_h=4).collect()}
    assert again == {k: r["resized"] for k, r in rows.items()}


def test_audio_windows_computes_real_pcm_features(spark):
    """PCM16 windowing is REAL decode (np.frombuffer), so the
    features are checked against exact hand-computed values: a
    square wave alternating +1000/-1000 every sample has RMS 1000
    and a zero crossing at every adjacent pair; a silent payload has
    RMS 0 and none; a trailing odd byte is dropped."""
    import struct

    from sparkstreaming_realtime_spark.operators.multimodal import (
        audio_windows,
    )

    square = struct.pack("<8h", *([1000, -1000] * 4))  # 8 samples
    silent = struct.pack("<4h", 0, 0, 0, 0)
    df = spark.createDataFrame(
        [(1, square), (2, silent), (3, b"\x01")],  # 3: one odd byte
        "doc_id long, payload binary",
    )
    # window of 4 samples: sample_rate 16 with 250ms windows
    out = {
        (r["doc_id"], r["win_idx"]): (
            r["n_samples"], r["rms"], r["zero_crossings"]
        )
        for r in audio_windows(df, sample_rate=16, window_ms=250).collect()
    }
    assert out[(1, 0)] == (4, 1000.0, 3)
    assert out[(1, 1)] == (4, 1000.0, 3)
    assert out[(2, 0)] == (4, 0.0, 0)
    assert not any(k[0] == 3 for k in out)  # odd byte → no samples


def test_expectations_detect_violations_in_one_scan(spark):
    """The quality gate must FAIL the right checks (a suite that only
    ever passes tests nothing): planted nulls, a duplicate key, an
    off-vocabulary value, an out-of-range measure — each flags its
    own row while healthy checks still pass, and the whole suite is
    one aggregate scan."""
    from sparkstreaming_realtime_spark.operators.expectations import (
        check_expectations,
        check_foreign_key,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 5.0), (2, "a", 7.0), (2, "b", -1.0),
            (None, "zz", 8.0),
        ],
        "id long, cat string, v double",
    )
    got = {
        r["check"]: (r["metric"], r["passed"])
        for r in check_expectations(
            df,
            [
                ("not_null", "id", 0.0),
                ("unique", "id"),
                ("accepted_values", "cat", ("a", "b"), 0.9),
                ("between", "v", 0, 100),
                ("row_count", 1, 10),
            ],
        ).collect()
    }
    assert got["not_null:id"] == (0.25, 0)      # 1 of 4 null
    assert got["unique:id"] == (1.0, 0)         # one duplicated id
    assert got["accepted_values:cat"] == (0.75, 0)
    assert got["between:v"] == (1.0, 0)         # the -1.0
    assert got["row_count"] == (4.0, 1)
    # the suite is ONE scan: a single source read feeding a single
    # aggregate, unpivoted — never one scan per check
    plan = check_expectations(df, [("not_null", "id", 0.0),
                                   ("unique", "id"),
                                   ("between", "v", 0, 100)])
    phys = plan._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Scan ExistingRDD") == 1

    dim = spark.createDataFrame([(1,), (2,)], "k long")
    fk = check_foreign_key(df, "id", dim, "k").collect()[0]
    assert fk["passed"] == 1  # nulls don't count as orphans
    dim2 = spark.createDataFrame([(1,)], "k long")
    fk2 = check_foreign_key(df, "id", dim2, "k").collect()[0]
    assert (fk2["metric"], fk2["passed"]) == (2.0, 0)


def test_table_profile_counts_nulls_and_distincts(spark):
    from sparkstreaming_realtime_spark.operators.profiling import (
        table_profile,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "id long, v string"
    )
    prof = {r["column"]: r for r in table_profile(df).collect()}
    assert prof["id"]["n_rows"] == 4
    assert prof["id"]["n_nulls"] == 0 and prof["id"]["n_distinct"] == 4
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["n_distinct"] == 2
    # approx mode keeps the same schema/contract
    approx = {r["column"]: r for r in
              table_profile(df, exact=False).collect()}
    assert set(approx) == {"id", "v"}


def test_table_profile_empty_frame_yields_zeros_not_nulls(spark):
    """Schema-contract edge: sum() over zero rows is NULL, but an
    empty table's profile must read n_rows=0, n_nulls=0, n_distinct=0
    for every column (the UNION-ALL oracle shape produces 0)."""
    from sparkstreaming_realtime_spark.operators.profiling import (
        table_profile,
    )

    df = spark.createDataFrame([], "id long, v string")
    prof = {r["column"]: r for r in table_profile(df).collect()}
    assert set(prof) == {"id", "v"}
    for c in ("id", "v"):
        assert prof[c]["n_rows"] == 0
        assert prof[c]["n_nulls"] == 0
        assert prof[c]["n_distinct"] == 0


def test_table_profile_handles_nonidentifier_columns(spark):
    from sparkstreaming_realtime_spark.operators.profiling import (
        table_profile,
    )

    df = spark.createDataFrame([(1, "x")]).toDF("content-type", "a b")
    prof = {r["column"]: r for r in table_profile(df).collect()}
    assert set(prof) == {"content-type", "a b"}
    assert prof["content-type"]["n_distinct"] == 1


def test_knn_join_survives_mass_ties_and_empty_queries(spark):
    """Review-caught edge cases: (a) > margin identical vectors at the
    cut must still yield the (cos desc, id asc) winners; (b) an empty
    query batch returns an empty, well-typed frame."""
    dup = [1.0, 0.0, 0.0]
    # corpus: 15 IDENTICAL vectors (ids 1..9, 11..16); query: id 10
    rows = [(i, dup) for i in list(range(1, 10)) + list(range(11, 17))]
    rows.append((10, [1.0, 0.0, 0.0]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = sim.knn_join(emb, dim=3, k=3, query_mod=10, batch_margin=0)
    res = {(r["query_id"], r["rank"]): r["vec_id"] for r in got.collect()}
    # 15 identical corpus vectors tie at cos=1.0; margin=0 forces the
    # cut to k — the id tie-break winners 1,2,3 must survive it
    assert res == {(10, 1): 1, (10, 2): 2, (10, 3): 3}

    none_q = sim.knn_join(emb.filter("vec_id % 10 != 0"), dim=3, k=3,
                          query_mod=10)
    assert none_q.count() == 0
    assert none_q.columns == ["query_id", "vec_id", "cos", "rank"]


def test_knn_join_enforces_query_batch_cap(spark):
    """The query-side collect is a broadcast-small-side move; an
    over-cap batch must fail loudly (bounded fetch, no driver OOM)
    instead of silently collecting a corpus-sized side."""
    import pytest

    rows = [(i, [float(i), 1.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # query_mod=1 makes EVERY row a query — 20 > cap of 5
    with pytest.raises(ValueError, match="max_query_rows"):
        sim.knn_join(emb, dim=2, k=2, query_mod=1, max_query_rows=5)


def test_exact_k_sample_caps_and_is_deterministic(spark):
    from sparkstreaming_realtime_spark.operators.sampling import (
        exact_k_sample,
    )

    df = spark.createDataFrame(
        [(i, "big" if i < 40 else "small") for i in range(43)],
        "doc_id long, source string",
    )
    out = exact_k_sample(df, "source", 5, "doc_id")
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src["big"]) == 5        # capped exactly
    assert len(by_src["small"]) == 3      # under-quota stratum: all kept
    # deterministic membership across runs
    again = {r["doc_id"] for r in
             exact_k_sample(df, "source", 5, "doc_id").collect()}
    assert again == by_src["big"] | by_src["small"]


def test_exact_k_prefilter_matches_unfiltered(spark):
    """The skew-safety pre-filter cuts a PREFIX of the exact rank
    order, so with the 4k/256-floor margin it must select the
    IDENTICAL rows as the plain full-stratum window — here on strata
    big enough (5000 rows) that the filter actually engages
    (cutoff < hash space)."""
    from sparkstreaming_realtime_spark.operators.sampling import (
        exact_k_sample,
    )

    df = spark.createDataFrame(
        [
            (
                i,
                # NULL stratum rows: its own window partition, must
                # survive the eqNullSafe pre-filter join (5000 of
                # them, so the hash cutoff genuinely engages there).
                None if i % 3 == 0 else ("hot" if i % 10 else "cold"),
            )
            for i in range(15000)
        ],
        "doc_id long, source string",
    )
    plain = sorted(
        map(tuple, exact_k_sample(df, "source", 9, "doc_id",
                                  prefilter=False).collect())
    )
    fast = sorted(
        map(tuple, exact_k_sample(df, "source", 9, "doc_id").collect())
    )
    assert plain == fast
    assert len([t for t in fast if t[1] == "hot"]) == 9
    assert len([t for t in fast if t[1] is None]) == 9


def test_exact_k_prefilter_precedes_window(spark):
    """Plan pin: the hash-threshold filter must sit BELOW the rank
    window (the whole point — no stratum is globally sorted), and the
    sizing side must be a broadcast join, not a shuffle."""
    from sparkstreaming_realtime_spark.operators.sampling import (
        exact_k_sample,
    )

    df = spark.createDataFrame(
        [(i, "s") for i in range(1000)], "doc_id long, source string"
    )
    out = exact_k_sample(df, "source", 5, "doc_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    iw = plan.find("Window")
    assert iw >= 0
    # the md5 rank-key threshold filter is in the window's SUBTREE
    # (printed after/below it), not above
    assert "md5" in plan[iw:]
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys or "BroadcastNestedLoop" in phys


def test_semantic_dedup_clustered_groups_within_cells(spark):
    """Cluster-pruned SemDeDup: two well-separated semantic groups
    route to their own quantizer cells and dedup independently; the
    isolated antipodal vector gets no row (trivially kept) — the same
    output contract as the LSH variant, so the two are drop-in
    interchangeable."""
    import numpy as np

    rng = np.random.RandomState(7)
    b1, b2 = rng.randn(8), rng.randn(8)
    rows = [
        (1, [float(x) for x in b1]),
        (2, [float(x) for x in b1 + 0.01 * rng.randn(8)]),
        (3, [float(x) for x in b1 + 0.01 * rng.randn(8)]),
        (10, [float(x) for x in b2]),
        (11, [float(x) for x in b2 + 0.01 * rng.randn(8)]),
        (20, [float(x) for x in -b1]),  # antipodal: no neighbor
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [float(x) for x in b1]), (1, [float(x) for x in b2])]
    out = {
        r["vec_id"]: (r["cluster_id"], r["is_keep"])
        for r in sim.semantic_dedup_clustered(
            emb, cents, threshold=0.9
        ).collect()
    }
    assert out == {1: (1, 1), 2: (1, 0), 3: (1, 0), 10: (10, 1), 11: (10, 0)}


def test_cluster_near_dup_pairs_is_cluster_blind_across_cells(spark):
    """The documented recall boundary of the published SemDeDup
    recipe: a ≥-threshold pair whose members quantize to DIFFERENT
    cells produces no candidate — candidates are bounded by cluster
    geometry, not bucket luck, and that bound is exactly what a
    cross-cell pair falls outside of."""
    rows = [
        (1, [0.92, 0.38]),  # nearest c0
        (2, [0.38, 0.92]),  # nearest c1, but cos(1,2) ≈ 0.70
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    assert (
        sim.cluster_near_dup_pairs(emb, cents, threshold=0.6).count() == 0
    )
    # same corpus, one cell: the pair is found — the miss above is
    # the cell boundary, not the verify math
    one_cell = [(0, [1.0, 1.0])]
    got = sim.cluster_near_dup_pairs(emb, one_cell, threshold=0.6).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in got] == [(1, 2)]


def test_cluster_near_dup_pairs_max_cluster_cap(spark):
    """max_cluster drops over-cap cells WHOLE before the self-join —
    the same worst-case bound as the LSH max_bucket cap (cap² pairs
    per cell)."""
    rows = [(i, [1.0, float(i) * 1e-3]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [1.0, 0.0])]
    assert sim.cluster_near_dup_pairs(emb, cents, threshold=0.9).count() == 10
    assert (
        sim.cluster_near_dup_pairs(
            emb, cents, threshold=0.9, max_cluster=4
        ).count()
        == 0
    )


def test_cluster_banded_pairs_are_intersection_of_parents(spark):
    """The cluster∩band composition's defining property: its
    candidate pairs are exactly the pairs BOTH parents would verify
    — never a pair the exact-within-cluster recipe would skip, never
    a pair plain LSH would skip. Pinned on a corpus engineered so
    the two parents genuinely disagree."""
    import numpy as np

    rng = np.random.RandomState(5)
    b1, b2 = rng.randn(16), rng.randn(16)
    rows = [
        (1, [float(x) for x in b1]),
        (2, [float(x) for x in b1 + 0.01 * rng.randn(16)]),
        (10, [float(x) for x in b2]),
        (11, [float(x) for x in b2 + 0.01 * rng.randn(16)]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [float(x) for x in b1]), (1, [float(x) for x in b2])]
    kw = dict(bands=4, rows_per_band=4)
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in sim.rh_near_dup_pairs(
            emb, dim=16, threshold=0.9, **kw
        ).collect()
    }
    clustered = {
        (r["vec_a"], r["vec_b"])
        for r in sim.cluster_near_dup_pairs(
            emb, cents, threshold=0.9
        ).collect()
    }
    banded = {
        (r["vec_a"], r["vec_b"])
        for r in sim.cluster_banded_near_dup_pairs(
            emb, cents, dim=16, threshold=0.9, **kw
        ).collect()
    }
    assert banded == (lsh & clustered)
    assert banded  # the planted near-identical pairs survive both cuts
    out = {
        r["vec_id"]: (r["cluster_id"], r["is_keep"])
        for r in sim.semantic_dedup_clustered_banded(
            emb, cents, dim=16, threshold=0.9, **kw
        ).collect()
    }
    assert out == {1: (1, 1), 2: (1, 0), 10: (10, 1), 11: (10, 0)}


def test_line_dedup_removes_corpus_boilerplate_keeps_structure(spark):
    """Corpus-level line gate: a normalized line shared by >=2 docs is
    cut everywhere; unique lines and empty lines survive; a doc made
    entirely of boilerplate reassembles to ''. Normalization is
    lower+trim (the '  FOOTER ' variant collapses onto 'footer')."""
    docs = _docs(
        spark,
        [
            (1, "unique alpha\nfooter\n\nbody one"),
            (2, "body two\n  FOOTER \nunique beta"),
            (3, "footer"),
        ],
    )
    out = {r["doc_id"]: r for r in dd.line_dedup(docs).collect()}
    assert out[1]["text_clean"] == "unique alpha\n\nbody one"
    assert out[1]["n_lines"] == 4 and out[1]["n_removed"] == 1
    assert out[2]["text_clean"] == "body two\nunique beta"
    assert out[2]["n_removed"] == 1
    assert out[3]["text_clean"] == "" and out[3]["n_removed"] == 1


def test_line_dedup_empty_lines_exempt_and_threshold_respected(spark):
    """Empty-after-trim lines are never counted as boilerplate even
    when every doc has them; min_docs=3 spares a 2-doc line."""
    docs = _docs(
        spark,
        [(1, "a\n\nshared"), (2, "b\n\nshared"), (3, "c\n \nd")],
    )
    out = {r["doc_id"]: r for r in
           dd.line_dedup(docs, min_docs=3).collect()}
    # 'shared' appears in only 2 docs < min_docs=3 -> kept everywhere
    assert out[1]["text_clean"] == "a\n\nshared"
    assert out[2]["n_removed"] == 0
    assert out[3]["text_clean"] == "c\n \nd"


def test_intra_line_dedup_keeps_first_occurrence_zero_shuffle(spark):
    """Within-doc collapse keeps first occurrences in order, counts
    removals, and the plan carries NO exchange (pure projection)."""
    docs = _docs(
        spark,
        [
            (1, "x\ny\nx\nz\ny"),
            (2, "only"),
            (3, "a\na\na"),
        ],
    )
    out_df = dd.intra_line_dedup(docs)
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    out = {r["doc_id"]: r for r in out_df.collect()}
    assert out[1]["text_clean"] == "x\ny\nz"
    assert out[1]["n_lines"] == 5 and out[1]["n_removed"] == 2
    assert out[2]["text_clean"] == "only" and out[2]["n_removed"] == 0
    assert out[3]["text_clean"] == "a" and out[3]["n_removed"] == 2


def test_exact_substr_removes_arbitrary_offset_repeats(spark):
    """ExactSubstr (Lee et al. 2022): an all-but-first occurrence of
    a >=w-token span is cut REGARDLESS of its offset inside the doc —
    the case remove_dup_chunks' fixed chunk grid misses. Doc 1 holds
    the first occurrence (kept whole); doc 2 repeats the span
    starting at token 3 (cut); doc 3 shares nothing (untouched)."""
    span = " ".join(f"w{i}" for i in range(10))
    docs = _docs(
        spark,
        [
            (1, f"{span} tail1"),
            (2, f"a b c {span}"),
            (3, "completely different text entirely here"),
        ],
    )
    out = {r["doc_id"]: r for r in dd.exact_substr_dedup(docs, w=10).collect()}
    assert out[1]["text_clean"] == f"{span} tail1"
    assert out[1]["n_removed"] == 0
    assert out[2]["text_clean"] == "a b c"
    assert out[2]["n_removed"] == 10
    assert out[3]["n_removed"] == 0


def test_exact_substr_within_doc_and_long_span(spark):
    """A repeat INSIDE one document cuts the second occurrence, and a
    repeated span longer than w is removed in full (the sliding
    windows tile it), with the overlap-region tokens counted once."""
    span12 = " ".join(f"t{i}" for i in range(12))  # 12 > w=10
    docs = _docs(
        spark,
        [
            (1, f"{span12} mid {span12}"),
            (2, None),
        ],
    )
    out = {r["doc_id"]: r for r in dd.exact_substr_dedup(docs, w=10).collect()}
    # doc 2 (null text) dropped, like the line-dedup family
    assert sorted(out) == [1]
    assert out[1]["text_clean"] == f"{span12} mid"
    assert out[1]["n_removed"] == 12
    assert out[1]["n_tokens"] == 25


def test_exact_substr_short_docs_pass_through(spark):
    """Docs under w tokens generate no windows and survive verbatim
    (normalized) — nothing is silently lost."""
    docs = _docs(spark, [(1, "Short Doc"), (2, "short doc")])
    out = {r["doc_id"]: r for r in dd.exact_substr_dedup(docs, w=10).collect()}
    assert out[1]["text_clean"] == "short doc"  # tokenize lowercases
    assert out[2]["text_clean"] == "short doc"
    assert out[1]["n_removed"] == 0 and out[2]["n_removed"] == 0


def test_line_dedup_family_drops_null_text_consistently(spark):
    """NULL text must vanish from BOTH line operators the same way —
    line_dedup's posexplode drops it structurally; intra_line_dedup
    now filters it explicitly (it used to emit a
    (doc_id, NULL, NULL, NULL) row its sibling and the DuckDB unnest
    oracle never produce)."""
    docs = _docs(spark, [(1, "x\nx"), (2, None), (3, "y")])
    intra = dd.intra_line_dedup(docs)
    assert sorted(r["doc_id"] for r in intra.collect()) == [1, 3]
    corpus = dd.line_dedup(docs)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 3]


def test_assign_cells_arrow_matches_literal_argmax(spark):
    """The large-k Arrow matmul assignment must agree with the
    small-k literal argmax on every vector (same 6dp rounding, same
    min-cell tie-break), and assign_cells_frame must dispatch by
    LARGE_K_ASSIGN."""
    import random

    rnd = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(4)], 0) for i in range(200)],
        "vec_id long, embedding array<float>, label int",
    )
    cents = [
        (c, [rnd.uniform(-1, 1) for _ in range(4)])
        for c in range(sim.LARGE_K_ASSIGN + 6)
    ]
    lit = {r["vec_id"]: r["cell"] for r in emb.select(
        "vec_id", sim.assign_cell("embedding", cents).alias("cell")
    ).collect()}
    arrow = {r["vec_id"]: r["cell"]
             for r in sim.assign_cells_arrow(emb, cents).collect()}
    assert lit == arrow
    # dispatch: small k stays the zero-shuffle literal projection
    # (no Python in the plan), large k goes through mapInPandas
    small = sim.assign_cells_frame(emb, cents[: sim.LARGE_K_ASSIGN])
    big = sim.assign_cells_frame(emb, cents)
    assert "MapInPandas" not in small._jdf.queryExecution().logical().toString()
    assert "MapInPandas" in big._jdf.queryExecution().logical().toString()


def test_bm25_search_matches_hand_computed_okapi(spark):
    """BM25 (operators/retrieval.py) against a by-hand Okapi
    computation on a 4-doc corpus: exact idf/tf-norm formula, docs
    matching no query term absent, ties impossible by construction."""
    import math

    from sparkstreaming_realtime_spark.operators.retrieval import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple cherry"),
            (3, "banana banana banana durian"),
            (4, "cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    out = bm25_search(docs, ["apple", "banana"], k=10)
    got = [(r.doc_id, r.bm25, r.n_hit_terms) for r in out.collect()]

    n, avgdl = 4, 3.0
    dls = {1: 3, 2: 2, 3: 4}
    tfs = {1: {"apple": 2, "banana": 1}, 2: {"apple": 1}, 3: {"banana": 3}}
    dfq = {"apple": 2, "banana": 2}

    def idf(df):
        return math.log(1 + (n - df + 0.5) / (df + 0.5))

    def norm(tf, dl):
        return tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    expect = sorted(
        (
            (
                d,
                round(sum(idf(dfq[t]) * norm(tf, dls[d])
                          for t, tf in terms.items()), 4),
                len(terms),
            )
            for d, terms in tfs.items()
        ),
        key=lambda r: (-r[1], r[0]),
    )
    assert got == expect
    assert all(r[0] != 4 for r in got)  # cherry-only doc never appears


def test_semantic_decontaminate_flags_near_eval_train_vectors(spark):
    """Cross-frame LSH decontamination: a train vector colinear with
    an eval vector is flagged with that eval id and cos 1.0; an
    orthogonal train vector never appears; ties break to the
    smallest eval id."""
    from sparkstreaming_realtime_spark.operators import similarity as sim

    dim = 8

    def v(i, hot, mag=1.0):
        vec = [0.0] * dim
        vec[hot] = mag
        return (i, vec)

    # eval 100 and 101 are IDENTICAL directions (tie case)
    evalset = spark.createDataFrame(
        [v(100, 0), v(101, 0, 2.0), v(102, 3)],
        "vec_id long, embedding array<float>",
    )
    train = spark.createDataFrame(
        [v(1, 0, 0.5), v(2, 5), v(3, 3, 4.0)],
        "vec_id long, embedding array<float>",
    )
    out = sim.semantic_decontaminate(
        train, evalset, dim=dim, threshold=0.9,
        bands=4, rows_per_band=2, approx_count=3,
    )
    got = {r.vec_id: (r.top_eval_id, r.max_cos) for r in out.collect()}
    assert got[1] == (100, 1.0)  # tie between 100/101 -> smaller id
    assert got[3] == (102, 1.0)
    assert 2 not in got  # orthogonal direction, never flagged


def test_semantic_decontaminate_guards_pinned_width_at_scale(spark):
    import pytest

    from sparkstreaming_realtime_spark.operators import similarity as sim

    train = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="FIXED_KNOB_GUARD_N"):
        sim.semantic_decontaminate(
            train, train, dim=2, bands=4, rows_per_band=4,
            approx_count=sim.FIXED_KNOB_GUARD_N + 1,
        )


def test_semantic_decontaminate_honors_custom_vec_col(spark):
    """vec_col must thread through to the LSH
    bucketing, not just the exact-cosine verify — the frames here
    have NO 'embedding' column at all, so a stale hardcode in
    rh_band_buckets would raise AnalysisException instead of
    flagging the colinear pair."""
    from sparkstreaming_realtime_spark.operators import similarity as sim

    dim = 8

    def v(i, hot, mag=1.0):
        vec = [0.0] * dim
        vec[hot] = mag
        return (i, vec)

    evalset = spark.createDataFrame(
        [v(100, 0), v(102, 3)], "vec_id long, vecs array<float>"
    )
    train = spark.createDataFrame(
        [v(1, 0, 0.5), v(2, 5)], "vec_id long, vecs array<float>"
    )
    out = sim.semantic_decontaminate(
        train, evalset, dim=dim, threshold=0.9, vec_col="vecs",
        bands=4, rows_per_band=2, approx_count=2,
    )
    got = {r.vec_id: (r.top_eval_id, r.max_cos) for r in out.collect()}
    assert got == {1: (100, 1.0)}


def test_bm25_scores_are_partitioning_independent(spark):
    """Per-term scores quantize to integer
    micro-units BEFORE the per-doc sum, so the 4dp score cannot flip
    with Spark's partial-aggregation combine order — the same corpus
    through different physical partitionings must produce identical
    rounded scores."""
    from sparkstreaming_realtime_spark.operators.retrieval import (
        bm25_search,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(
                ["spark"] * (i % 4 + 1)
                + ["vector"] * (i % 3)
                + ["filler"] * (i % 7)
            ))
            for i in range(1, 40)
        ],
        "doc_id long, text string",
    )
    terms = ["spark", "vector"]
    a = [tuple(r) for r in bm25_search(docs, terms, k=20).collect()]
    b = [
        tuple(r)
        for r in bm25_search(
            docs.repartition(13, "doc_id"), terms, k=20
        ).collect()
    ]
    assert a == b


def test_bm25_plan_broadcasts_scalars_and_takes_ordered_topk(spark, sf_dir):
    """The BM25 scale claims, pinned as a plan test: the (N, avgdl)
    scalars and the per-term df table reach the score join as
    BroadcastExchanges (never a shuffled join on a 1-row frame), the
    top-k is TakeOrdered (no global Sort), and no Python UDF appears
    anywhere (pure codegen column math)."""
    from sparkstreaming_realtime_spark.operators.retrieval import bm25_search
    from sparkstreaming_realtime_spark.sources.files import read_table

    df = bm25_search(
        read_table(spark, sf_dir, "documents"), ["dup", "spark"], k=10
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_pairs_plan_has_no_cartesian_and_no_python(spark, sf_dir):
    """Segment blocking must never degrade to an all-pairs plan: the
    candidate join is an equi-join on the block key (no
    CartesianProduct / BroadcastNestedLoopJoin), and the levenshtein
    verify is JVM-side (no Python eval nodes)."""
    from sparkstreaming_realtime_spark.operators.linkage import (
        blocked_fuzzy_pairs,
    )
    from sparkstreaming_realtime_spark.sources.files import read_table

    df = blocked_fuzzy_pairs(
        read_table(spark, sf_dir, "customer"),
        id_col="c_custkey",
        text_col="c_name",
        block_cols=("c_nationkey",),
        max_dist=2,
        n_segments=6,
        max_block=200,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_overlap_extremes_and_midrange(spark):
    """Jaccard from sketches: disjoint corpora -> 0, identical -> 1
    (both EXACT below k); a constructed 1/3 overlap estimates near
    1/3 with k=128 samples."""
    from sparkstreaming_realtime_spark.operators import sketches as sk

    a = spark.createDataFrame([(f"a{i}",) for i in range(500)], "item string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(500)], "item string")
    r = sk.kmv_overlap(a, b, k=64).collect()[0]
    assert r.inter_in_topk == 0 and r.jaccard_est == 0.0

    same = sk.kmv_overlap(a, a, k=64).collect()[0]
    assert same.jaccard_est == 1.0 and same.k_used == 64

    # |A| = |B| = 1000, |A ∩ B| = 500 -> J = 500/1500 = 1/3
    xa = spark.createDataFrame(
        [(f"s{i}",) for i in range(1000)], "item string"
    )
    xb = spark.createDataFrame(
        [(f"s{i}",) for i in range(500, 1500)], "item string"
    )
    mid = sk.kmv_overlap(xa, xb, k=128).collect()[0]
    assert 0.20 < mid.jaccard_est < 0.47, mid


def test_kmv_grouped_matches_per_group_single_sketches(spark):
    """The grouped sketch must equal running kmv_sketch per group —
    same k values, same estimates — while costing one pass."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.operators import sketches as sk

    items = spark.createDataFrame(
        [(f"g{i % 3}", f"item{i % 400}") for i in range(2000)],
        "g string, item string",
    )
    k = 64
    grouped = sk.kmv_sketch_grouped(items, "g", k=k)
    got = {
        g: sorted(r.h for r in rows)
        for g, rows in (
            (g, grouped.filter(F.col("g") == g).collect())
            for g in ("g0", "g1", "g2")
        )
    }
    for g in ("g0", "g1", "g2"):
        solo = sorted(
            r.h
            for r in sk.kmv_sketch(
                items.filter(F.col("g") == g).select("item"), k=k
            ).collect()
        )
        assert got[g] == solo, g
    ests = {
        r.g: r.est_distinct
        for r in sk.kmv_estimate_grouped(grouped, "g", k=k).collect()
    }
    truth = {
        r.g: r.n
        for r in items.groupBy("g")
        .agg(F.count_distinct("item").alias("n"))
        .collect()
    }
    # every group's distinct count (~400) >> k=64 -> estimator
    # regime; 1/sqrt(62) ~ 13% std error, assert within ~4 sigma
    for g in ("g0", "g1", "g2"):
        assert truth[g] > k
        assert abs(ests[g] - truth[g]) / truth[g] < 0.5, (g, ests[g], truth[g])


def test_cluster_banded_pairs_honor_custom_vec_col(spark):
    """Same bug class as the semantic_decontaminate vec_col test: the
    cell∩band candidate generator exposes vec_col and must thread it
    into BOTH the cell assignment and the LSH bucketing — frames here
    have no 'embedding' column at all."""
    from sparkstreaming_realtime_spark.operators import similarity as sim

    dim = 8

    def v(i, hot, mag=1.0):
        vec = [0.0] * dim
        vec[hot] = mag
        return (i, vec)

    emb = spark.createDataFrame(
        [v(1, 0), v(2, 0, 2.0), v(3, 5)], "vec_id long, vecs array<float>"
    )
    cents = [
        (0, [1.0] + [0.0] * 7),
        (1, [0.0] * 5 + [1.0] + [0.0] * 2),
    ]
    out = sim.cluster_banded_near_dup_pairs(
        emb, cents, dim=dim, threshold=0.9, vec_col="vecs",
        bands=4, rows_per_band=2, approx_count=3,
    )
    assert sorted((r.vec_a, r.vec_b) for r in out.collect()) == [(1, 2)]


def test_knn_join_max_cos_bands_out_near_dups(spark):
    """Hard-negative banding: a colinear near-dup (cos 1.0) must
    never appear; the returned neighbors are the top-k UNDER the
    band, re-ranked — not the unbanded top-k minus exclusions."""
    dim = 4
    rows = []
    # query: id 0 (0 % 7 == 0), axis e0
    rows.append((0, [1.0, 0.0, 0.0, 0.0]))
    # near-dup corpus vector (cos 1.0 with the query) — banded out
    rows.append((1, [2.0, 0.0, 0.0, 0.0]))
    # graded negatives at decreasing cos
    rows.append((2, [1.0, 1.0, 0.0, 0.0]))   # cos ~0.707
    rows.append((3, [1.0, 2.0, 0.0, 0.0]))   # cos ~0.447
    rows.append((4, [1.0, 4.0, 0.0, 0.0]))   # cos ~0.243
    rows.append((5, [0.0, 1.0, 0.0, 0.0]))   # cos 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from sparkstreaming_realtime_spark.operators import similarity as sim

    out = sim.knn_join(emb, dim=dim, k=3, query_mod=7, max_cos=0.5).collect()
    got = [(r.vec_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    # 1 (cos 1.0) and 2 (0.707) excluded; band top-3 = 3, 4, 5
    assert got == [(3, 1), (4, 2), (5, 3)]
    assert all(r.cos <= 0.5 for r in out)


def test_token_entropy_hand_computed(spark):
    import math

    from sparkstreaming_realtime_spark.operators.textstats import (
        token_entropy,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),          # N=4, counts {2,2} -> H = ln 2
            (2, "x x x x"),          # N=4, one run     -> H = 0
            (3, "a b c d"),          # uniform          -> H = ln 4
            (4, "!!! ..."),          # tokenizes empty  -> H = 0
            (5, "a a b"),            # N=3 {2,1}
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_distinct, r.entropy)
        for r in token_entropy(docs).collect()
    }
    assert got[1] == (4, 2, round(math.log(2), 4))
    assert got[2] == (4, 1, 0.0)
    assert got[3] == (4, 4, round(math.log(4), 4))
    assert got[4] == (0, 0, 0.0)
    # micro-nat replica of the engine arithmetic, not a float oracle
    micro = round(1e6 * 2 * math.log(2))
    assert got[5] == (3, 2, round(math.log(3) - micro / (1e6 * 3), 4))


def test_token_entropy_boilerplate_scores_below_diverse(spark):
    from sparkstreaming_realtime_spark.operators.textstats import (
        token_entropy,
    )

    docs = spark.createDataFrame(
        [
            (1, "click here to subscribe " * 25),
            (2, " ".join(f"tok{i}" for i in range(100))),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.entropy for r in token_entropy(docs).collect()}
    assert got[1] < got[2]


def test_semantic_decontaminate_frozen_eval_index_is_equivalent(spark):
    """prepare_eval_index freezes the benchmark side; results must be
    row-identical to the inline path, and conflicting knobs raise."""
    import pytest

    from sparkstreaming_realtime_spark.operators import similarity as sim

    dim = 8

    def v(i, hot, mag=1.0):
        vec = [0.0] * dim
        vec[hot] = mag
        return (i, vec)

    evalset = spark.createDataFrame(
        [v(100, 0), v(101, 0, 2.0), v(102, 3)],
        "vec_id long, embedding array<float>",
    )
    train = spark.createDataFrame(
        [v(1, 0, 0.5), v(2, 5), v(3, 3, 4.0)],
        "vec_id long, embedding array<float>",
    )
    inline = sorted(
        map(
            tuple,
            sim.semantic_decontaminate(
                train, evalset, dim=dim, threshold=0.9,
                bands=4, rows_per_band=2, approx_count=3,
            ).collect(),
        )
    )
    idx = sim.prepare_eval_index(
        evalset, dim=dim, bands=4, rows_per_band=2
    )
    frozen = sorted(
        map(
            tuple,
            sim.semantic_decontaminate(
                train, None, dim=dim, threshold=0.9,
                approx_count=3, eval_index=idx,
            ).collect(),
        )
    )
    assert inline == frozen
    with pytest.raises(ValueError, match="frozen eval index"):
        sim.semantic_decontaminate(
            train, None, dim=dim, bands=6, rows_per_band=6,
            approx_count=3, eval_index=idx,
        )


def test_key_skew_profile_hand_computed(spark):
    from sparkstreaming_realtime_spark.operators.profiling import (
        key_skew_profile,
    )

    # counts: a->4, b->2, c->1, d->1 (T=8, K=4). Ascending ranks:
    # {c,d} counts 1 at ranks 1,2; b rank 3; a rank 4.
    # S = 1*1 + 1*2 + 2*3 + 4*4 = 25; gini = (2S - 5*8)/(4*8) = 10/32
    rows = [("a",)] * 4 + [("b",)] * 2 + [("c",), ("d",)]
    df = spark.createDataFrame(rows, "k string")
    got = key_skew_profile(df, "k", k=3).collect()
    assert [r.rank for r in got] == [1, 2, 3]
    assert [(r.key, r.n) for r in got] == [("a", 4), ("b", 2), ("c", 1)]
    assert got[0].n_keys == 4 and got[0].n_rows == 8
    assert got[0].gini == round(10 / 32, 6)
    assert got[0].share == 0.5
    assert got[1].cum_share == 0.75
    assert got[2].cum_share == round(7 / 8, 6)


def test_key_skew_profile_requires_exactly_one_input(spark):
    """Both df and counts (or neither) must fail loudly
    up front, not with an AttributeError deep in the plan builder."""
    import pytest

    from sparkstreaming_realtime_spark.operators.profiling import (
        key_skew_profile,
    )

    df = spark.createDataFrame([("a",)], "k string")
    counts = spark.createDataFrame([("a", 1)], "key string, n long")
    with pytest.raises(ValueError, match="exactly one"):
        key_skew_profile(df, "k", counts=counts)
    with pytest.raises(ValueError, match="exactly one"):
        key_skew_profile(None, "k")


def test_key_skew_profile_uniform_gini_zero(spark):
    from sparkstreaming_realtime_spark.operators.profiling import (
        key_skew_profile,
    )

    rows = [(f"k{i}",) for i in range(20) for _ in range(3)]
    df = spark.createDataFrame(rows, "k string").repartition(7)
    got = key_skew_profile(df, "k", k=5).collect()
    assert got[0].gini == 0.0
    assert got[0].n_keys == 20 and got[0].n_rows == 60


def test_dd_sketch_quantiles_within_alpha(spark):
    import random

    from sparkstreaming_realtime_spark.operators.sketches import (
        DD_ALPHA,
        dd_quantiles,
        dd_sketch,
    )

    rng = random.Random(3)
    vals = [rng.uniform(0.01, 500.0) for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r.q: r.est
        for r in dd_quantiles(dd_sketch(df, "v"), (0.5, 0.95, 0.99)).collect()
    }
    s = sorted(vals)
    for q in (0.5, 0.95, 0.99):
        exact = s[int(q * (len(s) - 1))]
        assert abs(got[q] / exact - 1.0) <= DD_ALPHA * 1.01, (q, got[q], exact)


def test_dd_sketch_merges_additively(spark):
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.operators.sketches import (
        dd_quantiles,
        dd_sketch,
    )

    vals = [(float(i % 97) + 0.5,) for i in range(1, 500)]
    df = spark.createDataFrame(vals, "v double")
    whole = dd_quantiles(dd_sketch(df, "v"), (0.5, 0.9)).collect()
    # split into 3 arbitrary parts, sketch each, SUM bucket counts
    parts = [
        dd_sketch(df.filter(F.col("v") * 10 % 3 == i), "v")
        for i in range(3)
    ]
    merged = (
        parts[0].unionAll(parts[1]).unionAll(parts[2])
        .groupBy("bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    via_merge = dd_quantiles(merged, (0.5, 0.9)).collect()
    assert sorted(map(tuple, whole)) == sorted(map(tuple, via_merge))


def test_match_phrase_semantics(spark):
    from sparkstreaming_realtime_spark.operators.retrieval import (
        match_phrase_docs,
    )

    docs = spark.createDataFrame(
        [
            (1, "en", "the quick brown fox"),
            (2, "en", "quick brown quick brown fox"),  # overlapping-ish
            (3, "en", "brown quick"),                  # order matters
            (4, "en", "quick  BROWN!"),                # analyzer folds
            (5, "en", "quick"),                        # shorter than k
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        r.doc_id: r.n_occurrences
        for r in match_phrase_docs(docs, "Quick, Brown").collect()
    }
    assert got == {1: 1, 2: 2, 4: 1}

    import pytest

    with pytest.raises(ValueError):
        match_phrase_docs(docs, "!!!")


def test_winsorized_stats_clips_outliers(spark):
    from sparkstreaming_realtime_spark.operators.sketches import (
        winsorized_stats,
    )

    # 98 values at 10.0 plus two wild outliers; p01/p99 bounds land
    # near 10, so the winsorized mean must sit at ~10 while the raw
    # mean would be dragged to ~109
    rows = [("a", 10.0)] * 98 + [("a", 0.001), ("a", 10000.0)]
    df = spark.createDataFrame(rows, "g string, value double")
    r = winsorized_stats(df, "value", group_cols=("g",)).collect()[0]
    assert r.n == 100
    assert abs(r.win_mean - 10.0) < 0.5
    assert r.lo <= 10.0 <= r.hi
    # reconciliation: sum equals mean * n within the 4dp round
    assert abs(r.win_sum_cents / 100.0 / r.n - r.win_mean) < 1e-4


def test_split_leakage_report_counts_crossings(spark):
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.operators.sampling import (
        split_leakage_report,
    )

    docs = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (3, "s2"), (4, "s2")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "doc_a long, doc_b long"
    )
    # synthetic policies: 'parity' splits odd/even doc ids (pairs
    # 1-2 and 3-4 cross, 1-3 doesn't); 'by_src' keeps sources whole
    # (only the cross-source pair 1-3 crosses)
    got = {
        r.policy: (r.n_pairs, r.n_cross, r.cross_pct)
        for r in split_leakage_report(
            docs,
            pairs,
            {
                "parity": F.when(
                    F.col("doc_id") % 2 == 0, "train"
                ).otherwise("test"),
                "by_src": F.col("source"),
            },
        ).collect()
    }
    assert got["parity"] == (3, 2, round(2 / 3, 4))
    assert got["by_src"] == (3, 1, round(1 / 3, 4))


def test_split_leakage_report_rejects_empty_policies(spark):
    """An empty policies dict is a caller error, not an
    AttributeError on None deep in the plan builder."""
    import pytest

    from sparkstreaming_realtime_spark.operators.sampling import (
        split_leakage_report,
    )

    docs = spark.createDataFrame([(1, "s1")], "doc_id long, source string")
    pairs = spark.createDataFrame([(1, 1)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="non-empty"):
        split_leakage_report(docs, pairs, {})


def test_split_label_is_stable_and_composable(spark):
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.operators.sampling import (
        split_label,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(500)], "doc_id long"
    )
    a = docs.select(split_label(F.col("doc_id"), "doc:").alias("s"))
    counts = {r.s: r.c for r in a.groupBy("s").agg(
        F.count("*").alias("c")).collect()}
    # rough 10/10/80 proportions on 500 keys
    assert 20 <= counts["test"] <= 80
    assert 20 <= counts["holdout"] <= 80
    assert counts["train"] >= 350
    # deterministic: a second evaluation is identical
    b = docs.select(split_label(F.col("doc_id"), "doc:").alias("s"))
    assert a.collect() == b.collect()
