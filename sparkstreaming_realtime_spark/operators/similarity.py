"""Similarity search over embedding columns (array<float>).

Two strategies, both pure DataFrame ops (``zip_with``/``aggregate``
dot products from ``functions.vectors`` — JVM-side, no Arrow
transfer):

- **Brute-force top-k**: score every vector against the query and
  ``orderBy(...).limit(k)``. Catalyst turns that into
  TakeOrderedAndProject — per-partition partial top-k, then a k-row
  merge on the driver. The per-row scan is what costs; at 100 TB this
  is the *correctness baseline*, not the serving path.
- **IVF (inverted-file) top-k**: k-means-style cells, here seeded by
  the corpus's ``label`` column (a real pipeline would store learned
  centroid ids the same way). Query → nearest centroid (tiny,
  broadcast) → scan only that cell's partition. The cell filter is a
  partition-prunable predicate, so the 100 TB scan becomes a
  1/n_cells scan. Recall depends on how well cells cluster the data —
  the operator reports the probed cell so callers can probe more.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity
from ..streaming import store


def query_vector(emb: DataFrame, vec_id: int, id_col: str = "vec_id") -> DataFrame:
    """One-row frame holding the query embedding (broadcast later)
    plus its precomputed norm — the query norm is a per-QUERY
    constant, and folding it per scanned row cost a third of every
    brute-force scan's fold work."""
    from ..functions.vectors import l2_norm

    return emb.filter(F.col(id_col) == vec_id).select(
        F.col("embedding").alias("__qv"),
        l2_norm("embedding").alias("__qn"),
    )


def cosine_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k against a one-row query frame.

    ``orderBy(desc(cos), id).limit(k)`` compiles to
    TakeOrderedAndProject: each partition keeps its local top-k, the
    driver merges k·n_partitions rows — no global sort, no single-task
    window. Cosine is rounded to 6dp *before* ordering so the ranking
    is reproducible across engines (float associativity)."""
    from ..functions.vectors import dot, l2_norm

    scored = emb.crossJoin(F.broadcast(query))
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    # dot/(row-norm · precomputed query norm): identical arithmetic
    # to cosine_similarity (same folds, same division order), one
    # fewer 64-element fold per scanned row; falls back to folding
    # the query norm when the frame lacks the __qn column (callers
    # that hand-build query frames)
    qn = (
        F.col("__qn")
        if "__qn" in query.columns
        else l2_norm("__qv")
    )
    return (
        scored.select(
            F.col(id_col),
            F.col("label"),
            F.round(
                dot("embedding", "__qv") / (l2_norm("embedding") * qn), 6
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


# --- IVF: learned cells, persisted index, pruned serving scan ------------

#: index-build defaults: 8 spherical-k-means cells, 2 Lloyd rounds.
#: Small because the test corpus is small; at 100 TB n_cells is
#: O(sqrt(N)) (FAISS guidance) and iters stays single-digit — each
#: Lloyd round is one corpus scan + an n_cells-group aggregate.
IVF_CELLS = 8
IVF_ITERS = 2
#: seed-ranking salt: seeds are the n_cells ids ranked first by
#: hash60('ivfseed:' || id) — deterministic (no RNG), well-spread,
#: overflow-free for ANY id (a multiplicative int hash overflows
#: int64 under ANSI once ids pass ~3.5e9 — caught by the 10× scaling
#: probe), and bit-for-bit reproducible by the DuckDB oracle.
_SEED_PREFIX = "ivfseed:"


def _centroid_literal(cents: list[tuple[int, list[float]]]) -> Column:
    """Centroids as a literal array<struct<cell,v>> — n_cells·dim
    doubles baked into the plan, the DataFrame analog of a broadcast
    (centroid tables are tiny by construction). Built via ONE
    ``F.expr`` crossing (functions.literals) — the element-wise
    ``F.lit`` loop paid one py4j round-trip per double, ~0.3 s at
    k=8·dim=64 and multi-second at auto-k, at every plan build and
    every k-means iteration."""
    from ..functions.literals import keyed_vector_lit

    return keyed_vector_lit(cents, "cell", "v")


def assign_cell(
    vec_col: Column | str, cents: list[tuple[int, list[float]]]
) -> Column:
    """In-row nearest-centroid id: score the vector against every
    literal centroid (codegen'd transform, zero shuffle, zero UDF) and
    argmax by (cos rounded to 6dp, then smallest cell — encoded as the
    max of struct(cos, -cell), since struct max compares fieldwise).
    The 6dp round makes assignment reproducible across engines."""
    from ..functions.vectors import dot, l2_norm

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def safe_cos(ct_v: Column) -> Column:
        # a zero vector (or zero centroid) must assign deterministically
        # instead of raising ANSI ÷0 mid-job: define its cos as 0
        denom = l2_norm(c) * l2_norm(ct_v)
        return F.when(denom > 0, dot(c, ct_v) / denom).otherwise(F.lit(0.0))

    scored = F.transform(
        _centroid_literal(cents),
        lambda ct: F.struct(
            F.round(safe_cos(ct["v"]), 6).alias("cos"),
            (-ct["cell"]).alias("negcell"),
        ),
    )
    return (-F.array_max(scored)["negcell"]).cast("int")


def assign_cell_scored(
    vec_col: Column | str, cents: list[tuple[int, list[float]]]
) -> Column:
    """``struct<cell int, cos double>``: the nearest-centroid id AND
    its 6dp-rounded cosine in one pass — same argmax encoding as
    :func:`assign_cell`, for callers that also need the winning score
    (cluster profiling, quality-of-fit stats).  Callers that read both
    fields should bind the result behind an ``explode(array())``
    barrier first — Catalyst has no CSE for higher-order functions, so
    each struct-field reference would otherwise re-run the whole
    ``n_cells × dim`` cosine transform (see :func:`rh_band_buckets`).
    (The two field decodes inside this struct cost one extra argmax
    pass — a fixed 2×, vs the unbounded N× the barrier prevents.)"""
    from ..functions.vectors import dot, l2_norm

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def safe_cos(ct_v: Column) -> Column:
        denom = l2_norm(c) * l2_norm(ct_v)
        return F.when(denom > 0, dot(c, ct_v) / denom).otherwise(F.lit(0.0))

    scored = F.transform(
        _centroid_literal(cents),
        lambda ct: F.struct(
            F.round(safe_cos(ct["v"]), 6).alias("cos"),
            (-ct["cell"]).alias("negcell"),
        ),
    )
    mx = F.array_max(scored)
    return F.struct(
        (-mx["negcell"]).cast("int").alias("cell"), mx["cos"].alias("cos")
    )


#: assign_cell's literal-centroid argmax leaves whole-stage codegen
#: once the expression tree carries a few hundred centroid structs
#: (measured: 384 s for ONE 200k-row assign at k=391 vs ~1 s at
#: k=8 — interpreted HOF evaluation, not compute, is the cost).
#: Above this k, assignment switches to the Arrow matmul path
#: (:func:`assign_cells_arrow`): one BLAS matmul per batch instead of
#: N·k expression evaluations (every DataFrame shape tried — literal
#: argmax, broadcast join, explode fan-out — paid 190-384 s at
#: 200k×391 where the matmul pays seconds).
LARGE_K_ASSIGN = 64


def assign_cells_arrow(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) nearest-centroid assignment for LARGE k — same
    semantics as :func:`assign_cell` (6dp-rounded cosine, min-cell
    tie-break), vectorized through Arrow ``mapInPandas`` (the
    :func:`knn_join` partial-top-k pattern): each batch is ONE numpy
    matmul against the broadcast centroid matrix.

    Why not stay JVM-side like the small-k literal path? Measured
    at 200k vectors × k=391 × dim 64: the literal in-row argmax took
    384 s, a broadcast-join + encoded-scalar max 192 s, an
    explode-fan-out 199 s — every DataFrame shape pays per-(row·cell)
    expression evaluation on N·k rows, and no amount of plan shaping
    removes that constant. The BLAS matmul does the same 5 GFLOPs in
    seconds; Arrow transfer (one id + vector column pass) is the only
    overhead. This is exactly the "drop to Pandas only where the
    built-ins genuinely can't express it efficiently" clause — the
    REGISTRY queries keep the deterministic literal path (small k,
    oracle-replayable); this path serves the probe-scale/production
    large-k regime.

    Tie-break parity: centroids are sorted by cell id and ``argmax``
    returns the FIRST maximal column of the 6dp-ROUNDED cosine row —
    i.e. the smallest cell id among ties, identical to the literal
    path's ``max(struct(cos, -cell))``. Rounding is explicit
    half-away-from-zero (Spark ROUND / DuckDB semantics; np.round's
    half-to-even would diverge exactly on the boundaries that decide
    ties). Float64 summation order can still differ from
    the JVM fold by an ulp near a boundary; the equivalence test
    pins real data and the registry twin
    (emb_cells_arrow_assign) oracle-hashes this path end-to-end."""
    from .dedup import spread

    cs = sorted(cents)
    schema = f"{id_col} long, cell int"

    def fn(batches):
        import numpy as np
        import pandas as pd

        cells = np.array([c for c, _ in cs], dtype=np.int32)
        C = np.array([v for _, v in cs], dtype=np.float64)
        cn = np.sqrt((C * C).sum(axis=1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.sqrt((V * V).sum(axis=1))
            denom = np.outer(vn, cn)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, (V @ C.T) / denom, 0.0)
            # HALF-AWAY-FROM-ZERO at 6dp, exactly Spark's ROUND /
            # the DuckDB oracle — np.round is half-to-even, which
            # could flip an argmax on an exact .5e-6 boundary when
            # BLAS summation order lands there
            r6 = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
            best = np.argmax(r6, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cell": cells[best],
                }
            )

    return spread(emb.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        fn, schema=schema
    )


def assign_cells_frame(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) via whichever assign path fits ``len(cents)`` —
    the in-row literal argmax under :data:`LARGE_K_ASSIGN`, the
    Arrow matmul above it. Same assignment either way."""
    if len(cents) <= LARGE_K_ASSIGN:
        return emb.select(
            F.col(id_col), assign_cell(vec_col, cents).alias("cell")
        )
    return assign_cells_arrow(emb, cents, id_col, vec_col)


def train_kmeans_cells(
    emb: DataFrame,
    dim: int,
    n_cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Learn IVF cells: deterministic-seeded spherical k-means, Lloyd
    iterations as DataFrame ops. This is the OFFLINE index-build job —
    it scans the corpus iters+1 times and is run once (see
    :func:`build_ivf_index`), never on the query path (no query
    re-scans the corpus for centroids).

    - seeds: the ``n_cells`` vectors ranked first by
      hash60('ivfseed:' || id) — deterministic (no RNG, no seed
      drift; oracles replay it exactly), well-spread for any ids;
    - assign: in-row argmax cosine against literal centroids (zero
      corpus shuffle — see :func:`assign_cell`);
    - update: per-dim mean via ``n_cells``-group aggregate with
      map-side partials, rounded to 6dp so both engines agree on the
      next round's inputs; an emptied cell keeps its previous centroid.

    Only ``n_cells × dim`` doubles ever reach the driver per round —
    the corpus itself stays distributed."""
    from ..functions.hashing import hash60

    seed_rank = hash60(
        F.concat(F.lit(_SEED_PREFIX), F.col(id_col).cast("string"))
    )
    seeds = (
        emb.select(F.col(id_col), F.col(vec_col))
        .orderBy(seed_rank.asc(), F.col(id_col).asc())
        .limit(n_cells)
        .collect()
    )
    cents = [
        (i, [float(x) for x in row[vec_col]]) for i, row in enumerate(seeds)
    ]
    for _ in range(iters):
        if n_cells <= LARGE_K_ASSIGN:
            assigned = emb.select(
                assign_cell(vec_col, cents).alias("cell"), F.col(vec_col)
            )
        else:
            # large-k Lloyd: Arrow matmul assignment, then one
            # id-keyed join pulls the vectors back for the per-dim mean
            assigned = assign_cells_arrow(emb, cents, id_col, vec_col).join(
                emb.select(F.col(id_col), F.col(vec_col)), id_col
            )
        rows = (
            assigned.groupBy("cell")
            .agg(
                *[
                    F.round(
                        F.avg(F.col(vec_col)[i].cast("double")), 6
                    ).alias(f"c{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        new = {r["cell"]: [float(r[f"c{i}"]) for i in range(dim)] for r in rows}
        cents = [(cell, new.get(cell, vec)) for cell, vec in cents]
    return cents


def build_ivf_index(
    emb: DataFrame,
    dim: int,
    path: str,
    n_cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: ``<path>/centroids`` (tiny parquet
    table) and ``<path>/corpus`` — the full corpus written
    ``partitionBy(cell)``, the inverted lists as partition
    directories. Paid once at build time; every subsequent
    :func:`ivf_search` is a centroid lookup plus a partition-pruned
    scan of probes/n_cells of the data."""
    spark = emb.sparkSession
    cents = train_kmeans_cells(emb, dim, n_cells, iters, id_col, vec_col)
    spark.createDataFrame(
        [(c, v) for c, v in cents], schema="cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        emb.withColumn("cell", assign_cell(vec_col, cents))
        # co-locate each inverted list before writing: without this,
        # every one of the session's shuffle-partition tasks writes a
        # sliver into every cell directory (shuffle.partitions ×
        # n_cells tiny files — measured painful on a stock
        # 400-partition session); with it, files-per-cell = tasks
        # holding that cell (AQE coalesces the empties)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/corpus")
    )
    invalidate_ivf_layout(path)


def load_centroids(spark, index_path: str) -> list[tuple[int, list[float]]]:
    """The persisted centroid table as the Python literal
    :func:`assign_cell` consumes (n_cells·dim doubles — tiny by
    construction)."""
    rows = read_ivf_centroids(spark, index_path).collect()
    return sorted(
        (int(r["cell"]), [float(x) for x in r["centroid"]]) for r in rows
    )


def ivf_append(
    new_vectors: DataFrame,
    index_path: str,
    batch_id: int,
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: route NEW vectors to the FIXED
    learned centroids (standard IVF practice — appends join existing
    inverted lists; re-training is a separate offline job) and land
    them under ``<path>/delta/batch=<id>/cell=<c>``.

    ``<path>/delta`` is an additive store (streaming/store.py) and
    this is its per-batch write: the directory is a deterministic
    function of the batch id, so a replayed batch OVERWRITES its
    previous attempt — at-least-once delivery composes to exactly-once
    index content (the same T5 move as idempotent_parquet_sink).
    Assignment is the same in-row codegen argmax as the build (zero
    corpus shuffle; only the new batch moves), and ``cell`` stays a
    partition column, so :func:`ivf_search`'s pruned scan prunes
    deltas exactly like the base corpus."""
    spark = new_vectors.sparkSession
    cents = load_centroids(spark, index_path)
    store.write_batch(
        new_vectors.withColumn("cell", assign_cell(vec_col, cents))
        .repartition(F.col("cell")),
        f"{index_path}/delta",
        batch_id,
        partition_by="cell",
    )
    invalidate_ivf_layout(index_path)


#: compaction spec of the delta store: append mode (the deltas hold
#: disjoint vectors, so a fold is pure consolidation), each segment
#: re-partitioned by ``cell`` so the pruned scan prunes it like the
#: base corpus.
_IVF_DELTA_FOLDS = {
    "": store.SubFold(partition_by="cell", use_base_path=True)
}

#: relation-frame caches: a ``spark.read.parquet`` costs ~0.1 s of
#: driver-side file listing + schema inference per call, paid per
#: micro-batch in the streaming serve path for an index that did not
#: change. An entry serves only to the session that built it (a frame
#: cannot outlive its session) and only while its stamp still matches
#: the disk: the delta store's :func:`store.live_dirs` for the
#: corpus, the ``centroids`` dir mtime for the centroid table. Both
#: stamps are local ``os`` calls (tens of µs), re-read on every search,
#: so a mutation by another session is seen on the next read.
_IVF_FRAME_CACHE: dict[str, tuple] = {}
_IVF_CENTROID_FRAME_CACHE: dict[str, tuple] = {}


def _layout_key(index_path: str) -> str:
    # '/x' and '/x/' must hit (and invalidate) the SAME entry
    return index_path.rstrip("/")


def invalidate_ivf_layout(index_path: str | None = None) -> None:
    """Drop the cached relation frames for ``index_path`` (or all
    indexes). The stamps already catch every mutation a reader can
    see; this only releases the frames early."""
    for cache in (_IVF_FRAME_CACHE, _IVF_CENTROID_FRAME_CACHE):
        if index_path is None:
            cache.clear()
        else:
            cache.pop(_layout_key(index_path), None)


def read_ivf_centroids(spark, index_path: str) -> DataFrame:
    """The index's centroid table as a DataFrame, relation-cached per
    (index, session, centroids mtime) — see :data:`_IVF_FRAME_CACHE`."""
    key = _layout_key(index_path)
    mtime = os.stat(f"{key}/centroids").st_mtime_ns
    cached = _IVF_CENTROID_FRAME_CACHE.get(key)
    if cached is not None and cached[0] is spark and cached[1] == mtime:
        return cached[2]
    df = spark.read.parquet(f"{key}/centroids")
    _IVF_CENTROID_FRAME_CACHE[key] = (spark, mtime, df)
    return df


def ivf_compact(spark, index_path: str) -> int:
    """Fold every committed delta batch into one segment of the delta
    store — the maintenance companion of :func:`ivf_append`: each
    appended batch adds a layer the search must open per probed
    cell, and a fold turns them back into one. One
    :func:`store.compact_additive` in append mode: only the delta
    tail is rewritten (the built ``corpus`` is never touched), the
    manifest publish is the single commit point, and a crash anywhere
    before it leaves the index serving the unfolded tail. A replayed
    batch id the manifest already covers is never served again nor
    re-folded; batches appended during the fold stay in the tail.
    Returns the number of delta batches folded (0 = nothing to do).
    Centroids are untouched: re-training is the separate offline job
    it always was."""
    delta = f"{_layout_key(index_path)}/delta"
    upto = (store.load_manifest(delta) or {"upto": -1})["upto"]
    ids = [i for i in store.batch_ids(delta) if i > upto]
    if ids:
        store.compact_additive(
            spark, delta, ids[-1] + 1, _IVF_DELTA_FOLDS, compact_every=1
        )
    return len(ids)


def read_ivf_corpus(spark, index_path: str) -> DataFrame:
    """The index's full corpus: the base build unioned with the delta
    store's live view (its segments plus every unfolded batch, from
    one manifest snapshot — streaming/store.py). Every layer carries
    ``cell`` as a partition column, so a cell-routed join prunes the
    scan on each layer. Relation-cached per session while the delta
    store's stamp is unchanged (see :data:`_IVF_FRAME_CACHE`)."""
    key = _layout_key(index_path)
    delta = f"{key}/delta"
    # stamp BEFORE resolving the view: a commit in between leaves a
    # frame newer than its stamp, which the next read just re-reads
    stamp = store.live_dirs(delta)
    cached = _IVF_FRAME_CACHE.get(key)
    if cached is not None and cached[0] is spark and cached[1] == stamp:
        return cached[2]
    corpus = spark.read.parquet(f"{key}/corpus")
    for part in store.store_parts(spark, delta, use_base_path=True):
        corpus = corpus.unionByName(part.select(*corpus.columns))
    _IVF_FRAME_CACHE[key] = (spark, stamp, corpus)
    return corpus

def ivf_search(
    spark,
    index_path: str,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
    probes: int = 1,
) -> DataFrame:
    """Serve top-k from a persisted IVF index: route the query to its
    ``probes`` nearest stored centroids (FAISS's nprobe — the recall
    knob: neighbors just across a cell boundary come back at probes×
    the pruned cost), then brute-force ONLY those cells' partitions.

    The query path touches no full-corpus aggregate: the centroid
    read is n_cells rows, and the corpus join broadcasts the routed
    cells so the partition-column join prunes the scan to the probed
    directories (dynamic partition pruning). Returns (vec_id, label,
    cos) like :func:`cosine_topk` so the strategies are drop-in
    comparable."""
    cents = read_ivf_centroids(spark, index_path)
    best_cells = (
        cents.crossJoin(F.broadcast(query))
        .select(
            F.col("cell"),
            F.round(cosine_similarity("centroid", "__qv"), 6).alias("__ccos"),
        )
        .orderBy(F.desc("__ccos"), F.asc("cell"))
        .limit(probes)
        .select("cell")
    )
    corpus = read_ivf_corpus(spark, index_path)
    members = corpus.join(F.broadcast(best_cells), "cell")
    return cosine_topk(members, query, k, id_col, exclude_id)


# --- random-hyperplane (sign) LSH: the bucketed scale path ---------------

#: Charikar 2002 sign-LSH defaults: 16 signature bits in 4 bands of 4.
#: P(two vectors share a band | angle θ) = (1 - θ/π)^4 per band — at
#: cos 0.9 (θ≈26°) a band matches with p≈0.52, any of 4 with p≈0.95;
#: random pairs (θ≈90°) survive with p≈0.06^… ≈ 0.2% — the same
#: band-amplification trade as the MinHash defaults in dedup.py.
RH_PLANES = 16
RH_BANDS = 4
RH_ROWS = 4

#: auto-banding target: expected bucket size N / 2^rows_per_band held
#: at ~2^RH_TARGET_LOG_BUCKET rows, so the bucket-local self-join does
#: O(bucket) work per row at ANY corpus size.
RH_TARGET_LOG_BUCKET = 4

#: corpus-size guard for PINNED scale knobs. An explicitly fixed band
#: width (rows_per_band) or an under-provisioned fixed cell count
#: makes the candidate self-join quadratic in N — measured, not
#: theorized: at ×100 corpus the 6×6-pinned LSH dedup cost ×422.6,
#: fixed k=8 clustered SemDeDup ×155.8, the 6×6-pinned cluster∩band
#: composition ×126.5 (scripts/scale_probe.py), vs ×9–×12 for the N-derived
#: twins of the SAME operators. Below this bound a pinned config is
#: harmless (the oracle-checked registry fixtures pin knobs for
#: cross-engine reproducibility and stay ≤2k vectors); above it the
#: pair generators raise unless the caller passes
#: ``allow_fixed_knobs=True`` — the quadratic setting cannot ride
#: into a 100 TB job by copy-pasting a test configuration.
FIXED_KNOB_GUARD_N = 50_000

#: auto-k cell sizing for cluster-pruned SemDeDup, shared by the
#: registry queries, their DuckDB oracles (llm_queries builds the
#: same formula in SQL), and the scale probe: k grows with N at
#: ~AUTOK_CELL expected vectors per cell (the published regime —
#: Abbas et al. run k up to N/2000), floored at IVF_CELLS, capped at
#: AUTOK_CAP.
AUTOK_CAP = 1024
AUTOK_CELL = 512


def auto_k_cells(n: int) -> int:
    """N-derived k-means cell count for clustered SemDeDup — see
    :data:`AUTOK_CELL`. One definition so the Spark queries, the
    oracle SQL builder, and scripts/scale_probe.py cannot drift."""
    import math

    return max(IVF_CELLS, min(AUTOK_CAP, math.ceil(n / AUTOK_CELL)))


def _guard_fixed_knobs(n: int, detail: str) -> None:
    """Raise when a pinned scale knob meets a corpus the knob cannot
    survive (> :data:`FIXED_KNOB_GUARD_N` vectors). Callers that
    measured the trade (scale probes, deliberately bounded corpora)
    pass ``allow_fixed_knobs=True`` at the operator entry point and
    never reach here."""
    raise ValueError(
        f"pinned scale knob on a {n:,}-row corpus "
        f"(> FIXED_KNOB_GUARD_N={FIXED_KNOB_GUARD_N:,}): {detail}. "
        "Candidate pairs grow quadratically at a fixed knob — "
        "measured ×127–×423 cost at ×100 corpus. "
        "Use the N-derived defaults (rows_per_band=None / "
        "k=auto_k_cells(n)) or pass allow_fixed_knobs=True if the "
        "quadratic cost is understood and bounded."
    )


def auto_lsh_params(
    n: int,
    base_bands: int = RH_BANDS,
    base_rows: int = RH_ROWS,
) -> tuple[int, int]:
    """(bands, rows_per_band) derived from corpus size ``n`` — a
    scaling probe showed a FIXED band width goes quadratic (candidate
    pairs grow O(bands · N² / 2^rows_per_band): ×12.9 cost at ×10 rows
    with the pinned 4-bit default), so width must grow with log₂(N).

    - ``rows_per_band = max(base, ceil(log2 n) - TARGET)`` holds the
      expected bucket at ~2^TARGET rows: per-row verify work is then
      constant in N and total candidates grow ~linearly.
    - each extra signature bit lowers P(band match) by the Charikar
      factor (1-θ/π), so ``bands`` grows by one per extra bit as
      partial recall compensation — a deliberate trade (full
      compensation needs bands ∝ (1-θ/π)^-Δrows, which re-inflates
      the candidate set; callers needing pinned recall at huge N
      should pass both knobs explicitly, SemDeDup-style k-means
      partitions being the far end of that trade).
    """
    import math

    rows = max(base_rows, math.ceil(math.log2(max(n, 2))) - RH_TARGET_LOG_BUCKET)
    bands = base_bands + max(0, rows - base_rows)
    return bands, rows


def random_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, i) is
    derived from md5('rp:<p>:<i>') exactly like functions.hashing's
    hash60, mapped to [-1, 1]. Python-side constants — both the Spark
    plan and the DuckDB oracle consume the identical literals, so
    bucketing is reproducible everywhere (no RNG, no seed drift)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"rp:{p}:{i}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def rh_signature_bits(
    emb_col: Column | str, planes: list[list[float]]
) -> Column:
    """array<int> of sign bits, one per hyperplane: dot(v, p) >= 0.

    All planes ride in as ONE array<array<double>> literal and the
    bits come out of ONE ``transform`` whose lambda loops at runtime
    — semantically identical to per-plane unrolled folds (same
    sequential zip_with/aggregate dot as functions.vectors.dot, same
    doubles), but the codegen tree is n_planes× smaller: unrolling
    16 separate 64-element literal dots made Janino compilation
    (~10 s) dominate the whole LSH pass regardless of data size."""
    c = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    # one py4j call for the whole plane table (functions.literals):
    # the element-wise F.lit loop cost ~1.5 s of driver round-trips
    # per plan BUILD for a 36×64 table — per micro-batch in the
    # ingest-screening loops, dominating their per-batch wall clock
    from ..functions.literals import double_matrix_lit

    planes_lit = double_matrix_lit(planes)
    return F.transform(
        planes_lit,
        lambda plane: (
            F.aggregate(
                F.zip_with(
                    c, plane, lambda x, y: x.cast("double") * y.cast("double")
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0
        ).cast("int"),
    )


def rh_band_buckets(
    emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    bands: int = RH_BANDS,
    rows_per_band: int = RH_ROWS,
    carry: tuple[str, ...] = (),
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode each vector into ``bands`` bucket keys
    '<band>:<bit..bit>' — identical LSH-amplification shape to
    dedup.lsh_buckets, so candidate generation is the same
    bucket-local self-join, never all-pairs.

    The signature array materializes behind an ``explode(array())``
    barrier before the band keys slice it — Catalyst has no CSE for
    higher-order functions, so without the barrier each of the
    ``bands``·``rows_per_band`` bit references would re-run the whole
    signature transform (the tokenize-once lesson, see
    textstats._with_tokens).

    ``carry`` names extra columns to ride along into the bucket
    frame (computed once per VECTOR, before the band explode) — the
    zero-extra-shuffle hook :func:`cluster_banded_near_dup_pairs`
    uses to tag each bucket row with its k-means cell. ``vec_col``
    names the vector column to hash (callers exposing their own
    vec_col knob — e.g. semantic_decontaminate — must thread it here,
    or a non-default column silently hashes the wrong array)."""
    sig = emb.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(
            F.array(rh_signature_bits(vec_col, planes))
        ).alias("__bits"),
    )
    bits = F.col("__bits")
    keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.get(bits, b * rows_per_band + r).cast("string")
                  for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(keys).alias("bucket"),
    )


def rh_near_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    bands: int | None = None,
    rows_per_band: int | None = None,
    max_bucket: int | None = None,
    approx_count: int | None = None,
    allow_fixed_knobs: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs: sign-LSH band buckets →
    bucket-local candidate self-join → exact cosine ≥ threshold on
    candidates only. The vector payload joins back by id, so 64·8
    bytes per row never ride the bucket shuffle (same shape as
    dedup.near_dup_pairs).

    **The scale knob is rows_per_band — and it now defaults to
    N-derived.** A band key has 2^rows_per_band possible values, so
    expected bucket size is N / 2^rows_per_band and the candidate
    self-join produces O(bands · N² / 2^rows_per_band) pairs —
    quadratic in N at FIXED bits (measured ×12.9 cost at ×10 corpus
    with the old pinned 4-bit default). When ``rows_per_band`` is
    None, :func:`auto_lsh_params` sizes it from the corpus count
    (``approx_count`` hint if given, else one cheap narrow
    ``count()``) so buckets — and per-row verify cost — stay constant
    at any N; the recall trade moves along
    P(band match) = (1-θ/π)^rows_per_band, partially compensated with
    more bands. Passing both knobs explicitly pins the bucketing
    exactly (the oracle-checked registry queries do, for
    reproducibility across engines) — but a pinned width on a corpus
    over :data:`FIXED_KNOB_GUARD_N` raises unless
    ``allow_fixed_knobs=True``, because the measured cost of that
    exact mistake is ×422.6 at ×100 corpus (scripts/scale_probe.py).
    ``max_bucket`` hard-caps degenerate buckets (identical to the
    MinHash cap in dedup.near_dup_join)."""
    from ..materialize import materialize
    from .dedup import lsh_candidate_pairs

    if rows_per_band is None:
        n = approx_count if approx_count is not None else emb.count()
        auto_bands, rows_per_band = auto_lsh_params(
            n, base_bands=bands if bands is not None else RH_BANDS
        )
        if bands is None:
            bands = auto_bands
    else:
        if not allow_fixed_knobs:
            n = approx_count if approx_count is not None else emb.count()
            if n > FIXED_KNOB_GUARD_N:
                _guard_fixed_knobs(
                    n, f"explicit rows_per_band={rows_per_band} pins "
                    "the LSH bucket count while N grows"
                )
        if bands is None:
            bands = RH_BANDS
    planes = random_hyperplanes(bands * rows_per_band, dim)
    # materialize: the bucket frame's signature transform (all the
    # hyperplane dots) is consumed by both self-join sides (and the
    # cap count when set) — without this it re-computes per subtree,
    # same reason near_dup_pairs materializes its shingle sets
    buckets = materialize(
        rh_band_buckets(emb, planes, id_col, bands, rows_per_band)
    )
    # candidate generation IS MinHash's (dedup.lsh_candidate_pairs):
    # same bucket-local self-join, same cap semantics — only the
    # output column names differ
    cands = (
        lsh_candidate_pairs(
            buckets.withColumnRenamed(id_col, "doc_id"),
            max_bucket=max_bucket,
        )
        .withColumnRenamed("doc_a", "vec_a")
        .withColumnRenamed("doc_b", "vec_b")
    )
    return _verify_cosine_pairs(emb, cands, threshold, id_col)


def _verify_cosine_pairs(
    emb: DataFrame,
    cands: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine verify over a (vec_a, vec_b) candidate frame —
    the shared decision stage of :func:`rh_near_dup_pairs` and
    :func:`cluster_near_dup_pairs`. The vector payload joins back by
    id so embeddings never ride the candidate shuffle, and norms are
    computed ONCE per vector in the payload projections: the per-pair
    cosine then folds only the dot product — a vector in p candidate
    pairs otherwise re-folds its norm p times (measured ~2.6 s of a
    3.4 s verify stage at sf0.1). Same arithmetic as
    cosine_similarity (sqrt of the same fold, then the same
    division), so the 6dp-rounded value — and the oracle hash — are
    bit-identical."""
    from ..functions.vectors import dot, l2_norm

    ea = emb.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("__ea"),
        l2_norm(vec_col).alias("__na"),
    )
    eb = emb.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("__eb"),
        l2_norm(vec_col).alias("__nb"),
    )
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn(
            "cos",
            F.round(
                dot("__ea", "__eb") / (F.col("__na") * F.col("__nb")), 6
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


class EvalIndex(NamedTuple):
    """Frozen eval/benchmark side of :func:`semantic_decontaminate`:
    the band buckets and (vector, norm) payloads of the eval set,
    materialized ONCE. Benchmarks are frozen while training data
    keeps arriving, so an ingest-time screening loop (the
    streaming_decontaminate_parity shape) prepares this once and
    reuses it every micro-batch — without it, each batch re-plans and
    re-runs the eval-side plane projection (a bands·rows_per_band·dim
    literal expression, the most expensive thing Janino sees in that
    plan) against a set that never changed."""

    bands: int
    rows_per_band: int
    #: (id_col, bucket) — output of rh_band_buckets on the eval set
    buckets: DataFrame
    #: (id_col, vec_col, norm) — verify-side payloads
    vectors: DataFrame


def prepare_eval_index(
    evalset: DataFrame,
    dim: int,
    bands: int,
    rows_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> EvalIndex:
    """Materialize the eval side once for repeated
    :func:`semantic_decontaminate` calls (same planes as the train
    side will derive — random_hyperplanes is deterministic in
    (count, dim))."""
    from ..functions.vectors import l2_norm
    from ..materialize import materialize

    planes = random_hyperplanes(bands * rows_per_band, dim)
    buckets = materialize(
        rh_band_buckets(
            evalset, planes, id_col, bands, rows_per_band, vec_col=vec_col
        ).select(id_col, "bucket"),
    )
    vectors = materialize(
        evalset.select(
            id_col, vec_col, l2_norm(vec_col).alias("norm")
        ),
    )
    # the two materializations are independent — force them as
    # concurrent jobs (guide §2.6) instead of two sequential eager
    # passes; each is exactly the job it was
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(lambda df: df.count(), (buckets, vectors)))
    return EvalIndex(bands, rows_per_band, buckets, vectors)


def semantic_decontaminate(
    train: DataFrame,
    evalset: DataFrame | None,
    dim: int,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int | None = None,
    rows_per_band: int | None = None,
    approx_count: int | None = None,
    allow_fixed_knobs: bool = False,
    eval_index: EvalIndex | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination (the semantic
    sibling of dedup.decontaminate's 5-gram overlap, per the
    contamination analyses in GPT-3 App. C / SemDeDup §5): flag every
    TRAIN vector whose cosine to some EVAL vector is ≥ ``threshold``.

    Candidates come from a CROSS-frame sign-LSH bucket join — both
    frames hash through the SAME hyperplanes, so a train row is only
    compared to eval rows sharing a band bucket, never |train|·|eval|
    all-pairs. The exact-cosine verify joins vectors back by id
    (payload never rides the bucket shuffle) and reuses the 6dp fold
    of :func:`_verify_cosine_pairs` arithmetic.

    Scale shape: the eval set is small and fixed while train grows,
    so per-bucket work is |bucket∩train|·|bucket∩eval| — linear in N
    at N-derived band width. A PINNED width on a train corpus over
    :data:`FIXED_KNOB_GUARD_N` raises unless ``allow_fixed_knobs``
    (same footgun class as rh_near_dup_pairs' measured ×422 at ×100).

    Returns (``id_col``, top_eval_id, max_cos): one row per
    contaminated train vector, its best-matching eval vector
    (max cos, ties to the smallest eval id) and that cosine —
    anti-join the result against train to get the clean corpus."""
    from ..functions.vectors import dot, l2_norm

    if eval_index is not None:
        if bands not in (None, eval_index.bands) or rows_per_band not in (
            None,
            eval_index.rows_per_band,
        ):
            raise ValueError(
                "bands/rows_per_band conflict with the frozen eval index "
                f"({eval_index.bands}x{eval_index.rows_per_band})"
            )
        bands, rows_per_band = eval_index.bands, eval_index.rows_per_band
        if not allow_fixed_knobs:
            n = approx_count if approx_count is not None else train.count()
            if n > FIXED_KNOB_GUARD_N:
                _guard_fixed_knobs(
                    n, "a frozen eval index pins the LSH bucket count "
                    "while the train corpus grows",
                )
    elif rows_per_band is None:
        n = approx_count if approx_count is not None else train.count()
        auto_bands, rows_per_band = auto_lsh_params(
            n, base_bands=bands if bands is not None else RH_BANDS
        )
        if bands is None:
            bands = auto_bands
    else:
        if not allow_fixed_knobs:
            n = approx_count if approx_count is not None else train.count()
            if n > FIXED_KNOB_GUARD_N:
                _guard_fixed_knobs(
                    n, f"explicit rows_per_band={rows_per_band} pins "
                    "the LSH bucket count while the train corpus grows"
                )
        if bands is None:
            bands = RH_BANDS
    planes = random_hyperplanes(bands * rows_per_band, dim)
    tb = rh_band_buckets(
        train, planes, id_col, bands, rows_per_band, vec_col=vec_col
    )
    if eval_index is not None:
        eb = eval_index.buckets
        ev = eval_index.vectors.select(
            F.col(id_col).alias("__eid"),
            F.col(vec_col).alias("__ev"),
            F.col("norm").alias("__en"),
        )
    else:
        eb = rh_band_buckets(
            evalset, planes, id_col, bands, rows_per_band, vec_col=vec_col
        )
        ev = evalset.select(
            F.col(id_col).alias("__eid"),
            F.col(vec_col).alias("__ev"),
            l2_norm(vec_col).alias("__en"),
        )
    cands = (
        tb.select("bucket", F.col(id_col).alias("__tid"))
        .join(
            eb.select("bucket", F.col(id_col).alias("__eid")), "bucket"
        )
        .select("__tid", "__eid")
        .distinct()
    )
    tv = train.select(
        F.col(id_col).alias("__tid"),
        F.col(vec_col).alias("__tv"),
        l2_norm(vec_col).alias("__tn"),
    )
    verified = (
        cands.join(tv, "__tid")
        .join(ev, "__eid")
        .withColumn(
            "__cos",
            F.round(
                dot("__tv", "__ev") / (F.col("__tn") * F.col("__en")), 6
            ),
        )
        .filter(F.col("__cos") >= threshold)
    )
    # one agg, no window: max over (cos, -eval_id) picks the highest
    # rounded cosine, ties to the SMALLEST eval id — deterministic in
    # both engines
    best = F.max(
        F.struct(F.col("__cos"), (-F.col("__eid")).alias("__neg"))
    ).alias("__best")
    return (
        verified.groupBy("__tid")
        .agg(best)
        .select(
            F.col("__tid").alias(id_col),
            (-F.col("__best.__neg")).alias("top_eval_id"),
            F.col("__best.__cos").alias("max_cos"),
        )
    )


def truncated_overlap_curve(
    emb: DataFrame,
    query_id: int,
    dims_list: tuple[int, ...] = (8, 16, 32),
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style dimension truncation, with the quality trade
    MEASURED: retrieval over only the first ``d`` embedding
    dimensions (the MRL deployment move — Kusupati et al. 2022,
    "Matryoshka Representation Learning" — cutting index bytes and
    dot-product cost d/D) scored
    as top-``k`` overlap against full-dimension search. The
    embedding-space analog of ``quantize_int8``'s roundtrip gate:
    one decides bytes-per-dim, this decides number-of-dims.

    Plan shape: every per-dimension cosine computes in ONE corpus
    scan (a single projection emits cos_full and every truncated
    cos — slicing a prefix is free relative to the fold), the scored
    narrow frame is materialized, and each top-k is a TakeOrdered
    over it — per-ordering cost is k·partitions rows, never a
    re-scan. Returns (dims, overlap) rows, overlap ∈ [0, 1]."""
    from functools import reduce

    from ..functions.vectors import cosine_similarity
    from ..materialize import materialize

    query = query_vector(emb, query_id, id_col)
    cols = [
        F.col(id_col),
        F.round(cosine_similarity("embedding", "__qv"), 6).alias("cos_full"),
    ]
    for d in dims_list:
        cols.append(
            F.round(
                cosine_similarity(
                    F.slice(F.col("embedding"), 1, d),
                    F.slice(F.col("__qv"), 1, d),
                ),
                6,
            ).alias(f"cos_{d}")
        )
    scored = materialize(
        emb.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(query))
        .select(*cols)
    )
    full = scored.orderBy(F.desc("cos_full"), F.asc(id_col)).limit(k).select(
        id_col
    )
    parts = []
    for d in dims_list:
        top_d = (
            scored.orderBy(F.desc(f"cos_{d}"), F.asc(id_col))
            .limit(k)
            .select(id_col)
        )
        parts.append(
            top_d.join(full, id_col)
            .agg(F.round(F.count("*") / float(k), 6).alias("overlap"))
            .select(F.lit(d).alias("dims"), "overlap")
        )
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("dims")


def quantize_int8(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard ANN
    memory/bandwidth move (4 bytes → 1 byte per dim; FAISS's SQ8
    scheme): scale = max|v|/127, q_i = round(v_i/scale), dequantized
    value q_i·scale.

    Adds ``q`` (array<int>), ``scale`` (double) and ``roundtrip_cos``
    (cosine between the original and dequantized vector — the
    quality-loss measure a pipeline gates on). All codegen array ops,
    zero shuffle, zero Python."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, maxabs / 127.0).otherwise(F.lit(1.0))
    out = emb.withColumn("__v", v).withColumn("scale", scale)
    q = F.transform(F.col("__v"), lambda x: F.round(x / F.col("scale")).cast("int"))
    out = out.withColumn("q", q)
    deq = F.transform(F.col("q"), lambda x: x.cast("double") * F.col("scale"))
    # zero vectors quantize losslessly; defining their round-trip as 1.0
    # also keeps the cosine's norm division away from ANSI ÷0
    rt = F.when(
        maxabs > 0, F.round(cosine_similarity("__v", deq), 6)
    ).otherwise(F.lit(1.0))
    return out.withColumn("roundtrip_cos", rt).drop("__v")


# --- binary (sign-bit) quantization + Hamming serving scan ---------------

#: Hamming candidate over-fetch before the exact-cosine rerank: the
#: standard two-stage binary-search recipe (e.g. FAISS's
#: IndexBinaryFlat + refine) — Hamming on 1 bit/dim is a coarse but
#: monotone-ish proxy for angle, so fetch k·RERANK candidates cheaply
#: and let the exact metric order the short list.
HAMMING_RERANK = 4


def _pack_sign_bits(vec_col: Column | str, start: int, width: int = 32) -> Column:
    """Pack ``width`` sign bits (``x > 0``) of a vector slice into one
    BIGINT, MSB-first (element ``start`` gets weight 2^(width-1)).

    A single fold (``F.aggregate``) over the slice — codegen'd, zero
    shuffle. Halves of 32 keep every intermediate ≤ 2^32, far from
    BIGINT's sign bit, so the fold is ANSI-overflow-free by
    construction (a full 64-bit pack would overflow on the final
    ``acc*2`` whenever bit 63 is set)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.aggregate(
        F.slice(c, start, width),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2) + F.when(x > 0, 1).otherwise(0),
    )


def binary_quantize(
    emb: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """1-bit-per-dimension binary quantization: two BIGINT half-words
    (``bits_hi`` = dims 1..32, ``bits_lo`` = dims 33..64) carrying the
    sign bit of every dimension — 256 bytes of float32 become 16
    bytes per vector (the classic 32× shrink of binary embeddings;
    sign-of-coordinate is LSH for angular distance, Charikar 2002).

    At 100 TB the packed words live in a bits-only sidecar written at
    ingest (like the int8 ``q`` codes), so the serving scan reads 16
    bytes/vector instead of the embedding column; Hamming distance is
    two XOR+POPCNT instructions per half — pure codegen arithmetic,
    no shuffle, no Python."""
    assert dim == 64, "packing layout is fixed at 2 x 32-bit halves"
    return emb.withColumn(
        "bits_hi", _pack_sign_bits(vec_col, 1)
    ).withColumn("bits_lo", _pack_sign_bits(vec_col, 33))


def hamming_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    rerank: int = HAMMING_RERANK,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Two-stage binary ANN: Hamming top-(k·rerank) over the packed
    sign bits, then exact-cosine rerank of the short list.

    Stage 1 scans only XOR+bit_count arithmetic on 2 BIGINTs/row and
    compiles to TakeOrderedAndProject (per-partition partial top-k,
    k·rerank-row driver merge — no global sort). Stage 2 touches
    k·rerank rows, so the expensive 64-element cosine fold runs a
    constant number of times regardless of corpus size. Ties at both
    stages break on ``id_col`` so the ranking is reproducible across
    engines. ``query`` is a one-row :func:`query_vector` frame."""
    from ..functions.vectors import dot, l2_norm

    q = F.broadcast(
        query.select(
            F.col("__qv"),
            F.col("__qn"),
            _pack_sign_bits("__qv", 1).alias("__qhi"),
            _pack_sign_bits("__qv", 33).alias("__qlo"),
        )
    )
    scored = binary_quantize(emb).crossJoin(q)
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    cand = (
        scored.select(
            F.col(id_col),
            F.col("label"),
            F.col("embedding"),
            F.col("__qv"),
            F.col("__qn"),
            (
                F.bit_count(F.col("bits_hi").bitwiseXOR(F.col("__qhi")))
                + F.bit_count(F.col("bits_lo").bitwiseXOR(F.col("__qlo")))
            )
            .cast("int")
            .alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(k * rerank)
    )
    return (
        cand.select(
            F.col(id_col),
            F.col("label"),
            F.col("hamming"),
            F.round(
                dot("embedding", "__qv") / (l2_norm("embedding") * F.col("__qn")),
                6,
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


# --- product quantization (FAISS IVF-PQ's fine quantizer, PQ paper:
# Jégou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011) ---------------------------------------------------------

PQ_M = 4  #: subspaces (dim must divide evenly)
PQ_K = 8  #: codes per subspace codebook
PQ_ITERS = 2  #: Lloyd rounds per subspace
_PQ_SEED_PREFIX = "pqseed:"


def _code_literal(book: list[tuple[int, list[float]]]) -> Column:
    """One subspace codebook as a literal array<struct<code,v>> —
    k × sub_dim doubles baked into the plan (codebooks are tiny by
    construction, like :func:`_centroid_literal` — and built the same
    one-py4j-call way)."""
    from ..functions.literals import keyed_vector_lit

    return keyed_vector_lit(book, "code", "v")


def assign_code(
    sub_col: Column, book: list[tuple[int, list[float]]]
) -> Column:
    """In-row nearest-code id for ONE subspace: argmin squared-L2
    against every literal codebook entry (codegen'd transform, zero
    shuffle, zero UDF), encoded as the fieldwise array_min of
    struct(d2 rounded to 6dp, code) — ties break to the smallest
    code, and the 6dp round makes assignment reproducible across
    engines (the :func:`assign_cell` recipe, in L2 because PQ
    reconstruction error is Euclidean)."""
    from ..functions.vectors import l2_sq

    scored = F.transform(
        _code_literal(book),
        lambda ct: F.struct(
            F.round(l2_sq(sub_col, ct["v"]), 6).alias("d2"),
            ct["code"].alias("code"),
        ),
    )
    return F.array_min(scored)["code"].cast("int")


def _sub_slice(vec_col: Column | str, m: int, sub_dim: int) -> Column:
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.slice(c, m * sub_dim + 1, sub_dim)


def train_pq_codebooks(
    emb: DataFrame,
    dim: int,
    m_sub: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Learn the PQ codebooks: one deterministic-seeded L2 k-means per
    subspace, all ``m_sub`` subspaces trained from the SAME corpus
    scans (one assignment scan + one k·m_sub-group aggregate per Lloyd
    round — never a scan per subspace).

    - seeds: the ``k`` vectors ranked first by hash60('pqseed:'||id)
      (deterministic, oracle-replayable — the train_kmeans_cells
      recipe under a distinct prefix so the coarse and fine quantizers
      never share seeds); seed ``i``'s subvector ``m`` initializes
      code ``i`` of codebook ``m``;
    - assign: in-row argmin squared-L2 per subspace
      (:func:`assign_code`);
    - update: per-dim mean via a (m, code)-group aggregate with
      map-side partials, 6dp-rounded; an emptied code keeps its
      previous entry.

    Only ``m_sub × k × sub_dim`` doubles reach the driver per round.
    Returns ``books[m] = [(code, subvector), ...]``."""
    from ..functions.hashing import hash60

    assert dim % m_sub == 0, "dim must divide into equal subspaces"
    sub_dim = dim // m_sub
    seed_rank = hash60(
        F.concat(F.lit(_PQ_SEED_PREFIX), F.col(id_col).cast("string"))
    )
    seeds = (
        emb.select(F.col(id_col), F.col(vec_col))
        .orderBy(seed_rank.asc(), F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    books = [
        [
            (
                i,
                [
                    float(x)
                    for x in row[vec_col][m * sub_dim : (m + 1) * sub_dim]
                ],
            )
            for i, row in enumerate(seeds)
        ]
        for m in range(m_sub)
    ]
    for _ in range(iters):
        # ONE corpus scan assigns every subspace, explodes to skinny
        # (m, code, subvec) rows, and map-side-combines into at most
        # m_sub × k groups — the corpus itself never shuffles wide
        assigned = emb.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            assign_code(
                                _sub_slice(vec_col, m, sub_dim), books[m]
                            ).alias("code"),
                            _sub_slice(vec_col, m, sub_dim).alias("sv"),
                        )
                        for m in range(m_sub)
                    ]
                )
            ).alias("a")
        ).select("a.m", "a.code", "a.sv")
        rows = (
            assigned.groupBy("m", "code")
            .agg(
                *[
                    F.round(
                        F.avg(F.col("sv")[i].cast("double")), 6
                    ).alias(f"c{i}")
                    for i in range(sub_dim)
                ]
            )
            .collect()
        )
        new = {
            (r["m"], r["code"]): [float(r[f"c{i}"]) for i in range(sub_dim)]
            for r in rows
        }
        books = [
            [
                (code, new.get((m, code), vec))
                for code, vec in books[m]
            ]
            for m in range(m_sub)
        ]
    return books


def pq_encode(
    emb: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Compress each vector to ``m_sub`` small-int codes (dim×4 bytes
    → m_sub bytes — the representation a 100 TB corpus actually
    serves from): one scan, all-subspace argmin in-row, zero shuffle.
    Output: (id, *keep, codes array<int>)."""
    m_sub = len(books)
    sub_dim = dim // m_sub
    codes = F.array(
        *[
            assign_code(_sub_slice(vec_col, m, sub_dim), books[m])
            for m in range(m_sub)
        ]
    )
    return emb.select(
        F.col(id_col), *[F.col(c) for c in keep], codes.alias("codes")
    )


def pq_search(
    enc: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the ENCODED corpus: the
    query is scored against each subspace codebook ONCE on the driver
    (m_sub × k dot products + norms, 6dp-rounded lookup tables baked
    into the plan as literals), then every stored vector's approximate
    cosine is m_sub array lookups + a handful of adds — no vector
    math, no Arrow, no shuffle on the scoring path, and a TakeOrdered
    top-k instead of a global sort. This is why PQ serves at scale:
    the scan reads m_sub ints per row instead of dim floats."""
    import math

    from ..functions.literals import double_array_lit

    m_sub = len(books)
    sub_dim = len(query_vec) // m_sub
    qn = round(
        math.sqrt(sum(float(x) * float(x) for x in query_vec)), 6
    )
    ip_tabs, n2_tabs = [], []
    for m in range(m_sub):
        qs = [float(x) for x in query_vec[m * sub_dim : (m + 1) * sub_dim]]
        ips, n2s = [], []
        for _code, vec in books[m]:
            ips.append(round(sum(a * b for a, b in zip(qs, vec)), 6))
            n2s.append(round(sum(b * b for b in vec), 6))
        ip_tabs.append(double_array_lit(ips))
        n2_tabs.append(double_array_lit(n2s))
    s_ip = sum(
        (
            F.element_at(ip_tabs[m], F.col("codes")[m] + 1)
            for m in range(m_sub)
        ),
        F.lit(0.0),
    )
    s_n2 = sum(
        (
            F.element_at(n2_tabs[m], F.col("codes")[m] + 1)
            for m in range(m_sub)
        ),
        F.lit(0.0),
    )
    denom = F.lit(qn) * F.sqrt(s_n2)
    acos = F.round(
        F.when(denom > 0, s_ip / denom).otherwise(F.lit(0.0)), 6
    )
    out = enc
    if exclude_id is not None:
        out = out.where(F.col(id_col) != F.lit(exclude_id))
    return (
        out.withColumn("acos", acos)
        .drop("codes")
        .orderBy(F.desc("acos"), F.asc(id_col))
        .limit(k)
    )


def build_ivfpq_index(
    emb: DataFrame,
    dim: int,
    path: str,
    n_cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    m_sub: int = PQ_M,
    k: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = ("label",),
) -> None:
    """Materialize the two-level FAISS-style index (IVF coarse router
    over PQ-compressed lists): ``<path>/centroids`` (coarse cells),
    ``<path>/books`` (the (m, code, centroid) fine codebooks — both
    tiny parquet tables) and ``<path>/codes`` — the corpus stored as
    PQ codes ONLY, written ``partitionBy(cell)``. Direct coding (no
    per-cell residual): cosine scoring makes residual coding
    ill-posed, and shared codebooks mean appends and compactions
    reuse the same books without retraining — the trade is recall,
    recovered with ``probes`` (FAISS's IndexIVFPQ under
    ``by_residual=false``).

    Build cost: two Lloyd trainings (each one scan + tiny-group
    aggregate per round) and ONE encode scan; at serve time a probe
    reads ``probes/n_cells`` of a corpus that is itself ~dim×4/m_sub
    times smaller than the raw vectors."""
    spark = emb.sparkSession
    cents = train_kmeans_cells(emb, dim, n_cells, iters, id_col, vec_col)
    spark.createDataFrame(
        [(c, v) for c, v in cents], schema="cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    books = train_pq_codebooks(emb, dim, m_sub, k, pq_iters, id_col, vec_col)
    spark.createDataFrame(
        [(m, c, v) for m, book in enumerate(books) for c, v in book],
        schema="m int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/books")
    sub_dim = dim // m_sub
    codes = F.array(
        *[
            assign_code(_sub_slice(vec_col, m, sub_dim), books[m])
            for m in range(m_sub)
        ]
    )
    (
        emb.select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            codes.alias("codes"),
            assign_cell(vec_col, cents).alias("cell"),
        )
        # co-locate each inverted list before writing (see
        # build_ivf_index for the measured small-files rationale)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )


def load_pq_books(spark, index_path: str) -> list[list[tuple[int, list[float]]]]:
    """The persisted fine codebooks as the Python literal
    :func:`pq_search` / :func:`assign_code` expect."""
    rows = spark.read.parquet(f"{index_path}/books").collect()
    m_sub = max(r["m"] for r in rows) + 1
    books: list[list[tuple[int, list[float]]]] = [[] for _ in range(m_sub)]
    for r in sorted(rows, key=lambda r: (r["m"], r["code"])):
        books[r["m"]].append(
            (int(r["code"]), [float(x) for x in r["centroid"]])
        )
    return books


def ivfpq_search(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    probes: int = 1,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC top-k through the two-level index: route the query to its
    ``probes`` nearest coarse cells ON THE DRIVER (n_cells × dim
    doubles — the same 6dp-rounded argmax the oracle replays), then
    score ONLY those cells' code partitions. The cell filter is a
    literal IN over the partition column, so the scan is statically
    partition-pruned at plan time (cheaper than DPP — no join at
    all); scoring is m_sub table lookups per row and the top-k is a
    TakeOrdered. Nothing on the serve path reads a raw vector or
    shuffles."""
    import math

    cents = load_centroids(spark, index_path)
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    scored = []
    for cell, v in cents:
        cn = math.sqrt(sum(b * b for b in v))
        cos = (
            sum(float(a) * b for a, b in zip(query_vec, v)) / (qn * cn)
            if qn > 0 and cn > 0
            else 0.0
        )
        scored.append((round(cos, 6), -cell))
    best = sorted(scored, reverse=True)[:probes]
    cells = [-negcell for _, negcell in best]
    books = load_pq_books(spark, index_path)
    enc = spark.read.parquet(f"{index_path}/codes").where(
        F.col("cell").isin(cells)
    ).drop("cell")
    return pq_search(
        enc, books, query_vec, k=k, id_col=id_col, exclude_id=exclude_id
    )


def semantic_dedup(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    max_iters: int = 20,
    bands: int | None = None,
    rows_per_band: int | None = None,
    max_bucket: int | None = None,
    approx_count: int | None = None,
    allow_fixed_knobs: bool = False,
) -> DataFrame:
    """Embedding-space semantic dedup (SemDeDup, Abbas et al. 2023;
    PAPERS.md): near-identical *meanings* — paraphrases, templated
    rewrites — that lexical MinHash can't see, collapsed to one
    survivor per semantic cluster.

    Pipeline: sign-LSH candidate pairs ≥ ``threshold`` cosine
    (:func:`rh_near_dup_pairs` — bucket-local, never all-pairs) →
    connected components over the verified pair graph
    (``dedup.connected_components`` — the same min-label propagation
    as document dup_clusters, one edge-list shuffle per round) →
    (vec_id, cluster_id, is_keep) with the min-id vector as the
    canonical survivor. SemDeDup proper clusters with k-means first;
    the LSH buckets play that role here — both are cheap candidate
    partitions, and the exact-cosine verify is the decision either
    way. Vectors with no ≥-threshold neighbor never enter the edge
    list (they are trivially kept and need no row).

    ``bands``/``rows_per_band``/``max_bucket``/``approx_count`` pass
    through to the LSH stage — rows_per_band is THE corpus-size knob
    and defaults to N-derived via :func:`auto_lsh_params` (see
    :func:`rh_near_dup_pairs`); explicit values pin the bucketing for
    cross-engine reproducibility."""
    from .dedup import connected_components

    pairs = rh_near_dup_pairs(
        emb, dim, threshold, id_col, bands, rows_per_band, max_bucket,
        approx_count, allow_fixed_knobs=allow_fixed_knobs,
    )
    return connected_components(pairs, "vec_a", "vec_b", id_col, max_iters)


def cluster_near_dup_pairs(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
    approx_count: int | None = None,
    allow_fixed_knobs: bool = False,
) -> DataFrame:
    """Within-cluster near-duplicate pairs — the candidate stage of
    cluster-pruned SemDeDup (Abbas et al. 2023, the ACTUAL SemDeDup
    recipe: pairwise cosine only WITHIN each k-means cluster, never
    across). Compare :func:`rh_near_dup_pairs`, whose candidate set
    depends on LSH bucket luck; here it is bounded by cluster
    geometry: Σ|c_i|² pairs total, ≤ N·max(|c_i|).

    Shape: nearest-centroid assignment is an in-row argmax against
    the literal centroid table (:func:`assign_cell` — zero shuffle,
    zero UDF; ``cents`` is the persisted IVF coarse quantizer reused
    verbatim, so clustered dedup shares its training job with the ANN
    index). Only the narrow (id, cell) projection rides the
    cell-keyed self-join; vectors join back by id inside
    :func:`_verify_cosine_pairs`. At 100 TB the scale knob is the
    quantizer's ``n_cells`` — grow it with N (SemDeDup uses
    k ≈ √N-to-N/100) and expected cluster size N/k stays put, so the
    self-join stays near-linear. ``max_cluster`` hard-caps degenerate
    clusters the same way ``max_bucket`` caps LSH buckets: an
    over-cap cell is dropped WHOLE (deterministic — its members
    simply produce no pairs), bounding the worst case at cap² per
    cell.

    Fixed-knob guard: a ``cents`` table whose expected cell size
    n/k exceeds 4·:data:`AUTOK_CELL` on a corpus over
    :data:`FIXED_KNOB_GUARD_N` is an under-provisioned quantizer —
    Θ(N²/k) candidates (measured ×155.8 at ×100 corpus with fixed
    k=8, scripts/scale_probe.py) AND, when ``max_cluster`` is set, most
    cells blow the cap and get dropped whole (a recall collapse, not
    just a cost blowup). Raises unless ``allow_fixed_knobs=True``;
    pass k=:func:`auto_k_cells`(n) centroids to stay in the
    published linear regime."""
    from ..materialize import materialize

    if not allow_fixed_knobs:
        n = approx_count if approx_count is not None else emb.count()
        if (
            n > FIXED_KNOB_GUARD_N
            and n / max(len(cents), 1) > 4 * AUTOK_CELL
        ):
            _guard_fixed_knobs(
                n, f"fixed k={len(cents)} centroids give expected "
                f"cell size ~{n // max(len(cents), 1):,} (auto-k "
                f"target: {AUTOK_CELL})"
            )
    assigned = materialize(assign_cells_frame(emb, cents, id_col, vec_col))
    if max_cluster is not None:
        small = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_cluster)
            .select("cell")
        )
        assigned = assigned.join(small, "cell")
    a = assigned.select(F.col("cell"), F.col(id_col).alias("vec_a"))
    b = assigned.select(F.col("cell"), F.col(id_col).alias("vec_b"))
    cands = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    return _verify_cosine_pairs(emb, cands, threshold, id_col, vec_col)


def semantic_dedup_clustered(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    max_iters: int = 20,
    max_cluster: int | None = None,
    approx_count: int | None = None,
    allow_fixed_knobs: bool = False,
) -> DataFrame:
    """Cluster-pruned semantic dedup — SemDeDup as published (Abbas
    et al. 2023): k-means partitions the corpus, exact cosine decides
    only within clusters, connected components collapse the verified
    pair graph to one min-id survivor per semantic group. The LSH
    variant (:func:`semantic_dedup`) trades recall for obliviousness
    to cluster structure; this one bounds candidates by cluster size
    and reuses the persisted IVF coarse quantizer (``cents``) so the
    expensive training job runs once for ANN serving AND dedup.

    Returns (``id_col``, cluster_id, is_keep) for every vector with
    at least one ≥-threshold within-cluster neighbor, exactly like
    :func:`semantic_dedup` — the two variants are drop-in
    interchangeable downstream."""
    from .dedup import connected_components

    pairs = cluster_near_dup_pairs(
        emb, cents, threshold, id_col, max_cluster=max_cluster,
        approx_count=approx_count, allow_fixed_knobs=allow_fixed_knobs,
    )
    return connected_components(pairs, "vec_a", "vec_b", id_col, max_iters)


def cluster_banded_near_dup_pairs(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    dim: int,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int | None = None,
    rows_per_band: int | None = None,
    max_bucket: int | None = None,
    approx_count: int | None = None,
    allow_fixed_knobs: bool = False,
) -> DataFrame:
    """Hierarchically pruned SemDeDup candidates: a pair qualifies
    only when it shares BOTH its k-means cell AND a sign-LSH band
    bucket. This is the 100 TB composition of the two candidate
    bounds: the cluster term caps LSH bucket degeneracy (a
    boilerplate-dense bucket splits across cells), and the LSH term
    keeps within-cluster work near-linear when a FIXED cell count
    meets growing N — exactly the deployment where the published
    exact-within-cluster recipe (:func:`cluster_near_dup_pairs`,
    Θ(Σ|c_i|²)) stops scaling. Candidates here are a subset of both
    parents', so recall trades exactly like the parents' union of
    caveats (the docstring of each).

    Shape: the cell id is computed once per vector and rides the
    bucket explode via :func:`rh_band_buckets`'s ``carry`` hook — no
    extra join, no extra shuffle vs the plain LSH path; the combined
    (cell, band-bucket) key feeds the same bucket-local self-join
    and the shared exact-cosine verify. ``rows_per_band`` defaults
    to N-derived (:func:`auto_lsh_params`), same as
    :func:`rh_near_dup_pairs` — and like it, an explicitly pinned
    width on a corpus over :data:`FIXED_KNOB_GUARD_N` raises unless
    ``allow_fixed_knobs=True`` (the 6×6 pin measured ×126.5 at ×100
    corpus, scripts/scale_probe.py; the cell term alone does not save a
    pinned band width). A fixed CELL count is deliberately NOT
    guarded here: the band term is what keeps within-cluster work
    near-linear when a fixed quantizer meets growing N — that is
    this operator's reason to exist (its auto-band twin probed ×9.45
    at ×100 over the same fixed k=8 quantizer)."""
    from ..materialize import materialize
    from .dedup import lsh_candidate_pairs

    if rows_per_band is None:
        n = approx_count if approx_count is not None else emb.count()
        auto_bands, rows_per_band = auto_lsh_params(
            n, base_bands=bands if bands is not None else RH_BANDS
        )
        if bands is None:
            bands = auto_bands
    else:
        if not allow_fixed_knobs:
            n = approx_count if approx_count is not None else emb.count()
            if n > FIXED_KNOB_GUARD_N:
                _guard_fixed_knobs(
                    n, f"explicit rows_per_band={rows_per_band} pins "
                    "the LSH bucket count while N grows"
                )
        if bands is None:
            bands = RH_BANDS
    planes = random_hyperplanes(bands * rows_per_band, dim)
    tagged = emb.withColumn("__cell", assign_cell(vec_col, cents))
    buckets = rh_band_buckets(
        tagged, planes, id_col, bands, rows_per_band,
        carry=("__cell",), vec_col=vec_col,
    )
    keyed = materialize(
        buckets.select(
            F.col(id_col),
            F.concat_ws(
                "|", F.col("__cell").cast("string"), F.col("bucket")
            ).alias("bucket"),
        )
    )
    cands = (
        lsh_candidate_pairs(
            keyed.withColumnRenamed(id_col, "doc_id"),
            max_bucket=max_bucket,
        )
        .withColumnRenamed("doc_a", "vec_a")
        .withColumnRenamed("doc_b", "vec_b")
    )
    return _verify_cosine_pairs(emb, cands, threshold, id_col, vec_col)


def semantic_dedup_clustered_banded(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    dim: int,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    max_iters: int = 20,
    bands: int | None = None,
    rows_per_band: int | None = None,
    max_bucket: int | None = None,
    approx_count: int | None = None,
    allow_fixed_knobs: bool = False,
) -> DataFrame:
    """Cluster-AND-band semantic dedup — the scale composition of
    :func:`semantic_dedup_clustered` (published SemDeDup, exact
    within clusters) and :func:`semantic_dedup` (auto-banded LSH):
    candidates must share cell and band bucket, then the usual
    exact-cosine verify → connected components → min-id survivor.
    Same output contract as both parents, drop-in downstream."""
    from .dedup import connected_components

    pairs = cluster_banded_near_dup_pairs(
        emb, cents, dim, threshold, id_col,
        bands=bands, rows_per_band=rows_per_band,
        max_bucket=max_bucket, approx_count=approx_count,
        allow_fixed_knobs=allow_fixed_knobs,
    )
    return connected_components(pairs, "vec_a", "vec_b", id_col, max_iters)


def knn_join(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    query_mod: int = 41,
    id_col: str = "vec_id",
    batch_margin: int | None = None,
    max_query_rows: int = 100_000,
    max_cos: float | None = None,
) -> DataFrame:
    """Batched k-NN join: top-k corpus neighbors for EVERY query in a
    query batch (queries = ``vec_id % query_mod == 0``, corpus = the
    rest) — the retrieval shape behind dataset curation passes like
    SemDeDup's cluster assignment or RETRO-style neighbor lookup.

    Scale design — the naive plan (crossJoin → window rank over
    |corpus|·|Q| rows) shuffles the whole cross product; this one
    never does:

    1. The query batch is small by definition (a retrieval batch);
       its (id, vector) list rides into an Arrow ``mapInPandas``
       closure, exactly like a broadcast dim table.
    2. **Partial top-k, zero shuffle**: each Arrow batch computes a
       vectorized (batch × Q) dot-product matrix in NumPy and emits
       only its local top-``(k + margin)`` candidate ids per query —
       ≤ Q·(k+margin) narrow rows per batch leave the scan.
    3. **Exact verify, JVM-side**: candidates (now tiny) broadcast
       back onto the corpus; the final cosine is the sequential
       ``aggregate`` fold of ``functions.vectors`` (bit-identical to
       the DuckDB oracle's list_sum, unlike NumPy's pairwise SIMD
       sums), rounded to 6dp, ranked by (cos desc, id) in a window
       over the candidate set only.

    The margin (default k) absorbs NumPy-vs-JVM last-ulp rank noise
    at the per-batch cut; the exact global top-k under the final
    metric is a subset of every batch's exact top-k, so candidates
    only need to cover rank k+ulp-jitter locally. Output:
    (query_id, vec_id, cos, rank), rank 1..k per query.

    ``max_cos`` turns the join into HARD-NEGATIVE MINING (the
    contrastive-training primitive): rank only corpus vectors whose
    6dp cosine is ≤ ``max_cos`` — similar, but below the
    near-duplicate band. The numpy partial stage masks
    cos > max_cos + 1e-6 BEFORE its local top-k (an unbanded cut
    would fill all k+margin slots with the excluded near-dups and
    starve the band of candidates); 1e-6 covers both the 6dp
    rounding (5e-7) and numpy-vs-JVM fold drift (~1e-12), and the
    exact JVM re-filter on the ROUNDED cosine decides membership, so
    the band edge is bit-identical to the oracle's."""
    import numpy as np
    import pandas as pd

    from ..functions.vectors import cosine_similarity

    margin = k if batch_margin is None else batch_margin
    queries = emb.filter(F.col(id_col) % query_mod == 0)
    corpus = emb.filter(F.col(id_col) % query_mod != 0)

    # the small-side collect IS the broadcast (same move as a dim
    # table); a retrieval batch is thousands of rows, never
    # corpus-sized — and that assumption is ENFORCED, not assumed:
    # the collect is capped (limit bounds the fetch itself, so an
    # over-sized batch costs cap+1 rows of driver memory, not OOM)
    # and over-cap batches fail loudly with the fix spelled out
    qrows = (
        queries.select(F.col(id_col), "embedding")
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"knn_join query batch exceeds max_query_rows="
            f"{max_query_rows}: the batch rides to every executor as "
            f"a broadcast closure, so an unbounded batch OOMs the "
            f"driver. Split the batch (e.g. run per hash bucket of "
            f"{id_col}) or raise max_query_rows deliberately."
        )
    if not qrows:
        # empty query batch: a well-typed empty result, not a NumPy
        # shape error at plan-construction time
        return emb.sparkSession.createDataFrame(
            [], f"query_id bigint, {id_col} bigint, cos double, rank int"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)  # (Q, D)
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0.0] = 1.0
    take = k + margin

    def partial_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0.0] = 1.0
            sims = (mat @ qmat.T) / norms[:, None] / qnorm[None, :]  # (B, Q)
            if max_cos is not None:
                # -inf never survives a top-k cut: banded-out rows
                # (and their ids) can still be EMITTED at the tail of
                # a short batch, but the exact JVM re-filter drops
                # them — correctness never rests on this mask, only
                # candidate budget does
                sims = np.where(sims <= max_cos + 1e-6, sims, -np.inf)
            top = min(take, len(ids))
            # candidate cut uses the SAME (cos desc, id asc) order as
            # the final rank window: an argpartition on cos alone
            # keeps an ARBITRARY subset of tied rows at the cut, which
            # can drop the tie-break winners when > margin candidates
            # share one value (mass duplicates) — lexsort is
            # O(B log B) per query but tie-exact
            picks = []
            for j in range(len(qids)):
                order = np.lexsort((ids, -sims[:, j]))[:top]
                picks.append(ids[order])
            out_q = np.repeat(qids, top)
            out_v = np.concatenate(picks)
            yield pd.DataFrame({"query_id": out_q, id_col: out_v})

    cands = corpus.select(id_col, "embedding").mapInPandas(
        partial_topk, schema=f"query_id bigint, {id_col} bigint"
    )
    qframe = queries.select(
        F.col(id_col).alias("query_id"), F.col("embedding").alias("__qv")
    )
    # broadcast the query frame: without the hint this tiny×tiny join
    # plans as a shuffle join and the candidate stream — the thing the
    # partial top-k existed to keep shuffle-free — gets an Exchange
    bcand = cands.join(F.broadcast(qframe), "query_id")
    verified = corpus.join(F.broadcast(bcand), id_col).select(
        "query_id",
        F.col(id_col),
        F.round(cosine_similarity("embedding", "__qv"), 6).alias("cos"),
    )
    if max_cos is not None:
        # the band decision happens HERE, on the rounded JVM fold —
        # identical arithmetic to the oracle, so the edge hashes
        verified = verified.filter(F.col("cos") <= max_cos)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cos", F.col("rank").cast("int").alias("rank"))
    )


def ivf_knn_join(
    spark,
    index_path: str,
    k: int = 5,
    probes: int = 2,
    query_mod: int = 41,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched ANN retrieval THROUGH the persisted IVF index: top-k
    neighbors for every query in the batch (queries = corpus ids
    ``% query_mod == 0``), scanning only each query's ``probes``
    nearest cells — :func:`knn_join`'s exact scan replaced by the
    inverted-list index, the production serving shape when the query
    stream is continuous and the corpus is 100 TB.

    Plan: centroids (n_cells rows) × queries (small) rank to a
    (query, cell) routing table; the corpus joins the BROADCAST
    routing on the partition column (scan prunes to the union of
    routed cells), then each candidate scores once per routed query
    of its cell and a window ranks within query. Per-query cost is
    probes/n_cells of the corpus; recall is the IVF trade
    (emb_ivf_recall_curve measures it).

    Returns (query_id, vec_id, cos, rank) like :func:`knn_join`."""
    corpus = read_ivf_corpus(spark, index_path)
    queries = corpus.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("query_id"), F.col("embedding").alias("__qv")
    )
    return ivf_serve(
        spark,
        index_path,
        queries,
        k=k,
        probes=probes,
        id_col=id_col,
        exclude=F.col(id_col) % query_mod != 0,
    )


def ivf_serve(
    spark,
    index_path: str,
    queries,
    k: int = 5,
    probes: int = 2,
    id_col: str = "vec_id",
    exclude=None,
):
    """Serve one query batch through the persisted IVF index — the
    retrieval core behind :func:`ivf_knn_join` (which derives its
    query batch from the corpus) and the streaming serve parity
    (which receives query micro-batches from a stream). Because each
    query's result depends only on its own vector and the static
    index, serving a query set in ANY batch partition returns the
    identical row set — the property the streaming parity gates.

    ``queries``: DataFrame (query_id, __qv). ``exclude``: optional
    boolean Column over corpus rows to drop from the candidate side
    (e.g. the query set itself for self-retrieval batches).

    Returns (query_id, ``id_col``, cos, rank), rank ≤ k per query."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine_similarity

    cents = read_ivf_centroids(spark, index_path)
    corpus = read_ivf_corpus(spark, index_path)
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("__ccos"), F.asc("cell")
    )
    routed = (
        cents.crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "__qv",
            "cell",
            F.round(cosine_similarity("centroid", "__qv"), 6).alias("__ccos"),
        )
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= probes)
        .select("query_id", "__qv", "cell")
    )
    cand_src = corpus if exclude is None else corpus.filter(exclude)
    cands = cand_src.join(F.broadcast(routed), "cell")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        cands.select(
            "query_id",
            F.col(id_col),
            F.round(cosine_similarity("embedding", "__qv"), 6).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
