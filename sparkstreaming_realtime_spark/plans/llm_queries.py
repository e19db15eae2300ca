"""LLM-data-pipeline query registry: dedup / similarity / text-analysis
/ multimodal operators over the ``documents`` and ``embeddings``
tables (TESTDATA.md), each with a DuckDB oracle that reproduces the
computation bit-for-bit.

The oracles for the hash-based operators are *generated* from the
same constants as the Spark implementation (hash families, band
layout, token alphabet), so Spark and DuckDB always run the same
algorithm — the comparison checks the engine, not a lookalike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import oracle_hash60_sql
from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import textstats as ts
from .queries import _drain, _staged_stream, _stream_t, _t, register

# --- shared SQL fragments (one token alphabet everywhere) ---

#: DuckDB uses RE2 which understands the same \p{L}\p{N} classes as
#: Spark's Java regex — verified; this is THE token alphabet.
_TOKS = (
    r"list_filter(string_split_regex(lower(trim({expr})), "
    r"'[^\p{{L}}\p{{N}}]+'), x -> x <> '')"
)


def _toks_sql(expr: str) -> str:
    return _TOKS.format(expr=expr)


def _shingles_sql(t: str = "t", n: int = 2) -> str:
    """Token bigram shingles, distinct — mirrors ngram_shingles + the
    array_distinct in dedup.shingle_sets (n=2 fixed)."""
    assert n == 2
    return (
        f"list_distinct(CASE WHEN len({t}) >= 2 "
        f"THEN list_transform(range(1, len({t})), i -> {t}[i] || ' ' || {t}[i+1]) "
        f"ELSE [array_to_string({t}, ' ')] END)"
    )


def _cos_sql(a: str, b: str) -> str:
    """Cosine with the same fold shape as functions.vectors (cast each
    element to DOUBLE, sequential sum)."""
    dot = (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> p[1]::DOUBLE * p[2]::DOUBLE))"
    )
    na = f"sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"({dot} / ({na} * {nb}))"


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = f"""
SELECT {oracle_hash60_sql("lower(trim(text))")} AS fp,
       min(doc_id) AS keep_id,
       count(*)::BIGINT AS n_copies
FROM documents GROUP BY 1
"""


@register("doc_exact_dedup", oracle=_EXACT_DEDUP_ORACLE, tags=("LLM", "dedup"))
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on a 60-bit text fingerprint, min-id
    representative + copy count (operators/dedup.py:exact_dedup)."""
    return dd.exact_dedup(_t(spark, sf_dir, "documents"))


def _minhash_base_ctes() -> str:
    """The CTE chain up through ``buckets`` (shingle → minhash →
    banded LSH buckets), shared by all minhash-family oracles."""
    mins = ", ".join(
        f"list_min(list_transform(h, x -> "
        f"({dd.HASH_A[i]} * x + {dd.HASH_B[i]}) % {dd.MERSENNE_P}))"
        for i in range(dd.N_HASHES)
    )
    bands = ", ".join(
        "'{j}'".format(j=j)
        + "".join(
            f" || ':' || sig[{j * dd.ROWS_PER_BAND + r + 1}]::VARCHAR"
            for r in range(dd.ROWS_PER_BAND)
        )
        for j in range(dd.N_BANDS)
    )
    return f"""
toks AS (SELECT doc_id, {_toks_sql("text")} AS t FROM documents),
sh AS (SELECT doc_id, {_shingles_sql()} AS s FROM toks),
hs AS (SELECT doc_id, s,
              list_transform(s, v -> {oracle_hash60_sql("v")}
                                     % {dd.MERSENNE_P}) AS h
       FROM sh),
sig AS (SELECT doc_id, [{mins}] AS sig FROM hs),
buckets AS (SELECT doc_id, unnest([{bands}]) AS bucket FROM sig)
"""


def _minhash_ctes() -> str:
    """Base chain plus ``cand``/``verified`` (all-pairs within the one
    corpus), used by the pair query and the cluster query."""
    return f"""{_minhash_base_ctes()},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM buckets a JOIN buckets b
           ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(x.s, y.s))::DOUBLE
               / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
  FROM cand c JOIN sh x ON c.doc_a = x.doc_id
              JOIN sh y ON c.doc_b = y.doc_id)
"""


def _minhash_oracle() -> str:
    return (
        f"WITH {_minhash_ctes()} "
        "SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.6"
    )


def _dup_clusters_oracle() -> str:
    """Connected components as a recursive transitive closure: every
    node's cluster id is the min doc_id it can reach over the verified
    pair graph (UNION dedups visited rows, so cycles terminate)."""
    return f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.6),
edges AS (SELECT doc_a AS node, doc_b AS nbr FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT node, node FROM edges
  UNION
  SELECT e.node, reach.r FROM edges e JOIN reach ON reach.node = e.nbr
)
SELECT node AS doc_id, min(r) AS cluster_id,
       (node = min(r))::INT AS is_keep
FROM reach GROUP BY node
"""


@register("doc_minhash_near_dup", oracle=_minhash_oracle(), tags=("LLM", "dedup"))
def doc_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified
    (operators/dedup.py:near_dup_pairs). 12 hash families, 4 bands × 3
    rows → P(candidate|J) = 1-(1-J³)⁴; candidates come from the
    bucket self-join only — never all-pairs."""
    return dd.near_dup_pairs(_t(spark, sf_dir, "documents"), threshold=0.6)


def _ngram_jaccard_oracle() -> str:
    """Inverted-index candidates (df-capped posting self-join) + the
    same exact-Jaccard verify as the minhash chain."""
    return f"""
WITH toks AS (SELECT doc_id, {_toks_sql("text")} AS t FROM documents),
sh AS (SELECT doc_id, {_shingles_sql()} AS s FROM toks),
ph AS (SELECT doc_id, {oracle_hash60_sql("g")} AS gh
       FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
kept AS (SELECT gh FROM ph GROUP BY gh
         HAVING count(*) BETWEEN 2 AND {dd.NGRAM_DF_CAP}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM ph a JOIN kept k ON a.gh = k.gh
                   JOIN ph b ON a.gh = b.gh AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(x.s, y.s))::DOUBLE
               / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
  FROM cand c JOIN sh x ON c.doc_a = x.doc_id
              JOIN sh y ON c.doc_b = y.doc_id)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.6
"""


@register(
    "doc_ngram_jaccard_dedup",
    oracle=_ngram_jaccard_oracle(),
    tags=("LLM", "dedup"),
)
def doc_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a df-capped inverted
    index (operators/dedup.py:ngram_jaccard_pairs) — deterministic
    recall for every pair sharing ≥1 non-boilerplate shingle, where
    the MinHash twin is probabilistic. Candidate work is bounded by
    df_cap·|postings|/2: linear in corpus tokens at fixed cap, so the
    knob is scale-safe by construction (no corpus-size guard needed,
    unlike the pinned SemDeDup band widths)."""
    return dd.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.6
    )


def _topk_similar_oracle(k: int = 3, threshold: float = 0.3) -> str:
    """Symmetrized inverted-index pairs + per-doc row_number top-k —
    the window is the oracle's (small-data) formulation; the Spark
    side is a group-top-k hash aggregate."""
    return f"""
WITH toks AS (SELECT doc_id, {_toks_sql("text")} AS t FROM documents),
sh AS (SELECT doc_id, {_shingles_sql()} AS s FROM toks),
ph AS (SELECT doc_id, {oracle_hash60_sql("g")} AS gh
       FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
kept AS (SELECT gh FROM ph GROUP BY gh
         HAVING count(*) BETWEEN 2 AND {dd.NGRAM_DF_CAP}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM ph a JOIN kept kk ON a.gh = kk.gh
                   JOIN ph b ON a.gh = b.gh AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(x.s, y.s))::DOUBLE
               / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
  FROM cand c JOIN sh x ON c.doc_a = x.doc_id
              JOIN sh y ON c.doc_b = y.doc_id
  WHERE round(len(list_intersect(x.s, y.s))::DOUBLE
              / len(list_distinct(list_concat(x.s, y.s))), 6)
        >= {threshold}),
sym AS (SELECT doc_a AS doc_id, doc_b AS nbr_id, jaccard FROM verified
        UNION ALL
        SELECT doc_b, doc_a, jaccard FROM verified),
r AS (SELECT doc_id, nbr_id, jaccard,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY jaccard DESC, nbr_id) AS rank
      FROM sym)
SELECT doc_id, rank, nbr_id, jaccard FROM r WHERE rank <= {k}
"""


@register(
    "doc_topk_similar",
    oracle=_topk_similar_oracle(),
    tags=("LLM", "similarity"),
)
def doc_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 most-similar neighbors by exact n-gram
    Jaccard (operators/dedup.py:topk_similar_docs) — lexical
    similarity search beside the embedding kNN family. Group-top-k is
    a ``slice(sort_array(collect_list(struct)))`` hash aggregate with
    map-side partials; no rank window rides the corpus-wide pair set."""
    return dd.topk_similar_docs(_t(spark, sf_dir, "documents"))


@register("doc_dup_clusters", oracle=_dup_clusters_oracle(), tags=("LLM", "dedup"))
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment (operators/dedup.py:dup_clusters):
    connected components over the verified near-dup pairs via min-label
    propagation, canonical survivor = min doc_id per component. The
    oracle recomputes the components as a recursive transitive closure
    — an algorithm-independent cross-check of the iterative Spark loop."""
    return dd.dup_clusters(_t(spark, sf_dir, "documents"), threshold=0.6)


def _incremental_near_dup_oracle() -> str:
    return f"""
WITH {_minhash_base_ctes()},
cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         FROM buckets a JOIN buckets b ON a.bucket = b.bucket
         WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
verified AS (
  SELECT c.new_id, c.corpus_id,
         round(len(list_intersect(x.s, y.s))::DOUBLE
               / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
  FROM cand c JOIN sh x ON c.new_id = x.doc_id
              JOIN sh y ON c.corpus_id = y.doc_id)
SELECT new_id, corpus_id, jaccard FROM verified WHERE jaccard >= 0.6
"""


@register(
    "doc_incremental_near_dup",
    oracle=_incremental_near_dup_oracle(),
    tags=("LLM", "dedup", "incremental"),
)
def doc_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (operators/dedup.py:near_dup_join): a
    deterministic tenth of the corpus plays the incoming batch, the
    rest the kept corpus; only new×corpus bucket collisions are
    verified — the steady-state production shape where per-batch cost
    is |batch|-bound, never |corpus|²."""
    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return dd.near_dup_join(new_batch, corpus, threshold=0.6)


def _simhash_oracle() -> str:
    bits = " + ".join(
        f"(CASE WHEN coalesce(list_sum(list_transform(hs, "
        f"x -> CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(dd.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (SELECT doc_id, list_distinct({_toks_sql("text")}) AS t
              FROM documents),
h AS (SELECT doc_id,
             list_transform(t, v -> {oracle_hash60_sql("v")}) AS hs
      FROM toks)
SELECT doc_id, ({bits})::BIGINT AS simhash FROM h
"""


@register("doc_simhash", oracle=_simhash_oracle(), tags=("LLM", "dedup"))
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per doc (operators/dedup.py:simhash) —
    per-row, zero-shuffle; Hamming-band buckets come for free
    downstream by slicing bit ranges."""
    return dd.simhash(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_QUERY_VEC_ID = 0
_EMB_DIM = 64
#: batched-kNN query selection: ids % mod == 0 are the query batch
_KNN_JOIN_K = 5
_KNN_JOIN_MOD = 41
#: DSIR hashed-feature buckets / C4 chunk width (shared by the ops
#: and the v2 funnel composition)
_DSIR_B = 256
_C4_W = 15

_TOPK_ORACLE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})
SELECT e.vec_id, e.label,
       round({_cos_sql("e.embedding", "q.qv")}, 6) AS cos
FROM embeddings e, q
WHERE e.vec_id <> {_QUERY_VEC_ID}
ORDER BY cos DESC, e.vec_id
LIMIT 10
"""


@register("emb_cosine_topk", oracle=_TOPK_ORACLE, tags=("LLM", "similarity"))
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 query vector
    (operators/similarity.py:cosine_topk) — TakeOrderedAndProject, no
    global sort; the correctness baseline for ANN variants."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    return sim.cosine_topk(emb, q, k=10, exclude_id=_QUERY_VEC_ID)


def _kmeans_ctes(
    train_src: str = "embeddings", n_cells_sql: str | None = None
) -> str:
    """DuckDB replica of the engine's IVF index build
    (operators/similarity.py:train_kmeans_cells + build_ivf_index):
    the same Knuth-hash seed ranking, the same Lloyd rounds with
    6dp-rounded per-dim means and keep-previous-on-empty-cell, the
    same final assignment. Generated from the SAME constants
    (IVF_CELLS, IVF_ITERS, the seed multiplier), so Spark and DuckDB
    run the identical algorithm — the gate checks the engine, not a
    lookalike. Produces CTEs ``c{{it}}`` (final centroids) and
    ``afin`` (final cell assignment of the whole corpus).
    ``train_src`` narrows the TRAINING corpus (seeds + Lloyd rounds)
    while ``afin`` always assigns the full table — the incremental-
    append contract, where late vectors route to fixed centroids."""
    n_cells, iters = sim.IVF_CELLS, sim.IVF_ITERS
    # ``n_cells_sql`` makes the cell COUNT corpus-derived (a scalar
    # subquery in c0's WHERE) — the Lloyd rounds and the final
    # assignment are k-agnostic, so the one seed cutoff is the whole
    # dynamic-k surface (used by emb_semantic_dedup_clustered_auto)
    k_pred = n_cells_sql if n_cells_sql is not None else str(n_cells)
    seed_h = oracle_hash60_sql(f"'{sim._SEED_PREFIX}' || vec_id::VARCHAR")
    parts = [
        f"""seedrank AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY {seed_h}, vec_id
         ) - 1 AS cell
  FROM {train_src}),
c0 AS (SELECT cell, list_transform(embedding, x -> x::DOUBLE) AS centroid
       FROM seedrank WHERE cell < ({k_pred}))"""
    ]
    for k in range(iters):
        parts.append(
            f"""a{k} AS (SELECT vec_id, embedding, cell FROM (
  SELECT e.vec_id, e.embedding, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({_cos_sql("e.embedding", "c.centroid")}, 6)
                      DESC, c.cell) AS rn
  FROM {train_src} e CROSS JOIN c{k} c) WHERE rn = 1),
m{k} AS (SELECT cell, i, round(avg(v), 6) AS av FROM (
           SELECT cell, generate_subscripts(embedding, 1) AS i,
                  unnest(embedding)::DOUBLE AS v FROM a{k})
         GROUP BY 1, 2),
l{k} AS (SELECT cell, list(av ORDER BY i) AS centroid FROM m{k} GROUP BY cell),
c{k + 1} AS (SELECT p.cell, coalesce(l.centroid, p.centroid) AS centroid
       FROM c{k} p LEFT JOIN l{k} l USING (cell))"""
        )
    parts.append(
        f"""afin AS (SELECT vec_id, label, embedding, cell FROM (
  SELECT e.vec_id, e.label, e.embedding, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({_cos_sql("e.embedding", "c.centroid")}, 6)
                      DESC, c.cell) AS rn
  FROM embeddings e CROSS JOIN c{iters} c) WHERE rn = 1)"""
    )
    return ",\n".join(parts)


def _ivf_oracle(probes: int, train_src: str = "embeddings") -> str:
    it = sim.IVF_ITERS
    return f"""
WITH {_kmeans_ctes(train_src)},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
best AS (SELECT c.cell FROM c{it} c, q
         ORDER BY round({_cos_sql("c.centroid", "q.qv")}, 6) DESC, c.cell
         LIMIT {probes})
SELECT e.vec_id, e.label,
       round({_cos_sql("e.embedding", "q.qv")}, 6) AS cos
FROM afin e JOIN best USING (cell), q
WHERE e.vec_id <> {_QUERY_VEC_ID}
ORDER BY cos DESC, e.vec_id
LIMIT 10
"""


# the two probe settings must genuinely produce different oracles — a
# generator regression that collapsed them would test nothing
assert _ivf_oracle(1) != _ivf_oracle(3)


#: persisted indexes, one per (kind, session, sf_dir): built on first
#: use (the offline indexing job), reused by every later query in the
#: session — the query path never re-aggregates the corpus.
_INDEX_CACHE: dict[tuple[str, ...], str] = {}


def _session_index(spark: SparkSession, kind: str, sf_dir: str, build) -> str:
    """The session-lived dir of index ``kind`` over ``sf_dir``, built
    by ``build(path)`` on the session's first call. The dir is claimed
    under the engine's scratch root before the build starts, so a
    build that dies midway leaves nothing outside that root; no
    release_all() deletes it."""
    key = (kind, spark.sparkContext.applicationId, sf_dir)
    if key not in _INDEX_CACHE:
        import re

        from ..materialize import session_dir

        path = session_dir(re.sub(r"[^A-Za-z0-9_]", "_", "_".join(key)))
        build(path)
        _INDEX_CACHE[key] = path
    return _INDEX_CACHE[key]


def _ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    return _session_index(
        spark, "ivf", sf_dir,
        build=lambda path: sim.build_ivf_index(
            _t(spark, sf_dir, "embeddings"), _EMB_DIM, path
        ),
    )


@register("emb_ivf_topk", oracle=_ivf_oracle(1), tags=("LLM", "similarity"))
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 from the PERSISTED learned index
    (operators/similarity.py:build_ivf_index + ivf_search): k-means
    cells trained once offline, corpus stored partitionBy(cell); the
    query path reads the tiny centroid table, routes, and scans only
    the probed cell's partition — no full-corpus aggregate per query.
    Plan-pinned by
    tests/test_llm_operators.py::test_ivf_search_plan_has_no_corpus_aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    idx = _ivf_index_path(spark, sf_dir)
    return sim.ivf_search(spark, idx, q, k=10, exclude_id=_QUERY_VEC_ID)


@register(
    "emb_ivf_multiprobe_topk",
    oracle=_ivf_oracle(3),
    tags=("LLM", "similarity"),
)
def emb_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-10 (nprobe=3) against the same persisted
    index: scan the three nearest cells instead of one — the recall
    knob of the IVF scale path (neighbors just across a cell boundary
    come back at 3× the pruned-scan cost). The oracle widens its
    best-cell LIMIT the same way, so cell routing AND the
    recall-expanding union are both under the gate."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    idx = _ivf_index_path(spark, sf_dir)
    return sim.ivf_search(
        spark, idx, q, k=10, exclude_id=_QUERY_VEC_ID, probes=3
    )


def _kmeans_clusters_oracle() -> str:
    """Cluster-profile oracle: replays the identical deterministic
    Lloyd training (shared ``_kmeans_ctes`` generator), then profiles
    per cluster through the same two-level aggregate shape as the
    Spark plan (per-(cluster,label) partials first, then the cluster
    rollup) so float summation order matches as closely as possible."""
    it = sim.IVF_ITERS
    return f"""
WITH {_kmeans_ctes()},
sc AS (SELECT a.cell AS cluster, a.label,
              round({_cos_sql("a.embedding", "c.centroid")}, 6) AS cos
       FROM afin a JOIN c{it} c ON a.cell = c.cell),
lab AS (SELECT cluster, label, count(*) AS n_lab, sum(cos) AS s_cos
        FROM sc GROUP BY 1, 2),
maj AS (SELECT cluster, label, n_lab,
               row_number() OVER (PARTITION BY cluster
                   ORDER BY n_lab DESC, label) AS rn
        FROM lab),
agg AS (SELECT cluster, sum(n_lab)::BIGINT AS n,
               round(sum(s_cos) / sum(n_lab), 6) AS avg_cos
        FROM lab GROUP BY 1)
SELECT g.cluster::INTEGER AS cluster, g.n, m.label AS majority_label,
       round(m.n_lab / g.n, 6) AS label_purity, g.avg_cos
FROM agg g JOIN maj m ON m.cluster = g.cluster AND m.rn = 1
ORDER BY cluster
"""


@register(
    "emb_kmeans_clusters",
    oracle=_kmeans_clusters_oracle(),
    tags=("LLM", "similarity", "clustering"),
)
def emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering surfaced as a first-class corpus operator:
    cluster sizes, majority label + purity, and mean within-cluster
    cosine — the profile a curation pipeline reads before deciding
    which clusters to keep, downsample, or route for review
    (SemDeDup-style cluster pruning; also the IVF coarse quantizer's
    training job, reused verbatim).

    Spark-first shape: training is the SAME deterministic Lloyd job
    the IVF index build runs (``train_kmeans_cells`` — iters+1 corpus
    scans, only k×dim doubles ever reach the driver), and profiling is
    ONE more corpus scan: the scored assignment binds behind an
    ``explode(array())`` barrier (no HOF CSE), map-side-combines into
    ≤ k×|labels| partial rows, and every later step (majority window,
    cluster rollup, join) runs on that tiny table. At 100 TB the only
    full-data costs are the linear scans; nothing corpus-sized ever
    shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    # the clusters ARE the IVF coarse quantizer (same constants, same
    # deterministic trainer) — reuse the session's persisted index
    # instead of retraining per call, exactly as a production profile
    # job would read the published centroid table
    cents = sim.load_centroids(spark, _ivf_index_path(spark, sf_dir))
    sc = emb.select(
        F.col("label"),
        F.explode(
            F.array(sim.assign_cell_scored("embedding", cents))
        ).alias("s"),
    ).select(
        F.col("s.cell").alias("cluster"),
        F.col("label"),
        F.col("s.cos").alias("cos"),
    )
    lab = sc.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n_lab"), F.sum("cos").alias("s_cos")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_lab"), F.asc("label")
    )
    maj = (
        lab.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("majority_label"), "n_lab")
    )
    agg = lab.groupBy("cluster").agg(
        F.sum("n_lab").alias("n"),
        F.round(F.sum("s_cos") / F.sum("n_lab"), 6).alias("avg_cos"),
    )
    return (
        agg.join(maj, "cluster")
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            F.col("n"),
            F.col("majority_label"),
            F.round(F.col("n_lab") / F.col("n"), 6).alias("label_purity"),
            F.col("avg_cos"),
        )
        .orderBy("cluster")
    )


_BALANCED_K = 12


def _cluster_balanced_sample_oracle() -> str:
    """Lloyd replay (shared CTE chain) + the exact_k_sample rank:
    hash60(vec_id) ascending within each cell, first K win."""
    rank_h = oracle_hash60_sql("vec_id::VARCHAR")
    return f"""
WITH {_kmeans_ctes()},
ranked AS (SELECT vec_id, cell::INTEGER AS cell,
                  row_number() OVER (PARTITION BY cell
                      ORDER BY {rank_h}, vec_id) AS rn
           FROM afin)
SELECT vec_id, cell FROM ranked WHERE rn <= {_BALANCED_K}
"""


@register(
    "emb_cluster_balanced_sample",
    oracle=_cluster_balanced_sample_oracle(),
    tags=("LLM", "sampling", "clustering"),
)
def emb_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced corpus selection: cap every k-means cluster at
    K vectors — the curation step that keeps a web-scale corpus from
    being dominated by its biggest topic clusters (the selection
    policy SemDeDup-style pipelines apply after cluster profiling;
    cluster-diversity quotas per DataComp/DsDm practice).

    Composition of two already-oracle-replayed pieces, zero new
    moving parts: the session's persisted IVF coarse quantizer
    assigns cells (one scan — literal argmax under LARGE_K_ASSIGN,
    Arrow matmul above it), then ``sampling.exact_k_sample`` takes a
    deterministic hash-ranked quota per cell — its hash-threshold
    pre-filter bounds every window partition at ~4K rows no matter
    how big the cluster, so a 10-billion-vector cell never sorts
    corpus-scale data. Oracle replays Lloyd + the rank in SQL."""
    from ..operators import sampling as sp

    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.load_centroids(spark, _ivf_index_path(spark, sf_dir))
    assigned = sim.assign_cells_frame(emb, cents)
    return sp.exact_k_sample(
        assigned, "cell", k=_BALANCED_K, key_col="vec_id"
    )


def _l2_sql(a: str, b: str) -> str:
    """Squared L2 with the same zip-then-fold shape as
    functions.vectors.l2_sq."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1]::DOUBLE - p[2]::DOUBLE) * "
        f"(p[1]::DOUBLE - p[2]::DOUBLE)))"
    )


def _pq_ctes() -> str:
    """Product-quantizer training + encoding + ADC scoring tables as
    reusable CTEs, generated from the SAME constants as the Spark
    implementation (PQ_M/PQ_K/PQ_ITERS, the pqseed prefix): per-
    subspace deterministic-seeded L2 Lloyd training (codebooks as one
    long (m, code, centroid) table ``cb{{it}}``), 6dp-rounded argmin
    encoding (``enc``), the query row (``q``: qv + 6dp norm) and the
    6dp-rounded per-(m,code) ADC lookup table (``tbl``) the Spark
    plan bakes in as literals."""
    m_sub, k, iters = sim.PQ_M, sim.PQ_K, sim.PQ_ITERS
    sd = _EMB_DIM // m_sub
    seed_h = oracle_hash60_sql(f"'{sim._PQ_SEED_PREFIX}' || vec_id::VARCHAR")
    parts = [
        f"""ms AS (SELECT unnest(range({m_sub}))::INTEGER AS m),
pseed AS (
  SELECT embedding,
         row_number() OVER (ORDER BY {seed_h}, vec_id) - 1 AS code
  FROM embeddings QUALIFY code < {k}),
sv AS (SELECT e.vec_id, m.m,
              e.embedding[(m.m*{sd}+1):((m.m+1)*{sd})] AS sv
       FROM embeddings e, ms m),
cb0 AS (SELECT m.m, s.code,
               list_transform(s.embedding[(m.m*{sd}+1):((m.m+1)*{sd})],
                              x -> x::DOUBLE) AS centroid
        FROM pseed s, ms m)"""
    ]
    for it in range(iters):
        parts.append(
            f"""pa{it} AS (SELECT vec_id, m, sv, code FROM (
  SELECT v.vec_id, v.m, v.sv, c.code,
         row_number() OVER (PARTITION BY v.vec_id, v.m
             ORDER BY round({_l2_sql("v.sv", "c.centroid")}, 6), c.code
         ) AS rn
  FROM sv v JOIN cb{it} c ON c.m = v.m) WHERE rn = 1),
pm{it} AS (SELECT m, code, i, round(avg(x), 6) AS av FROM (
            SELECT m, code, generate_subscripts(sv, 1) AS i,
                   unnest(sv)::DOUBLE AS x FROM pa{it})
          GROUP BY 1, 2, 3),
pl{it} AS (SELECT m, code, list(av ORDER BY i) AS centroid
          FROM pm{it} GROUP BY m, code),
cb{it + 1} AS (SELECT p.m, p.code,
                      coalesce(l.centroid, p.centroid) AS centroid
               FROM cb{it} p LEFT JOIN pl{it} l
                 ON l.m = p.m AND l.code = p.code)"""
        )
    parts.append(
        f"""enc AS (SELECT vec_id, m, code FROM (
  SELECT v.vec_id, v.m, c.code,
         row_number() OVER (PARTITION BY v.vec_id, v.m
             ORDER BY round({_l2_sql("v.sv", "c.centroid")}, 6), c.code
         ) AS rn
  FROM sv v JOIN cb{iters} c ON c.m = v.m) WHERE rn = 1),
q AS (SELECT embedding AS qv,
             round(sqrt(list_sum(list_transform(embedding,
                   x -> x::DOUBLE * x::DOUBLE))), 6) AS qn
      FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
tbl AS (SELECT c.m, c.code,
               round(list_sum(list_transform(
                     list_zip(q.qv[(c.m*{sd}+1):((c.m+1)*{sd})],
                              c.centroid),
                     p -> p[1]::DOUBLE * p[2]::DOUBLE)), 6) AS ip,
               round(list_sum(list_transform(c.centroid,
                     x -> x * x)), 6) AS n2
        FROM cb{iters} c, q)"""
    )
    return ",\n".join(parts)


_PQ_SCORE = """sc AS (SELECT e.vec_id, sum(t.ip) AS s_ip, sum(t.n2) AS s_n2
       FROM enc e JOIN tbl t ON t.m = e.m AND t.code = e.code
       WHERE e.vec_id <> {qid}
       GROUP BY e.vec_id)"""


def _pq_oracle() -> str:
    """Full-corpus PQ ADC top-10 — see :func:`_pq_ctes`."""
    return f"""
WITH {_pq_ctes()},
{_PQ_SCORE.format(qid=_QUERY_VEC_ID)}
SELECT s.vec_id, emb.label,
       round(CASE WHEN q.qn * sqrt(s.s_n2) > 0
                  THEN s.s_ip / (q.qn * sqrt(s.s_n2)) ELSE 0.0 END,
             6) AS acos
FROM sc s JOIN embeddings emb ON emb.vec_id = s.vec_id, q
ORDER BY acos DESC, s.vec_id
LIMIT 10
"""


def _ivfpq_oracle(probes: int) -> str:
    """Two-level IVF-PQ ADC top-10: composes the coarse-quantizer
    replay (``_kmeans_ctes`` → c{{it}}, afin) with the fine-quantizer
    replay (``_pq_ctes`` → cb{{it}}, enc, tbl, q) — the same two
    generators the single-level oracles use, so every constant stays
    shared with the Spark implementation. Routing picks the
    ``probes`` nearest coarse cells by the same 6dp-rounded
    smallest-cell-tiebreak argmax the driver computes."""
    it = sim.IVF_ITERS
    return f"""
WITH {_kmeans_ctes()},
{_pq_ctes()},
best AS (SELECT c.cell FROM c{it} c, q
         ORDER BY round({_cos_sql("c.centroid", "q.qv")}, 6) DESC, c.cell
         LIMIT {probes}),
scp AS (SELECT e.vec_id, sum(t.ip) AS s_ip, sum(t.n2) AS s_n2
        FROM enc e
        JOIN afin f ON f.vec_id = e.vec_id
        JOIN best b ON b.cell = f.cell
        JOIN tbl t ON t.m = e.m AND t.code = e.code
        WHERE e.vec_id <> {_QUERY_VEC_ID}
        GROUP BY e.vec_id)
SELECT s.vec_id, emb.label,
       round(CASE WHEN q.qn * sqrt(s.s_n2) > 0
                  THEN s.s_ip / (q.qn * sqrt(s.s_n2)) ELSE 0.0 END,
             6) AS acos
FROM scp s JOIN embeddings emb ON emb.vec_id = s.vec_id, q
ORDER BY acos DESC, s.vec_id
LIMIT 10
"""


#: trained PQ codebooks per (session, sf_dir) — training is the
#: offline job, serving reuses it (the _INDEX_CACHE pattern)
_PQ_BOOKS_CACHE: dict[tuple[str, ...], list] = {}


def _pq_books(spark: SparkSession, sf_dir: str) -> list:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[key] = sim.train_pq_codebooks(
            _t(spark, sf_dir, "embeddings"), _EMB_DIM
        )
    return _PQ_BOOKS_CACHE[key]


def _ivfpq_index_path(spark: SparkSession, sf_dir: str) -> str:
    return _session_index(
        spark, "ivfpq", sf_dir,
        build=lambda path: sim.build_ivfpq_index(
            _t(spark, sf_dir, "embeddings"), _EMB_DIM, path
        ),
    )


@register(
    "emb_ivfpq_topk", oracle=_ivfpq_oracle(2), tags=("LLM", "similarity")
)
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-architecture IVF-PQ serving (IndexIVFPQ with
    by_residual=false): coarse k-means cells route the query, fine PQ
    codebooks compress each inverted list to m_sub ints per vector,
    and the probed cells are scored by ADC table lookups.

    Spark-first shape: the index is built ONCE per session
    (build_ivfpq_index — two Lloyd trainings + one encode scan,
    codes stored partitionBy(cell)); the serve path routes on the
    driver (n_cells × dim doubles), statically partition-prunes the
    codes scan with a literal IN over the partition column (no join,
    no DPP needed), scores by m_sub lookups per row, and TakeOrders
    the top-k. At 100 TB a probe reads probes/n_cells of a corpus
    that is already 64× smaller than the raw vectors — the compound
    IO cut that makes billion-vector ANN servable."""
    emb = _t(spark, sf_dir, "embeddings")
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == _QUERY_VEC_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    idx = _ivfpq_index_path(spark, sf_dir)
    return sim.ivfpq_search(
        spark, idx, q, k=10, probes=2, exclude_id=_QUERY_VEC_ID
    )


@register("emb_pq_topk", oracle=_pq_oracle(), tags=("LLM", "similarity"))
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN top-10 (Jégou et al., TPAMI 2011 — the
    FAISS IVF-PQ fine quantizer): the corpus is compressed to
    PQ_M small-int codes per vector (dim×4 bytes → PQ_M bytes) and
    served by asymmetric-distance scoring — the query is scored
    against each subspace codebook once on the driver, every stored
    vector's approximate cosine is then PQ_M table lookups + adds.

    Spark-first shape: training = one scan + one (m,code)-group
    aggregate per Lloyd round (train_pq_codebooks); encode+score =
    ONE corpus scan with zero shuffle and a TakeOrdered top-k. At
    100 TB the serving scan reads PQ_M ints per row instead of dim
    floats — a 64× IO cut at these settings — which is the entire
    reason PQ exists."""
    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == _QUERY_VEC_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    enc = sim.pq_encode(emb, books, _EMB_DIM)
    return sim.pq_search(
        enc, books, q, k=10, exclude_id=_QUERY_VEC_ID
    )


_TRUNC_DIMS = (8, 16, 32)


def _trunc_overlap_oracle() -> str:
    ctes = ["""scored AS (
  SELECT e.vec_id, e.embedding, q.qv FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings
        WHERE vec_id = {qid}) q
  WHERE e.vec_id <> {qid})""".format(qid=_QUERY_VEC_ID)]
    ctes.append(
        f"""full10 AS (
  SELECT vec_id FROM scored
  ORDER BY round({_cos_sql("embedding", "qv")}, 6) DESC, vec_id
  LIMIT 10)"""
    )
    unions = []
    for d in _TRUNC_DIMS:
        ctes.append(
            f"""t{d} AS (
  SELECT vec_id FROM scored
  ORDER BY round({_cos_sql(f"embedding[1:{d}]", f"qv[1:{d}]")}, 6)
           DESC, vec_id
  LIMIT 10)"""
        )
        unions.append(
            f"SELECT {d} AS dims, round((SELECT count(*) FROM t{d} "
            f"JOIN full10 USING (vec_id)) / 10.0, 6) AS overlap"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT dims, overlap FROM ("
        + "\nUNION ALL\n".join(unions) + ") ORDER BY dims"
    )


@register(
    "emb_truncated_overlap",
    oracle=_trunc_overlap_oracle(),
    tags=("LLM", "similarity"),
)
def emb_truncated_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval quality
    (operators/similarity.py:truncated_overlap_curve): top-10
    overlap of first-d-dimensions search vs full 64-dim search at
    d ∈ {8, 16, 32} — the dims-per-vector knob measured the same way
    the recall curve measures nprobe. One corpus scan computes every
    per-dimension cosine; the oracle replays the slices with DuckDB
    list slicing."""
    return sim.truncated_overlap_curve(
        _t(spark, sf_dir, "embeddings"),
        query_id=_QUERY_VEC_ID,
        dims_list=_TRUNC_DIMS,
    )


_IVF_APPEND_SRC = "(SELECT * FROM embeddings WHERE vec_id % 5 <> 0)"


@register(
    "emb_ivf_append_topk",
    oracle=_ivf_oracle(2, train_src=_IVF_APPEND_SRC),
    tags=("LLM", "similarity", "streaming"),
)
def emb_ivf_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a GROWING corpus: the index trains on 80% of the
    vectors (vec_id % 5 <> 0), the remaining 20% arrive later as two
    idempotent delta batches through the streaming append sink
    (operators/similarity.py:ivf_append — route to FIXED centroids,
    land under delta/batch=<id>/cell=<c>), and the search serves
    base + deltas with the same cell-pruned scan. The oracle trains
    its k-means on the same 80% and assigns the full table to the
    final centroids — exactly the append contract — so routing of
    late vectors is value-checked end to end. The query vector
    itself (vec_id 0) is one of the appended rows: the search must
    find neighbors for a vector that arrived via the stream."""
    idx = _ivf_appended_index_path(spark, sf_dir, "append")
    emb = _t(spark, sf_dir, "embeddings")
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    return sim.ivf_search(
        spark, idx, q, k=10, exclude_id=_QUERY_VEC_ID, probes=2
    )


def _ivf_appended_index_path(
    spark: SparkSession, sf_dir: str, variant: str
) -> str:
    """Base index trained on 80% of the vectors + the other 20%
    appended as two delta batches — the shared fixture of the append
    and compact registry queries (built once per app+sf+variant; the
    deterministic k-means makes every build identical). The
    ``"compact"`` variant then folds the two delta batches with
    ``ivf_compact``."""
    from ..streaming.sinks import ivf_append_sink

    def build(path: str) -> None:
        emb = _t(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") % 5 != 0)
        sim.build_ivf_index(base, _EMB_DIM, path)
        late = emb.filter(F.col("vec_id") % 5 == 0)
        append = ivf_append_sink(path)
        append(late.filter(F.col("vec_id") % 2 == 0), 0)
        append(late.filter(F.col("vec_id") % 2 != 0), 1)
        if variant == "compact":
            sim.ivf_compact(spark, path)

    return _session_index(spark, "ivf_" + variant, sf_dir, build=build)


@register(
    "emb_ivf_compact_topk",
    oracle=_ivf_oracle(2, train_src=_IVF_APPEND_SRC),
    tags=("LLM", "similarity", "maintenance"),
)
def emb_ivf_compact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search over a COMPACTED index: the same 80%-base + two-delta
    fixture as emb_ivf_append_topk, but ivf_compact folds the two
    delta batches into one segment of the delta store before the
    search (operators/similarity.py:ivf_compact — one append-mode
    store.compact_additive, committed by the store manifest).
    Compaction is layout-only by contract, so this query shares the
    append query's oracle literally: identical routing, identical
    top-k, from two file sets per cell instead of three. Both the
    fold (returns 2 batches the first time) and the served results
    are therefore under the oracle's hash check."""
    idx = _ivf_appended_index_path(spark, sf_dir, "compact")
    emb = _t(spark, sf_dir, "embeddings")
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    return sim.ivf_search(
        spark, idx, q, k=10, exclude_id=_QUERY_VEC_ID, probes=2
    )


_IVF_KNN_PROBES = 2


def _ivf_knn_join_oracle() -> str:
    it = sim.IVF_ITERS
    k, mod, probes = _KNN_JOIN_K, _KNN_JOIN_MOD, _IVF_KNN_PROBES
    return f"""
WITH {_kmeans_ctes()},
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id % {mod} = 0),
routed AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round({_cos_sql("c.centroid", "q.qv")}, 6)
                      DESC, c.cell) AS rn
    FROM c{it} c CROSS JOIN q) WHERE rn <= {probes}),
scored AS (
  SELECT r.query_id, e.vec_id,
         round({_cos_sql("e.embedding", "r.qv")}, 6) AS cos
  FROM afin e JOIN routed r USING (cell)
  WHERE e.vec_id % {mod} <> 0)
SELECT query_id, vec_id, cos, rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, vec_id)::INT AS rank
  FROM scored)
WHERE rank <= {k}
"""


@register(
    "emb_ivf_knn_join",
    oracle=_ivf_knn_join_oracle(),
    tags=("LLM", "similarity"),
)
def emb_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN retrieval through the persisted IVF index
    (operators/similarity.py:ivf_knn_join): the same query batch as
    emb_knn_join, but each query scans only its 2 nearest cells'
    partition directories instead of the whole corpus — the serving
    shape when the corpus is 100 TB and the query stream continuous.
    The oracle replays the identical learned index (same Lloyd
    rounds) and routing, so the gate checks the engine end-to-end."""
    idx = _ivf_index_path(spark, sf_dir)
    return sim.ivf_knn_join(
        spark, idx, k=_KNN_JOIN_K, probes=_IVF_KNN_PROBES,
        query_mod=_KNN_JOIN_MOD,
    )


@register(
    "streaming_ivf_serve_parity",
    oracle=_ivf_knn_join_oracle(),
    tags=("LLM", "similarity", "streaming"),
)
def streaming_ivf_serve_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE ANN serving under the batch oracle: the query set
    arrives as a real Structured Streaming source in 4 micro-batches
    (maxFilesPerTrigger=1 over a 4-file spill), each batch retrieves
    its top-k through the PERSISTED IVF index inside foreachBatch
    (operators/similarity.py:ivf_serve — the same core
    emb_ivf_knn_join runs one-shot), and results land in a
    batch-id-keyed idempotent layout. Because a query's result
    depends only on its own vector and the static index, the union
    over micro-batches must hash-equal the one-shot batched join —
    the oracle IS emb_ivf_knn_join's Lloyd-replay oracle, unchanged.
    This is the production serve loop: continuous query stream,
    frozen index, per-batch probes-bounded partition-pruned scans."""
    import os

    from ..materialize import engine_tmpdir
    from ..streaming.sinks import read_sink
    from ..streaming.store import write_batch

    idx = _ivf_index_path(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    root = engine_tmpdir("ivf_serve_parity_")
    qstream = _staged_stream(
        spark,
        emb.filter(F.col("vec_id") % _KNN_JOIN_MOD == 0).select(
            "vec_id", "embedding"
        ),
        root,
    )
    out = os.path.join(root, "served")

    def serve_batch(batch_df, batch_id: int) -> None:
        queries = batch_df.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
        )
        res = sim.ivf_serve(
            spark,
            idx,
            queries,
            k=_KNN_JOIN_K,
            probes=_IVF_KNN_PROBES,
            exclude=F.col("vec_id") % _KNN_JOIN_MOD != 0,
        )
        write_batch(res, out, batch_id)

    _drain(qstream, serve_batch, "ivfserve")
    return read_sink(spark, out)


def _ivf_recall_oracle() -> str:
    it = sim.IVF_ITERS
    probe_ctes = ",\n".join(
        f"""best{p} AS (SELECT c.cell FROM c{it} c, q
         ORDER BY round({_cos_sql("c.centroid", "q.qv")}, 6) DESC, c.cell
         LIMIT {p}),
ivf{p} AS (SELECT e.vec_id FROM afin e JOIN best{p} USING (cell), q
           WHERE e.vec_id <> {_QUERY_VEC_ID}
           ORDER BY round({_cos_sql("e.embedding", "q.qv")}, 6) DESC, e.vec_id
           LIMIT 10)"""
        for p in (1, 2, 4)
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT {p} AS probes, round((SELECT count(*) FROM ivf{p} "
        f"JOIN bf USING (vec_id)) / 10.0, 6) AS recall"
        for p in (1, 2, 4)
    )
    return f"""
WITH {_kmeans_ctes()},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
bf AS (SELECT e.vec_id FROM embeddings e, q
       WHERE e.vec_id <> {_QUERY_VEC_ID}
       ORDER BY round({_cos_sql("e.embedding", "q.qv")}, 6) DESC, e.vec_id
       LIMIT 10),
{probe_ctes}
SELECT probes, recall FROM ({unions}) ORDER BY probes
"""


@register(
    "emb_ivf_recall_curve",
    oracle=_ivf_recall_oracle(),
    tags=("LLM", "similarity"),
)
def emb_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the persisted IVF index vs the brute-force oracle
    at probes ∈ {1, 2, 4} — the curve an ANN deployment tunes nprobe
    with. Each point is |IVF∩BF|/10; all three probes reuse the same
    persisted index. The brute-force baseline is MATERIALIZED before
    the three per-probe branches consume it: it is the one
    full-corpus scan in the plan, and as a plain union subtree it
    would re-execute once per probe (3 corpus scans at 100 TB; the
    probe branches themselves stay cheap — each is a cell-pruned
    read). The knob's recall behavior itself is pinned on clustered
    data by test_ivf_recall_strictly_improves_with_probes."""
    from functools import reduce

    from ..materialize import materialize

    emb = _t(spark, sf_dir, "embeddings")
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    idx = _ivf_index_path(spark, sf_dir)
    bf = materialize(
        sim.cosine_topk(emb, q, k=10, exclude_id=_QUERY_VEC_ID).select(
            "vec_id"
        )
    )
    parts = []
    for p in (1, 2, 4):
        ids = sim.ivf_search(
            spark, idx, q, k=10, exclude_id=_QUERY_VEC_ID, probes=p
        ).select("vec_id")
        parts.append(
            ids.join(bf, "vec_id")
            .agg(F.round(F.count("*") / 10.0, 6).alias("recall"))
            .select(F.lit(p).alias("probes"), "recall")
        )
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("probes")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_TOKEN_STATS_ORACLE = f"""
SELECT lang,
       count(*)::BIGINT AS n_docs,
       sum(len({_toks_sql("text")}))::BIGINT AS total_tokens,
       round(avg(len({_toks_sql("text")})), 2) AS avg_tokens,
       round(avg(n_chars), 2) AS avg_chars,
       count(DISTINCT source)::BIGINT AS n_sources
FROM documents GROUP BY lang
"""


@register("doc_token_stats", oracle=_TOKEN_STATS_ORACLE, tags=("LLM", "text"))
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token statistics (operators/textstats.py:token_stats)."""
    return ts.token_stats(_t(spark, sf_dir, "documents"))


def _marker_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_toks_sql('text')}, x -> x IN ({inlist})))"


def _lang_id_oracle() -> str:
    s = {lang: _marker_sql(ws) for lang, ws in ts.LANG_MARKERS.items()}
    return f"""
WITH scored AS (
  SELECT lang, {s['de']} AS s_de, {s['en']} AS s_en,
               {s['es']} AS s_es, {s['fr']} AS s_fr
  FROM documents)
SELECT lang,
       CASE WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS predicted,
       count(*)::BIGINT AS n
FROM scored GROUP BY 1, 2
"""


@register("doc_lang_id", oracle=_lang_id_oracle(), tags=("LLM", "text"))
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix from the function-word heuristic
    (operators/textstats.py:predict_lang); tie-break is alphabetical,
    pinned identically in both engines."""
    return ts.lang_confusion(_t(spark, sf_dir, "documents"))


def _quality_oracle() -> str:
    stop = _marker_sql(ts.STOPWORDS)
    n = f"len({_toks_sql('text')})"
    q = (
        f"round(least(1.0, {n}::DOUBLE / 100.0) * 0.7 + "
        f"(CASE WHEN {n} > 0 THEN {stop}::DOUBLE / {n} ELSE 0.0 END) * 0.3, 6)"
    )
    return f"""
WITH scored AS (SELECT {q} AS q FROM documents)
SELECT CASE WHEN q < 0.33 THEN 'low'
            WHEN q < 0.66 THEN 'mid'
            ELSE 'high' END AS band,
       count(*)::BIGINT AS n,
       round(avg(q), 6) AS avg_quality
FROM scored GROUP BY 1
"""


@register("doc_quality_bands", oracle=_quality_oracle(), tags=("LLM", "text"))
def doc_quality_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score banding (operators/textstats.py:quality_score):
    saturating length component blended with stopword density."""
    return ts.quality_bands(_t(spark, sf_dir, "documents"))


def _quality_adaptive_oracle() -> str:
    stop = _marker_sql(ts.STOPWORDS)
    n = f"len({_toks_sql('text')})"
    q = (
        f"round(least(1.0, {n}::DOUBLE / 100.0) * 0.7 + "
        f"(CASE WHEN {n} > 0 THEN {stop}::DOUBLE / {n} ELSE 0.0 END) * 0.3, 6)"
    )
    return f"""
WITH scored AS (SELECT source, {q} AS q FROM documents),
thr AS (SELECT source, quantile_cont(q, 0.5) AS t FROM scored GROUP BY source)
SELECT s.source, round(any_value(t), 6) AS threshold,
       count(*)::BIGINT AS n_docs,
       sum((q >= t)::BIGINT)::BIGINT AS n_kept
FROM scored s JOIN thr USING (source)
GROUP BY s.source
"""


_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, is_t, {oracle_hash60_sql("tok")} % {_DSIR_B} AS bucket
  FROM (SELECT doc_id, (lang = 'en') AS is_t,
               unnest({_toks_sql("text")}) AS tok
        FROM documents)),
counts AS (SELECT bucket, count(*) AS cr, sum(is_t::BIGINT) AS ct
           FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS tr, sum(is_t::BIGINT) AS tt FROM toks),
feats AS (SELECT bucket,
                 round(1e6 * (ln(ct + 1.0) - ln(tt + {_DSIR_B}.0)
                              - ln(cr + 1.0) + ln(tr + {_DSIR_B}.0))
                 )::BIGINT AS llr
          FROM counts, tot),
scores AS (SELECT doc_id, sum(llr)::BIGINT AS score_micro
           FROM toks JOIN feats USING (bucket) GROUP BY 1),
thr AS (SELECT quantile_cont(score_micro, 0.75) AS t FROM scores)
SELECT doc_id, score_micro, (score_micro >= t)::INT AS keep
FROM scores, thr
"""


def _funnel_v2_oracle() -> str:
    stop = _marker_sql(ts.STOPWORDS)
    n = f"len({_toks_sql('text')})"
    q = (
        f"round(least(1.0, {n}::DOUBLE / 100.0) * 0.7 + "
        f"(CASE WHEN {n} > 0 THEN {stop}::DOUBLE / {n} ELSE 0.0 END) * 0.3, 6)"
    )
    h = oracle_hash60_sql
    return f"""
WITH qscored AS (SELECT doc_id, source, {q} AS q FROM documents),
qthr AS (SELECT source, quantile_cont(q, 0.5) AS qt
         FROM qscored GROUP BY source),
dtoks AS (
  SELECT doc_id, is_t, {h("tok")} % {_DSIR_B} AS bucket
  FROM (SELECT doc_id, (lang = 'en') AS is_t,
               unnest({_toks_sql("text")}) AS tok FROM documents)),
dcounts AS (SELECT bucket, count(*) AS cr, sum(is_t::BIGINT) AS ct
            FROM dtoks GROUP BY 1),
dtot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM dcounts),
dfeats AS (SELECT bucket,
                  round(1e6 * (ln(ct + 1.0) - ln(tt + {_DSIR_B}.0)
                               - ln(cr + 1.0) + ln(tr + {_DSIR_B}.0))
                  )::BIGINT AS llr
           FROM dcounts, dtot),
dscores AS (SELECT doc_id, sum(llr)::BIGINT AS sm
            FROM dtoks JOIN dfeats USING (bucket) GROUP BY 1),
dthr AS (SELECT quantile_cont(sm, 0.75) AS dt FROM dscores),
ctoked AS (SELECT doc_id, {_toks_sql("text")} AS t FROM documents),
cidx AS (SELECT doc_id, t,
                unnest(range(0, (len(t) + {_C4_W - 1}) // {_C4_W})) AS idx
         FROM ctoked WHERE len(t) > 0),
cchunks AS (
  SELECT doc_id, idx,
         array_to_string(t[idx * {_C4_W} + 1 : idx * {_C4_W} + {_C4_W}], ' ')
           AS chunk
  FROM cidx),
cranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY {h("chunk")}
                            ORDER BY doc_id, idx) AS rn
  FROM cchunks),
spans AS (SELECT doc_id, count(*) AS n_chunks,
                 sum((rn > 1)::BIGINT) AS n_removed
          FROM cranked GROUP BY 1)
SELECT s.source,
       count(*)::BIGINT AS n_raw,
       sum((s.q >= t.qt)::BIGINT)::BIGINT AS n_quality,
       sum((coalesce(sp.n_removed, 0) * 2
            <= coalesce(sp.n_chunks, 0)
            OR sp.doc_id IS NULL)::BIGINT)::BIGINT AS n_span_clean,
       sum(coalesce((ds.sm >= dth.dt)::BIGINT, 0))::BIGINT AS n_dsir,
       sum(((s.q >= t.qt)
            AND (coalesce(sp.n_removed, 0) * 2
                 <= coalesce(sp.n_chunks, 0) OR sp.doc_id IS NULL)
            AND coalesce(ds.sm >= dth.dt, FALSE))::BIGINT
       )::BIGINT AS n_final
FROM qscored s
JOIN qthr t USING (source)
LEFT JOIN spans sp USING (doc_id)
LEFT JOIN dscores ds USING (doc_id), dthr dth
GROUP BY s.source
"""


@register(
    "corpus_curation_funnel_v2",
    oracle=_funnel_v2_oracle(),
    tags=("LLM", "pipeline"),
)
def corpus_curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline composed as ONE plan: per-source
    ADAPTIVE quality gate (each source keeps its ≥-median half) ∧
    C4 span hygiene (docs losing > half their chunks to corpus-wide
    span removal drop) ∧ DSIR importance (top quartile vs the
    lang='en' target) — reported as a per-source funnel
    (raw → quality → span_clean → dsir → final).

    Composition cost: the three stages reuse their operators
    verbatim (adaptive percentile broadcast, remove_dup_chunks
    counts, importance_weights keep flag) and meet in doc-keyed
    joins + one small aggregate — no stage recomputes another's
    scan, and each operator's own oracle already pins it in
    isolation; this query pins the composition."""
    from ..operators.importance import importance_weights

    docs = dd.spread(_t(spark, sf_dir, "documents"))
    scored = ts._with_tokens(docs, "text", "doc_id", "source").select(
        "doc_id", "source", ts.quality_score_t(F.col("__toks")).alias("q")
    )
    from ..materialize import materialize

    scored = materialize(scored)
    qthr = scored.groupBy("source").agg(
        F.expr("percentile(q, 0.5)").alias("qt")
    )
    spans = dd.remove_dup_chunks(docs, w=_C4_W).select(
        "doc_id", "n_chunks", "n_removed"
    )
    dsir = importance_weights(docs, F.col("lang") == "en").select(
        "doc_id", F.col("keep").alias("dsir_keep")
    )
    span_clean = F.coalesce(
        F.col("n_removed") * 2 <= F.col("n_chunks"), F.lit(True)
    )
    pass_q = F.col("q") >= F.col("qt")
    keep_d = F.coalesce(F.col("dsir_keep") == 1, F.lit(False))
    return (
        scored.join(F.broadcast(qthr), "source")
        .join(spans, "doc_id", "left")
        .join(dsir, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_raw"),
            F.sum(pass_q.cast("bigint")).cast("bigint").alias("n_quality"),
            F.sum(span_clean.cast("bigint")).cast("bigint")
            .alias("n_span_clean"),
            F.sum(keep_d.cast("bigint")).cast("bigint").alias("n_dsir"),
            F.sum((pass_q & span_clean & keep_d).cast("bigint"))
            .cast("bigint")
            .alias("n_final"),
        )
    )


_EXACT_K = 20

_EXACT_K_ORACLE = f"""
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {oracle_hash60_sql("doc_id::VARCHAR")}, doc_id) AS rn
  FROM documents)
WHERE rn <= {_EXACT_K}
"""


@register(
    "doc_exact_k_sample", oracle=_EXACT_K_ORACLE, tags=("LLM", "sampling")
)
def doc_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum quota sampling
    (operators/sampling.py:exact_k_sample): cap every source at 20
    docs by deterministic hash rank — the quota counterpart of the
    rate-based stratified sampler, same hash order so the two
    compose (overshoot-rate pre-filter then exact cap)."""
    from ..operators.sampling import exact_k_sample

    docs = _t(spark, sf_dir, "documents").select("source", "doc_id")
    return exact_k_sample(docs, "source", _EXACT_K, "doc_id")


_EVENTS_PROFILE_COLS = (
    "event_id", "ts", "user_id", "event_type", "value", "props"
)

_EVENTS_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column, count(*)::BIGINT AS n_rows,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct FROM events"""
    for c in _EVENTS_PROFILE_COLS
)


@register(
    "events_table_profile",
    oracle=_EVENTS_PROFILE_ORACLE,
    tags=("extension", "profiling"),
)
def events_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE surface (operators/profiling.py:table_profile):
    per-column row/null/exact-distinct counts in ONE scan (the
    multi-distinct plans as EXPAND with map-side partials; at 100 TB
    the exact=False switch swaps in HLL sketches, same plan shape)."""
    from ..operators.profiling import table_profile

    return table_profile(_t(spark, sf_dir, "events"))


_C4_REMOVE_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, {_toks_sql("text")} AS t FROM documents),
idxed AS (
  SELECT doc_id, t, unnest(range(0, (len(t) + {_C4_W - 1}) // {_C4_W})) AS idx
  FROM toked WHERE len(t) > 0),
chunks AS (
  SELECT doc_id, idx,
         array_to_string(t[idx * {_C4_W} + 1 : idx * {_C4_W} + {_C4_W}], ' ')
           AS chunk
  FROM idxed),
ranked AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (
           PARTITION BY {oracle_hash60_sql("chunk")}
           ORDER BY doc_id, idx) AS rn
  FROM chunks)
SELECT doc_id,
       coalesce(string_agg(chunk, ' ' ORDER BY idx)
                FILTER (WHERE rn = 1), '') AS text_clean,
       count(*)::BIGINT AS n_chunks,
       sum((rn > 1)::BIGINT)::BIGINT AS n_removed
FROM ranked GROUP BY doc_id
"""


@register(
    "doc_remove_dup_spans", oracle=_C4_REMOVE_ORACLE, tags=("LLM", "dedup")
)
def doc_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span removal (operators/dedup.py:remove_dup_chunks;
    Raffel et al. 2020 §2.2): every all-but-first global occurrence
    of a 15-token chunk is cut and documents reassemble from their
    surviving chunks — the *surgical* counterpart of doc_chunk_dedup's
    reporting. One content-hash window + one doc-keyed reassembly."""
    return dd.remove_dup_chunks(_t(spark, sf_dir, "documents"), w=_C4_W)


#: ExactSubstr window width in tokens (Lee et al. use 50-token BPE
#: spans on web-scale corpora; the fixture's docs are short, so the
#: registry pins a width that actually fires on them — ~1,100
#: repeated windows at sf0.001)
_XSUB_W = 10

_XSUB_SEP = "chr(31)"

_EXACT_SUBSTR_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, {_toks_sql("text")} AS t FROM documents
  WHERE text IS NOT NULL),
wins AS (
  SELECT doc_id, unnest(range(0, len(t) - {_XSUB_W} + 1)) AS pos, t
  FROM toked WHERE len(t) >= {_XSUB_W}),
fps AS (
  SELECT doc_id, pos,
         {oracle_hash60_sql(
             f"array_to_string(t[pos + 1 : pos + {_XSUB_W}], {_XSUB_SEP})"
         )} AS fp
  FROM wins),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
  FROM fps),
rem AS (SELECT doc_id, pos FROM ranked WHERE rn >= 2),
toks AS (
  SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS i
  FROM toked),
cov AS (
  SELECT DISTINCT k.doc_id, k.i
  FROM toks k JOIN rem r ON r.doc_id = k.doc_id
   AND k.i >= r.pos AND k.i < r.pos + {_XSUB_W}),
kept AS (
  SELECT k.doc_id, k.i, k.tok
  FROM toks k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.i = k.i
  WHERE c.i IS NULL),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_clean,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT td.doc_id,
       coalesce(a.text_clean, '') AS text_clean,
       len(td.t)::BIGINT AS n_tokens,
       (len(td.t) - coalesce(a.n_kept, 0))::BIGINT AS n_removed
FROM toked td LEFT JOIN agg a USING (doc_id)
"""


@register(
    "doc_exact_substr_dedup",
    oracle=_EXACT_SUBSTR_ORACLE,
    tags=("LLM", "dedup"),
)
def doc_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style arbitrary-offset repeated-substring removal
    (operators/dedup.py:exact_substr_dedup; Lee et al. 2022): every
    all-but-first corpus occurrence of any ≥10-token span is cut via
    the sliding-window identity — overlapping width-10 window
    fingerprints, global (doc_id, pos) keep-first rank, covered
    tokens removed, documents reassembled in order. Completes the
    dedup family's last gap vs doc_remove_dup_spans (C4), whose
    fixed non-overlapping chunk grid misses spans at arbitrary
    alignment."""
    return dd.exact_substr_dedup(
        _t(spark, sf_dir, "documents"), w=_XSUB_W
    )


_LINE_DEDUP_MIN_DOCS = 2

_LINE_DEDUP_ORACLE = f"""
WITH lines AS (
  SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS pos
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
normed AS (
  SELECT doc_id, pos, line, lower(trim(line)) AS norm FROM lines),
boiler AS (
  SELECT norm FROM normed WHERE norm <> ''
  GROUP BY norm HAVING count(DISTINCT doc_id) >= {_LINE_DEDUP_MIN_DOCS}),
marked AS (
  SELECT n.doc_id, n.pos, n.line,
         (n.norm = '' OR b.norm IS NULL) AS keep
  FROM normed n LEFT JOIN boiler b ON n.norm = b.norm)
SELECT doc_id,
       coalesce(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE keep), '') AS text_clean,
       count(*)::BIGINT AS n_lines,
       sum((NOT keep)::BIGINT)::BIGINT AS n_removed
FROM marked GROUP BY doc_id
"""


@register("doc_line_dedup", oracle=_LINE_DEDUP_ORACLE, tags=("LLM", "dedup"))
def doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate-line removal
    (operators/dedup.py:line_dedup; RefinedWeb §G / CCNet §3.1): a
    normalized line seen in ≥2 distinct docs is boilerplate and is
    cut everywhere; docs reassemble from surviving lines. The oracle
    replays the gate on the raw normalized strings — an
    algorithm-independent check of the Spark side's hashed keys."""
    return dd.line_dedup(
        _t(spark, sf_dir, "documents"), min_docs=_LINE_DEDUP_MIN_DOCS
    )


_INTRA_LINE_ORACLE = """
WITH lines AS (
  SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS pos
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
firsts AS (
  SELECT doc_id, line, min(pos) AS fpos, count(*)::BIGINT AS n
  FROM lines GROUP BY doc_id, line)
SELECT doc_id,
       string_agg(line, chr(10) ORDER BY fpos) AS text_clean,
       sum(n)::BIGINT AS n_lines,
       (sum(n) - count(*))::BIGINT AS n_removed
FROM firsts GROUP BY doc_id
"""


@register(
    "doc_intra_line_dedup", oracle=_INTRA_LINE_ORACLE, tags=("LLM", "dedup")
)
def doc_intra_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-line collapse
    (operators/dedup.py:intra_line_dedup): exact repeated lines inside
    one doc keep only their first occurrence. ZERO-shuffle plan —
    split → array_distinct → array_join is a pure projection, so the
    100 TB cost is scan bandwidth alone."""
    return dd.intra_line_dedup(_t(spark, sf_dir, "documents"))


@register(
    "streaming_line_dedup_parity",
    oracle=_LINE_DEDUP_ORACLE,
    tags=("LLM", "dedup", "streaming"),
)
def streaming_line_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate-line gate under real Structured Streaming:
    documents stream in micro-batches, each batch contributes only
    its per-line distinct-doc counts
    (streaming/sinks.py:line_count_sink, idempotent per-batch
    directories), the counts fold fingerprint-wise, and the gate
    applied to the corpus against the FOLDED state must equal the
    one-shot batch line_dedup exactly — including lines that cross
    the boilerplate threshold only in a later batch (retroactive
    cleaning, which per-batch filtering could never give). Checked
    against the same DuckDB oracle as doc_line_dedup."""
    from ..materialize import engine_tmpdir
    from ..streaming.sinks import line_count_sink, read_line_counts

    path = engine_tmpdir("ld_parity_") + "/counts"
    _drain(_stream_t(spark, sf_dir, "documents"), line_count_sink(path), "ldp")
    docs = _t(spark, sf_dir, "documents")
    return dd.line_dedup(docs, counts=read_line_counts(spark, path))


def _keep_longest_oracle() -> str:
    """Recursive-closure clusters (same CTE chain as doc_dup_clusters)
    joined to documents, winner = longest doc (ties → min doc_id)."""
    return f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.6),
edges AS (SELECT doc_a AS node, doc_b AS nbr FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT node, node FROM edges
  UNION
  SELECT e.node, reach.r FROM edges e JOIN reach ON reach.node = e.nbr
),
clusters AS (
  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
scored AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars::BIGINT AS n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM clusters c JOIN documents d USING (doc_id))
SELECT doc_id, cluster_id, n_chars, (rn = 1)::INT AS is_keep
FROM scored
"""


@register(
    "doc_dup_keep_longest",
    oracle=_keep_longest_oracle(),
    tags=("LLM", "dedup"),
)
def doc_dup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection over near-dup clusters: where
    doc_dup_clusters keeps min doc_id, real curation keeps the BEST
    copy — here the longest (max n_chars, ties → min doc_id), the
    standard keep-longest heuristic for near-dup web pages. Winner per
    cluster via ``max_by`` aggregation (map-side combinable — no rank
    window over the full corpus; the oracle's row_number is DuckDB
    replaying it independently), then one hash join back to mark rows.
    Composes connected components + the documents dim."""
    docs = _t(spark, sf_dir, "documents")
    clusters = dd.dup_clusters(docs, threshold=0.6).select(
        "doc_id", "cluster_id"
    )
    scored = clusters.join(
        docs.select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars")),
        "doc_id",
    )
    winners = scored.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, struct(n_chars, -doc_id))").alias("__win")
    )
    return scored.join(winners, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_chars",
        (F.col("doc_id") == F.col("__win")).cast("int").alias("is_keep"),
    )


def _heavy_hitters_oracle() -> str:
    from ..operators import sketches as sk

    h = oracle_hash60_sql
    w, d, k = sk.CM_WIDTH, sk.CM_DEPTH, 20
    hash_rows = " UNION ALL ".join(
        f"SELECT {r} AS row, {h('item', salt=r)} % {w} AS col FROM toks"
        for r in range(d)
    )
    addr_rows = " UNION ALL ".join(
        f"SELECT item, true_count, {r} AS row, {h('item', salt=r)} % {w} AS col"
        f" FROM top"
        for r in range(d)
    )
    return f"""
WITH toks AS (SELECT unnest({_toks_sql("text")}) AS item FROM documents),
n AS (SELECT count(*)::DOUBLE AS n FROM toks),
cells AS (
  SELECT row, col, count(*)::BIGINT AS c
  FROM ({hash_rows}) GROUP BY 1, 2),
top AS (
  SELECT item, count(*)::BIGINT AS true_count FROM toks
  GROUP BY 1 ORDER BY true_count DESC, item LIMIT {k}),
est AS (
  SELECT item, true_count, min(c) AS est_count
  FROM ({addr_rows}) a JOIN cells USING (row, col) GROUP BY 1, 2)
SELECT item AS term, true_count, est_count,
       est_count - true_count AS overcount,
       (est_count >= true_count AND
        est_count <= true_count
                     + ceil(2.718281828459045 / {w} * n.n)::BIGINT)::INT
       AS within_bound
FROM est, n
"""


@register(
    "doc_heavy_hitters_sketch",
    oracle=_heavy_hitters_oracle(),
    tags=("LLM", "sketch"),
)
def doc_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch with its accuracy contract
    (operators/sketches.py; Cormode & Muthukrishnan 2005): the exact
    top-20 terms' counts re-answered from a fixed d·w cell table,
    pinned to est ∈ [true, true + ceil(e/w·N)] — the bounded-size
    summary that replaces a corpus-wide exact count at serving time
    and merges cell-wise across batches."""
    from ..operators.sketches import heavy_hitters_check

    return heavy_hitters_check(_t(spark, sf_dir, "documents"), k=20)


def _cm_cells_oracle() -> str:
    from ..operators import sketches as sk

    h = oracle_hash60_sql
    w, d = sk.CM_WIDTH, sk.CM_DEPTH
    hash_rows = " UNION ALL ".join(
        f"SELECT {r} AS row, {h('item', salt=r)} % {w} AS col FROM toks"
        for r in range(d)
    )
    return f"""
WITH toks AS (SELECT unnest({_toks_sql("text")}) AS item FROM documents)
SELECT row, col, count(*)::BIGINT AS c
FROM ({hash_rows}) GROUP BY 1, 2
"""


@register(
    "streaming_heavy_hitters_parity",
    oracle=_cm_cells_oracle(),
    tags=("LLM", "sketch", "streaming"),
)
def streaming_heavy_hitters_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min MERGE property under real Structured Streaming:
    documents stream in micro-batches, each batch sketches
    independently (streaming/sinks.py:count_min_sink, idempotent
    per-batch directories), and the cell-wise sum of the per-batch
    sketches must equal the one-shot batch sketch exactly — the
    associativity that makes count-min a streaming/distributable
    aggregate, checked against the DuckDB oracle. Replay idempotency
    and compaction are pinned by tests/test_additive_sinks.py."""
    from ..functions.text import tokenize
    from ..materialize import engine_tmpdir
    from ..streaming.sinks import count_min_sink, read_count_min

    raw = _stream_t(spark, sf_dir, "documents")
    items = raw.select(F.explode(tokenize("text")).alias("item"))
    path = engine_tmpdir("cm_parity_") + "/cells"
    _drain(items, count_min_sink(path), "cmp")
    return read_count_min(spark, path)


def _kmv_sketch_sql() -> str:
    """Shared oracle CTE fragment: the ≤ k-row KMV sketch over the
    documents bigram-shingle stream (the dedup-space item domain —
    same shingles as dedup.shingle_sets)."""
    from ..operators import sketches as sk

    return f"""
toked AS (SELECT doc_id, {_toks_sql("text")} AS t FROM documents),
items AS (
  SELECT unnest({_shingles_sql()}) AS item FROM toked),
h AS (SELECT {oracle_hash60_sql("item")} AS h FROM items),
sk AS (SELECT DISTINCT h FROM h ORDER BY h LIMIT {sk.KMV_K})"""


def _distinct_sketch_oracle() -> str:
    from ..operators import sketches as sk

    k = sk.KMV_K
    numer = (k - 1) * sk.HASH_SPACE  # ≤ 53 significant bits — exact double
    return f"""
WITH {_kmv_sketch_sql()},
agg AS (SELECT count(*)::BIGINT AS b, max(h) AS hk FROM sk),
est AS (
  SELECT CASE WHEN b < {k} THEN b
         ELSE CAST(round({numer}::DOUBLE / hk::DOUBLE) AS BIGINT)
         END AS est_distinct FROM agg),
exact AS (SELECT count(DISTINCT item)::BIGINT AS exact_distinct FROM items)
SELECT est_distinct, exact_distinct,
       round(100.0 * abs(est_distinct - exact_distinct)
             / exact_distinct, 2) AS rel_err_pct
FROM est, exact
"""


@register(
    "doc_shingle_distinct_sketch",
    oracle=_distinct_sketch_oracle(),
    tags=("LLM", "sketch"),
)
def doc_shingle_distinct_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct bigram-shingle cardinality from a 256-value KMV
    sketch (operators/sketches.py:kmv_sketch; Bar-Yossef 2002 /
    Beyer 2007), with the exact count and relative error beside it
    as the accuracy audit — the dedup-rate denominator ("how much
    unique content is in this corpus") that replaces a corpus-wide
    distinct at 100 TB (the exact column is the sf-small gate check,
    not part of the scaled operator). Unlike approx_count_distinct's
    HLL± registers, the KMV state is engine-portable exact integers:
    the DuckDB oracle rebuilds the very same 256 hash values and must
    land on the SAME estimate — the estimator's only float op is one
    fixed-order division. Shingle domain matches dedup.shingle_sets
    (per-doc distinct bigrams), so the answer is exactly 'distinct
    shingles the MinHash pass would see'."""
    from ..materialize import materialize
    from ..operators import sketches as sk
    from ..operators.dedup import shingle_sets

    items = materialize(
        shingle_sets(_t(spark, sf_dir, "documents")).select(
            F.explode("shingles").alias("item")
        )
    )
    est = sk.kmv_estimate(sk.kmv_sketch(items))
    exact = items.agg(
        F.count_distinct("item").cast("bigint").alias("exact_distinct")
    )
    err = F.round(
        100.0
        * F.abs(F.col("est_distinct") - F.col("exact_distinct"))
        / F.col("exact_distinct"),
        2,
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_distinct", "exact_distinct", err.alias("rel_err_pct")
    )


def _kmv_values_oracle() -> str:
    return f"""
WITH {_kmv_sketch_sql()}
SELECT h FROM sk
"""


@register(
    "streaming_distinct_sketch_parity",
    oracle=_kmv_values_oracle(),
    tags=("LLM", "sketch", "streaming"),
)
def streaming_distinct_sketch_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The KMV MERGE property under real Structured Streaming:
    documents stream in micro-batches, each batch folds to its own
    ≤ k-row sketch (streaming/sinks.py:kmv_sink, idempotent
    per-batch directories), and union → k smallest over the
    per-batch sketches must equal the one-shot corpus sketch
    EXACTLY — the merge is min-like (idempotent), so unlike
    count-min's additive merge this parity holds even when the same
    shingle recurs across batches: a corpus-top-k hash is top-k
    within its own batch. The oracle rebuilds the corpus sketch from
    scratch; all 256 integer values must match."""
    from ..materialize import engine_tmpdir
    from ..operators.dedup import shingle_sets
    from ..streaming.sinks import kmv_sink, read_kmv

    raw = _stream_t(spark, sf_dir, "documents")
    items = shingle_sets(raw).select(F.explode("shingles").alias("item"))
    path = engine_tmpdir("kmv_parity_") + "/sketch"
    _drain(items, kmv_sink(path), "kmv")
    return read_kmv(spark, path)


def _lang_distinct_sketch_oracle() -> str:
    from ..operators import sketches as sk

    k = sk.KMV_K
    numer = (k - 1) * sk.HASH_SPACE
    return f"""
WITH toked AS (SELECT doc_id, lang, {_toks_sql("text")} AS t FROM documents),
items AS (SELECT lang, unnest({_shingles_sql()}) AS item FROM toked),
h AS (SELECT DISTINCT lang, {oracle_hash60_sql("item")} AS h FROM items),
sk AS (
  SELECT lang, h FROM (
    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS r
    FROM h) WHERE r <= {k}),
agg AS (
  SELECT lang, count(*)::BIGINT AS b, max(h) AS hk FROM sk GROUP BY 1),
est AS (
  SELECT lang, CASE WHEN b < {k} THEN b
               ELSE CAST(round({numer}::DOUBLE / hk::DOUBLE) AS BIGINT)
               END AS est_distinct FROM agg),
exact AS (
  SELECT lang, count(DISTINCT item)::BIGINT AS exact_distinct
  FROM items GROUP BY 1)
SELECT lang, est_distinct, exact_distinct,
       round(100.0 * abs(est_distinct - exact_distinct)
             / exact_distinct, 2) AS rel_err_pct
FROM est JOIN exact USING (lang)
"""


@register(
    "doc_lang_distinct_sketch",
    oracle=_lang_distinct_sketch_oracle(),
    tags=("LLM", "sketch"),
)
def doc_lang_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-shingle cardinality from GROUPED KMV
    sketches built in one corpus pass (operators/sketches.py:
    kmv_sketch_grouped — the sketch as a grouped aggregate: k
    smallest distinct hashes per group, map-side WindowGroupLimit
    prune per (partition, group)), with the exact per-group counts
    and relative error as the audit. The per-source vocabulary /
    content-diversity profile a mixing pipeline reads before
    weighting sources — one scan for ANY number of groups, where
    exact per-group distincts cost a corpus-wide shuffle each."""
    from ..materialize import materialize
    from ..operators import sketches as sk
    from ..operators.dedup import shingle_sets

    docs = _t(spark, sf_dir, "documents")
    items = materialize(
        shingle_sets(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("lang", F.explode("shingles").alias("item"))
    )
    est = sk.kmv_estimate_grouped(
        sk.kmv_sketch_grouped(items, "lang"), "lang"
    )
    exact = items.groupBy("lang").agg(
        F.count_distinct("item").cast("bigint").alias("exact_distinct")
    )
    err = F.round(
        100.0
        * F.abs(F.col("est_distinct") - F.col("exact_distinct"))
        / F.col("exact_distinct"),
        2,
    )
    return est.join(exact, "lang").select(
        "lang", "est_distinct", "exact_distinct", err.alias("rel_err_pct")
    )


def _overlap_sketch_oracle() -> str:
    from ..operators import sketches as sk

    k = sk.KMV_K
    return f"""
WITH toked AS (SELECT doc_id, lang, {_toks_sql("text")} AS t FROM documents),
items AS (
  SELECT lang = 'en' AS is_a, unnest({_shingles_sql()}) AS item
  FROM toked),
ha AS (SELECT DISTINCT {oracle_hash60_sql("item")} AS h
       FROM items WHERE is_a),
hb AS (SELECT DISTINCT {oracle_hash60_sql("item")} AS h
       FROM items WHERE NOT is_a),
ak AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
bk AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
m AS (SELECT DISTINCT h FROM (SELECT h FROM ak UNION ALL SELECT h FROM bk)
      ORDER BY h LIMIT {k}),
est AS (
  SELECT count(*)::BIGINT AS k_used,
         sum((m.h IN (SELECT h FROM ak)
              AND m.h IN (SELECT h FROM bk))::INT)::BIGINT
           AS inter_in_topk
  FROM m),
a AS (SELECT DISTINCT item FROM items WHERE is_a),
b AS (SELECT DISTINCT item FROM items WHERE NOT is_a),
exact AS (
  SELECT (SELECT count(*) FROM a JOIN b USING (item))::BIGINT AS inter,
         (SELECT count(*) FROM (
            SELECT item FROM a UNION SELECT item FROM b))::BIGINT AS uni)
SELECT k_used, inter_in_topk,
       round(inter_in_topk::DOUBLE / k_used::DOUBLE, 4) AS jaccard_est,
       round(inter::DOUBLE / uni::DOUBLE, 4) AS exact_jaccard
FROM est, exact
"""


@register(
    "corpus_overlap_sketch",
    oracle=_overlap_sketch_oracle(),
    tags=("LLM", "sketch"),
)
def corpus_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-level Jaccard overlap between the English and
    non-English document corpora, estimated from two 256-value KMV
    sketches (operators/sketches.py:kmv_overlap; Beyer 2007 §5 —
    Ĵ = |M ∩ A_k ∩ B_k| / |M| over the union sketch M), with the
    exact Jaccard beside it as the accuracy audit. The
    cross-corpus-contamination / shared-boilerplate primitive: "how
    much content do these two sources share" answered from 2k
    integers instead of a corpus-pair distinct-join — at 100 TB the
    two sketch scans are the entire cost and everything after is
    sketch-sized. The oracle rebuilds both sketches bit-for-bit; the
    only float ops are two fixed-order divisions."""
    from ..materialize import materialize
    from ..operators import sketches as sk
    from ..operators.dedup import shingle_sets

    docs = _t(spark, sf_dir, "documents")
    shingled = materialize(
        shingle_sets(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            (F.col("lang") == "en").alias("is_a"),
            F.explode("shingles").alias("item"),
        )
    )
    est = sk.kmv_overlap(
        shingled.filter("is_a").select("item"),
        shingled.filter("NOT is_a").select("item"),
    )
    a = shingled.filter("is_a").select("item").distinct()
    b = shingled.filter("NOT is_a").select("item").distinct()
    exact = (
        a.join(b, "item")
        .agg(F.count("*").cast("bigint").alias("__inter"))
        .crossJoin(
            F.broadcast(
                a.unionByName(b)
                .distinct()
                .agg(F.count("*").cast("bigint").alias("__uni"))
            )
        )
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "k_used",
        "inter_in_topk",
        "jaccard_est",
        F.round(
            F.col("__inter").cast("double")
            / F.col("__uni").cast("double"),
            4,
        ).alias("exact_jaccard"),
    )


def _lm_ppl_oracle() -> str:
    h = oracle_hash60_sql
    return f"""
WITH base AS (
  SELECT doc_id, (lang = 'en') AS is_t, {_toks_sql("text")} AS t
  FROM documents),
bg AS (
  SELECT doc_id, is_t,
         {h("pair[1]")} AS w1h, {h("pair[2]")} AS bgh
  FROM (SELECT doc_id, is_t,
               unnest(list_transform(range(1, len(t)),
                      i -> [t[i], t[i] || ' ' || t[i+1]])) AS pair
        FROM base)),
c1 AS (SELECT w1h, count(*) AS c1 FROM bg WHERE is_t GROUP BY 1),
c2 AS (SELECT w1h, bgh, count(*) AS c2 FROM bg WHERE is_t GROUP BY 1, 2),
v AS (SELECT count(DISTINCT w1h)::DOUBLE AS v FROM bg WHERE is_t),
model AS (
  SELECT bgh, round(1e6 * (ln(c2 + 1.0) - ln(c1 + v)))::BIGINT AS llp
  FROM c2 JOIN c1 USING (w1h), v),
fallback AS (
  SELECT w1h, round(-1e6 * ln(c1 + v))::BIGINT AS llp_w1 FROM c1, v),
scored AS (
  SELECT doc_id,
         coalesce(m.llp, f.llp_w1,
                  round(-1e6 * ln(v.v))::BIGINT) AS llp
  FROM bg LEFT JOIN model m USING (bgh)
          LEFT JOIN fallback f USING (w1h), v)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       sum(llp)::BIGINT AS logprob_micro,
       round(sum(llp)::DOUBLE / count(*) / 1e6, 4) AS mean_logprob
FROM scored GROUP BY doc_id
"""


@register("doc_lm_perplexity", oracle=_lm_ppl_oracle(), tags=("LLM", "quality"))
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal (operators/lm.py:lm_score;
    Wenzek et al. 2020): mean bigram log-probability of every doc
    under the add-1 bigram model of the lang='en' target docs.
    Model tables are counting aggregates over the target (vocab-
    bound, not corpus-bound); per-doc totals are exact integer
    micro-nat sums, so the parallel aggregation is bit-identical to
    the oracle's sequential one."""
    from ..operators.lm import lm_score

    return lm_score(_t(spark, sf_dir, "documents"), F.col("lang") == "en")


@register(
    "doc_importance_resample", oracle=_DSIR_ORACLE, tags=("LLM", "sampling")
)
def doc_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling
    (operators/importance.py:importance_weights; Xie et al. 2023):
    hashed-unigram bag-of-words models for the target (lang='en')
    and raw distributions, per-doc log importance weight as an EXACT
    integer micro-nat sum (order-independent across engines), top
    quartile flagged for keeping via a broadcast exact percentile.
    The 256-row feature table broadcasts at any corpus size."""
    from ..operators.importance import importance_weights

    return importance_weights(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


@register(
    "doc_quality_adaptive", oracle=_quality_adaptive_oracle(), tags=("LLM", "text")
)
def doc_quality_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source adaptive quality thresholding
    (operators/textstats.py:adaptive_quality_filter): each source
    keeps its own above-median-quality half — the per-domain
    calibration a global cutoff gets wrong. Exact per-source
    percentile (Spark `percentile` == DuckDB `quantile_cont`,
    same parity contract as value_percentiles), broadcast back,
    survivor count."""
    return ts.adaptive_quality_filter(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas over binary payloads)
# ---------------------------------------------------------------------------

_MULTIMODAL_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       octet_length(encode(text)) % 640 + 1 AS fake_width,
       octet_length(encode(text)) % 480 + 1 AS fake_height
FROM documents
"""


@register("doc_binary_meta", oracle=_MULTIMODAL_ORACLE, tags=("LLM", "multimodal"))
def doc_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction via Arrow-batched
    mapInPandas (operators/multimodal.py) — the real decode plumbing
    with a deterministic stand-in decoder (no imaging libs in env)."""
    docs = _t(spark, sf_dir, "documents")
    return mm.extract_binary_meta(mm.documents_as_binary(docs))


# ---------------------------------------------------------------------------
# Sign-LSH embedding near-dup + tf-idf
# ---------------------------------------------------------------------------


def _rh_band_list_sql(n_bands: int, n_rows: int) -> str:
    """The sign-LSH band-key list as DuckDB SQL literals — identical
    plane set and key format to rh_band_buckets at the same geometry.
    Shared by the self-join oracle chain (:func:`_rh_ctes`) and the
    cross-frame decontamination oracle."""
    planes = sim.random_hyperplanes(n_bands * n_rows, _EMB_DIM)

    def dot_lit(plane: list[float]) -> str:
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            f"p -> p[1]::DOUBLE * p[2]::DOUBLE))"
        )

    bits = [f"(CASE WHEN {dot_lit(p)} >= 0 THEN 1 ELSE 0 END)" for p in planes]
    return ", ".join(
        "'{b}'".format(b=b)
        + "".join(
            f" || ':' || {bits[b * n_rows + r]}::VARCHAR"
            for r in range(n_rows)
        )
        for b in range(n_bands)
    )


def _rh_ctes(
    n_bands: int | None = None,
    n_rows: int | None = None,
    suffix: str = "",
    gate: str = "",
) -> str:
    """``buckets``/``cand``/``verified`` CTE chain replicating
    rh_near_dup_pairs: identical plane literals, band keys, bucket
    self-join, cosine verify. Shared by the pair query and the
    semantic-dedup cluster queries; the band geometry is
    parameterized so oracles can mirror the AUTO-banded operator at
    whatever width a corpus count derives, and ``suffix`` uniquifies
    the CTE names so several widths coexist in one statement (the
    width-adaptive auto oracle)."""
    n_bands = sim.RH_BANDS if n_bands is None else n_bands
    n_rows = sim.RH_ROWS if n_rows is None else n_rows
    bands = _rh_band_list_sql(n_bands, n_rows)
    s = suffix
    return f"""buckets{s} AS (
  SELECT vec_id, unnest([{bands}]) AS bucket FROM embeddings {gate}),
cand{s} AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets{s} a JOIN buckets{s} b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
verified{s} AS (
  SELECT c.vec_a, c.vec_b,
         round({_cos_sql("x.embedding", "y.embedding")}, 6) AS cos
  FROM cand{s} c JOIN embeddings x ON c.vec_a = x.vec_id
              JOIN embeddings y ON c.vec_b = y.vec_id)"""


#: Pinned band geometry for the fixed-width sign-LSH registry
#: queries (the pair query and the semantic-dedup twin): 6 bits in 6
#: bands — the auto_lsh_params answer for a ~4k corpus. A fixed pin
#: exists so a static oracle can bake the plane/band literals; 6
#: keeps the candidate self-join sub-quadratic at bench SFs, where
#: a 4×4 pin is quadratic by construction (×11 time at ×10 corpus).
_LSH_PIN = 6

#: exact fixture row counts from parquet FOOTERS, keyed
#: (abspath(sf_dir), table) — feeds ``approx_count`` at every
#: pinned-knob registry call site so the fixed-knob guard's corpus
#: check never runs a Spark job at plan-build time (an eager
#: emb.count() would charge a full corpus count to every invocation
#: and make plan construction side-effectful).
_COUNT_CACHE: dict[tuple[str, str], int] = {}


def _corpus_count(sf_dir: str, table: str = "embeddings") -> int:
    """Exact row count of a fixture table read from parquet footer
    metadata — no Spark job, so pinned-knob plan building stays lazy.
    Footer counts are exact (parquet row-group metadata, not an
    estimate), so the FIXED_KNOB_GUARD_N comparison is as
    authoritative as ``df.count()``. Cached per (sf_dir, table);
    the fixtures are immutable within a session."""
    import os

    key = (os.path.abspath(sf_dir), table)
    if key not in _COUNT_CACHE:
        import pyarrow.dataset as ds

        path = os.path.join(sf_dir, f"{table}.parquet")
        _COUNT_CACHE[key] = ds.dataset(path, format="parquet").count_rows()
    return _COUNT_CACHE[key]


def _rh_oracle() -> str:
    return f"""
WITH {_rh_ctes(_LSH_PIN, _LSH_PIN)}
SELECT vec_a, vec_b, cos FROM verified WHERE cos >= 0.4
"""


@register("emb_near_dup_lsh", oracle=_rh_oracle(), tags=("LLM", "similarity", "dedup"))
def emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH (Charikar 2002): 36
    deterministic hyperplane bits in 6 bands of 6 (_LSH_PIN),
    bucket-local candidate join, exact cosine >= 0.4 verify
    (operators/similarity.py:rh_near_dup_pairs). Candidate recall at
    a given cosine follows 1-(1-(1-θ/π)^6)^6 — the banding constants
    are the tunable, never an all-pairs fallback. Bands are passed
    EXPLICITLY (the library default is N-derived via auto_lsh_params)
    because the DuckDB oracle bakes the same plane/band literals."""
    return sim.rh_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), dim=_EMB_DIM, threshold=0.4,
        bands=_LSH_PIN, rows_per_band=_LSH_PIN,
        approx_count=_corpus_count(sf_dir),
    )


#: the eval-set carve-out for semantic decontamination: every 13th
#: vector plays the benchmark, the rest play the train corpus
_DECON_MOD = 13


def _decon_oracle() -> str:
    """Cross-frame decontamination replica: identical plane/band
    literals on BOTH frames, bucket equi-join (train × eval, never
    all-pairs), 6dp cosine verify, then per-train argmax with ties to
    the smallest eval id (row_number replay of the Spark struct-max)."""
    bands = _rh_band_list_sql(_LSH_PIN, _LSH_PIN)
    return f"""
WITH tb AS (
  SELECT vec_id, unnest([{bands}]) AS bucket FROM embeddings
  WHERE vec_id % {_DECON_MOD} <> 0),
eb AS (
  SELECT vec_id, unnest([{bands}]) AS bucket FROM embeddings
  WHERE vec_id % {_DECON_MOD} = 0),
cand AS (
  SELECT DISTINCT t.vec_id AS tid, e.vec_id AS eid
  FROM tb t JOIN eb e ON t.bucket = e.bucket),
verified AS (
  SELECT c.tid, c.eid,
         round({_cos_sql("x.embedding", "y.embedding")}, 6) AS cos
  FROM cand c JOIN embeddings x ON c.tid = x.vec_id
              JOIN embeddings y ON c.eid = y.vec_id)
SELECT vec_id, top_eval_id, max_cos FROM (
  SELECT tid AS vec_id, eid AS top_eval_id, cos AS max_cos,
         row_number() OVER (PARTITION BY tid ORDER BY cos DESC, eid)
           AS rn
  FROM verified WHERE cos >= 0.4)
WHERE rn = 1
"""


@register(
    "emb_semantic_decontaminate",
    oracle=_decon_oracle(),
    tags=("LLM", "similarity", "decontamination"),
)
def emb_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination
    (operators/similarity.py:semantic_decontaminate) — the semantic
    sibling of doc_decontaminate's 5-gram overlap: train vectors
    (vec_id % 13 != 0) within cosine 0.4 of any eval vector
    (vec_id % 13 == 0) are flagged with their best eval match.
    Candidates come from a CROSS-frame sign-LSH bucket join through
    the SAME pinned 6×6 planes on both frames (the oracle bakes the
    identical literals); per-bucket work is |train∩bucket| ×
    |eval∩bucket|, never all-pairs. The per-train argmax is one
    struct-max aggregate (no window), ties to the smallest eval id."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.semantic_decontaminate(
        emb.filter(F.col("vec_id") % _DECON_MOD != 0),
        emb.filter(F.col("vec_id") % _DECON_MOD == 0),
        dim=_EMB_DIM,
        threshold=0.4,
        bands=_LSH_PIN,
        rows_per_band=_LSH_PIN,
        approx_count=_corpus_count(sf_dir),
    )


@register(
    "streaming_decontaminate_parity",
    oracle=_decon_oracle(),
    tags=("LLM", "similarity", "decontamination", "streaming"),
)
def streaming_decontaminate_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-TIME decontamination under the batch oracle: train
    vectors arrive as a real Structured Streaming source in 4
    micro-batches, each batch is flagged against the STATIC eval set
    inside foreachBatch (the same semantic_decontaminate core the
    one-shot query runs) into a batch-keyed idempotent layout. A
    row's verdict depends only on (row, eval set) — batch-split
    independent by construction — so the union over micro-batches
    must hash-equal the one-shot result, and the oracle IS
    emb_semantic_decontaminate's, unchanged. This is the production
    shape: screen new training data against frozen benchmarks as it
    lands, not in a later full-corpus pass."""
    import os

    from ..materialize import engine_tmpdir
    from ..streaming.sinks import read_sink
    from ..streaming.store import write_batch

    emb = _t(spark, sf_dir, "embeddings")
    evalset = emb.filter(F.col("vec_id") % _DECON_MOD == 0)
    root = engine_tmpdir("decon_parity_")
    tstream = _staged_stream(
        spark,
        emb.filter(F.col("vec_id") % _DECON_MOD != 0).select(
            "vec_id", "embedding"
        ),
        root,
    )
    out = os.path.join(root, "flagged")
    n = _corpus_count(sf_dir)
    # freeze the benchmark side ONCE: the eval set never changes
    # across micro-batches, so its band buckets + norms materialize
    # here and every batch plan joins against the tiny cached frames
    # instead of re-compiling and re-running the eval-side plane
    # projection (the per-batch cost was plan-compile dominated)
    idx = sim.prepare_eval_index(
        evalset, dim=_EMB_DIM, bands=_LSH_PIN, rows_per_band=_LSH_PIN
    )

    def flag_batch(batch_df, batch_id: int) -> None:
        res = sim.semantic_decontaminate(
            batch_df,
            None,
            dim=_EMB_DIM,
            threshold=0.4,
            approx_count=n,
            eval_index=idx,
        )
        write_batch(res, out, batch_id)

    _drain(tstream, flag_batch, "decon")
    return read_sink(spark, out)


_AUDIO_RATE = 4000
_AUDIO_MS = 32  # -> 128-sample windows


def _audio_oracle() -> str:
    """DuckDB replica of the PCM16 window features — the blob decodes
    via one hex() pass and 4-hex-char folds (the same hex-fold
    technique as oracle_hash60_sql), so sample values are BYTE-exact
    vs numpy's frombuffer; RMS uses the identical
    sqrt(sum_sq/n) formula and zero crossings count sign flips of
    in-window adjacent pairs."""
    win = max(1, _AUDIO_RATE * _AUDIO_MS // 1000)
    hx = "substr(hx, 4*k+{o}, 1)"
    digit = "strpos('0123456789ABCDEF', {c})-1"
    b0 = f"({digit.format(c=hx.format(o=1))})*16 + ({digit.format(c=hx.format(o=2))})"
    b1 = f"({digit.format(c=hx.format(o=3))})*16 + ({digit.format(c=hx.format(o=4))})"
    return f"""
WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
s AS (SELECT doc_id, unnest(range(length(hx) // 4)) AS k, hx FROM b),
v AS (
  SELECT doc_id, k,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS sample
  FROM (SELECT doc_id, k, ({b0}) + 256*({b1}) AS u FROM s)),
p AS (
  SELECT doc_id, k, sample,
         lead(sample) OVER (PARTITION BY doc_id ORDER BY k) AS nxt
  FROM v)
SELECT doc_id, (k // {win})::BIGINT AS win_idx,
       count(*)::BIGINT AS n_samples,
       round(sqrt(sum(sample*sample) / count(*)::DOUBLE), 6) AS rms,
       sum(CASE WHEN (k + 1) % {win} <> 0 AND nxt IS NOT NULL
                AND sample * nxt < 0 THEN 1 ELSE 0 END)::BIGINT
         AS zero_crossings
FROM p GROUP BY doc_id, k // {win}
"""


@register(
    "doc_audio_windows",
    oracle=_audio_oracle(),
    tags=("LLM", "multimodal", "audio"),
)
def doc_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality feature extraction
    (operators/multimodal.py:audio_windows): document bytes stand in
    for PCM16 clips (TESTDATA has no audio table), and unlike the
    image decode stub this path is REAL end to end — PCM decoding is
    np.frombuffer, and the DuckDB oracle re-derives every 16-bit
    sample from the blob's hex, so windowed RMS energy and
    zero-crossing counts (the speech/silence gates an audio curation
    pipeline filters clips on) are value-checked byte-exactly."""
    docs = _t(spark, sf_dir, "documents")
    return mm.audio_windows(
        mm.documents_as_binary(docs),
        sample_rate=_AUDIO_RATE,
        window_ms=_AUDIO_MS,
    )


_RESIZE_W, _RESIZE_H = 8, 8


def _resize_oracle() -> str:
    """DuckDB replica of the deterministic NN byte-sampling resize:
    output byte ``i`` is input byte ``(i·n // out) % n`` (0-based),
    rebuilt here as hex-pair slices of the payload's hex dump — the
    same technique the audio oracle proved byte-exact."""
    n_out = _RESIZE_W * _RESIZE_H
    return f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text))::BIGINT AS n
  FROM documents WHERE octet_length(encode(text)) > 0),
s AS (SELECT doc_id, n, unnest(range({n_out})) AS i, hx FROM b)
SELECT doc_id, n AS orig_bytes,
       {_RESIZE_W}::BIGINT AS target_w, {_RESIZE_H}::BIGINT AS target_h,
       string_agg(substr(hx, 2 * ((i * n // {n_out}) % n) + 1, 2),
                  '' ORDER BY i) AS resized_hex
FROM s GROUP BY doc_id, n
"""


@register(
    "doc_resize_images",
    oracle=_resize_oracle(),
    tags=("LLM", "multimodal", "image"),
)
def doc_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing under the value gate
    (operators/multimodal.py:resize_images): the deterministic
    nearest-neighbor byte sampling (the 1-D analog of NN image
    resize; the PIL decode is the documented stand-in) runs through
    the REAL Arrow mapInPandas path — schema, batching, size
    contract — and every output byte is checked against a DuckDB
    blob-slicing oracle. The binary payload leaves as its hex dump
    because the hash compare needs an engine-portable cell
    representation (same move as doc_audio_windows' sample
    decoding)."""
    docs = _t(spark, sf_dir, "documents")
    out = mm.resize_images(
        mm.documents_as_binary(docs),
        target_w=_RESIZE_W,
        target_h=_RESIZE_H,
    )
    return out.select(
        "doc_id", "orig_bytes", "target_w", "target_h",
        F.hex(F.col("resized")).alias("resized_hex"),
    )


def _semantic_dedup_chain(
    n_bands: int, n_rows: int, suffix: str, gate: str = ""
) -> str:
    """The full per-width CTE chain for one semantic-dedup oracle:
    LSH buckets → candidates → cosine verify → recursive transitive
    closure (``reach{suffix}``) — algorithm-independent cross-check
    of the min-label-propagation loop (same protocol as
    doc_dup_clusters' oracle). ``gate`` (a WHERE clause) rides on the
    bucket CTE so a multi-width oracle only EXECUTES the width the
    corpus count derives — the others scan zero rows."""
    s = suffix
    return f"""{_rh_ctes(n_bands, n_rows, suffix=s, gate=gate)},
pairs{s} AS (SELECT vec_a, vec_b FROM verified{s} WHERE cos >= 0.4),
edges{s} AS (SELECT vec_a AS node, vec_b AS nbr FROM pairs{s}
          UNION ALL
          SELECT vec_b, vec_a FROM pairs{s}),
reach{s}(node, r) AS (
  SELECT DISTINCT node, node FROM edges{s}
  UNION
  SELECT e.node, reach{s}.r FROM edges{s} e
  JOIN reach{s} ON reach{s}.node = e.nbr
)"""


def _semantic_dedup_select(suffix: str, gate: str = "") -> str:
    return f"""SELECT node AS vec_id, min(r) AS cluster_id,
       (node = min(r))::INT AS is_keep
FROM reach{suffix} {gate} GROUP BY node"""


def _semantic_dedup_oracle(
    n_bands: int | None = None, n_rows: int | None = None
) -> str:
    n_bands = sim.RH_BANDS if n_bands is None else n_bands
    n_rows = sim.RH_ROWS if n_rows is None else n_rows
    return f"""
WITH RECURSIVE {_semantic_dedup_chain(n_bands, n_rows, "")}
{_semantic_dedup_select("")}
"""


def _semantic_dedup_auto_oracle(widths=tuple(range(4, 13))) -> str:
    """Width-ADAPTIVE oracle for the N-derived semantic dedup: SQL
    re-derives ``rows_per_band`` from ``count(*)`` with the exact
    :func:`operators.similarity.auto_lsh_params` formula
    (``max(base, ceil(log2 n) - target)``, bands growing one per
    extra bit), then a pre-baked chain per candidate width feeds a
    UNION ALL in which only the derived width's branch is non-empty.
    Each chain's bucket CTE carries the width gate, so the
    non-matching widths EXECUTE over zero rows — the oracle's cost is
    one width's chain regardless of how many are baked. Covers
    corpora up to 2^(max_width+target) vectors (64k at the default
    4–12 widths — spanning sf0.001 through the ×10 probe fixture) —
    beyond that every branch is empty and the row-count check fails
    LOUDLY rather than silently passing. The query keeps deriving N
    at runtime, while the oracle derives the same N from the same
    table at check time."""
    params = (
        "params AS (SELECT greatest({base}, "
        "cast(ceil(log2(greatest(c, 2))) AS INT) - {target}) AS rows_pb "
        "FROM (SELECT count(*) AS c FROM embeddings))"
    ).format(base=sim.RH_ROWS, target=sim.RH_TARGET_LOG_BUCKET)
    chains = ",\n".join(
        _semantic_dedup_chain(
            sim.RH_BANDS + (w - sim.RH_ROWS),
            w,
            f"_w{w}",
            gate=f"WHERE (SELECT rows_pb FROM params) = {w}",
        )
        for w in widths
    )
    selects = "\nUNION ALL\n".join(
        _semantic_dedup_select(f"_w{w}") for w in widths
    )
    return f"WITH RECURSIVE {params},\n{chains}\n{selects}"


@register(
    "emb_semantic_dedup",
    oracle=_semantic_dedup_oracle(_LSH_PIN, _LSH_PIN),
    tags=("LLM", "similarity", "dedup"),
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): sign-LSH
    candidate pairs → exact-cosine verify → connected components →
    one min-id survivor per semantic cluster
    (operators/similarity.py:semantic_dedup). The oracle recomputes
    the components as a recursive transitive closure, so the iterative
    Spark loop is checked by a different algorithm. Bands are passed
    EXPLICITLY (the library default is N-derived via auto_lsh_params)
    because the oracle bakes the same plane/band literals — pinned at
    6×6 (_LSH_PIN), not the quadratic-by-construction 4×4.
    GUARD-PROTECTED: this pinned width measured ×422.6 at ×100
    corpus, so rh_near_dup_pairs raises past
    similarity.FIXED_KNOB_GUARD_N=50k vectors — the fixture here is
    2k rows at sf0.1, far under; at production N this exact call
    fails fast and points at emb_semantic_dedup_auto's path."""
    return sim.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), dim=_EMB_DIM, threshold=0.4,
        bands=_LSH_PIN, rows_per_band=_LSH_PIN,
        approx_count=_corpus_count(sf_dir),
    )


@register(
    "emb_semantic_dedup_auto",
    oracle=_semantic_dedup_auto_oracle(),
    tags=("LLM", "similarity", "dedup", "auto-scale"),
)
def emb_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup with the N-DERIVED band width — the 100 TB
    path: rows_per_band grows with log₂(corpus) so buckets (and the
    candidate self-join) stay constant per row, where a pinned band
    width goes quadratic by construction (probed ×17 at ×10 rows
    with 4 bits; this variant probes ~linear). The oracle is
    width-ADAPTIVE (_semantic_dedup_auto_oracle): it re-derives the
    band width from count(*) with the auto_lsh_params formula and
    evaluates the matching pre-baked plane set, so the driver gets a
    full rows+schema+hash check at every SF up to 8k vectors;
    tests/test_llm_operators.py::test_semantic_dedup_auto_matches_dynamic_oracle
    additionally pins the multi-N behavior on synthetic corpora."""
    return sim.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), dim=_EMB_DIM, threshold=0.4,
        approx_count=_corpus_count(sf_dir),
    )


def _semantic_dedup_clustered_oracle() -> str:
    """Oracle for cluster-pruned SemDeDup: replays the identical
    deterministic Lloyd training (shared ``_kmeans_ctes`` — the same
    CTEs under emb_ivf_topk/emb_kmeans_clusters), generates candidate
    pairs ONLY within each final cell, exact-cosine verifies, then
    closes the pair graph with the recursive transitive closure — so
    the Spark side's min-label components are cross-checked by a
    different algorithm, same protocol as the LSH variant."""
    return f"""
WITH RECURSIVE {_kmeans_ctes()},
candc AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round({_cos_sql("a.embedding", "b.embedding")}, 6) AS cos
          FROM afin a JOIN afin b
            ON a.cell = b.cell AND a.vec_id < b.vec_id),
pairsc AS (SELECT vec_a, vec_b FROM candc WHERE cos >= 0.4),
edgesc AS (SELECT vec_a AS node, vec_b AS nbr FROM pairsc
           UNION ALL
           SELECT vec_b, vec_a FROM pairsc),
reachc(node, r) AS (
  SELECT DISTINCT node, node FROM edgesc
  UNION
  SELECT e.node, reachc.r FROM edgesc e
  JOIN reachc ON reachc.node = e.nbr
)
SELECT node AS vec_id, min(r) AS cluster_id,
       (node = min(r))::INT AS is_keep
FROM reachc GROUP BY node
"""


@register(
    "emb_semantic_dedup_clustered",
    oracle=_semantic_dedup_clustered_oracle(),
    tags=("LLM", "similarity", "dedup", "clustering"),
)
def emb_semantic_dedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-pruned SemDeDup — the recipe as published (Abbas et
    al. 2023): k-means partitions the corpus, exact cosine decides
    only WITHIN clusters, components collapse each semantic group to
    its min-id survivor (operators/similarity.py:
    semantic_dedup_clustered). Candidates are bounded by cluster
    geometry (Σ|c_i|², grown-with-N cell count keeps |c_i| put)
    instead of LSH bucket luck, and the coarse quantizer is the
    session's PERSISTED IVF index reused verbatim — one training job
    feeds ANN serving, cluster profiling, and dedup.
    GUARD-PROTECTED: this FIXED-k=8 shape measured ×155.8 at ×100
    corpus; cluster_near_dup_pairs raises
    when an under-provisioned quantizer (expected cell > 4·512)
    meets >50k vectors — the fixture stays ≤2k; at production N use
    emb_semantic_dedup_clustered_auto's k=auto_k_cells(n)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.load_centroids(spark, _ivf_index_path(spark, sf_dir))
    return sim.semantic_dedup_clustered(
        emb, cents, threshold=0.4, approx_count=_corpus_count(sf_dir)
    )


#: auto-k cell-count formula, shared verbatim by the Spark query and
#: its oracle: expected cell size ~512 vectors (the published
#: SemDeDup regime — k grows with N so within-cell pair work stays
#: linear), floored at IVF_CELLS, capped at 1024
_AUTOK_FLOOR, _AUTOK_CAP, _AUTOK_CELL = (
    sim.IVF_CELLS, sim.AUTOK_CAP, sim.AUTOK_CELL
)
_AUTOK_SQL = (
    f"SELECT greatest({_AUTOK_FLOOR}, least({_AUTOK_CAP}, "
    f"CAST(ceil(count(*) / {_AUTOK_CELL}.0) AS BIGINT))) FROM embeddings"
)

#: one definition (operators/similarity.py:auto_k_cells) shared with
#: the operator layer and scripts/scale_probe.py — the SQL above is
#: the same formula in DuckDB, pinned equal by
#: test_autok_sql_matches_python
_autok = sim.auto_k_cells


def _semantic_dedup_clustered_auto_oracle() -> str:
    """The clustered-dedup oracle with the cell count DERIVED from
    count(*) — the same one-line change the Spark side makes, so both
    engines re-run the identical k-selection + Lloyd + within-cell
    verify + closure at whatever corpus the driver supplies."""
    return f"""
WITH RECURSIVE {_kmeans_ctes(n_cells_sql=_AUTOK_SQL)},
candc AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round({_cos_sql("a.embedding", "b.embedding")}, 6) AS cos
          FROM afin a JOIN afin b
            ON a.cell = b.cell AND a.vec_id < b.vec_id),
pairsc AS (SELECT vec_a, vec_b FROM candc WHERE cos >= 0.4),
edgesc AS (SELECT vec_a AS node, vec_b AS nbr FROM pairsc
           UNION ALL
           SELECT vec_b, vec_a FROM pairsc),
reachc(node, r) AS (
  SELECT DISTINCT node, node FROM edgesc
  UNION
  SELECT e.node, reachc.r FROM edgesc e
  JOIN reachc ON reachc.node = e.nbr
)
SELECT node AS vec_id, min(r) AS cluster_id,
       (node = min(r))::INT AS is_keep
FROM reachc GROUP BY node
"""


@register(
    "emb_semantic_dedup_clustered_auto",
    oracle=_semantic_dedup_clustered_auto_oracle(),
    tags=("LLM", "similarity", "dedup", "clustering", "auto-scale"),
)
def emb_semantic_dedup_clustered_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-pruned SemDeDup at its PUBLISHED operating point: the
    cell count grows with the corpus (k = clamp(N/512, 8, 1024)) so
    expected cluster size stays put and within-cell pair work stays
    linear — at ×100 corpus this measured ×12 where the
    fixed-k twin (emb_semantic_dedup_clustered) measured ×155.8.
    Training runs the same deterministic Lloyd recipe at the derived
    k (dispatching to the Arrow matmul assign above LARGE_K_ASSIGN);
    the oracle re-derives k from count(*) with the same clamp and
    replays everything."""
    emb = _t(spark, sf_dir, "embeddings")
    n = _corpus_count(sf_dir)
    cents = sim.train_kmeans_cells(
        emb, dim=_EMB_DIM, n_cells=_autok(n), iters=sim.IVF_ITERS
    )
    return sim.semantic_dedup_clustered(
        emb, cents, threshold=0.4, approx_count=n
    )


def _ivf_auto_oracle(probes: int) -> str:
    """The IVF serve oracle with the cell count DERIVED from
    count(*) (same clamp as auto_k_cells) — the production-knob index
    under the hash gate. Body identical to ``_ivf_oracle``; only the
    seed cutoff differs."""
    it = sim.IVF_ITERS
    return f"""
WITH {_kmeans_ctes(n_cells_sql=_AUTOK_SQL)},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
best AS (SELECT c.cell FROM c{it} c, q
         ORDER BY round({_cos_sql("c.centroid", "q.qv")}, 6) DESC, c.cell
         LIMIT {probes})
SELECT e.vec_id, e.label,
       round({_cos_sql("e.embedding", "q.qv")}, 6) AS cos
FROM afin e JOIN best USING (cell), q
WHERE e.vec_id <> {_QUERY_VEC_ID}
ORDER BY cos DESC, e.vec_id
LIMIT 10
"""


def _ivf_auto_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The AUTO-K IVF index: the production-knob sibling of
    :func:`_ivf_index_path` (fixed IVF_CELLS, which the bulk of the
    serving oracles replay)."""
    return _session_index(
        spark, "ivfauto", sf_dir,
        build=lambda path: sim.build_ivf_index(
            _t(spark, sf_dir, "embeddings"), _EMB_DIM, path,
            n_cells=_autok(_corpus_count(sf_dir)),
        ),
    )


@register(
    "emb_ivf_auto_topk",
    oracle=_ivf_auto_oracle(1),
    tags=("LLM", "similarity", "auto-scale"),
)
def emb_ivf_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 from a persisted index built at the PRODUCTION cell
    count (k = clamp(N/512, 8, 1024) — fixed ~512-vector cells at any
    corpus size, so per-query serve cost is probes × 512 vectors
    FOREVER, where the fixed-IVF_CELLS registry index's cells grow
    with N: at ×100 corpus the streaming serve through the fixed-k
    index measured ×112.5 against the auto-k serve core's near-flat
    economics). The oracle hash closes the asymmetry where
    only fixed-k serving was oracle-gated: the oracle re-derives k
    from count(*) with the same clamp and replays Lloyd + routing +
    the pruned scan."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _ivf_auto_index_path(spark, sf_dir)
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    return sim.ivf_search(
        spark, idx, q, k=10, exclude_id=_QUERY_VEC_ID, probes=1
    )


#: forces the Arrow matmul assignment path: k strictly above the
#: LARGE_K_ASSIGN=64 dispatch cutover at EVERY test SF (the auto-k
#: queries only cross it past ~33k vectors, so without this query
#: the Arrow path would be pytest-pinned but never oracle-hashed)
_ARROW_ASSIGN_K = sim.LARGE_K_ASSIGN + 32


def _cells_arrow_assign_oracle() -> str:
    """Oracle for the Arrow-path assignment: the SAME Lloyd replay
    (shared ``_kmeans_ctes``) at k=96 — ``afin`` IS the assignment,
    so the SELECT is just a projection. Every Lloyd round AND the
    final assignment run through assign_cells_arrow on the Spark
    side (k > LARGE_K_ASSIGN throughout), so a hash match here
    pins the BLAS matmul + half-away-from-zero rounding + min-cell
    tie-break end-to-end against an engine that never left SQL."""
    return f"""
WITH {_kmeans_ctes(n_cells_sql=str(_ARROW_ASSIGN_K))}
SELECT vec_id, cell::INTEGER AS cell FROM afin
"""


@register(
    "emb_cells_arrow_assign",
    oracle=_cells_arrow_assign_oracle(),
    tags=("LLM", "similarity", "clustering", "arrow"),
)
def emb_cells_arrow_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-k nearest-centroid assignment through the Arrow matmul
    path (operators/similarity.py:assign_cells_arrow): trains the
    deterministic Lloyd quantizer at k=96 — above the
    LARGE_K_ASSIGN=64 cutover, so BOTH the training rounds and the
    final assignment dispatch to the one-BLAS-matmul-per-Arrow-batch
    kernel the registry's small-k queries never exercise (the JVM
    literal argmax measured 384 s for 200k×k391 where the matmul
    takes seconds — this is the production large-k path, and here it
    is oracle-hashed, not just pytest-pinned against the literal
    path)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.train_kmeans_cells(
        emb, dim=_EMB_DIM, n_cells=_ARROW_ASSIGN_K, iters=sim.IVF_ITERS
    )
    return sim.assign_cells_frame(emb, cents)


def _semantic_dedup_clustered_banded_oracle() -> str:
    """Oracle for the cluster-AND-band composition: the Lloyd replay
    (shared ``_kmeans_ctes``) supplies final cells, the pinned-width
    LSH replay (shared ``_rh_ctes``) supplies band buckets, and a
    candidate must match on BOTH before the exact-cosine verify and
    the recursive closure. The unreferenced cand/verified CTEs from
    ``_rh_ctes`` cost nothing (DuckDB skips unreferenced CTEs)."""
    return f"""
WITH RECURSIVE {_kmeans_ctes()},
{_rh_ctes(_LSH_PIN, _LSH_PIN, suffix="_cb")},
candcb AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets_cb a JOIN buckets_cb b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN afin fa ON fa.vec_id = a.vec_id
  JOIN afin fb ON fb.vec_id = b.vec_id AND fb.cell = fa.cell),
vercb AS (
  SELECT c.vec_a, c.vec_b,
         round({_cos_sql("x.embedding", "y.embedding")}, 6) AS cos
  FROM candcb c JOIN embeddings x ON c.vec_a = x.vec_id
             JOIN embeddings y ON c.vec_b = y.vec_id),
pairscb AS (SELECT vec_a, vec_b FROM vercb WHERE cos >= 0.4),
edgescb AS (SELECT vec_a AS node, vec_b AS nbr FROM pairscb
            UNION ALL
            SELECT vec_b, vec_a FROM pairscb),
reachcb(node, r) AS (
  SELECT DISTINCT node, node FROM edgescb
  UNION
  SELECT e.node, reachcb.r FROM edgescb e
  JOIN reachcb ON reachcb.node = e.nbr
)
SELECT node AS vec_id, min(r) AS cluster_id,
       (node = min(r))::INT AS is_keep
FROM reachcb GROUP BY node
"""


@register(
    "emb_semantic_dedup_clustered_banded",
    oracle=_semantic_dedup_clustered_banded_oracle(),
    tags=("LLM", "similarity", "dedup", "clustering", "auto-scale"),
)
def emb_semantic_dedup_clustered_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-AND-band SemDeDup — the 100 TB composition
    (operators/similarity.py:semantic_dedup_clustered_banded):
    candidates must share their k-means cell AND a sign-LSH band
    bucket, so the cluster term caps LSH bucket degeneracy while the
    LSH term keeps within-cluster work near-linear where the
    published exact-within-cluster recipe is Θ(Σ|c_i|²) at fixed
    cell count. The cell id rides the bucket explode (zero extra
    shuffle); band width pinned 6×6 here so the oracle bakes the
    same plane literals (the library default is N-derived).
    GUARD-PROTECTED: the 6×6 pin measured ×126.5 at ×100 corpus;
    cluster_banded_near_dup_pairs raises on
    a pinned band width past 50k vectors (fixed CELL count alone is
    fine here — the band term is what keeps it linear; the auto-band
    twin over the same k=8 quantizer probed ×9.45)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.load_centroids(spark, _ivf_index_path(spark, sf_dir))
    return sim.semantic_dedup_clustered_banded(
        emb, cents, dim=_EMB_DIM, threshold=0.4,
        bands=_LSH_PIN, rows_per_band=_LSH_PIN,
        approx_count=_corpus_count(sf_dir),
    )


_KNN_JOIN_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % {_KNN_JOIN_MOD} = 0),
c AS (SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_KNN_JOIN_MOD} <> 0),
scored AS (
  SELECT q.query_id, c.vec_id,
         round({_cos_sql("c.embedding", "q.qv")}, 6) AS cos
  FROM q CROSS JOIN c),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, cos, rank::INT AS rank
FROM ranked WHERE rank <= {_KNN_JOIN_K}
"""


@register(
    "emb_knn_join",
    oracle=_KNN_JOIN_ORACLE,
    tags=("LLM", "similarity"),
)
def emb_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-NN join (operators/similarity.py:knn_join): exact
    top-{_k} neighbors for every query in a deterministic query batch.
    Arrow mapInPandas computes per-batch partial top-k (zero-shuffle
    candidate generation — the cross product never shuffles); the
    JVM-fold cosine re-verifies candidates bit-identically to the
    oracle's sequential list_sum, rank window runs over candidates
    only. The oracle brute-forces the full cross join."""
    return sim.knn_join(
        _t(spark, sf_dir, "embeddings"),
        dim=_EMB_DIM,
        k=_KNN_JOIN_K,
        query_mod=_KNN_JOIN_MOD,
    )


#: hard-negative band ceiling: below this corpus's near-dup range
#: (top-1 cosines run 0.28-0.45 here), so the band genuinely excludes
#: the nearest hits for several queries and the rank shift is
#: oracle-visible.
_HARD_NEG_MAX_COS = 0.3

_HARD_NEG_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % {_KNN_JOIN_MOD} = 0),
c AS (SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_KNN_JOIN_MOD} <> 0),
scored AS (
  SELECT q.query_id, c.vec_id,
         round({_cos_sql("c.embedding", "q.qv")}, 6) AS cos
  FROM q CROSS JOIN c),
banded AS (SELECT * FROM scored WHERE cos <= {_HARD_NEG_MAX_COS}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM banded)
SELECT query_id, vec_id, cos, rank::INT AS rank
FROM ranked WHERE rank <= {_KNN_JOIN_K}
"""


@register(
    "emb_hard_negatives",
    oracle=_HARD_NEG_ORACLE,
    tags=("LLM", "similarity", "retrieval"),
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/similarity.py:knn_join with ``max_cos`` — the banded
    form of emb_knn_join): per query, the top-{_KNN_JOIN_K} MOST
    similar corpus vectors whose cosine stays ≤ {_HARD_NEG_MAX_COS}
    — similar enough to be informative negatives, below the
    near-duplicate band that would poison the loss with false
    negatives (the DPR/SimCSE mining recipe). The numpy partial
    stage masks banded-out vectors BEFORE its local top-k (an
    unbanded cut would fill every candidate slot with the excluded
    near-dups); the band edge itself is decided on the rounded JVM
    fold, bit-identical to the oracle's brute force."""
    return sim.knn_join(
        _t(spark, sf_dir, "embeddings"),
        dim=_EMB_DIM,
        k=_KNN_JOIN_K,
        query_mod=_KNN_JOIN_MOD,
        max_cos=_HARD_NEG_MAX_COS,
    )


_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_toks_sql("text")}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n FROM documents)
SELECT term, round(sum(tf * ln(n.n / df)), 4) AS tfidf
FROM tf JOIN dfreq USING (term), n
GROUP BY term
ORDER BY tfidf DESC, term
LIMIT 20
"""


@register("doc_tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("LLM", "text"))
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus terms by summed tf·idf
    (operators/textstats.py:tfidf_top_terms): explode → tf, df
    shuffles → broadcast scalar N → TakeOrdered top-k."""
    return ts.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=20)


#: BM25 registry query terms: one RARE term ("dup" — df 25/500 at
#: sf0.01, so its idf dominates and rare-term docs rank first) plus
#: two common ones, exercising the idf spread end to end.
_BM25_TERMS = ("dup", "spark", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75

_BM25_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, {_toks_sql("text")} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM toked),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
postings AS (SELECT doc_id, unnest(toks) AS term FROM toked),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM postings
  WHERE term IN ('dup', 'spark', 'vector') GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
SELECT doc_id,
       round(sum(
         round(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * ({_BM25_K1} + 1)
              / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl)))
           * 1e6
         )::BIGINT
       ) / 1e6, 4) AS bm25,
       count(*) AS n_hit_terms
FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


@register("doc_bm25_search", oracle=_BM25_ORACLE, tags=("LLM", "text", "retrieval"))
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 (Okapi k1=1.2 b=0.75 — ES's default
    similarity, the RANKED form of the reference's analyzed match
    query, PublishDaoImpl.java:58-61) for a three-term query
    (operators/retrieval.py:bm25_search). One corpus scan feeds both
    doc lengths (pure map — size(tokenize)) and query-term postings
    (term filter BEFORE the tf shuffle); df and the (N, avgdl)
    scalars broadcast back; TakeOrdered top-k. The oracle replays
    the exact formula over the same token alphabet."""
    from ..operators.retrieval import bm25_search

    return bm25_search(
        _t(spark, sf_dir, "documents"), list(_BM25_TERMS), k=10
    )


@register(
    "streaming_bm25_parity",
    oracle=_BM25_ORACLE,
    tags=("LLM", "text", "retrieval", "streaming"),
)
def streaming_bm25_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 the way ES actually serves it: a continuously-MAINTAINED
    inverted index, never a per-query corpus re-tokenization
    (PublishDaoImpl.java:58-61 queries the index DwdDauApp-era
    pipelines keep current). Documents arrive as a real Structured
    Streaming source in 4 micro-batches; each batch tokenizes once
    and banks its postings/doclen/stats shard under a deterministic
    ``batch=<id>`` dir (streaming/sinks.py:bm25_index_sink — replays
    overwrite, T5; batches partition documents, so per-batch
    (doc, term) tf rows are disjoint, df is their per-term count, and
    N/avgdl fold from additive stats rows). The query filters the
    merged postings to its terms and reuses the one-shot scorer
    VERBATIM (operators/retrieval.py:bm25_rank — the
    transition_matrix_from_counts discipline), so the served top-10
    must hash-equal doc_bm25_search. The oracle IS its oracle,
    unchanged."""
    import os

    from ..materialize import engine_tmpdir
    from ..streaming.sinks import bm25_index_sink, read_bm25_index

    docs = _t(spark, sf_dir, "documents")
    root = engine_tmpdir("bm25_parity_")
    index = os.path.join(root, "index")
    # compact_every=2: one mid-run fold — postings/doclen consolidate
    # into an immutable append segment, the additive stats rows fold
    # to one; the served ranking must still hash-equal the one-shot
    # corpus search (streaming/store.py)
    _drain(
        _staged_stream(spark, docs.select("doc_id", "text"), root),
        bm25_index_sink(index, compact_every=2),
        "bm25",
    )
    return read_bm25_index(spark, index, list(_BM25_TERMS), k=10)


def _hybrid_rrf_oracle() -> str:
    """Compose the two branch oracles verbatim (BM25 top-10, brute
    cosine top-10) and fuse with exact-integer reciprocal-rank
    contributions — DuckDB's ``//`` is the same BIGINT floor
    division as Spark's ``div``."""
    from ..operators import retrieval as _rt

    return f"""
WITH bm AS (SELECT * FROM ({_BM25_ORACLE}) t),
bmr AS (SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id)
                 AS rank_text
        FROM bm),
cosb AS (SELECT * FROM ({_TOPK_ORACLE}) t),
cosr AS (SELECT vec_id AS doc_id,
                row_number() OVER (ORDER BY cos DESC, vec_id)
                  AS rank_vector
         FROM cosb),
f AS (SELECT coalesce(b.doc_id, c.doc_id) AS id,
             b.rank_text, c.rank_vector,
             (coalesce({_rt.RRF_SCALE} // ({_rt.RRF_K} + b.rank_text), 0)
              + coalesce({_rt.RRF_SCALE} // ({_rt.RRF_K} + c.rank_vector), 0)
             )::BIGINT AS rrf_micro
      FROM bmr b FULL OUTER JOIN cosr c ON b.doc_id = c.doc_id)
SELECT id, rank_text, rank_vector, rrf_micro
FROM f ORDER BY rrf_micro DESC, id LIMIT 10
"""


@register(
    "doc_hybrid_rrf_search",
    oracle=_hybrid_rrf_oracle(),
    tags=("LLM", "text", "retrieval", "similarity"),
)
def doc_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    top-10 (doc_bm25_search's exact branch) with the vector cosine
    top-10 vs the vec_id=0 query embedding (emb_cosine_topk's exact
    branch) — the ES ``rrf`` retriever's semantics
    (operators/retrieval.py:rrf_fuse; Cormack et al. 2009, k=60)
    over the engine's own two index families. Both branches arrive
    top-k-pruned (term-clustered postings / TakeOrdered cosine), so
    the fusion itself is a k-row full-outer join with exact-integer
    SCALE div (k + rank) scores — no float summation to disagree
    with the oracle. A doc ranked by only one branch still scores
    (NULL rank on the other), matching hybrid search's union-of-
    candidates contract."""
    from ..operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = rt.bm25_search(docs, list(_BM25_TERMS), k=10)
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    cos = sim.cosine_topk(emb, q, k=10, exclude_id=_QUERY_VEC_ID)
    return rt.rrf_fuse(
        [
            ("text", bm, "doc_id",
             [F.desc("bm25"), F.asc("doc_id")]),
            ("vector", cos, "vec_id",
             [F.desc("cos"), F.asc("vec_id")]),
        ],
        topk=10,
    )


@register(
    "streaming_hybrid_rrf_parity",
    oracle=_hybrid_rrf_oracle(),
    tags=("LLM", "text", "retrieval", "similarity", "streaming"),
)
def streaming_hybrid_rrf_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hybrid RRF search served entirely from STREAMING-MAINTAINED
    stores — the production shape of doc_hybrid_rrf_search: the
    lexical branch reads the continuously-indexed BM25 store
    (bm25_index_sink, term-clustered postings, compacted mid-run)
    and the vector branch scans an embeddings store a stream
    maintains through the idempotent sink (segments ∪ tail after a
    mid-run fold), so neither branch ever re-reads source tables at
    query time. Branch rankings hash-equal their one-shot twins
    (the bm25/idempotent parity contracts), the fusion is the same
    exact-integer rrf_fuse, and the oracle IS doc_hybrid_rrf_search's
    oracle, unchanged."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from ..materialize import engine_tmpdir
    from ..operators import retrieval as rt
    from ..streaming.sinks import (
        bm25_index_sink,
        idempotent_parquet_sink,
        read_bm25_index,
        read_sink,
    )

    root = engine_tmpdir("hybrid_parity_")
    index = os.path.join(root, "index")
    emb_store = os.path.join(root, "emb")

    def streamed(src_df, tag, sink):
        stream = _staged_stream(spark, src_df, engine_tmpdir(f"hyb_{tag}_"))
        _drain(stream, sink, f"hyb_{tag}")

    # the two maintenance pipelines are INDEPENDENT (separate sources,
    # separate stores) — run them as concurrent streaming queries so
    # the light embeddings stream back-fills executor capacity the
    # lexical pipeline's micro-batch tails leave idle (guide §2.6);
    # each runs exactly the work it ran sequentially
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                streamed,
                _t(spark, sf_dir, "documents").select("doc_id", "text"),
                "docs",
                bm25_index_sink(index, compact_every=2),
            ),
            pool.submit(
                streamed,
                _t(spark, sf_dir, "embeddings"),
                "emb",
                idempotent_parquet_sink(
                    emb_store,
                    key_cols=("vec_id",),
                    partition_col=None,
                    compact_every=2,
                ),
            ),
        ]
        for f in futs:
            f.result()
    bm = read_bm25_index(spark, index, list(_BM25_TERMS), k=10)
    emb = read_sink(spark, emb_store)
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    cos = sim.cosine_topk(emb, q, k=10, exclude_id=_QUERY_VEC_ID)
    return rt.rrf_fuse(
        [
            ("text", bm, "doc_id",
             [F.desc("bm25"), F.asc("doc_id")]),
            ("vector", cos, "vec_id",
             [F.desc("cos"), F.asc("vec_id")]),
        ],
        topk=10,
    )


_BPE_ORACLE = rf"""
SELECT lang,
       sum(len({_toks_sql("text")}))::BIGINT AS word_tokens,
       sum(len(regexp_extract_all(text,
           '[\p{{L}}\p{{N}}]+|[^\s\p{{L}}\p{{N}}]')))::BIGINT AS bpe_ish_tokens,
       round(sum(len(regexp_extract_all(text,
           '[\p{{L}}\p{{N}}]+|[^\s\p{{L}}\p{{N}}]')))::DOUBLE
             / sum(len({_toks_sql("text")})), 4) AS bpe_per_word
FROM documents GROUP BY lang
"""


@register("doc_bpe_token_stats", oracle=_BPE_ORACLE, tags=("LLM", "text"))
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-ish vs BPE-ish token-cost stats per language
    (operators/textstats.py:token_cost_stats) — the corpus tokenizer
    cost estimate, pure regex both engines."""
    return ts.token_cost_stats(_t(spark, sf_dir, "documents"))


_FRAME_ORACLE = """
SELECT doc_id, i AS frame_idx,
       CASE WHEN i < n - 1 THEN step ELSE len - step * (n - 1) END
         AS frame_bytes
FROM (
  SELECT doc_id,
         octet_length(encode(text)) AS len,
         least(4, octet_length(encode(text))) AS n,
         octet_length(encode(text))
           // least(4, octet_length(encode(text))) AS step,
         unnest(range(0, least(4, octet_length(encode(text))))) AS i
  FROM documents WHERE octet_length(encode(text)) > 0)
"""


@register("doc_frame_sample", oracle=_FRAME_ORACLE, tags=("LLM", "multimodal"))
def doc_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (operators/multimodal.py:frame_sample):
    1→N row fan-out inside Arrow-batched mapInPandas, 4 evenly spaced
    slices per payload. The oracle recomputes slice geometry from byte
    lengths; the head-bytes column is covered by unit tests (blob
    comparison is engine-specific)."""
    docs = _t(spark, sf_dir, "documents")
    frames = mm.frame_sample(mm.documents_as_binary(docs), n_frames=4)
    return frames.select("doc_id", "frame_idx", "frame_bytes")


def _winnow_ctes() -> str:
    """CTE chain ending in ``fp`` (doc_id, fingerprint) — the DuckDB
    replica of operators/dedup.py:winnow_fingerprints, shared by the
    fingerprint query and the overlap-span pairing query."""
    k, w = dd.WINNOW_K, dd.WINNOW_W
    shingles = (
        f"CASE WHEN len(t) >= {k} "
        f"THEN list_transform(range(1, len(t) - {k - 2}), "
        f"i -> array_to_string(t[i:i+{k - 1}], ' ')) "
        f"ELSE [array_to_string(t, ' ')] END"
    )
    return f"""
toks AS (SELECT doc_id, {_toks_sql("text")} AS t FROM documents),
sh AS (SELECT doc_id, {shingles} AS s FROM toks),
h AS (SELECT doc_id, list_transform(s, v -> {oracle_hash60_sql("v")}) AS hs
      FROM sh),
m AS (SELECT doc_id,
             CASE WHEN len(hs) >= {w}
                  THEN list_transform(range(1, len(hs) - {w - 2}),
                                      i -> list_min(hs[i:i+{w - 1}]))
                  ELSE [list_min(hs)] END AS minima
      FROM h),
fp AS (SELECT doc_id, unnest(list_distinct(minima)) AS fingerprint FROM m)
"""


def _winnow_oracle() -> str:
    return f"""
WITH {_winnow_ctes()}
SELECT doc_id, fingerprint FROM fp
"""


@register("doc_winnow_fingerprints", oracle=_winnow_oracle(), tags=("LLM", "dedup"))
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash window minima,
    operators/dedup.py:winnow_fingerprints) — detects shared runs of
    >= w+k-1 tokens between documents, the partial-overlap complement
    to whole-set MinHash."""
    return dd.winnow_fingerprints(_t(spark, sf_dir, "documents"))


_OVERLAP_MIN_SHARED = 3

_OVERLAP_SPANS_ORACLE = f"""
WITH {_winnow_ctes()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*)::BIGINT AS shared_fps
FROM fp a JOIN fp b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_OVERLAP_MIN_SHARED}
"""


@register(
    "doc_overlap_spans", oracle=_OVERLAP_SPANS_ORACLE, tags=("LLM", "dedup")
)
def doc_overlap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-span pairs on winnowing fingerprints
    (operators/dedup.py:overlap_spans): pairs of documents sharing ≥ 3
    window-minimum fingerprints — partial-overlap detection (plagiarism
    / contamination spans) that whole-document MinHash misses. The only
    pairwise step is the fingerprint-local self-join; never all-pairs."""
    return dd.overlap_spans(
        _t(spark, sf_dir, "documents"), min_shared=_OVERLAP_MIN_SHARED
    )


_EMB_FEATURES_ORACLE = """
WITH b AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(embedding, x -> x::DOUBLE))
           / len(embedding) AS mu
  FROM embeddings)
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding,
             x -> x::DOUBLE * x::DOUBLE))), 6) AS l2_norm,
       round(mu, 6) AS mean,
       round(sqrt(list_sum(list_transform(embedding,
             x -> (x::DOUBLE - mu) * (x::DOUBLE - mu)))
             / len(embedding)), 6) AS std,
       list_sum(list_transform(embedding,
             x -> CASE WHEN x <> 0 THEN 1 ELSE 0 END))::BIGINT AS n_nonzero
FROM b
"""


@register("emb_feature_extract", oracle=_EMB_FEATURES_ORACLE,
          tags=("LLM", "multimodal", "similarity"))
def emb_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numpy-vectorized per-vector features via Arrow mapInPandas
    (operators/multimodal.py:embedding_features) — the pattern for
    work genuinely better in batched Python (SIMD matrix math) than
    Column expressions; the oracle recomputes the same statistics in
    SQL."""
    return mm.embedding_features(_t(spark, sf_dir, "embeddings"))


_SAMPLE_KEY = "('doc:' || doc_id::VARCHAR)"
_SAMPLE_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang,
         {oracle_hash60_sql(_SAMPLE_KEY)} % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 10 THEN 'test'
            WHEN bucket < 20 THEN 'holdout'
            ELSE 'train' END AS split,
       lang, count(*)::BIGINT AS n_docs
FROM b GROUP BY split, lang ORDER BY split, lang
"""


@register("doc_hash_split", oracle=_SAMPLE_ORACLE, tags=("LLM", "sampling"))
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout/test split by hash bucket — the
    reproducible alternative to ``df.sample`` a 100 TB corpus needs:
    membership depends only on the stable doc key, so re-runs,
    incremental corpus versions, and different engines all agree (the
    DuckDB oracle computes the identical split). Buckets compose:
    ``bucket < 10`` is a 10 % sample, growing a sample keeps prior
    members. Pure projection + one aggregate — no shuffle beyond the
    final small groupBy, nothing driver-side."""
    from ..functions.hashing import hash60

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        hash60(F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))) % 100
    )
    return (
        docs.select(
            F.when(bucket < 10, "test")
            .when(bucket < 20, "holdout")
            .otherwise("train")
            .alias("split"),
            "lang",
        )
        .groupBy("split", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("split", "lang")
    )


_SAMPLE_RATES = {"en": 0.2, "zh": 0.9, "de": 0.7, "fr": 0.7, "es": 0.7}


def _stratified_sample_oracle() -> str:
    from ..operators.sampling import oracle_stratified_sample_sql

    pred = oracle_stratified_sample_sql("lang", _SAMPLE_RATES, "doc_id")
    return f"""
    SELECT doc_id, lang, source FROM documents WHERE {pred}
    """


@register(
    "doc_stratified_sample",
    oracle=_stratified_sample_oracle(),
    tags=("LLM", "sampling"),
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sample
    (operators/sampling.py): downsample the majority language (en
    20 %), keep most of the tail (70-90 %). Selection is a pure
    hash-threshold filter pushed to the scan — reproducible across
    reruns/engines, no rand(), no shuffle; rates hold at any corpus
    size by concentration."""
    from ..operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(docs, "lang", _SAMPLE_RATES, "doc_id")


# ---------------------------------------------------------------------------
# Corpus curation: repetition, vocabulary, decontamination, mixing, packing
# ---------------------------------------------------------------------------

#: NON-distinct bigram list (repetition needs multiplicities)
_BIGRAMS_SQL = (
    "CASE WHEN len(t) >= 2 "
    "THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) "
    "ELSE []::VARCHAR[] END"
)

_REPETITION_ORACLE = f"""
WITH toks AS (SELECT {_toks_sql("text")} AS t FROM documents),
b AS (SELECT {_BIGRAMS_SQL} AS b FROM toks),
rep AS (SELECT CASE WHEN len(b) > 0
                    THEN round(1 - len(list_distinct(b))::DOUBLE / len(b), 6)
                    ELSE 0.0 END AS r
        FROM b)
SELECT CASE WHEN r < 0.1 THEN 'low'
            WHEN r < 0.3 THEN 'mid' ELSE 'high' END AS band,
       count(*)::BIGINT AS n_docs,
       round(avg(r), 6) AS avg_repetition
FROM rep GROUP BY band
"""


@register("doc_repetition_bands", oracle=_REPETITION_ORACLE, tags=("LLM", "quality"))
def doc_repetition_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-bigram fraction per doc (Rae et al. 2021
    §A1.1), banded corpus-wide — the boilerplate/spam signal of a
    quality-filter pass. Pure codegen array ops per row, one tiny
    3-key aggregate."""
    return ts.repetition_bands(_t(spark, sf_dir, "documents"))


_TOP_BIGRAMS_ORACLE = f"""
WITH toks AS (SELECT {_toks_sql("text")} AS t FROM documents),
b AS (SELECT unnest({_BIGRAMS_SQL}) AS bigram FROM toks)
SELECT bigram, count(*)::BIGINT AS n
FROM b GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
"""


@register("doc_top_bigrams", oracle=_TOP_BIGRAMS_ORACLE, tags=("LLM", "vocab"))
def doc_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams (vocabulary / BPE-merges prep):
    explode → map-side-partial count → TakeOrdered, never a global
    sort."""
    return ts.top_bigrams(_t(spark, sf_dir, "documents"))


def _grams5_sql(t: str = "t") -> str:
    """Distinct 5-gram shingles mirroring ngram_shingles(n=5) incl.
    its short-doc fallback (whole text as one shingle)."""
    g = (
        f"list_transform(range(1, len({t}) - 3), "
        f"i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]"
        f" || ' ' || {t}[i+3] || ' ' || {t}[i+4])"
    )
    return (
        f"CASE WHEN len({t}) >= 5 THEN list_distinct({g}) "
        f"ELSE [array_to_string({t}, ' ')] END"
    )


_DECONTAMINATE_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_toks_sql("text")} AS t FROM documents),
g AS (SELECT doc_id, unnest({_grams5_sql()}) AS gram FROM toks),
gh AS (SELECT doc_id, {oracle_hash60_sql("gram")} AS h FROM g),
ev AS (SELECT DISTINCT h FROM gh WHERE doc_id % 50 = 0)
SELECT doc_id, count(*)::BIGINT AS n_shared
FROM gh JOIN ev USING (h)
WHERE doc_id % 50 <> 0
GROUP BY doc_id
"""


@register("doc_decontaminate", oracle=_DECONTAMINATE_ORACLE, tags=("LLM", "dedup"))
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 App. C): training
    docs sharing any 5-gram with the held-out slice (doc_id % 50 = 0
    plays the benchmark). The eval gram-hash set broadcasts; the
    corpus explode collapses again in a map-side-partial count. The
    anti-join complement is the clean training set."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return dd.decontaminate(corpus, ev, n=5)


_RESAMPLE_ORACLE = f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
r AS (SELECT lang, n,
             pow((SELECT min(n) FROM c)::DOUBLE / n, 0.5) AS rate
      FROM c),
k AS (SELECT d.lang, r.rate,
             CASE WHEN {oracle_hash60_sql("'doc:' || d.doc_id::VARCHAR")}
                       / 1152921504606846976.0 < r.rate
                  THEN 1 ELSE 0 END AS keep
      FROM documents d JOIN r USING (lang))
SELECT lang, count(*)::BIGINT AS n_docs, round(rate, 6) AS rate,
       sum(keep)::BIGINT AS n_kept
FROM k GROUP BY lang, rate
"""


@register(
    "doc_temperature_resample", oracle=_RESAMPLE_ORACLE, tags=("LLM", "sampling")
)
def doc_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-tempered language mix (Conneau & Lample 2019 §3.1,
    downsample-only, α=0.5): language g keeps sqrt(n_min/n_g) of its
    docs, decided per row by a 60-bit id hash — deterministic,
    stateless, reproducible in both engines. The rate table is a
    broadcast; counting is the only shuffle."""
    return ts.temperature_resample(_t(spark, sf_dir, "documents"))


_PACKING_ORACLE = f"""
WITH t AS (SELECT source, doc_id,
                  len({_toks_sql("text")}) AS tok
           FROM documents),
p AS (SELECT source, tok,
             coalesce(sum(tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      FROM t)
SELECT source, (pre // 512)::BIGINT AS bin,
       count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS sum_tokens
FROM p GROUP BY source, bin
"""


@register("doc_sequence_packing", oracle=_PACKING_ORACLE, tags=("LLM", "packing"))
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: docs concatenate in doc_id
    order within their shard and cut into 512-token bins (a doc's bin
    = exclusive running count div budget). Per-shard windows — the
    shard is the parallelism unit, exactly how a 100 TB run shards by
    (source, day)."""
    return ts.sequence_packing(_t(spark, sf_dir, "documents"))


_QUANT_ORACLE = f"""
WITH base AS (
  SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
s AS (SELECT label, v,
             list_max(list_transform(v, x -> abs(x))) AS maxabs
      FROM base),
sc AS (SELECT label, v,
              CASE WHEN maxabs > 0 THEN maxabs / 127.0 ELSE 1.0 END AS scale
       FROM s),
qd AS (SELECT label, v, scale,
              list_transform(v, x -> round(x / scale)::INT) AS q
       FROM sc),
dq AS (SELECT label, v, q,
              list_transform(q, x -> x::DOUBLE * scale) AS deq
       FROM qd)
SELECT label, count(*)::BIGINT AS n_vecs,
       sum(list_sum(q))::BIGINT AS sum_q,
       min(round({_cos_sql("v", "deq")}, 6)) AS min_roundtrip_cos
FROM dq GROUP BY label
"""


@register("emb_int8_quantize", oracle=_QUANT_ORACLE, tags=("LLM", "similarity"))
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (FAISS SQ8 scheme; 4→1
    bytes/dim) with the round-trip-cosine quality gate
    (operators/similarity.py:quantize_int8). The rollup is engine-
    deterministic by construction: the quantized-component sum is
    exact integer math and min∘round is order-independent — no
    float-summation ambiguity anywhere."""
    q = sim.quantize_int8(_t(spark, sf_dir, "embeddings"))
    return (
        q.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(F.aggregate("q", F.lit(0).cast("bigint"),
                              lambda acc, x: acc + x))
            .cast("bigint").alias("sum_q"),
            F.min("roundtrip_cos").alias("min_roundtrip_cos"),
        )
    )


_HAMMING_K = 10
_HAMMING_ORACLE = f"""
WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                   unnest(embedding) AS v
            FROM embeddings),
bits AS (SELECT vec_id,
    coalesce(sum(CASE WHEN i <= 32 AND v > 0
                      THEN 1::BIGINT << (32 - i) ELSE 0 END), 0) AS bhi,
    coalesce(sum(CASE WHEN i > 32 AND v > 0
                      THEN 1::BIGINT << (64 - i) ELSE 0 END), 0) AS blo
  FROM ex GROUP BY vec_id),
q AS (SELECT e.embedding AS qv, b.bhi AS qhi, b.blo AS qlo
      FROM embeddings e JOIN bits b USING (vec_id)
      WHERE e.vec_id = {_QUERY_VEC_ID}),
cand AS (SELECT e.vec_id, e.label, e.embedding,
                (bit_count(xor(b.bhi, q.qhi))
                 + bit_count(xor(b.blo, q.qlo)))::INT AS hamming
         FROM embeddings e JOIN bits b USING (vec_id), q
         WHERE e.vec_id <> {_QUERY_VEC_ID}
         ORDER BY hamming, e.vec_id
         LIMIT {_HAMMING_K * sim.HAMMING_RERANK})
SELECT c.vec_id, c.label, c.hamming,
       round({_cos_sql("c.embedding", "q.qv")}, 6) AS cos
FROM cand c, q
ORDER BY cos DESC, c.vec_id
LIMIT {_HAMMING_K}
"""


@register("emb_hamming_topk", oracle=_HAMMING_ORACLE, tags=("LLM", "similarity"))
def emb_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary ANN (operators/similarity.py:hamming_topk):
    sign-bit quantization packs 64 dims into two BIGINT half-words
    (binary LSH for angle, Charikar 2002), a Hamming
    TakeOrderedAndProject picks k·{sim.HAMMING_RERANK} candidates at
    XOR+POPCNT cost — 16 bytes/vector instead of the 256-byte float
    column at serve time — and the exact-cosine fold reranks only the
    constant-size short list. The oracle replays the identical
    MSB-first packing and both rank stages."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim.query_vector(emb, _QUERY_VEC_ID)
    return sim.hamming_topk(
        emb, q, k=_HAMMING_K, exclude_id=_QUERY_VEC_ID
    )


def _funnel_oracle() -> str:
    stop = _marker_sql(ts.STOPWORDS)
    n = f"len({_toks_sql('text')})"
    q = (
        f"round(least(1.0, {n}::DOUBLE / 100.0) * 0.7 + "
        f"(CASE WHEN {n} > 0 THEN {stop}::DOUBLE / {n} ELSE 0.0 END) * 0.3, 6)"
    )
    return f"""
WITH toks AS (SELECT doc_id, lang, text, {_toks_sql("text")} AS t
              FROM documents),
scored AS (
  SELECT doc_id, lang,
         {q} AS q,
         CASE WHEN len({_BIGRAMS_SQL}) > 0
              THEN round(1 - len(list_distinct({_BIGRAMS_SQL}))::DOUBLE
                         / len({_BIGRAMS_SQL}), 6)
              ELSE 0.0 END AS rep,
         {oracle_hash60_sql("lower(trim(text))")} AS fp,
         {oracle_hash60_sql("'doc:' || doc_id::VARCHAR")}
           / 1152921504606846976.0 AS u
  FROM toks),
flagged AS (SELECT *, (q >= 0.25 AND rep < 0.05) AS pass_q FROM scored),
winners AS (
  SELECT *,
         pass_q AND doc_id = min(CASE WHEN pass_q THEN doc_id END)
                             OVER (PARTITION BY fp) AS winner
  FROM flagged),
rates AS (SELECT lang, count(*) AS n_u FROM winners WHERE winner
          GROUP BY lang),
rr AS (SELECT lang,
              sqrt((SELECT min(n_u) FROM rates)::DOUBLE / n_u) AS rate
       FROM rates)
SELECT w.lang, count(*)::BIGINT AS n_raw,
       sum(CASE WHEN pass_q THEN 1 ELSE 0 END)::BIGINT AS n_quality,
       sum(CASE WHEN winner THEN 1 ELSE 0 END)::BIGINT AS n_unique,
       sum(CASE WHEN winner AND u < coalesce(rate, 0.0)
                THEN 1 ELSE 0 END)::BIGINT AS n_final,
       round(coalesce(any_value(rate), 0.0), 6) AS rate
FROM winners w LEFT JOIN rr USING (lang)
GROUP BY w.lang
"""


@register(
    "corpus_curation_funnel", oracle=_funnel_oracle(), tags=("LLM", "pipeline")
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline as ONE plan — the query a
    training-data run actually executes: quality gate (score ≥ 0.25 ∧
    repetition < 0.05) → exact dedup among survivors (min-id wins per
    fingerprint) → temperature resample over the deduped language mix
    (α=0.5, hash-threshold) — reported as a per-language funnel
    (raw → quality → unique → final) with the applied rate.

    Scale shape: one doc-level pass computes scores/fingerprint/hash
    (codegen, zero shuffle), one fp-partitioned window picks dedup
    winners, the tiny per-language rate table broadcasts back, and
    one aggregate emits the funnel. The doc-level frame is
    lazily checkpointed — it feeds both the rate computation and the
    final count, the same reuse a real pipeline gets by materializing
    its scored corpus (durable DISK_ONLY persist / checkpoint-dir —
    see materialize.py)."""
    from ..functions.hashing import hash60
    from pyspark.sql.window import Window

    from ..functions.text import tokenize

    # scoring is CPU-bound per row; rebalance the single-file scan to
    # core count before it (same rationale as dedup.spread), and
    # tokenize ONCE behind an explode(array()) barrier — both score
    # expressions read the same token array instead of re-running the
    # regex split per signal (Catalyst won't CSE the tokenize calls).
    docs = dd.spread(_t(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", "lang", "text",
        F.explode(F.array(tokenize("text"))).alias("__toks"),
    )
    pass_q = (ts.quality_score_t(F.col("__toks")) >= 0.25) & (
        ts.repetition_ratio_t(F.col("__toks")) < 0.05
    )
    scored = base.select(
        "doc_id",
        "lang",
        pass_q.alias("pass_q"),
        dd.fingerprint("text").alias("fp"),
        (
            hash60(F.concat(F.lit("doc:"), F.col("doc_id").cast("string")))
            / F.lit(float(1 << 60))
        ).alias("u"),
    )
    from ..materialize import materialize

    # feeds both the rate computation and the final count — durable
    # materialization (DISK_ONLY / checkpoint-dir), not localCheckpoint
    scored = materialize(scored)
    w = Window.partitionBy("fp")
    winners = scored.withColumn(
        "winner",
        F.col("pass_q")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("pass_q"), F.col("doc_id"))).over(w)
        ),
    )
    rates = (
        winners.filter("winner").groupBy("lang").agg(F.count("*").alias("n_u"))
    )
    nmin = rates.agg(F.min("n_u").alias("__nmin"))
    rr = rates.crossJoin(F.broadcast(nmin)).select(
        "lang", F.sqrt(F.col("__nmin") / F.col("n_u")).alias("rate")
    )
    return (
        winners.join(F.broadcast(rr), "lang", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_raw"),
            F.sum(F.when(F.col("pass_q"), 1).otherwise(0))
            .cast("bigint").alias("n_quality"),
            F.sum(F.when(F.col("winner"), 1).otherwise(0))
            .cast("bigint").alias("n_unique"),
            F.sum(
                F.when(
                    F.col("winner")
                    & (F.col("u") < F.coalesce(F.col("rate"), F.lit(0.0))),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_final"),
            F.round(F.coalesce(F.first("rate"), F.lit(0.0)), 6).alias("rate"),
        )
    )


@register(
    "streaming_curation_parity",
    oracle=_funnel_oracle(),
    tags=("LLM", "pipeline", "streaming"),
)
def streaming_curation_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel through REAL streaming machinery, checked
    against the batch funnel's oracle: documents stream through
    ``streaming/pipelines.py:curation_sink`` (per-batch quality gate →
    within-batch dedup → first-wins vs the grown corpus store), then
    the temperature-resample snapshot — whose per-language rates
    depend on the whole corpus mix, so a real pipeline computes them
    from the accumulated store, not per batch — runs over what the
    stream kept. Same protocol as the other streaming parities
    (file source → foreachBatch → AvailableNow → read the store).
    Cross-batch first-wins is pinned by
    tests/test_streaming.py::test_curation_sink_across_micro_batches,
    replay idempotency by
    tests/test_streaming.py::test_curation_sink_replay_keeps_its_batch."""
    from ..functions.hashing import hash60
    from ..materialize import engine_tmpdir
    from ..streaming.pipelines import curation_sink

    base = engine_tmpdir("curation_")
    corpus_path, stats_path = f"{base}/corpus", f"{base}/stats"
    _drain(
        _stream_t(spark, sf_dir, "documents"),
        curation_sink(corpus_path, stats_path),
        "curation",
    )
    kept = spark.read.parquet(corpus_path)
    stats = (
        spark.read.parquet(stats_path)
        .groupBy("lang")
        .agg(
            F.sum("n_raw").cast("bigint").alias("n_raw"),
            F.sum("n_quality").cast("bigint").alias("n_quality"),
        )
    )
    # resample snapshot over the accumulated store: rate = sqrt(min/n)
    # per language (α=0.5), u = the funnel's deterministic doc hash
    uniq = kept.groupBy("lang").agg(F.count("*").alias("n_u"))
    nmin = uniq.agg(F.min("n_u").alias("__nmin"))
    rr = uniq.crossJoin(F.broadcast(nmin)).select(
        "lang", F.sqrt(F.col("__nmin") / F.col("n_u")).alias("rate")
    )
    u = hash60(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
    ) / F.lit(float(1 << 60))
    finals = (
        kept.join(F.broadcast(rr), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_unique"),
            F.sum(F.when(u < F.col("rate"), 1).otherwise(0))
            .cast("bigint").alias("n_final"),
            F.round(F.first("rate"), 6).alias("rate"),
        )
    )
    return (
        stats.join(finals, "lang", "left")
        .select(
            "lang", "n_raw", "n_quality",
            F.coalesce("n_unique", F.lit(0)).cast("bigint").alias("n_unique"),
            F.coalesce("n_final", F.lit(0)).cast("bigint").alias("n_final"),
            F.coalesce("rate", F.lit(0.0)).alias("rate"),
        )
    )


def _gopher_oracle() -> str:
    stoplist = ", ".join(f"'{w}'" for w in ts.STOPWORDS)
    lo, hi = ts.GOPHER_MIN_WORDS, ts.GOPHER_MAX_WORDS
    mlo, mhi = ts.GOPHER_MIN_MEAN_LEN, ts.GOPHER_MAX_MEAN_LEN
    af, ns = ts.GOPHER_MIN_ALPHA_FRAC, ts.GOPHER_MIN_STOPWORDS
    return f"""
WITH toks AS (SELECT lang, {_toks_sql("text")} AS t FROM documents),
f AS (
  SELECT lang, len(t) AS n,
         coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS tot,
         len(list_filter(t, x -> regexp_matches(x, '\\p{{L}}'))) AS alpha,
         len(list_filter(t, x -> x IN ({stoplist}))) AS stop
  FROM toks),
g AS (
  SELECT lang,
         (n >= {lo} AND n <= {hi}) AS words_ok,
         (CASE WHEN n > 0 THEN tot::DOUBLE / n ELSE 0.0 END) AS ml,
         (CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END) AS afr,
         stop
  FROM f)
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN words_ok THEN 1 ELSE 0 END)::BIGINT AS n_words_ok,
       sum(CASE WHEN ml >= {mlo} AND ml <= {mhi} THEN 1 ELSE 0 END)::BIGINT
         AS n_mean_len_ok,
       sum(CASE WHEN afr >= {af} THEN 1 ELSE 0 END)::BIGINT AS n_alpha_ok,
       sum(CASE WHEN stop >= {ns} THEN 1 ELSE 0 END)::BIGINT AS n_stop_ok,
       sum(CASE WHEN words_ok AND ml >= {mlo} AND ml <= {mhi}
                 AND afr >= {af} AND stop >= {ns}
           THEN 1 ELSE 0 END)::BIGINT AS n_pass
FROM g GROUP BY lang
"""


@register("doc_gopher_filters", oracle=_gopher_oracle(), tags=("LLM", "text"))
def doc_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-filter attrition (Rae et al. 2021 App. A1.1,
    operators/textstats.py:gopher_filter_report): per-language counts
    of docs passing each applicable rule (word-count bounds, mean
    word length, alphabetic-token fraction, stopword floor) and all
    four — the attrition table a filtering run tunes against. One
    tokenize-once scan; every rule is codegen'd array math."""
    return ts.gopher_filter_report(dd.spread(_t(spark, sf_dir, "documents")))


_N_TRAIN_SHARDS = 8

_TRAINING_SHARDS_ORACLE = f"""
WITH s AS (SELECT doc_id, {_toks_sql("text")} AS t,
                  {oracle_hash60_sql("'shuf:' || doc_id::VARCHAR")} AS h
           FROM documents)
SELECT (h % {_N_TRAIN_SHARDS})::INT AS shard,
       count(*)::BIGINT AS n_docs,
       sum(len(t))::BIGINT AS n_tokens,
       arg_min(doc_id, h) AS first_doc
FROM s GROUP BY 1 ORDER BY shard
"""


@register(
    "doc_training_shards",
    oracle=_TRAINING_SHARDS_ORACLE,
    tags=("LLM", "pipeline"),
)
def doc_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export layout (operators/sampling.py:shuffle_sharded):
    deterministic global pseudo-shuffle (h = hash60('shuf:'||id) — a
    rerun reproduces the same order bit-for-bit, unlike rand()) cut
    into 8 shards by h mod 8. Reported as per-shard (n_docs, n_tokens,
    first_doc-by-h) — the manifest a trainer consumes; the physical
    one-shuffle h-ordered write is write_training_shards, layout
    pinned by tests/test_llm_operators.py::test_training_shards_layout."""
    from ..functions.text import tokenize
    from ..operators import sampling as sp

    docs = dd.spread(_t(spark, sf_dir, "documents"))
    sh = sp.shuffle_sharded(docs, n_shards=_N_TRAIN_SHARDS, key_col="doc_id")
    return (
        sh.groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(tokenize("text"))).cast("bigint").alias("n_tokens"),
            F.min_by("doc_id", "h").alias("first_doc"),
        )
        .orderBy("shard")
    )


_COMMONNESS_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest({_toks_sql("text")}) AS term
              FROM documents),
vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term
          ORDER BY cnt DESC, term LIMIT 50000),
tot AS (SELECT count(*) AS T FROM toks),
per_doc AS (
  SELECT t.doc_id, count(*) AS n_tok,
         sum(coalesce(v.cnt, 0)) AS sum_cnt
  FROM toks t LEFT JOIN vocab v USING (term)
  GROUP BY t.doc_id)
SELECT CASE WHEN sum_cnt * 10000 < 332 * n_tok * (SELECT T FROM tot)
              THEN 'rare'
            WHEN sum_cnt * 10000 < 334 * n_tok * (SELECT T FROM tot)
              THEN 'normal'
            ELSE 'common' END AS band,
       count(*)::BIGINT AS n_docs,
       sum(n_tok)::BIGINT AS sum_tokens
FROM per_doc GROUP BY band
"""


@register(
    "doc_lexical_commonness", oracle=_COMMONNESS_ORACLE, tags=("LLM", "quality")
)
def doc_lexical_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based quality bands (the log-free integer cousin of
    CCNet's LM-perplexity filter): mean corpus frequency of each doc's
    tokens against a frozen top-V vocabulary, with every compare in
    exact bigint math (operators/textstats.py:lexical_commonness)."""
    return ts.lexical_commonness(dd.spread(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# PII redaction + corpus source mix
# ---------------------------------------------------------------------------

#: deterministic PII synthesis (the driver corpus is synthetic and
#: PII-free, so the scrub would otherwise run on nothing): every doc
#: gains one email, even ids a phone, ids%3==0 an IPv4 — derived from
#: doc_id so both engines build the identical pre-scrub text.


def _pii_text_col():
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact u"), did.cast("string"), F.lit("@example.com"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" or 555-"),
                     F.lpad((did % 1000).cast("string"), 3, "0"),
                     F.lit("-1234")),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" from 192.168."), (did % 256).cast("string"),
                     F.lit("."), ((did * 7) % 256).cast("string")),
        ).otherwise(F.lit("")),
    )


_PII_TEXT_SQL = """text || ' contact u' || doc_id || '@example.com'
    || CASE WHEN doc_id % 2 = 0
            THEN ' or 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-1234'
            ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN ' from 192.168.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
            ELSE '' END"""

# oracle fragments generated FROM operators.pii.PII_PATTERNS — one
# source of truth; editing the operator's patterns moves counts,
# scrub, and oracle in lockstep.
from ..operators.pii import PII_PATTERNS as _PII

_PII_COUNTS_SQL = ",\n         ".join(
    f"len(regexp_extract_all(ptext, '{pat}'))::BIGINT AS n_{name}"
    for name, pat, _ in _PII
)
_PII_SCRUB_SQL = "ptext"
for _name, _pat, _rep in _PII:
    _PII_SCRUB_SQL = (
        f"regexp_replace({_PII_SCRUB_SQL}, '{_pat}', '{_rep}', 'g')"
    )

_PII_ORACLE = f"""
WITH pii AS (SELECT doc_id, {_PII_TEXT_SQL} AS ptext FROM documents),
scrubbed AS (
  SELECT doc_id,
         {_PII_COUNTS_SQL},
         {_PII_SCRUB_SQL} AS stext
  FROM pii)
SELECT doc_id, {", ".join(f"n_{name}" for name, _, _ in _PII)},
       {oracle_hash60_sql("stext")} AS scrubbed_fp
FROM scrubbed
"""


@register("doc_pii_scrub", oracle=_PII_ORACLE, tags=("LLM", "pii", "quality"))
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/pii.py): detect + redact emails /
    phone numbers / IPv4 addresses per document. The per-pattern
    counts pin detection; the 60-bit hash of the scrubbed text pins
    the EXACT redacted output (replacement order included) without
    shipping long strings through the gate. PII is synthesized
    deterministically from doc_id (the driver corpus is PII-free), so
    both engines scrub identical inputs. Pure codegen regex — zero
    shuffle, scan-speed at 100 TB."""
    from ..functions.hashing import hash60
    from ..operators import pii

    docs = dd.spread(_t(spark, sf_dir, "documents"))
    with_pii = docs.select("doc_id", _pii_text_col().alias("ptext"))
    return with_pii.select(
        "doc_id",
        *pii.pii_counts("ptext"),
        hash60(pii.scrub("ptext")).alias("scrubbed_fp"),
    )


_SOURCE_MIX_ORACLE = f"""
WITH per_doc AS (
  SELECT source, len({_toks_sql("text")})::BIGINT AS n_tok FROM documents),
agg AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
  FROM per_doc GROUP BY source)
SELECT source, n_docs, n_tokens,
       round(n_tokens / (SELECT sum(n_tokens)::DOUBLE FROM agg), 6)
         AS token_share
FROM agg
"""


@register("doc_source_mix", oracle=_SOURCE_MIX_ORACLE, tags=("LLM", "mixing"))
def doc_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing view: docs + token mass + token share per source
    — the bookkeeping behind data-mixture weights (what fraction of
    training tokens each source contributes). Tokenize once per doc,
    one partial-agg shuffle on source, total via a broadcast single-row
    cross join — no second scan, no window over the whole corpus."""
    from ..functions.text import tokenize

    docs = dd.spread(_t(spark, sf_dir, "documents"))
    per_src = (
        docs.select("source", F.size(tokenize("text")).cast("bigint").alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    total = per_src.agg(F.sum("n_tokens").cast("double").alias("__total"))
    return per_src.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", "n_tokens",
        F.round(F.col("n_tokens") / F.col("__total"), 6).alias("token_share"),
    )


# ---------------------------------------------------------------------------
# Sub-document (chunk-level) dedup
# ---------------------------------------------------------------------------

_CHUNK_W = 15
#: stride for the overlapping-window variant: w/2 (rounded up). The
#: aligned chunker only matches duplicated runs whose start offsets
#: agree modulo w; halving the stride doubles the caught alignment
#: classes (offsets equal mod 8) for 2× the chunk rows. Full
#: alignment-independent span detection is doc_overlap_spans
#: (winnowing — content-defined positions); this is the cheap middle.
_CHUNK_S = 8


def _chunk_dedup_oracle(stride: int) -> str:
    w = _CHUNK_W
    return f"""
WITH toks AS (SELECT doc_id, {_toks_sql("text")} AS t FROM documents),
chunks AS (
  SELECT doc_id,
         array_to_string(t[i*{stride}+1 : i*{stride}+{w}], ' ') AS chunk
  FROM toks, unnest(range(0, (len(t) - {w}) // {stride} + 1)) AS u(i)
  WHERE len(t) >= {w})
SELECT fp, n_copies, n_docs, keep_doc FROM (
  SELECT {oracle_hash60_sql("lower(trim(chunk))")} AS fp,
         count(*)::BIGINT AS n_copies,
         count(DISTINCT doc_id)::BIGINT AS n_docs,
         min(doc_id) AS keep_doc
  FROM chunks GROUP BY 1)
WHERE n_copies > 1
"""


@register(
    "doc_chunk_dedup", oracle=_chunk_dedup_oracle(_CHUNK_W), tags=("LLM", "dedup")
)
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: tokenize each doc once, cut it into
    fixed 15-token chunks (the sub-document unit — the corpus has no
    sentence punctuation, and fixed-token windows are what production
    pipelines chunk on anyway), fingerprint each chunk, and report
    every chunk occurring more than once across the corpus — the
    pass that catches shared boilerplate runs which doc-level hashing
    misses because the surrounding text differs."""
    return dd.chunk_dedup(
        dd.spread(_t(spark, sf_dir, "documents")), w=_CHUNK_W, stride=_CHUNK_W
    )


@register(
    "doc_chunk_dedup_stride",
    oracle=_chunk_dedup_oracle(_CHUNK_S),
    tags=("LLM", "dedup"),
)
def doc_chunk_dedup_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunk dedup (stride w/2 = 8): the aligned
    chunker only matches duplicated runs whose start offsets agree
    mod 15 — a copy shifted by, say, 8 tokens of boilerplate prefix
    is invisible to it. Emitting windows every 8 tokens doubles the
    caught alignment classes (offsets equal mod 8) for ~2× the chunk
    rows — the documented recall/cost middle between aligned chunks
    and full winnowing (doc_overlap_spans). The straddling-duplicate
    catch is pinned by
    tests/test_llm_operators.py::test_stride_chunks_catch_straddling_duplicate."""
    return dd.chunk_dedup(
        dd.spread(_t(spark, sf_dir, "documents")), w=_CHUNK_W, stride=_CHUNK_S
    )


def _token_entropy_oracle() -> str:
    """Replica of textstats.token_entropy: counts from run lengths of
    the sorted token list (any total order groups equal tokens, so
    collation differences cannot change the counts), per-term
    micro-nat quantization, ln N once per doc."""
    return f"""
WITH toks AS (
  SELECT doc_id, list_sort({_toks_sql("text")}) AS t FROM documents),
b AS (SELECT doc_id, t, len(t)::BIGINT AS n FROM toks),
s AS (
  SELECT doc_id, n,
         CASE WHEN n > 0 THEN
           list_filter(range(1, n + 1), i -> i = 1 OR t[i] <> t[i-1])
         ELSE [] END AS st
  FROM b),
l AS (
  SELECT doc_id, n, len(st)::BIGINT AS d,
         list_transform(range(1, len(st) + 1),
                        k -> coalesce(st[k + 1], n + 1) - st[k]) AS lens
  FROM s),
m AS (
  SELECT doc_id, n, d,
         coalesce(list_sum(list_transform(
           lens, c -> round(1e6 * c * ln(c))::BIGINT)), 0) AS micro
  FROM l)
SELECT doc_id, n AS n_tokens, d AS n_distinct,
       CASE WHEN n > 0
            THEN round(ln(n) - micro::DOUBLE / (1e6 * n::DOUBLE), 4)
            ELSE 0.0 END AS entropy
FROM m
"""


@register(
    "doc_token_entropy",
    oracle=_token_entropy_oracle(),
    tags=("LLM", "text", "quality"),
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy
    (operators/textstats.py:token_entropy) — the information-theoretic
    quality signal beside the ratio heuristics and Gopher repetition
    gates: boilerplate scores LOW entropy for its length. Zero
    shuffle: token counts come from run lengths of the per-doc SORTED
    token array (sort_array + higher-order transforms, all in
    whole-stage codegen), never an explode + (doc, token) groupBy;
    per-term contributions quantize to integer micro-nats (the lm.py
    move) so the per-doc total is summation-order-free."""
    return ts.token_entropy(_t(spark, sf_dir, "documents"))


def _bpe_cte_chain(k: int) -> list[str]:
    """The shared CTE chain replaying operators/bpe.py's training
    loop (see _bpe_oracle): toks, v0, then (p{i}, b{i}, v{i}) per
    merge — b{i} is the rank-i merge, v{i} the vocabulary after it."""
    split_syms = (
        "regexp_split_to_array(regexp_replace(regexp_replace("
        "s, '^\\^', ''), '\\|$', ''), '\\|\\^')"
    )
    ctes = [
        f"toks AS (SELECT unnest({_toks_sql('text')}) AS t FROM documents)",
        "v0 AS (SELECT regexp_replace(t, '(.)', '^\\1|', 'g') AS s,"
        " count(*)::BIGINT AS c FROM toks GROUP BY 1)",
    ]
    for i in range(1, k + 1):
        ctes.append(f"""p{i} AS (
  SELECT p.l AS l, p.r AS r, sum(c)::BIGINT AS n FROM (
    SELECT unnest(list_transform(range(1, len(syms)),
                  j -> {{'l': syms[j], 'r': syms[j+1]}})) AS p, c
    FROM (SELECT {split_syms} AS syms, c FROM v{i - 1})
  ) GROUP BY 1, 2)""")
        ctes.append(
            f"b{i} AS (SELECT l, r, n FROM p{i} "
            "ORDER BY n DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"v{i} AS (SELECT replace(s, '^' || b.l || '|^' || b.r || '|',"
            f" '^' || b.l || b.r || '|') AS s, c FROM v{i - 1}, b{i} b)"
        )
    return ctes


def _bpe_oracle(k: int) -> str:
    """Replay of operators/bpe.py:bpe_learn_merges as 2·k chained
    CTEs: stage i counts adjacent symbol pairs over the v{i-1}
    vocabulary states (word-frequency weighted), picks the (count
    desc, l, r) argmax, and applies the delimiter-anchored plain
    string replace — both engines' ``replace`` are leftmost-first
    non-overlapping scans, so the states stay bit-identical."""
    union = "\n  UNION ALL ".join(
        f"SELECT {i}::BIGINT AS rank, l AS lhs, r AS rhs, n AS pair_n"
        f" FROM b{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH " + ",\n".join(_bpe_cte_chain(k))
        + f"\nSELECT * FROM ({union}) ORDER BY rank"
    )


def _bpe_compression_oracle(k: int) -> str:
    """Learn (the shared CTE chain) then ENCODE: every corpus token's
    initial state runs through the k learned replaces (b{i} scalars
    cross-joined in rank order), symbols are counted by counting
    '|', and the per-language totals divide once at 4dp."""
    enc = "regexp_replace(t, '(.)', '^\\1|', 'g')"
    for i in range(1, k + 1):
        enc = (
            f"replace({enc}, '^' || b{i}.l || '|^' || b{i}.r || '|',"
            f" '^' || b{i}.l || b{i}.r || '|')"
        )
    bs = ", ".join(f"b{i}" for i in range(1, k + 1))
    ctes = _bpe_cte_chain(k)
    ctes.append(
        "toksl AS (SELECT lang, unnest("
        + _toks_sql("text")
        + ") AS t FROM documents)"
    )
    ctes.append(f"""enc AS (
  SELECT lang, length(t)::BIGINT AS chars,
         (length(st) - length(replace(st, '|', '')))::BIGINT AS syms
  FROM (SELECT lang, t, {enc} AS st FROM toksl, {bs}))""")
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT lang, count(*)::BIGINT AS n_tokens,
       sum(chars)::BIGINT AS n_chars,
       sum(syms)::BIGINT AS n_symbols,
       round(sum(syms)::DOUBLE / sum(chars)::DOUBLE, 4) AS compression
FROM enc GROUP BY lang"""
    )


_BPE_MERGES = 6


@register(
    "doc_bpe_learn_merges",
    oracle=_bpe_oracle(_BPE_MERGES),
    tags=("LLM", "text", "tokenizer"),
)
def doc_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 6 BPE merges learned from the document corpus
    (operators/bpe.py:bpe_learn_merges — Sennrich et al. 2016): the
    tokenizer-TRAINING side of the pipeline. Training runs on the
    word-frequency vocabulary (one corpus-token shuffle, then every
    iteration is vocabulary-sized and map-side combinable); the merge
    application is a delimiter-anchored plain string replace, which
    is leftmost-first non-overlapping in both engines, so the oracle
    replays the entire training loop as chained CTEs and the merge
    table hash-matches."""
    from ..operators.bpe import bpe_learn_merges

    return bpe_learn_merges(
        _t(spark, sf_dir, "documents"), n_merges=_BPE_MERGES
    )


@register(
    "doc_bpe_compression",
    oracle=_bpe_compression_oracle(_BPE_MERGES),
    tags=("LLM", "text", "tokenizer"),
)
def doc_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language compression from the learned BPE merges
    (operators/bpe.py:bpe_compression) — the ENCODE side closing the
    tokenizer loop: train the merge table (doc_bpe_learn_merges'
    exact loop), broadcast it as literals into a k-replace codegen
    expression, and measure symbols/chars per language — the held-out
    metric a tokenizer-training pipeline monitors (merges learned on
    a mostly-English corpus compress 'en' hardest). Encoding is one
    explode + one map-side aggregate; all counts are exact bigints
    with one final 4dp division."""
    from ..operators.bpe import bpe_compression, bpe_learn_merges

    learned = bpe_learn_merges(
        _t(spark, sf_dir, "documents"), n_merges=_BPE_MERGES
    ).collect()
    merges = [(r.lhs, r.rhs) for r in sorted(learned, key=lambda r: r.rank)]
    return bpe_compression(_t(spark, sf_dir, "documents"), merges)


_PHRASE = ("slow", "hash", "batch")


def _phrase_oracle(phrase: tuple[str, ...]) -> str:
    k = len(phrase)
    conds = " AND ".join(
        f"tk[i+{j}] = '{t}'" if j else f"tk[i] = '{t}'"
        for j, t in enumerate(phrase)
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_toks_sql("text")} AS tk FROM documents),
occ AS (
  SELECT doc_id, lang,
         CASE WHEN len(tk) >= {k} THEN
           len(list_filter(range(1, len(tk) - {k} + 2), i -> {conds}))
         ELSE 0 END::BIGINT AS n_occurrences
  FROM t)
SELECT doc_id, lang, n_occurrences FROM occ
WHERE n_occurrences > 0
ORDER BY n_occurrences DESC, doc_id
"""


@register(
    "doc_phrase_search",
    oracle=_phrase_oracle(_PHRASE),
    tags=("LLM", "text", "serving"),
)
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase over the corpus
    (operators/retrieval.py:match_phrase_docs): documents containing
    the exact analyzed phrase 'slow hash batch' with occurrence
    counts — the positional sibling of the reference's analyzed
    match-AND query (PublishDaoImpl.java:58-61) and the BM25 ranked
    form. Pure in-row window check over the token array (zero
    shuffle, zero positional-postings explode); the oracle replays
    the same windows with list ops."""
    from ..operators.retrieval import match_phrase_docs

    return match_phrase_docs(
        _t(spark, sf_dir, "documents"), " ".join(_PHRASE)
    )


def _split_leakage_oracle() -> str:
    """Replica: the minhash verified-pair chain + both split labels
    (identical hash60 bucket arithmetic to doc_hash_split's oracle)
    joined onto the pairs, one aggregate per policy."""
    doc_split = (
        f"CASE WHEN {oracle_hash60_sql(_SAMPLE_KEY)} % 100 < 10 THEN 'test' "
        f"WHEN {oracle_hash60_sql(_SAMPLE_KEY)} % 100 < 20 THEN 'holdout' "
        "ELSE 'train' END"
    )
    src_key = "('src:' || source)"
    src_split = (
        f"CASE WHEN {oracle_hash60_sql(src_key)} % 100 < 10 THEN 'test' "
        f"WHEN {oracle_hash60_sql(src_key)} % 100 < 20 THEN 'holdout' "
        "ELSE 'train' END"
    )
    return f"""
WITH {_minhash_ctes()},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.6),
labels AS (
  SELECT doc_id, {doc_split} AS by_doc, {src_split} AS by_source
  FROM documents),
j AS (
  SELECT la.by_doc AS da, lb.by_doc AS db,
         la.by_source AS sa, lb.by_source AS sb
  FROM pairs p
  JOIN labels la ON p.doc_a = la.doc_id
  JOIN labels lb ON p.doc_b = lb.doc_id)
SELECT * FROM (
  SELECT 'by_doc' AS policy, count(*)::BIGINT AS n_pairs,
         coalesce(sum((da <> db)::INT), 0)::BIGINT AS n_cross,
         round(coalesce(sum((da <> db)::INT), 0)::DOUBLE
               / greatest(count(*), 1)::DOUBLE, 4) AS cross_pct
  FROM j
  UNION ALL
  SELECT 'by_source', count(*)::BIGINT,
         coalesce(sum((sa <> sb)::INT), 0)::BIGINT,
         round(coalesce(sum((sa <> sb)::INT), 0)::DOUBLE
               / greatest(count(*), 1)::DOUBLE, 4)
  FROM j)
ORDER BY policy
"""


@register(
    "doc_split_leakage",
    oracle=_split_leakage_oracle(),
    tags=("LLM", "sampling", "dedup"),
)
def doc_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit
    (operators/sampling.py:split_leakage_report): how many verified
    near-dup pairs each split policy separates across split
    boundaries — the per-DOCUMENT hash split (doc_hash_split's exact
    arithmetic) vs the per-SOURCE group split (the published
    mitigation: correlated documents travel together when the split
    key is the leakage unit). A near-duplicate of a training doc
    landing in test silently inflates eval; this measures that risk
    on the corpus instead of assuming it. Pairs come from the same
    MinHash-LSH chain as doc_minhash_near_dup; each policy adds two
    id-keyed label joins and one aggregate."""
    from ..operators.sampling import split_label, split_leakage_report

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.near_dup_pairs(docs, threshold=0.6).select(
        "doc_a", "doc_b"
    )
    return split_leakage_report(
        docs,
        pairs,
        {
            "by_doc": split_label(F.col("doc_id"), "doc:"),
            "by_source": split_label(F.col("source"), "src:"),
        },
    )
