"""Document deduplication operators — exact, MinHash-LSH, SimHash.

The reference system has no document corpus, but its dedup primitive
(the Redis ``DAU:<date>`` set, ``DwdDauApp.scala:83-100``) generalizes
to the operators a 100 TB training-data pipeline needs. All of these
are pure DataFrame transforms: JVM-side higher-order functions over
token/shingle arrays, no Python UDFs, so whole-stage codegen applies
and the only shuffles are the ones the algorithm requires.

Scale design (the part that matters at 100 TB):

- **Exact dedup** is one shuffle on a 60-bit fingerprint;
  ``min_by``-style aggregation gets map-side partial aggregation.
- **MinHash-LSH** (Broder 1997; see PAPERS.md) never compares all
  pairs: each doc emits ``BANDS`` bucket keys (a few rows), candidate
  generation is a self-equi-join on the bucket key (shuffle on a
  well-distributed 120-bit-ish key), and exact Jaccard verification
  runs only on the candidate pairs. Degenerate buckets (boilerplate
  shingles shared by millions of docs) can be capped with
  ``max_bucket`` — at 100 TB you always set it.
- **SimHash** (Charikar 2002) is one explode + one codegen'd hash
  aggregate (map-side combine makes the doc-keyed shuffle tiny);
  banding its bit-ranges gives Hamming-distance buckets the same LSH
  way.

Every op is reproducible bit-for-bit by the DuckDB oracle via
``functions.hashing.hash60`` / ``oracle_hash60_sql``.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash60
from ..functions.text import ngram_shingles, normalize_text
from ..materialize import materialize, release

#: MinHash defaults: 12 independent hash families in 4 bands of 3 rows.
#: P(candidate | jaccard J) = 1 - (1 - J^3)^4 — 0.995 at J=0.9, 0.62 at
#: J=0.6, 0.004 at J=0.1. Rows-per-band = 3 (not 2) because false
#: candidates cost a verify-join each: at J_random ≈ 0.1 (synthetic
#: small-vocab corpora; boilerplate-heavy web crawls look similar)
#: r=2 admits ~J²=1% of all pairs — r=3 admits 0.1%. The miss rate at
#: mid-J is the documented trade; production near-dup thresholds
#: (0.8+) sit on the steep part of the curve either way.
N_HASHES = 12
N_BANDS = 4
ROWS_PER_BAND = 3
SIMHASH_BITS = 32

#: Universal-hash family params (Carter-Wegman): family i maps the
#: 31-bit base hash h to (A[i]*h + B[i]) mod P. One md5 per shingle
#: total, instead of one per shingle per family — the md5 is ~all the
#: hash cost in both engines. P = 2^31-1 (prime) keeps a*h+b < 2^62,
#: inside bigint for Spark (ANSI overflow checks) and DuckDB alike.
MERSENNE_P = 2_147_483_647
HASH_A = (1103, 12289, 20011, 32003, 45007, 65003,
          80021, 95003, 104729, 130003, 150001, 175003)
HASH_B = (12345, 54321, 98765, 13579, 24680, 112233,
          445566, 778899, 31415, 27182, 16180, 14142)


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the
    input arrives in fewer partitions. Hash/shingle extraction is
    CPU-bound per row; a small corpus read from one parquet file would
    otherwise run single-threaded. At 100 TB the input has thousands
    of splits and this is a no-op — it only guards the small end."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def fingerprint(col: Column | str) -> Column:
    """Exact-dedup key: 60-bit hash of the normalized text. Hashing
    first means the shuffle moves 8 bytes per doc, not the document."""
    return hash60(normalize_text(col))


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one row per distinct normalized text, keeping the
    smallest id as the canonical representative plus the copy count.

    Shape: ``groupBy(fingerprint)`` — a single shuffle on the hash,
    with map-side partial min/count. No window function (a
    row_number window would lose partial aggregation)."""
    return (
        docs.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
    )


def shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """(id, distinct token n-gram shingles) — the set representation
    under Jaccard. Stays inside the row: no explode, no shuffle."""
    return docs.select(
        F.col(id_col),
        F.array_distinct(ngram_shingles(text_col, n)).alias("shingles"),
    )


def minhash_signature(shingled: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """Add ``sig``: array of per-family min-hashes.

    One md5-based base hash per shingle (``hash60 mod P``), then each
    family is a Carter-Wegman affine map of it — min over the shingle
    array happens inside the row (``array_min ∘ transform``), so the
    signature costs zero shuffles and exactly one md5 per shingle."""
    base = shingled.withColumn(
        "__h", F.transform("shingles", lambda s: hash60(s) % MERSENNE_P)
    )
    sig = F.array(
        *[
            F.array_min(F.transform("__h", _family(i)))
            for i in range(n_hashes)
        ]
    )
    return base.withColumn("sig", sig).drop("__h")


def _family(i: int):
    # closure, not functools.partial / default-arg lambda: PySpark's
    # higher-order-function introspection requires a 1-arg callable
    a, b = HASH_A[i], HASH_B[i]

    def f(h: Column) -> Column:
        return (F.lit(a) * h + F.lit(b)) % MERSENNE_P

    return f


def lsh_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Explode the signature into ``bands`` bucket keys
    ``"<band>:<h0>:<h1>"``. Two docs share a bucket iff one full band
    of their signatures agrees — the LSH amplification step."""
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(j)),
                *[
                    F.col("sig")[j * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for j in range(bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(band_keys).alias("bucket"))


def lsh_candidate_pairs(
    buckets: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from bucket co-membership.

    Self-equi-join on the bucket key — the *only* pairwise step, and
    it is bucket-local. ``max_bucket`` drops buckets larger than the
    cap before the join (at 100 TB a boilerplate shingle family can
    put millions of docs in one bucket; capping bounds the join's
    worst case at cap² per bucket)."""
    if max_bucket is not None:
        big = (
            buckets.groupBy("bucket")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("bucket")
        )
        buckets = buckets.join(big, "bucket")
    a = buckets.select(F.col("bucket"), F.col(id_col).alias("doc_a"))
    b = buckets.select(F.col("bucket"), F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.size(F.array_intersect(ca, cb)).cast("double") / F.size(
        F.array_union(ca, cb)
    )


def near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_n: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    Pipeline: shingle → minhash signature → banded buckets →
    bucket-join candidates → exact Jaccard ≥ threshold on candidates
    only. The shingle sets are joined back by id for verification, so
    text never rides through the bucket shuffle."""
    sh = shingle_sets(spread(docs), text_col, id_col, n=shingle_n)
    # The shingle sets feed FOUR subtrees (both sides of the bucket
    # self-join, both sides of the verify join). Materialize once —
    # the batch analog of persisting the signature table, which is
    # what a 100 TB dedup run does anyway (signatures are reused
    # across incremental corpus versions). materialize() is
    # cluster-durable (DISK_ONLY persist / reliable checkpoint),
    # unlike localCheckpoint whose unreplicated executor-local blocks
    # die with one lost executor.
    sh = materialize(sh)
    cands = lsh_candidate_pairs(
        lsh_buckets(minhash_signature(sh), id_col), id_col, max_bucket
    )
    # set sizes hoisted into the per-side projections: the shingle
    # arrays are distinct by construction, so |a ∪ b| = |a|+|b|-|a ∩ b|
    # and the per-pair work is ONE array_intersect instead of
    # intersect + union (array_union also materializes the combined
    # array per pair — pure allocation). Integer-derived either way,
    # so the 6dp Jaccard — and the oracle hash — are bit-identical.
    sa = sh.select(
        F.col(id_col).alias("doc_a"),
        F.col("shingles").alias("__sa"),
        F.size("shingles").alias("__na"),
    )
    sb = sh.select(
        F.col(id_col).alias("doc_b"),
        F.col("shingles").alias("__sb"),
        F.size("shingles").alias("__nb"),
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                inter.cast("double")
                / (F.col("__na") + F.col("__nb") - inter), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


#: Inverted-index df cap: grams whose posting list exceeds this are
#: dropped before the candidate self-join. Work is then bounded by
#: cap·|postings|/2 — LINEAR in corpus size at fixed cap (unlike a
#: pinned LSH band width, whose pair count grows N²/2^bits). The cap
#: is also a semantic filter: a gram shared by >cap docs is
#: boilerplate, and boilerplate-only overlap is exactly the evidence
#: near-dup detection should ignore.
NGRAM_DF_CAP = 128


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_n: int = 2,
    df_cap: int = NGRAM_DF_CAP,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a df-capped inverted
    index — the deterministic sibling of ``near_dup_pairs``.

    Where MinHash-LSH finds a pair only with probability
    1-(1-J^r)^b, this operator finds EVERY pair that shares at least
    one non-boilerplate shingle (document frequency ≤ ``df_cap``) —
    candidate generation is the classic inverted-index self-join
    (postings list per gram, pairs within a list), then the same
    exact-Jaccard verification as the MinHash path.

    Scale shape (the 100 TB contract): shingles are hashed to 8 bytes
    before the explode-shuffle; the df filter is a two-phase count +
    join (map-side partial agg, no window); posting lists longer than
    ``df_cap`` never reach the self-join, so candidate pairs are
    ≤ df_cap/2 × |postings| — linear in corpus tokens at fixed cap.
    No pinned knob goes quadratic here, so unlike the pinned SemDeDup
    twins this needs no corpus-size guard.

    Recall trade (documented, inherent): a true near-dup pair whose
    every shared gram exceeds ``df_cap`` is missed. At threshold-grade
    similarity the pair shares ~J/(1+J) of its grams, so this requires
    *all* of them to be corpus-boilerplate — raise ``df_cap`` if the
    corpus really is that degenerate."""
    sh = shingle_sets(spread(docs), text_col, id_col, n=shingle_n)
    # feeds three subtrees (postings + both verify sides): materialize
    # once, same rationale as near_dup_pairs
    sh = materialize(sh)
    postings = sh.select(
        F.col(id_col),
        F.explode("shingles").alias("__g"),
    ).select(F.col(id_col), (hash60(F.col("__g"))).alias("__gh"))
    # two-phase df filter: df=1 grams can't pair, df>cap grams are
    # boilerplate — both leave the plan before the pairwise join
    kept = (
        postings.groupBy("__gh")
        .agg(F.count("*").alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= df_cap))
        .select("__gh")
    )
    postings = postings.join(kept, "__gh")
    a = postings.select("__gh", F.col(id_col).alias("doc_a"))
    b = postings.select("__gh", F.col(id_col).alias("doc_b"))
    cands = (
        a.join(b, "__gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact-Jaccard verify: identical expression shape to
    # near_dup_pairs (sizes hoisted; |a ∪ b| = |a|+|b|-|a ∩ b|)
    sa = sh.select(
        F.col(id_col).alias("doc_a"),
        F.col("shingles").alias("__sa"),
        F.size("shingles").alias("__na"),
    )
    sb = sh.select(
        F.col(id_col).alias("doc_b"),
        F.col("shingles").alias("__sb"),
        F.size("shingles").alias("__nb"),
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                inter.cast("double")
                / (F.col("__na") + F.col("__nb") - inter), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def topk_similar_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.3,
    shingle_n: int = 2,
    df_cap: int = NGRAM_DF_CAP,
) -> DataFrame:
    """Per-document top-k most-similar neighbors by exact n-gram
    Jaccard — text-side similarity search, the lexical complement of
    the embedding kNN family in operators/similarity.py.

    Built on :func:`ngram_jaccard_pairs` (df-capped inverted index,
    linear at fixed cap), symmetrized, then group-top-k per document
    via ``slice(sort_array(collect_list(struct)))`` — a hash
    aggregate with map-side partial collect, NOT a rank window over
    the corpus-wide pair set. Per-group state is bounded: a doc's
    threshold-passing neighbor count is capped by its gram count ×
    df_cap. Ties break on neighbor id, so output is deterministic.

    Returns (doc_id, rank, nbr_id, jaccard), rank 1-based."""
    pairs = ngram_jaccard_pairs(
        docs, text_col, id_col, threshold, shingle_n, df_cap
    )
    sym = pairs.select(
        F.col("doc_a").alias(id_col),
        F.col("doc_b").alias("nbr_id"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias(id_col),
            F.col("doc_a").alias("nbr_id"),
            "jaccard",
        )
    )
    # struct sort is lexicographic ascending → lead with -jaccard so
    # the best neighbor sorts first, then nbr_id as the tie-break
    top = sym.groupBy(id_col).agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("jaccard")).alias("__nj"),
                        F.col("nbr_id").alias("nbr_id"),
                        F.col("jaccard").alias("jaccard"),
                    )
                )
            ),
            1,
            k,
        ).alias("__top")
    )
    return top.select(
        F.col(id_col), F.posexplode("__top").alias("__pos", "__s")
    ).select(
        id_col,
        (F.col("__pos") + 1).cast("bigint").alias("rank"),
        F.col("__s.nbr_id").alias("nbr_id"),
        F.col("__s.jaccard").alias("jaccard"),
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-doc SimHash fingerprint (Charikar 2002): for each bit
    position, sum ±1 votes from every distinct token's hash; the sign
    becomes the fingerprint bit.

    Shape: explode distinct tokens → hash once → ONE hash aggregate
    with 32 conditional sums. The groupBy(id) shuffle is tiny
    (map-side partial agg emits one 32-int row per doc per partition)
    and the whole pipeline stays in whole-stage codegen — measured 3×
    faster than the no-shuffle formulation with 32 ``F.aggregate``
    passes, because Spark interprets higher-order-function lambdas per
    element while hash-aggregate sums are code-generated.

    ``bits=32`` keeps the expression tree small while still giving
    4×8-bit Hamming bands downstream. Docs with zero tokens vanish on
    explode — by construction their simhash would be 0; filter empties
    upstream if they must be carried."""
    docs = spread(docs)
    toks = F.array_distinct(
        F.filter(
            F.split(normalize_text(text_col), r"[^\p{L}\p{N}]+"),
            lambda t: t != F.lit(""),
        )
    )
    exploded = docs.select(
        F.col(id_col), F.explode(toks).alias("__t")
    ).withColumn("__h", hash60(F.col("__t")))
    votes = [
        F.sum(
            F.when(
                F.shiftright("__h", b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"__v{b}")
        for b in range(bits)
    ]
    g = exploded.groupBy(id_col).agg(*votes)
    sim = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"__v{b}") > 0, F.lit(1 << b))
            .otherwise(0)
            .cast("bigint")
            for b in range(bits)
        ],
    )
    return g.select(F.col(id_col), sim.alias("simhash"))


#: Winnowing defaults (Schleimer/Wilkerson/Aiken 2003, "local
#: algorithms for document fingerprinting"): k-token shingles hashed,
#: then the minimum hash of every w-length window of consecutive
#: shingle hashes; distinct minima form the fingerprint set.
#: Guarantee: any shared run of >= w+k-1 tokens yields a shared
#: fingerprint, so partial overlap (plagiarism-style) is detectable
#: where whole-set MinHash only sees global similarity.
WINNOW_K = 4
WINNOW_W = 5


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing fingerprints: one (id, fingerprint) row per distinct
    window-minimum shingle hash.

    All per-doc work is in-row array expressions (sequence/slice/
    array_min) — the rolling window never leaves the row, so
    fingerprinting is embarrassingly parallel; only the final explode
    materializes the (small) fingerprint set.

    The hash array is computed behind its OWN projection so the
    window transform reads a bound attribute: inlining it would make
    codegen re-evaluate the full md5 array once per window position
    (no CSE across a higher-order function's lambda) — O(n²) hashes
    instead of O(n). Measured ~10× on the driver corpus."""
    hashed = spread(docs).select(
        F.col(id_col),
        F.transform(
            ngram_shingles(text_col, n=k), lambda s: hash60(s)
        ).alias("__h"),
    )
    h = F.col("__h")
    n = F.size(h)
    minima = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(w)),
            lambda i: F.array_min(F.slice(h, i + 1, w)),
        ),
    ).otherwise(F.array(F.array_min(h)))
    return hashed.select(
        F.col(id_col),
        F.explode(F.array_distinct(minima)).alias("fingerprint"),
    )


def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 15,
    stride: int | None = None,
) -> DataFrame:
    """Sub-document exact dedup: emit ``w``-token windows starting at
    multiples of ``stride`` (default: aligned, stride = w), fingerprint
    each, and report every window occurring more than once across the
    corpus — catches shared boilerplate runs that doc-level hashing
    misses because the surrounding text differs.

    ``stride < w`` (overlapping windows) widens recall: the aligned
    chunker only matches duplicated runs whose start offsets agree
    mod w; stride s catches offsets equal mod s at w/s× the chunk
    rows. Alignment-INDEPENDENT span detection is
    :func:`overlap_spans` (winnowing — content-defined positions).

    Scale shape: the token array is bound to its own projection (no
    re-tokenize per chunk — the HOF-lambda CSE rule), the 8-byte
    fingerprint is hashed BEFORE the shuffle so the groupBy moves
    (fp, id) pairs, and count/min/count-distinct all get map-side
    partials."""
    from ..functions.text import tokenize

    s = w if stride is None else stride
    toked = docs.select(F.col(id_col), tokenize(text_col).alias("__t"))
    t = F.col("__t")
    n_starts = (F.floor((F.size(t) - w) / s) + 1).cast("int")
    idx = F.when(F.size(t) >= w, F.sequence(F.lit(0), n_starts - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = toked.select(
        F.col(id_col),
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i * s + 1, w)))
        ).alias("chunk"),
    )
    return (
        chunks.select(fingerprint("chunk").alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("keep_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )


def overlap_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    the plagiarism/contamination-span detector the fingerprint op
    exists for. By the winnowing guarantee (every shared token run of
    ≥ w+k−1 tokens yields a shared fingerprint), a pair with several
    shared fingerprints shares that many distinct overlap spans (or
    one long one) even when whole-document similarity is tiny — the
    case MinHash's global Jaccard misses by design.

    Same scale shape as LSH candidate generation: the ONLY pairwise
    step is a fingerprint-local self-equi-join (shuffle on the 60-bit
    fingerprint), the shared count is a map-side-combinable aggregate,
    and ``max_bucket`` drops degenerate fingerprints (a boilerplate
    phrase's window minimum shared by millions of docs) before the
    join — at 100 TB you always set it. Never all-pairs.

    Returns (doc_a, doc_b, shared_fps) with doc_a < doc_b."""
    fps = winnow_fingerprints(docs, text_col, id_col, k, w)
    if max_bucket is not None:
        small = (
            fps.groupBy("fingerprint")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("fingerprint")
        )
        fps = fps.join(small, "fingerprint")
    a = fps.select(F.col("fingerprint"), F.col(id_col).alias("doc_a"))
    b = fps.select(F.col("fingerprint"), F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_iters: int = 20,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    verified near-dup pair graph, canonical doc = min id per component.

    This is the end-step of a corpus dedup run (the reference stops at
    pairs; a training pipeline must pick ONE survivor per duplicate
    group, and pairs alone can't — transitivity chains A~B~C into one
    group even when A,C never share a bucket).

    Algorithm: min-label propagation. labels start as each node's own
    id; each round every node takes the min of its own label and its
    neighbors' labels; stop when no label changed. Near-dup components
    are near-cliques (tiny diameter), so this converges in 2–4 rounds.
    At 100 TB the same loop holds — each round is one shuffle join on
    the edge list — and if a pathological long-chain graph hasn't
    converged by half the round budget, the loop hands off to the
    two-phase large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"), which is bounded
    by component structure, not diameter (see
    :func:`_star_contraction_labels`). Edges are materialized once;
    labels are re-materialized per round (reliable checkpoint when a
    checkpoint dir is configured — true lineage cut; else DISK_ONLY
    persist, recomputable on executor loss) so each round's work is
    bounded. See ``materialize.py`` for the cluster-durability story.

    Returns (doc_id, cluster_id, is_keep) for every doc that appears
    in at least one verified pair; is_keep=1 marks the canonical doc.
    """
    pairs = near_dup_pairs(docs, text_col, id_col, threshold)
    return connected_components(pairs, "doc_a", "doc_b", id_col, max_iters)


#: edge-count cutover below which components compute driver-side.
#: The distributed loop pays ~2 s/round of fixed job+checkpoint cost;
#: a dedup pair graph is usually MUCH smaller than its corpus (pairs
#: are the *output* of LSH verification), so — exactly like Spark's
#: own broadcast-join size cutover — small graphs should skip the
#: loop. 500k edges is a few MB of longs on the driver and union-find
#: is O(E·α); beyond it, the loop's per-round cost amortizes.
CC_LOCAL_EDGE_THRESHOLD = 500_000


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_out: str = "doc_id",
    max_iters: int = 20,
    local_threshold: int = CC_LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """Connected components over an undirected pair graph — the
    engine primitive behind :func:`dup_clusters` (and the embedding
    analog ``similarity.semantic_dedup``).

    Two physical strategies behind one contract (same result either
    way: min-id label per component):

    - ``|E| <= local_threshold``: collect the (narrow, already
      LSH-filtered) edge list and run union-find on the driver —
      the analog of a broadcast join's small-side cutover.
    - otherwise: distributed min-label propagation with pointer
      jumping (O(log d) rounds, each one shuffle join on the edge
      list, reliably checkpointed so round N never replays round
      N-1's lineage — see :func:`materialize.ensure_checkpoint_dir`
      for why persist alone goes exponential).

    Returns (``id_out``, cluster_id, is_keep) for every node with at
    least one NON-SELF edge; is_keep=1 marks the min-id canonical
    node. Self-loop pairs (a == b) are dropped up front: they carry
    no component information, and keeping them only in SOME physical
    strategies (union-find consumed them, star contraction filters
    node != nbr) would let the three paths return different node
    sets for the same input."""
    from ..materialize import ensure_checkpoint_dir

    # iterative: each round rebuilds `labels` from `labels`, so the
    # materialization MUST cut lineage (persist-only goes exponential
    # in plan re-analysis past ~5 rounds; see ensure_checkpoint_dir)
    ensure_checkpoint_dir(pairs.sparkSession)
    # Self-loops carry no component info; NULL-id pairs are likewise
    # dropped EXPLICITLY (the != alone would null-reject implicitly —
    # pinning it with isNotNull makes the exclusion a stated contract
    # rather than a three-valued-logic accident). LSH pair producers
    # join on non-null ids, so this only matters for direct callers.
    pairs = pairs.filter(
        F.col(a_col).isNotNull()
        & F.col(b_col).isNotNull()
        & (F.col(a_col) != F.col(b_col))
    )
    # materialize the PAIRS before anything references them twice —
    # an unmaterialized pair plan (LSH join + verify) would rerun per
    # reference (the count probe + either strategy's consumption)
    pairs = materialize(pairs, eager=True)
    if 2 * pairs.count() <= local_threshold:
        # the local path consumes the directed pairs as-is (union-find
        # is symmetric by construction) — no edge frame, no extra job
        out = _local_components(
            pairs.sparkSession, pairs.select(a_col, b_col), id_out
        )
        release(pairs)
        return out
    edges = (
        pairs.select(F.col(a_col).alias("node"), F.col(b_col).alias("nbr"))
        .union(pairs.select(F.col(b_col).alias("node"), F.col(a_col).alias("nbr")))
    )
    edges = materialize(edges, eager=True)
    release(pairs)
    labels = edges.select("node").distinct().withColumn("label", F.col("node"))
    # propagation budget: the front half of max_iters. Pointer
    # jumping covers diameter ~2^rounds, so near-clique dedup graphs
    # converge in 2-4 rounds and never see the cutover; a pathological
    # long-chain graph (diameter >> 2^(max_iters/2)) hands the
    # remaining work to large-star/small-star contraction, which is
    # round-bounded in the COMPONENT COUNT's log, not the diameter.
    prop_budget = max(1, max_iters // 2)
    converged = False
    for _ in range(prop_budget):
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("nbr"), F.col("label")), "nbr"
            )
            .groupBy("node")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: label := min(label, prev_label[label]).
        # Labels are always node ids (init + min-closure) so the join
        # always hits; shortcutting through the PREVIOUS round's
        # (already-materialized) labels avoids recomputing `prop` in
        # two branches while still compounding reach per round —
        # O(log d) rounds on a diameter-d component instead of O(d).
        hop = labels.select(
            F.col("node").alias("label"), F.col("label").alias("label2")
        )
        new_labels = materialize(
            prop.join(hop, "label")
            .select("node", F.least("label", "label2").alias("label")),
            eager=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        release(labels)  # new_labels is materialized; prior round's blocks can go
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # long-chain fallback (Kiveris et al., "Connected Components
        # in MapReduce and Beyond"): alternate large-star/small-star
        # until the edge set is a fixpoint star forest centered at
        # component minima. The half-done labels ride along as extra
        # same-component shortcut edges, so propagation's progress is
        # kept, not discarded.
        shortcut = labels.filter(F.col("label") != F.col("node")).select(
            F.col("node"), F.col("label").alias("nbr")
        )
        star_edges = edges.union(shortcut).union(
            shortcut.select(
                F.col("nbr").alias("node"), F.col("node").alias("nbr")
            )
        )
        release(labels)
        labels = _star_contraction_labels(star_edges, max_iters)
    return labels.select(
        F.col("node").alias(id_out),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).cast("int").alias("is_keep"),
    )


#: hard safety cap on star-contraction alternations: contraction
#: halves path heights per round, so 64 rounds covers any graph whose
#: tallest path fits in a 64-bit id space. Reaching it means a logic
#: bug, and the loop raises rather than returning non-fixpoint labels.
_STAR_SAFETY_CAP = 64


def _star_contraction_labels(
    edges_sym: DataFrame, max_rounds: int
) -> DataFrame:
    """Large-star/small-star contraction to a star forest, returning
    (node, label) with label = component min — the diameter-proof
    half of :func:`connected_components`.

    Each round applies, on the symmetric edge set E:

    - **large-star** (per center u): every neighbor v > u re-attaches
      to m = min(Γ(u) ∪ {u});
    - **small-star** (per center u): every neighbor v ≤ u (and u
      itself) attaches to that same m.

    Both halves are one groupBy + one join on E — the same shuffle
    shape as a propagation round — and the edge set provably
    contracts toward stars centered at component minima in O(log²)
    rounds worst-case, O(log) in practice, INDEPENDENT of diameter
    (each round at least halves every path's height, where min-label
    propagation walks a chain one hop per round and pointer jumping
    one doubling per round). Fixpoint = the round changed nothing;
    labels then read directly off the stars.

    ``max_rounds`` is a lower bound on effort, NOT a truncation
    point: labels are only ever read off a FIXPOINT edge set, so the
    loop keeps contracting past the caller's budget until the
    fixpoint test passes (termination is guaranteed — each
    large+small alternation strictly lowers every non-star path, so
    O(log² n) rounds suffice). A hard safety cap of
    ``max(max_rounds, 64)`` alternations (2^64-height forests cannot
    exist on real ids) converts a would-be infinite loop from a
    logic bug into a loud ``RuntimeError`` instead of silently
    returning partial, wrong cluster labels (pinned by
    ``test_connected_components_self_loops_dropped_consistently``)."""

    def half(E: DataFrame, large: bool) -> DataFrame:
        mins = E.groupBy("node").agg(F.min("nbr").alias("mn"))
        m = mins.select(
            "node", F.least(F.col("node"), F.col("mn")).alias("m")
        )
        j = E.join(m, "node")
        if large:
            out = j.filter(F.col("nbr") > F.col("node")).select(
                F.col("nbr").alias("node"), F.col("m").alias("nbr")
            )
        else:
            out = (
                j.filter(F.col("nbr") <= F.col("node"))
                .select(F.col("nbr").alias("node"), F.col("m").alias("nbr"))
                .union(m.select("node", F.col("m").alias("nbr")))
            )
        out = out.filter(F.col("node") != F.col("nbr"))
        # re-symmetrize + dedup: every contraction step reasons from
        # both endpoints next round
        return out.union(
            out.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
        ).distinct()

    E = materialize(
        edges_sym.filter(F.col("node") != F.col("nbr")).distinct(),
        eager=True,
    )
    at_fixpoint = False
    for _ in range(max(max_rounds, _STAR_SAFETY_CAP)):
        nxt = materialize(half(half(E, large=True), large=False), eager=True)
        # fixpoint test on the canonical (undirected) edge set
        grew = nxt.subtract(E).count()
        same_size = nxt.count() == E.count()
        release(E)
        E = nxt
        if grew == 0 and same_size:
            at_fixpoint = True
            break
    if not at_fixpoint:
        release(E)
        raise RuntimeError(
            "star contraction failed to reach a fixpoint within "
            f"{max(max_rounds, _STAR_SAFETY_CAP)} rounds — this is a "
            "logic bug (contraction provably terminates in O(log^2) "
            "rounds); refusing to return partial cluster labels"
        )
    labels = E.groupBy("node").agg(
        F.least(F.col("node"), F.min("nbr")).alias("label")
    )
    out = materialize(labels, eager=True)
    release(E)
    return out


def _local_components(spark, edges: DataFrame, id_out: str) -> DataFrame:
    """Driver-side union-find for the small-graph cutover of
    :func:`connected_components` (input: one row per undirected edge,
    any two columns). Path-halving + union-by-min keeps the min id as
    each root, matching the distributed loop's labels exactly."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for row in edges.collect():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min: the smaller id becomes the root, so roots
            # ARE the component minima
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    rows = [
        (node, find(node), int(node == find(node))) for node in parent
    ]
    # node type follows the input ids (long, string, ...) — a
    # hardcoded long schema would make the small-graph path crash on
    # string ids while the distributed path handled them fine
    from pyspark.sql import types as T

    node_type = edges.schema.fields[0].dataType
    schema = T.StructType(
        [
            T.StructField(id_out, node_type),
            T.StructField("cluster_id", node_type),
            T.StructField("is_keep", T.IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)


def near_dup_join(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_n: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental near-dup: match a NEW batch against the kept corpus.

    The production dedup shape — a 100 TB corpus is deduped once, then
    every incoming batch checks only new×corpus bucket collisions
    (never corpus×corpus, which :func:`near_dup_pairs` would redo from
    scratch). Cost scales with |batch| + collided corpus buckets, not
    |corpus|²; persisting the corpus signature/bucket table across
    batches makes the steady-state cost |batch|-bound.

    Returns (new_id, corpus_id, jaccard ≥ threshold): the new docs to
    REJECT and which kept doc they duplicate. ``max_bucket`` caps
    corpus-side bucket sizes (a boilerplate bucket with millions of
    members would otherwise dominate the join)."""
    sh_new = materialize(shingle_sets(spread(new_docs), text_col, id_col, n=shingle_n))
    sh_old = materialize(shingle_sets(spread(corpus), text_col, id_col, n=shingle_n))
    bn = lsh_buckets(minhash_signature(sh_new), id_col).select(
        F.col(id_col).alias("new_id"), "bucket"
    )
    bo = lsh_buckets(minhash_signature(sh_old), id_col)
    if max_bucket is not None:
        small = (
            bo.groupBy("bucket")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("bucket")
        )
        bo = bo.join(small, "bucket")
    bo = bo.select(F.col(id_col).alias("corpus_id"), "bucket")
    cands = (
        bn.join(bo, "bucket")
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )
    # same hoisted-size verify as near_dup_pairs: distinct shingle
    # arrays make |a ∪ b| = |a|+|b|-|a ∩ b|, one intersect per pair
    sa = sh_new.select(
        F.col(id_col).alias("new_id"),
        F.col("shingles").alias("__sa"),
        F.size("shingles").alias("__na"),
    )
    sb = sh_old.select(
        F.col(id_col).alias("corpus_id"),
        F.col("shingles").alias("__sb"),
        F.size("shingles").alias("__nb"),
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    return (
        cands.join(sa, "new_id")
        .join(sb, "corpus_id")
        .withColumn(
            "jaccard",
            F.round(
                inter.cast("double")
                / (F.col("__na") + F.col("__nb") - inter), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    token n-gram with an evaluation set (the n-gram-overlap
    contamination test of Brown et al. 2020 Appendix C; n=13 there,
    parameterized here because the test corpus' docs are short).

    Returns (doc_id, n_shared) for contaminated corpus docs — the
    anti-join complement is the clean training set.

    Scale shape: the eval side is small by definition (benchmarks are
    thousands of rows, the corpus is billions) → its distinct n-gram
    hash set BROADCASTS; the corpus side explodes to one row per
    distinct n-gram but the contaminated-gram join filters almost all
    of them before the per-doc count, which aggregates map-side. The
    60-bit gram hash keeps the exploded rows narrow (8 bytes, not the
    gram text)."""
    grams = lambda df: df.select(  # noqa: E731
        F.col(id_col),
        F.explode(
            F.array_distinct(ngram_shingles(F.col(text_col), n))
        ).alias("__g"),
    ).select(id_col, hash60(F.col("__g")).alias("__gh"))

    eval_grams = grams(eval_set).select("__gh").distinct()
    return (
        grams(corpus)
        .join(F.broadcast(eval_grams), "__gh")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )


def remove_dup_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 15,
) -> DataFrame:
    """C4-style corpus-wide span REMOVAL (Raffel et al. 2020 §2.2 —
    C4 deletes every repeated three-sentence span, keeping only its
    first occurrence): where :func:`chunk_dedup` *reports* duplicated
    chunks, this operator performs the surgery — all-but-first global
    occurrences of every ``w``-token chunk are cut out and each
    document is reassembled from its surviving chunks in order.

    "First occurrence" is the corpus-total order (doc_id, position),
    deterministic under re-runs. The final sub-``w`` tail of each
    document rides along as its own (shorter) chunk, so a document
    with no duplicated spans reassembles to exactly its normalized
    text — nothing is silently lost.

    Scale shape: one explode to (fp, doc, idx) rows (8-byte
    fingerprint hashed before the shuffle), ONE window over the
    fingerprint key (well-spread — a hash of content) to rank
    occurrences, one doc-keyed reassembly aggregate
    (``array_sort(collect_list(struct(idx, chunk)))`` — map-side
    combinable). Docs with zero tokens produce no output row.

    Returns (doc_id, text_clean, n_chunks, n_removed)."""
    from pyspark.sql import Window

    from ..functions.text import tokenize

    toked = docs.select(F.col(id_col), tokenize(text_col).alias("__t"))
    t = F.col("__t")
    n_chunks = F.ceil(F.size(t) / w).cast("int")
    idx = F.when(F.size(t) > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = toked.select(
        F.col(id_col),
        F.posexplode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i * w + 1, w)))
        ).alias("idx", "chunk"),
    )
    ranked = chunks.select(
        id_col, "idx", "chunk", fingerprint("chunk").alias("__fp")
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__fp").orderBy(F.col(id_col), F.col("idx"))
        ),
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") == 1,
                                F.struct(F.col("idx"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("text_clean"),
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum((F.col("__rn") > 1).cast("bigint"))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def exact_substr_dedup(
    docs: DataFrame,
    w: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style cross-document repeated-substring removal
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": cut every all-but-first occurrence of any
    ≥w-token substring repeated anywhere in the corpus). The paper
    builds a single-machine suffix array; the Spark-native
    equivalent rides the sliding-window identity instead: a repeated
    span of length L ≥ w covers exactly L−w+1 repeated width-w
    SLIDING windows, so a token sits inside some all-but-first
    repeated ≥w-token span iff it is covered by an all-but-first
    occurrence of a repeated width-w window. Overlapping windows are
    what catch arbitrary alignment — :func:`remove_dup_chunks` (C4)
    only sees spans that land on its fixed non-overlapping chunk
    grid; this operator completes the dedup family with the
    arbitrary-offset case.

    Pipeline: fingerprint every width-w window (one ``transform``
    behind the tokenize barrier — tokens bind once; 8-byte hashes,
    never window text, ride the shuffle) → rank occurrences
    globally per fingerprint by (doc_id, pos) — the corpus-total
    keep-first order, deterministic under re-runs, same rule as
    remove_dup_chunks → tokens covered by any rank≥2 window are cut
    and each document reassembles from its surviving tokens in
    order.

    Scale shape: one explode to (doc, pos, fp) rows — overlapping
    windows mean ~n_tokens rows (vs n_tokens/w for the C4 chunker:
    the ×w row cost IS the price of arbitrary alignment, linear in
    corpus tokens, never quadratic); one well-spread content-hash
    window for the rank; one doc-keyed collect of removal offsets;
    reassembly is per-row array math (O(tokens·removed_windows) per
    doc worst case — bounded by the document, no shuffle). NULL
    text drops the document, matching the line-dedup family.

    Returns (doc_id, text_clean, n_tokens, n_removed)."""
    from pyspark.sql import Window

    from ..functions.text import tokenize

    toked = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokenize(text_col).alias("__t")
    )
    t = F.col("__t")
    wins = toked.filter(F.size(t) >= w).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - w),
                lambda p: hash60(F.concat_ws("\x1f", F.slice(t, p + 1, w))),
            )
        ).alias("pos", "__fp"),
    )
    ranked = wins.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__fp").orderBy(F.col(id_col), F.col("pos"))
        ),
    )
    rem = (
        ranked.filter(F.col("__rn") >= 2)
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__rps"))
    )
    rps = F.coalesce(F.col("__rps"), F.array().cast("array<int>"))
    kept = F.filter(
        t,
        lambda tok, i: ~F.exists(rps, lambda p: (p <= i) & (i < p + w)),
    )
    return toked.join(rem, id_col, "left").select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size(t).cast("bigint").alias("n_tokens"),
        (F.size(t) - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def _doc_lines(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, line, __lh) — one row per line, with the 60-bit
    fingerprint of the normalized (lower+trim) line, NULL for
    empty-after-trim lines (exempt from the boilerplate gate)."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    norm = F.lower(F.trim(F.col("line")))
    return lines.withColumn("__lh", F.when(norm != "", fingerprint(norm)))


def line_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Line-frequency state: (line_fp, n_docs) — distinct-document
    count per normalized-line fingerprint, empty lines excluded. This
    is the MERGEABLE half of :func:`line_dedup`: a document's lines
    all live in its one row, so per-batch distinct counts SUM to the
    corpus distinct count across disjoint batches — the property the
    streaming sink exploits."""
    return (
        _doc_lines(docs, text_col, id_col)
        .filter(F.col("__lh").isNotNull())
        .groupBy(F.col("__lh").alias("line_fp"))
        .agg(F.countDistinct(id_col).cast("bigint").alias("n_docs"))
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level BOILERPLATE LINE removal (RefinedWeb, Penedo et
    al. 2023 §G "line-wise corrections"; CCNet's paragraph-hash dedup,
    Wenzek et al. 2020 §3.1): a line whose normalized form
    (lower+trim) appears in ``min_docs`` or more *distinct* documents
    is navigation/cookie-banner/footer boilerplate and is cut from
    every document that carries it; each document reassembles from
    its surviving lines in order. Empty-after-trim lines are exempt
    (never counted, never removed) so paragraph structure survives.

    The reference's dedup ancestor is the cross-batch Redis SET of
    DwdDauApp.scala:83-100 — membership-gated pass-through; this is
    the same gate applied corpus-wide at line granularity.

    Scale shape: one explode to (line-hash, doc) rows — the 60-bit
    :func:`fingerprint` is computed BEFORE the shuffle so the
    exchange carries 8-byte keys, not line text; one two-phase
    ``count(distinct doc)`` aggregate per hash (map-side partials);
    one hash-keyed LEFT join of lines against the (small — only
    repeated lines survive the HAVING) boilerplate set, left to AQE
    to broadcast when it fits; one doc-keyed reassembly aggregate.
    Never all-pairs, no windows, no Python.

    ``counts`` accepts a pre-computed line-frequency state frame
    (:func:`line_counts` schema: ``line_fp``, ``n_docs``) so the gate
    can run against INCREMENTALLY-maintained counts — the streaming
    sink (streaming/sinks.py:line_count_sink) accumulates per-batch
    counts and this function applies the gate at read time.

    Returns (doc_id, text_clean, n_lines, n_removed)."""
    lines = _doc_lines(docs, text_col, id_col)
    if counts is None:
        counts = line_counts(docs, text_col, id_col)
    boiler = (
        counts.filter(F.col("n_docs") >= min_docs)
        .select(F.col("line_fp").alias("__lh"))
        .withColumn("__boiler", F.lit(True))
    )
    keep = F.col("__boiler").isNull()
    return (
        lines.join(boiler, "__lh", "left")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("pos").alias("pos"),
                                    keep.alias("keep"),
                                    F.col("line").alias("line"),
                                )
                            )
                        ),
                        lambda s: s["keep"],
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_clean"),
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum((~keep).cast("bigint")).cast("bigint").alias("n_removed"),
        )
    )


def intra_line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WITHIN-document duplicate-line collapse: every all-but-first
    occurrence of an exact raw line inside one document is removed
    (the intra-doc counterpart of :func:`line_dedup`'s corpus gate —
    RefinedWeb applies both). Matching is exact (no normalization):
    legitimately repeated markup like list bullets differing by
    whitespace survives.

    Scale shape: ZERO shuffles — ``split`` → ``array_distinct``
    (documented first-occurrence order) → ``array_join`` is a pure
    per-row projection inside one WholeStageCodegen span; the plan is
    scan → project, so it scales with scan bandwidth alone.

    NULL text drops the document — the same semantics as
    :func:`line_dedup` (whose posexplode of NULL emits no rows) and
    the DuckDB unnest oracle, so the two operators and the oracle
    agree on corpora with missing text instead of this one emitting
    a (doc_id, NULL, NULL, NULL) row the siblings never produce.

    Returns (doc_id, text_clean, n_lines, n_removed)."""
    docs = docs.filter(F.col(text_col).isNotNull())
    arr = F.split(F.col(text_col), "\n")
    kept = F.array_distinct(arr)
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(arr).cast("bigint").alias("n_lines"),
        (F.size(arr) - F.size(kept)).cast("bigint").alias("n_removed"),
    )
