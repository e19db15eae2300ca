"""Property-based tests (hypothesis) for the parity-critical
primitives: the cross-engine hash, the shared token alphabet, and the
set-similarity math. These are the contracts every oracle depends on,
so they get fuzzed, not just spot-checked."""

from __future__ import annotations

import hashlib
import re

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkstreaming_realtime_spark.functions.hashing import (
    hash60,
    oracle_hash60_sql,
)

# printable-ish text incl. unicode letters, digits, punctuation
TEXT = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"),
        max_codepoint=0x2FFF,
    ),
    min_size=0,
    max_size=60,
)


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


@settings(max_examples=50, deadline=None)
@given(TEXT)
def test_hash60_duckdb_matches_python_reference(s):
    """The DuckDB oracle fold of hash60 must equal the definitional
    md5-prefix integer for arbitrary unicode input."""
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {oracle_hash60_sql('?')}", [s]
    ).fetchone()[0]
    assert got == _py_hash60(s)


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_hash60_spark_matches_python_reference(spark, strings):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r["h"] for r in df.select(hash60("s").alias("h")).collect()]
    assert got == [_py_hash60(s) for s in strings]


@settings(max_examples=50, deadline=None)
@given(TEXT)
def test_token_alphabet_python_equals_duckdb(s):
    """One token alphabet: the Python query-side tokenizer
    and the DuckDB oracle regex agree on arbitrary text.

    Known boundary (found by this fuzzer, twice): the two engines ship
    different Unicode tables, so ``lower()`` itself can disagree —
    (a) multi-codepoint expansions (U+0130 'İ': Python/Java emit
    i+U+0307, DuckDB emits i), and (b) version skew (U+2C2F 'Ⱟ':
    added to the case tables in Unicode 14, which Python 3.11 ships
    but DuckDB 1.0's utf8proc predates, so Python lowercases it and
    DuckDB returns it unchanged). Both are ``lower()`` divergences,
    not alphabet ones; documented in functions/text.py. The property
    this test can truly pin is therefore *alphabet agreement given
    agreed casing*: we ``assume`` the engines lowercase the input
    identically, which excludes exactly the casing-skew inputs
    (including hypothesis's cached U+2C2F counterexample) and nothing
    else."""
    from hypothesis import assume

    from sparkstreaming_realtime_spark.functions.text import _py_tokenize

    con = duckdb.connect()
    duck_lower = con.execute("SELECT lower(?)", [s]).fetchone()[0]
    assume(duck_lower == s.lower())
    duck = con.execute(
        r"SELECT list_filter(string_split_regex(lower(trim(?)),"
        r" '[^\p{L}\p{N}]+'), x -> x <> '')",
        [s],
    ).fetchone()[0]
    assert _py_tokenize(s) == list(duck)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(0, 20), min_size=0, max_size=15),
    st.lists(st.integers(0, 20), min_size=0, max_size=15),
)
def test_jaccard_bounds_and_symmetry(spark, xs, ys):
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.operators.dedup import jaccard

    a = sorted(set(xs)) or [0]
    b = sorted(set(ys)) or [0]
    df = spark.createDataFrame(
        [([str(x) for x in a], [str(y) for y in b])],
        "a array<string>, b array<string>",
    )
    j_ab, j_ba = df.select(
        F.round(jaccard("a", "b"), 9).alias("ab"),
        F.round(jaccard("b", "a"), 9).alias("ba"),
    ).collect()[0]
    expect = len(set(a) & set(b)) / len(set(a) | set(b))
    assert j_ab == j_ba
    assert abs(j_ab - round(expect, 9)) < 1e-9


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        # exact 4-decimal amounts incl. negatives, as integer ten-thousandths
        st.integers(min_value=-10_000_000, max_value=10_000_000),
        min_size=1,
        max_size=30,
    )
)
def test_money_sum_spark_equals_duckdb(spark, ths_list):
    """The exact-integer money aggregate (_money_sum/_money_sum_sql)
    must agree across engines for arbitrary mixed-sign 4-decimal
    amounts — including totals landing exactly ON the half-cent
    boundary, the case double summation gets wrong."""
    from sparkstreaming_realtime_spark.plans.queries import (
        _money_sum,
        _money_sum_sql,
    )
    import duckdb as ddb
    from pyspark.sql import functions as F

    amounts = [t / 10000.0 for t in ths_list]
    sdf = spark.createDataFrame([(a,) for a in amounts], "amount double")
    got_spark = sdf.agg(_money_sum(F.col("amount")).alias("m")).collect()[0]["m"]

    con = ddb.connect()
    con.execute("CREATE TABLE t (amount DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(a,) for a in amounts])
    got_duck = con.execute(
        f"SELECT {_money_sum_sql('amount')} FROM t"
    ).fetchone()[0]

    assert got_spark == got_duck
    # and both equal the definitional integer half-away rounding
    total = sum(ths_list)
    cents = (abs(total) + 50) // 100 * (1 if total >= 0 else -1)
    assert got_spark == cents / 100.0


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        # exact 6-decimal amounts (the three-factor charge contract)
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=1,
        max_size=30,
    )
)
def test_money_sum_six_decimals_spark_equals_duckdb(spark, units):
    """The 6-decimal money scale (TPC-H charge = price·(1-d)·(1+t))
    must agree across engines and equal the definitional integer
    half-away rounding of the micro-unit total — including totals
    exactly ON the half-cent boundary (unit 5000)."""
    import duckdb as ddb
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.functions.money import (
        money_sum,
        oracle_money_sum_sql,
    )

    amounts = [u / 1_000_000.0 for u in units]
    sdf = spark.createDataFrame([(a,) for a in amounts], "amount double")
    got_spark = sdf.agg(
        money_sum(F.col("amount"), 6).alias("m")
    ).collect()[0]["m"]
    con = ddb.connect()
    con.execute("CREATE TABLE t (amount DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(a,) for a in amounts])
    got_duck = con.execute(
        f"SELECT {oracle_money_sum_sql('amount', 6)} FROM t"
    ).fetchone()[0]
    assert got_spark == got_duck
    total = sum(units)
    cents = (abs(total) + 5000) // 10000 * (1 if total >= 0 else -1)
    assert got_spark == cents / 100.0
    # the wide (split-accumulator) path computes the identical value
    got_wide = sdf.agg(
        money_sum(F.col("amount"), 6, wide=True).alias("m")
    ).collect()[0]["m"]
    assert got_wide == got_spark


def test_money_sum_exact_past_double_precision(spark):
    """Cent rounding must use exact integral division: a unit total
    past 2^53 divided as a DOUBLE can floor across an integer
    boundary the exact ``//`` would not. 30 rows of 9e9 dollars put
    the 6-decimal unit total at 2.7e17 (>> 2^53), with a 5-unit
    dust row landing the total ON the half-cent boundary — both
    engines and both accumulator widths must produce the exact
    definitional cents."""
    import duckdb as ddb
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.functions.money import (
        money_sum,
        oracle_money_sum_sql,
    )

    amounts = [9_000_000_000.0] * 30 + [0.000005]
    total_units = 9_000_000_000 * 1_000_000 * 30 + 5
    expect = ((total_units + 5000) // 10000) / 100.0
    sdf = spark.createDataFrame([(a,) for a in amounts], "amount double")
    got = {
        w: sdf.agg(money_sum(F.col("amount"), 6, wide=w).alias("m"))
        .collect()[0]["m"]
        for w in (False, True)
    }
    con = ddb.connect()
    con.execute("CREATE TABLE t (amount DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(a,) for a in amounts])
    got_duck = con.execute(
        f"SELECT {oracle_money_sum_sql('amount', 6)} FROM t"
    ).fetchone()[0]
    assert got[False] == got[True] == got_duck == expect


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=99_999),  # key
            st.sampled_from(["a", "b", "c"]),            # stratum
        ),
        min_size=1,
        max_size=300,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=12),
)
def test_exact_k_prefilter_property(spark, rows, k):
    """For ANY strata layout and quota, the hash-prefix pre-filter
    must select the identical rows as the plain full-stratum window
    (the Chernoff margin makes misses astronomically unlikely; this
    hammers the composition across random shapes)."""
    from sparkstreaming_realtime_spark.operators.sampling import (
        exact_k_sample,
    )

    df = spark.createDataFrame(rows, "doc_id long, source string")
    plain = sorted(
        map(tuple, exact_k_sample(df, "source", k, "doc_id",
                                  prefilter=False).collect())
    )
    fast = sorted(
        map(tuple, exact_k_sample(df, "source", k, "doc_id").collect())
    )
    assert plain == fast


PII_FRAGMENTS = st.one_of(
    TEXT,
    st.just("bob.smith+x@mail-host.co"),
    st.just("555-123-4567"),
    st.just("10.22.0.255"),
    st.just("almost 999.1 not-an-ip"),
    st.builds(
        lambda a, b: f"{a}@{b}.org",
        st.text(alphabet="abcZ09._%+-", min_size=1, max_size=8),
        st.text(alphabet="abcz09.-", min_size=1, max_size=8),
    ),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(PII_FRAGMENTS, min_size=1, max_size=6).map(" ".join))
def test_pii_scrub_cross_engine_and_idempotent(spark, s):
    """The PII scrub must (a) agree between Spark's Java regex and the
    DuckDB oracle's RE2 on arbitrary text with embedded PII-like
    fragments, and (b) be idempotent — replacement tokens can never
    re-match a later pattern."""
    from sparkstreaming_realtime_spark.operators.pii import PII_PATTERNS, scrub

    df = spark.createDataFrame([(s,)], "t string")
    row = df.select(
        scrub("t").alias("s1"), scrub(scrub("t")).alias("s2")
    ).collect()[0]
    assert row["s1"] == row["s2"]
    expr = "t"
    for _, pat, rep in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    con = duckdb.connect()
    duck = con.execute(f"SELECT {expr} FROM (SELECT ? AS t)", [s]).fetchone()[0]
    con.close()
    assert row["s1"] == duck


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=40),
                     min_size=1, max_size=6),
    w=st.integers(min_value=2, max_value=9),
)
@settings(max_examples=8, deadline=None)
def test_remove_dup_chunks_reassembly_is_lossless_without_dups(
    spark, lengths, w
):
    """Property: when every chunk in the corpus is globally unique
    (constructed: token (i, j) is distinct corpus-wide), C4 span
    removal is the identity on normalized text — n_removed=0 and
    text_clean round-trips the token join exactly, for any chunk
    width and any tail length."""
    from sparkstreaming_realtime_spark.operators.dedup import (
        remove_dup_chunks,
    )

    rows = [
        (i, " ".join(f"t{i}x{j}" for j in range(n)))
        for i, n in enumerate(lengths)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_dup_chunks(docs, w=w).collect()}
    for i, t in rows:
        assert out[i]["n_removed"] == 0
        assert out[i]["text_clean"] == t


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_star_contraction_agrees_with_union_find(spark, edge_list):
    """Property: on ARBITRARY pair graphs (self-loops, parallel
    edges, multiple components, cycles — whatever hypothesis finds),
    the distributed path FORCED through the large-star/small-star
    contraction fallback (max_iters=2 → one propagation round, then
    contraction) must emit exactly the driver union-find's
    (node, cluster, is_keep) rows."""
    from sparkstreaming_realtime_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edge_list if a != b] or [(0, 1)],
        "doc_a long, doc_b long",
    )
    local = sorted(map(tuple, dd.connected_components(
        pairs, local_threshold=10**9).collect()))
    contracted = sorted(map(tuple, dd.connected_components(
        pairs, local_threshold=0, max_iters=2).collect()))
    assert contracted == local


def test_components_budget_fuzz_all_strategies_agree(spark):
    """Budget fuzz: the bug class this pins is
    strategy divergence under odd caller-supplied budgets —
    `_star_contraction_labels` returned partial labels when
    `max_iters` exhausted before the fixpoint. This pins the
    contract over 100 random small graphs × 5 budgets (500
    graph/budget cases) without 500 Spark runs: each graph gets a
    disjoint id range, all are unioned into ONE pair frame whose
    components never cross graphs, so a single distributed
    `connected_components` call exercises every graph at once.
    `max_iters=1` forces one propagation round then the star
    fallback; 20 is the converging default. All budgets and both
    physical strategies must emit identical (id, cluster, is_keep)
    rows."""
    import random

    from sparkstreaming_realtime_spark.operators import dedup as dd

    rng = random.Random(42)
    edges: list[tuple[int, int]] = []
    for g in range(100):
        base = g * 1_000
        n = rng.randint(2, 12)
        for _ in range(rng.randint(1, 18)):
            # a == b (self-loops) occur naturally and must be
            # dropped identically by every strategy
            edges.append(
                (base + rng.randint(0, n - 1), base + rng.randint(0, n - 1))
            )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    expected = sorted(
        map(
            tuple,
            dd.connected_components(pairs, local_threshold=10**9).collect(),
        )
    )
    assert expected  # the fuzz corpus always has at least one real edge
    for max_iters in (1, 2, 3, 5, 20):
        got = sorted(
            map(
                tuple,
                dd.connected_components(
                    pairs, local_threshold=0, max_iters=max_iters
                ).collect(),
            )
        )
        assert got == expected, f"strategy divergence at max_iters={max_iters}"


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(
                ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
            ),
            min_size=0,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=7,
    )
)
def test_ngram_jaccard_uncapped_equals_brute_force(spark, texts):
    """With the df cap effectively off, the inverted-index candidate
    set covers EVERY pair with at least one shared shingle — which is
    every pair with jaccard > 0 — so ngram_jaccard_pairs must equal
    the brute-force all-pairs answer exactly. Small-vocab corpora
    force real overlaps; empty and single-token texts exercise the
    whole-text-shingle fallback."""
    from sparkstreaming_realtime_spark.functions.text import _py_tokenize
    from sparkstreaming_realtime_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    threshold = 0.5

    def shingles(text: str) -> set[str]:
        toks = _py_tokenize(text)
        if len(toks) >= 2:
            return {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        return {" ".join(toks)}

    sh = {i: shingles(t) for i, t in enumerate(texts)}
    expect = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            j = inter / union
            if j >= threshold:
                expect[(a, b)] = j

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, threshold=threshold, df_cap=10**6
        ).collect()
    }
    assert set(got) == set(expect)
    for k, j in expect.items():
        assert abs(got[k] - j) < 5e-7


def test_triangle_stats_matches_bruteforce_on_random_graphs(spark):
    """Oriented-wedge triangle counting vs an O(n^3) Python reference
    on seeded random graphs — the orientation/closure algebra must
    agree with the definition exactly, per node, on every graph."""
    import itertools
    import random

    from sparkstreaming_realtime_spark.operators.graph import (
        triangle_stats,
    )

    for seed, n_nodes, n_draws in [(1, 12, 40), (2, 18, 90), (3, 25, 160)]:
        rng = random.Random(seed)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(n_draws)
            }
        )
        adj = {v: set() for v in range(n_nodes)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        expect_tri = dict.fromkeys(range(n_nodes), 0)
        for a, b, c in itertools.combinations(range(n_nodes), 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                for v in (a, b, c):
                    expect_tri[v] += 1
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r.node: (r.deg, r.tri_n)
            for r in triangle_stats(df).collect()
        }
        for v in range(n_nodes):
            if adj[v]:
                assert got[v] == (len(adj[v]), expect_tri[v]), (
                    seed,
                    v,
                )
            else:
                assert v not in got  # isolated nodes have no edges


def _py_bpe_reference(word_counts, k):
    """Straightforward list-based BPE trainer (the Sennrich paper's
    pseudocode): returns [(lhs, rhs, pair_n)] for k merges."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    out = []
    for _ in range(k):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        (l, r), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((l, r, n))
        new_vocab = {}
        for syms, c in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == l
                    and syms[i + 1] == r
                ):
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            new_vocab[tuple(merged)] = (
                new_vocab.get(tuple(merged), 0) + c
            )
        vocab = new_vocab
    return out


def test_bpe_matches_python_reference_on_random_corpora(spark):
    """The delimited-string replace trick vs the paper's list-based
    trainer on seeded random corpora — merge choice, tie-break, and
    leftmost-greedy application must all agree for every rank."""
    import random

    from sparkstreaming_realtime_spark.operators.bpe import (
        bpe_learn_merges,
    )

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            for _ in range(30)
        ]
        text = " ".join(words)
        counts = {}
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        expect = _py_bpe_reference(counts, 5)
        docs = spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        )
        got = [
            (r.lhs, r.rhs, r.pair_n)
            for r in bpe_learn_merges(docs, n_merges=5).collect()
        ]
        assert got == expect, seed


def test_link_prediction_matches_bruteforce_on_random_graphs(spark):
    """Common-neighbor counts and Adamic-Adar micro-sums vs a direct
    Python computation over the full adjacency, on seeded graphs."""
    import math
    import random

    from sparkstreaming_realtime_spark.operators.graph import (
        link_prediction,
    )

    for seed, n_nodes, n_draws in [(5, 14, 40), (9, 22, 90)]:
        rng = random.Random(seed)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(n_draws)
            }
        )
        adj = {v: set() for v in range(n_nodes)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        expect = {}
        for v in range(n_nodes):
            for w in range(v + 1, n_nodes):
                if w in adj[v]:
                    continue
                common = adj[v] & adj[w]
                if common:
                    expect[(v, w)] = (
                        len(common),
                        sum(
                            round(1e6 / math.log(len(adj[u])))
                            for u in common
                        ),
                    )
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            tuple(sorted((r.a, r.b))): (r.common_n, r.aa_micro)
            for r in link_prediction(df, k=10_000).collect()
        }
        assert got == expect, seed


def test_attribution_always_reconciles_to_total_revenue(spark):
    """Fuzz the credit-split invariant: for random order/event sets,
    the per-channel attributed cents (incl. the direct bucket) must
    sum EXACTLY to total order cents — no cent created or lost."""
    import datetime as dt
    import random

    from sparkstreaming_realtime_spark.operators.attribution import (
        linear_attribution,
    )

    t0 = dt.datetime(2024, 3, 1)
    for seed in (2, 8):
        rng = random.Random(seed)
        orders = [
            (
                i,
                rng.randrange(6),
                t0 + dt.timedelta(minutes=rng.randrange(5000)),
                rng.randrange(1, 100_000),
            )
            for i in range(40)
        ]
        events = [
            (
                100 + j,
                rng.randrange(6),
                t0 + dt.timedelta(minutes=rng.randrange(5000)),
                rng.choice(["ad", "email", "push"]),
            )
            for j in range(120)
        ]
        o = spark.createDataFrame(
            orders, "order_id long, user_id long, ots timestamp, cents long"
        )
        e = spark.createDataFrame(
            events,
            "event_id long, user_id long, ts timestamp, event_type string",
        )
        rows = linear_attribution(o, e, window_seconds=3600).collect()
        assert sum(r.attributed_cents for r in rows) == sum(
            c for *_, c in orders
        ), seed
        assert sum(r.n_orders for r in rows) >= 40  # every order counted
