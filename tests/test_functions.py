"""Unit tests for the scalar function library (SURVEY §2.8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkstreaming_realtime_spark.functions import (
    age_as_of,
    cosine_similarity,
    hash60,
    match_all_terms,
    ngram_shingles,
    oracle_hash60_sql,
    tokenize,
)


def test_hash60_matches_python_md5(spark):
    import hashlib

    rows = spark.range(1).select(hash60(F.lit("abc")).alias("h")).collect()
    expected = int(hashlib.md5(b"abc").hexdigest()[:15], 16)
    assert rows[0].h == expected


def test_hash60_oracle_parity(spark, duck):
    vals = ["hello world", "", "日本語テキスト", "a b c d e"]
    for v in vals:
        for salt in (None, 7):
            s = spark.range(1).select(hash60(F.lit(v), salt).alias("h")).collect()[0].h
            esc = v.replace("'", "''")
            d = duck.execute(
                f"SELECT {oracle_hash60_sql(f_esc(esc), salt)}"
            ).fetchone()[0]
            assert s == d, (v, salt)


def f_esc(v: str) -> str:
    return f"'{v}'"


def test_tokenize(spark):
    out = (
        spark.range(1)
        .select(tokenize(F.lit("Apple iPhone-13  Pro!")).alias("t"))
        .collect()[0]
        .t
    )
    assert out == ["apple", "iphone", "13", "pro"]


@pytest.mark.parametrize(
    "field,query,expected",
    [
        ("Apple iPhone 13", "apple iphone", True),
        ("Apple iPhone 13", "iphone 13", True),
        ("Apple iPhone 13", "apple galaxy", False),  # AND semantics
        ("small widget", "widget", True),
        ("small widget", "", True),
    ],
)
def test_match_all_terms(spark, field, query, expected):
    got = (
        spark.range(1)
        .select(match_all_terms(F.lit(field), query).alias("m"))
        .collect()[0]
        .m
    )
    assert got == expected


def test_ngram_shingles(spark):
    out = (
        spark.range(1)
        .select(ngram_shingles(F.lit("a b c d"), 3).alias("s"))
        .collect()[0]
        .s
    )
    assert out == ["a b c", "b c d"]
    short = (
        spark.range(1)
        .select(ngram_shingles(F.lit("a b"), 3).alias("s"))
        .collect()[0]
        .s
    )
    assert short == ["a b"]


def test_age_as_of(spark):
    row = (
        spark.createDataFrame([("2000-06-15",)], "birthday string")
        .select(
            age_as_of("birthday", "2022-06-12").alias("a1"),
            age_as_of("birthday", "2022-06-16").alias("a2"),
        )
        .collect()[0]
    )
    assert row.a1 == 21  # birthday not yet reached
    assert row.a2 == 22


def test_cosine_similarity(spark):
    row = (
        spark.createDataFrame(
            [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
            "a array<double>, b array<double>",
        )
        .select(F.round(cosine_similarity("a", "b"), 9).alias("c"))
        .collect()
    )
    assert [r.c for r in row] == [1.0, 0.0]


def test_vector_expr_fast_path_bit_equals_lambda_path(spark):
    """The one-``F.expr``-call fast path (it saves plan-build cost only)
    must produce BIT-identical doubles to the lambda-HOF path for
    every vector function, on double and float arrays alike: same
    zip-then-fold shape, same left-to-right accumulation order. A
    Column-object argument selects the lambda path, a plain name the
    expr path — comparing the two IS the before/after comparison."""
    import random
    import struct

    from sparkstreaming_realtime_spark.functions.vectors import (
        dot,
        l2_norm,
        l2_sq,
    )

    rnd = random.Random(42)
    for dtype in ("double", "float"):
        rows = [
            (
                [rnd.uniform(-1e3, 1e3) for _ in range(37)],
                [rnd.uniform(-1e3, 1e3) for _ in range(37)],
            )
            for _ in range(200)
        ]
        df = spark.createDataFrame(
            rows, f"a array<{dtype}>, b array<{dtype}>"
        )
        fast = df.select(
            dot("a", "b").alias("d"),
            l2_norm("a").alias("n"),
            cosine_similarity("a", "b").alias("c"),
            l2_sq("a", "b").alias("s"),
        ).collect()
        slow = df.select(
            dot(F.col("a"), F.col("b")).alias("d"),
            l2_norm(F.col("a")).alias("n"),
            cosine_similarity(F.col("a"), F.col("b")).alias("c"),
            l2_sq(F.col("a"), F.col("b")).alias("s"),
        ).collect()
        for r1, r2 in zip(fast, slow):
            for k in ("d", "n", "c", "s"):
                assert struct.pack("<d", r1[k]) == struct.pack(
                    "<d", r2[k]
                ), (dtype, k, r1[k], r2[k])


def test_vector_expr_fast_path_quotes_column_names(spark):
    """Columns named like a SQL function (``current_date``) or a
    reserved word (``union``) resolve as the columns on the one-``F.expr``
    path, bit-equal to the lambda path, also when the session enforces
    reserved keywords (without the quoting, the first parses as the
    function and the second fails to parse)."""
    import struct

    from sparkstreaming_realtime_spark.functions.vectors import dot, l2_sq

    rows = [
        ([1.5, -2.0, 3.25], [0.1, 4.0, -1.7]),
        ([0.3, 0.7, -9.1], [2.2, -0.4, 5.0]),
    ]
    key = "spark.sql.ansi.enforceReservedKeywords"
    try:
        for enforce in ("false", "true"):
            spark.conf.set(key, enforce)
            for name in ("current_date", "union"):
                df = spark.createDataFrame(
                    rows, f"`{name}` array<double>, b array<double>"
                )
                cols = (name, "b")
                fast = df.select(
                    dot(*cols).alias("d"),
                    l2_sq(*cols).alias("s"),
                    cosine_similarity(*cols).alias("c"),
                ).collect()
                slow = df.select(
                    dot(*map(F.col, cols)).alias("d"),
                    l2_sq(*map(F.col, cols)).alias("s"),
                    cosine_similarity(*map(F.col, cols)).alias("c"),
                ).collect()
                for r1, r2 in zip(fast, slow):
                    for k in ("d", "s", "c"):
                        assert struct.pack("<d", r1[k]) == struct.pack(
                            "<d", r2[k]
                        ), (enforce, name, k)
    finally:
        spark.conf.unset(key)


def test_salted_join_matches_plain_join(spark):
    """Skew-salted join must be row-for-row identical to the plain
    join it replaces — on data with one hot key."""
    from sparkstreaming_realtime_spark.functions.skew import salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 0), (3, 1)], "k int, v int"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold")], "k int, name string")
    plain = sorted(map(tuple, big.join(small, "k", "inner").collect()))
    salted = sorted(map(tuple, salted_join(big, small, "k", salts=4).collect()))
    assert salted == plain
    left_plain = sorted(map(tuple, big.join(small, "k", "left").collect()))
    left_salted = sorted(
        map(tuple, salted_join(big, small, "k", salts=4, how="left").collect())
    )
    assert left_salted == left_plain
