"""Vector math over array<float|double> columns — all JVM-side
higher-order functions, no UDFs.

Used by the similarity-search operators (embeddings table,
TESTDATA.md). At 100 TB this beats a Pandas UDF for moderate
dimensions (≤~1k) because no Arrow transfer happens at all.

Measured dead end (don't retry): statically unrolling the dot to
64 ``F.get(a,i)*F.get(b,i)`` terms — nominally whole-stage-codegen
where the ``aggregate`` fold is interpreted — ran **4.7× SLOWER**
(11.1 s vs 2.3 s on a 1.4M-pair verify at dim 64, local[32]): each
``get`` re-walks the Unsafe array header and the 64-term tree blows
past the codegen splitting threshold, while the fold makes one
specialized pass over the array. The HOF fold IS the fast JVM path
for per-row vector math in this engine.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: plain-identifier test for the one-``F.expr``-call fast path below.
#: Anything else (Column objects, qualified names) takes the original
#: lambda-HOF path — same expression either way.
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _ref(c: Column | str) -> str | None:
    """Backtick-quoted SQL reference for ``c`` when it is a plain
    column NAME; quoting makes a name such as ``current_date`` resolve
    as the column, not as the SQL function of that name."""
    return f"`{c}`" if isinstance(c, str) and _IDENT.match(c) else None

# Why two construction paths per function: the lambda-HOF builders
# (`F.zip_with(..., lambda ...)`) cost ~30-50 py4j round trips per
# expression — ~0.12 s per cosine_similarity at plan-BUILD time,
# paid per micro-batch in every streaming similarity plan (as with
# large constant literals: one SQL string beats a py4j-built
# tree). Parsing the identical expression from one SQL string is
# a single crossing and yields the same resolved tree: identical
# zip-then-fold shape, identical left-to-right float evaluation
# order, so results are bit-equal (pinned by tests/test_functions).

_DOT_SQL = (
    "aggregate(zip_with({a}, {b},"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0D, (acc, v) -> acc + v)"
)
_NORM_SQL = (
    "sqrt(aggregate({a}, 0D,"
    " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
)
_L2SQ_SQL = (
    "aggregate(zip_with({a}, {b},"
    " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " 0D, (acc, v) -> acc + v)"
)


def dot(a: Column | str, b: Column | str) -> Column:
    ra, rb = _ref(a), _ref(b)
    if ra and rb:
        return F.expr(_DOT_SQL.format(a=ra, b=rb))
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    ra = _ref(a)
    if ra:
        return F.expr(_NORM_SQL.format(a=ra))
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            ca,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    ra, rb = _ref(a), _ref(b)
    if ra and rb:
        # the whole cosine in ONE driver→JVM crossing
        return F.expr(
            "("
            + _DOT_SQL.format(a=ra, b=rb)
            + ") / (("
            + _NORM_SQL.format(a=ra)
            + ") * ("
            + _NORM_SQL.format(a=rb)
            + "))"
        )
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance — same zip-then-fold shape as :func:`dot`
    (the measured fast path; see the module docstring), used by the
    product-quantizer's per-subspace Lloyd assignment."""
    ra, rb = _ref(a), _ref(b)
    if ra and rb:
        return F.expr(_L2SQ_SQL.format(a=ra, b=rb))
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(
            ca,
            cb,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
