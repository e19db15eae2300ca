"""Text expressions: ES-style match, tokenization, shingles (SURVEY F11).

The reference's only text operator is Elasticsearch
``matchQuery(field, query).operator(AND)`` — every analyzed token of
the query must appear in the analyzed field
(``PublishDaoImpl.java:58-61``). The standard ES analyzer lowercases
and splits on non-letter/digit; :func:`tokenize` mirrors that, and
:func:`match_all_terms` reproduces the AND-match as a pure Column
predicate (JVM-side, pushdown-friendly when the query is a literal).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: split on any run of non-alphanumeric characters (ES standard
#: analyzer approximation; handles "Apple iPhone-13" → apple, iphone, 13)
TOKEN_SPLIT_RE = r"[^\p{L}\p{N}]+"


def normalize_text(col: Column | str) -> Column:
    """Lowercase + trim — the shared normalization in front of
    tokenize/fingerprint/dedup so near-dup operators agree on input.

    Known cross-engine boundary (property-tested): the engines ship
    different Unicode tables, so ``lower()`` itself can disagree in
    two ways. (a) Multi-codepoint expansions: U+0130 'İ' — JVM/Python
    produce ``i + U+0307``, DuckDB produces ``i``. (b) Unicode-version
    skew: case mappings added after the oracle's utf8proc snapshot —
    e.g. U+2C2F 'Ⱟ'→U+2C5F 'ⱟ' entered the tables in Unicode 14, so
    Python 3.11 lowercases it while DuckDB 1.0 returns it unchanged.
    Oracle parity on text containing such codepoints is not
    guaranteed (the property test pins alphabet agreement *given
    agreed casing*); corpora where this matters should NFKC-normalize
    and case-fold upstream with one library."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def tokenize(col: Column | str) -> Column:
    """array<string> of lowercase tokens, empties removed."""
    arr = F.split(normalize_text(col), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda t: t != F.lit(""))


def match_all_terms(field: Column | str, query: str) -> Column:
    """ES match-AND predicate: every token of ``query`` appears among
    the tokens of ``field`` (PublishDaoImpl.java:58-61).

    Implemented as array containment over tokenized forms — stays in
    whole-stage codegen; no UDF.
    """
    tokens = [t for t in _py_tokenize(query)]
    if not tokens:
        return F.lit(True)
    # plain split, not tokenize(): the empty-string entries split()
    # leaves behind can never equal a non-empty query token, and
    # skipping the higher-order filter() keeps codegen cheap (the
    # lambda variant costs ~5s of first-run compilation)
    field_tokens = F.split(normalize_text(field), TOKEN_SPLIT_RE)
    pred = None
    for t in tokens:
        clause = F.array_contains(field_tokens, t)
        pred = clause if pred is None else (pred & clause)
    return pred


def _py_tokenize(q: str) -> list[str]:
    """Driver-side tokenization of the (literal) query string — same
    alphabet as TOKEN_SPLIT_RE. Python's ``re`` has no \\p{L}\\p{N}
    classes; ``[\\W_]`` with UNICODE is the exact complement (``\\w``
    = letters + digits + underscore), so the three tokenizers (Spark
    field side, this query side, the DuckDB oracle regex) all split
    on the same character set."""
    import re

    return [t for t in re.split(r"[\W_]+", q.lower(), flags=re.UNICODE) if t]


def ngram_shingles(col: Column | str, n: int = 3) -> Column:
    """Token n-gram shingles (space-joined), the unit of MinHash /
    Jaccard near-dup (Broder 1997). Returns array<string>; docs with
    fewer than ``n`` tokens yield their whole token string as one
    shingle so no document silently disappears."""
    toks = tokenize(col)
    k = F.size(toks)
    # zip_with over n shifted slices, NOT transform-with-slice-inside-
    # the-lambda: a higher-order function evaluates its ARGUMENTS once
    # per row but gets no common-subexpression elimination inside the
    # lambda body, so an inlined `toks` there re-runs the tokenize
    # regex once per shingle position (O(k·n) tokenizes). Here `toks`
    # appears only as argument slices — n evaluations total.
    m = k - F.lit(n - 1)
    acc = F.slice(toks, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(k >= n, acc).otherwise(F.array(F.concat_ws(" ", toks)))
