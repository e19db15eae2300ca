"""The scaling generator's embedding transform must be injective per
copy: the circular shift alone cycles with period 63, so
copies i and i+63 used to apply the identical rotation — exact
duplicate vectors (and the quadratic pair-graph artifact the rotation
exists to prevent) reappeared past factor 63."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_copy_transforms_are_distinct_past_the_shift_period(spark):
    from scripts.make_scaled import _copy

    base = spark.createDataFrame(
        [(0, [float(j) for j in range(1, 65)])],
        "vec_id long, embedding array<float>",
    )

    def vec(i: int) -> tuple:
        row = _copy(base, "embeddings", i).collect()[0]
        return tuple(round(float(x), 4) for x in row["embedding"])

    # the old failure: copy 64 == copy 1, copy 65 == copy 2, ...
    assert vec(1) != vec(64)
    assert vec(2) != vec(65)
    assert vec(63) != vec(126)
    # block boundary: copy 64 starts a sign-flip block, shift resets
    assert vec(64) != vec(0 + 1)
    # a healthy spread of copies is pairwise distinct
    seen = {vec(i) for i in (0, 1, 2, 31, 63, 64, 65, 126, 127)}
    assert len(seen) == 9
    # copy 0 is the identity (base rows keep their vectors)
    assert vec(0) == tuple(round(float(j), 4) for j in range(1, 65))


def test_document_transforms_are_distinct_and_never_identity(spark):
    """The text analog of the embedding-injectivity bug: the old
    per-copy letter ROTATION ``src[i:] + src[:i]`` is the identity for
    every i >= 26 (slicing caps at the string end), so a ×100 fixture
    carried ~74 verbatim twins of every base doc and the document
    dedup probes measured a quadratic fixture artifact. The seeded
    permutation must be non-identity and pairwise distinct."""
    from scripts.make_scaled import _copy, _letter_perm

    src = "abcdefghijklmnopqrstuvwxyz"
    # the exact historical failure: copies 26..99 were identity
    perms = {i: _letter_perm(src, i) for i in range(1, 101)}
    assert all(p != src for p in perms.values())
    assert len(set(perms.values())) == len(perms)
    # deterministic across calls (fixture rebuilds must reproduce)
    assert _letter_perm(src, 27) == perms[27]
    # VERSION-stable: the permutation is pinned to the md5
    # SPEC (letters sorted by md5(f"{seed}:{ch}")), not to
    # random-module internals — a fixture regenerated on any
    # interpreter must byte-match the one behind recorded probe
    # artifacts. These literals are the md5-spec answers.
    assert perms[1] == "jvgrxyohakntzwcfbqesmlpiud"
    assert perms[27] == "eonzrsuiljdmtayhbfcqgvwkpx"

    base = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )

    def text(i: int) -> str:
        return _copy(base, "documents", i).collect()[0]["text"]

    texts = {i: text(i) for i in (0, 1, 25, 26, 27, 52, 99)}
    assert texts[0] == "the quick brown fox jumps over the lazy dog"
    assert len(set(texts.values())) == len(texts)
