"""Fixed-knob corpus-size guards.

The three pinned-knob registry twins run quadratic in the corpus:
at ×100 corpus emb_semantic_dedup's 6×6 pin took ×422.6, the fixed-k
clustered one ×155.8 and the 6×6 cluster∩band one ×126.5, while
their N-derived twins took ×9–×12. The guards under test here make
the quadratic setting IMPOSSIBLE to lift into a big job: any
explicitly pinned band width (or an under-provisioned fixed
quantizer) on a corpus over similarity.FIXED_KNOB_GUARD_N raises at plan-build time unless the
caller passes allow_fixed_knobs=True.

All tests build plans only — the guard must fire BEFORE any heavy
action, so a raise here costs milliseconds, not the 2,000-second job
it prevents.
"""

from __future__ import annotations

import pytest

from sparkstreaming_realtime_spark.operators import similarity as sim

DIM = 4
BIG = sim.FIXED_KNOB_GUARD_N + 1


@pytest.fixture(scope="module")
def emb(spark):
    # tiny REAL frame: approx_count supplies the "big corpus" signal
    # so no test ever materializes 50k rows
    return spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, -0.25]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )


def _cents(k: int) -> list[tuple[int, list[float]]]:
    return [(c, [float(c % 5), 1.0, 0.0, 0.5]) for c in range(k)]


def test_pinned_bands_over_bound_raise(emb):
    with pytest.raises(ValueError, match="pinned scale knob"):
        sim.rh_near_dup_pairs(
            emb, dim=DIM, bands=6, rows_per_band=6, approx_count=BIG
        )


def test_pinned_bands_allow_flag_builds(emb):
    df = sim.rh_near_dup_pairs(
        emb, dim=DIM, bands=6, rows_per_band=6, approx_count=BIG,
        allow_fixed_knobs=True,
    )
    assert set(df.columns) == {"vec_a", "vec_b", "cos"}


def test_pinned_bands_under_bound_build(emb):
    # the oracle-checked registry fixtures live here: pinned knobs on
    # a small corpus are reproducibility, not a footgun
    df = sim.rh_near_dup_pairs(
        emb, dim=DIM, bands=6, rows_per_band=6,
        approx_count=sim.FIXED_KNOB_GUARD_N,
    )
    assert set(df.columns) == {"vec_a", "vec_b", "cos"}


def test_auto_bands_over_bound_build(emb):
    # the N-derived path is the 100 TB path — never guarded
    df = sim.rh_near_dup_pairs(emb, dim=DIM, approx_count=BIG)
    assert set(df.columns) == {"vec_a", "vec_b", "cos"}


def test_underprovisioned_fixed_k_raises(emb):
    # k=8 on 50k+ vectors: expected cell ~6k ≫ 4·AUTOK_CELL
    with pytest.raises(ValueError, match="fixed k=8"):
        sim.cluster_near_dup_pairs(
            emb, _cents(8), approx_count=BIG
        )


def test_underprovisioned_fixed_k_raises_through_wrapper(emb):
    with pytest.raises(ValueError, match="pinned scale knob"):
        sim.semantic_dedup_clustered(
            emb, _cents(8), approx_count=BIG
        )


def test_auto_k_over_bound_builds(emb):
    # auto_k_cells keeps expected cell ~AUTOK_CELL → under the 4×
    # guard band at any N
    k = sim.auto_k_cells(BIG)
    df = sim.cluster_near_dup_pairs(emb, _cents(k), approx_count=BIG)
    assert set(df.columns) == {"vec_a", "vec_b", "cos"}


def test_fixed_k_allow_flag_builds(emb):
    df = sim.cluster_near_dup_pairs(
        emb, _cents(8), approx_count=BIG, allow_fixed_knobs=True
    )
    assert set(df.columns) == {"vec_a", "vec_b", "cos"}


def test_banded_pinned_width_raises_fixed_k_alone_does_not(emb):
    # the cluster∩band composition guards the BAND pin (the ×126.5
    # shape) but deliberately not a fixed cell count — the band term
    # is exactly what keeps a fixed quantizer near-linear
    with pytest.raises(ValueError, match="pinned scale knob"):
        sim.cluster_banded_near_dup_pairs(
            emb, _cents(8), dim=DIM, bands=6, rows_per_band=6,
            approx_count=BIG,
        )
    df = sim.cluster_banded_near_dup_pairs(
        emb, _cents(8), dim=DIM, approx_count=BIG
    )
    assert set(df.columns) == {"vec_a", "vec_b", "cos"}


def test_guard_counts_when_no_hint(spark):
    # without approx_count the guard counts the REAL corpus — a tiny
    # frame passes, proving registry fixtures stay green with no hint
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    df = sim.rh_near_dup_pairs(emb, dim=DIM, bands=6, rows_per_band=6)
    assert set(df.columns) == {"vec_a", "vec_b", "cos"}


def test_auto_k_cells_formula():
    # shared clamp (floor IVF_CELLS, target AUTOK_CELL, cap
    # AUTOK_CAP) — scale_probe imports this same function, so drift
    # between probe and registry is structurally impossible
    assert sim.auto_k_cells(500) == sim.IVF_CELLS
    assert sim.auto_k_cells(60_000) == 118
    assert sim.auto_k_cells(10**9) == sim.AUTOK_CAP


def test_autok_registry_alias_is_shared():
    from sparkstreaming_realtime_spark.plans import llm_queries

    assert llm_queries._autok is sim.auto_k_cells


def test_pinned_registry_plan_building_runs_zero_spark_jobs(spark, sf_dir, monkeypatch):
    """Building a pinned-knob registry plan runs no Spark job: the
    fixed-knob guard reads the corpus size from parquet footer
    metadata (llm_queries._corpus_count), not from an eager
    emb.count() — pinned here by making count() explode."""
    from pyspark.sql import DataFrame

    from sparkstreaming_realtime_spark.plans import llm_queries as lq
    from sparkstreaming_realtime_spark.plans.queries import queries

    # footer count == df.count() (exactness of the metadata path)
    spark_n = lq._t(spark, sf_dir, "embeddings").count()
    assert lq._corpus_count(sf_dir) == spark_n

    def boom(self):
        raise AssertionError("plan build ran an eager count() job")

    monkeypatch.setattr(DataFrame, "count", boom)
    qs = queries()
    for name in (
        "emb_near_dup_lsh",
        "emb_semantic_dedup",
        "emb_semantic_dedup_auto",
        "emb_semantic_dedup_clustered_banded",
    ):
        qs[name](spark, sf_dir)  # plan only — never collected
