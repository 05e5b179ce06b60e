"""JL projection: distance preservation, determinism, seed sensitivity."""

from __future__ import annotations

import numpy as np

from trafsys_data_transfer_spark.operators.jl import (
    JL_K,
    jl_matrix,
    jl_project,
)


def test_matrix_is_pure_function_and_balanced():
    a = jl_matrix(64, JL_K)
    b = jl_matrix(64, JL_K)
    assert np.array_equal(a, b)
    assert set(np.unique(np.abs(a))) == {1.0 / np.sqrt(JL_K)}
    # sign balance within 4 sigma of fair
    pos = (a > 0).sum()
    n = a.size
    assert abs(pos - n / 2) < 4 * np.sqrt(n / 4)
    assert not np.array_equal(a, jl_matrix(64, JL_K, seed=123))


def test_pairwise_distance_preservation(spark, sf_dir):
    """Sampled pair distances distort within the empirical JL band for
    k=16 (generous ±60% bound — the lemma's constant at this k), and the
    MEDIAN distortion is tight (±20%)."""
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    x = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    proj = {
        r.vec_id: np.array(r.jl, dtype=np.float64) / 1e6
        for r in jl_project(emb, d=len(next(iter(x.values())))).collect()
    }
    ids = sorted(x)[:80]
    ratios = []
    for i in range(0, len(ids) - 1, 2):
        a, b = ids[i], ids[i + 1]
        d0 = np.linalg.norm(x[a] - x[b])
        d1 = np.linalg.norm(proj[a] - proj[b])
        if d0 > 1e-9:
            ratios.append(d1 / d0)
    ratios = np.array(ratios)
    assert np.all((ratios > 0.4) & (ratios < 1.6)), (ratios.min(), ratios.max())
    med = np.median(ratios)
    assert 0.8 < med < 1.2, med


def test_identical_vectors_stay_identical(spark):
    df = spark.createDataFrame(
        [(1, [1.5] * 32), (2, [1.5] * 32), (3, [0.0] * 32)],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: tuple(r.jl) for r in jl_project(df, d=32).collect()}
    assert out[1] == out[2]
    assert all(v == 0 for v in out[3])


def test_projection_deterministic_across_partitionings(spark, sf_dir):
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = len(emb.select("embedding").first()["embedding"])
    a = sorted(
        (r.vec_id, tuple(r.jl)) for r in jl_project(emb, d).collect()
    )
    b = sorted(
        (r.vec_id, tuple(r.jl))
        for r in jl_project(emb.repartition(13), d).collect()
    )
    assert a == b


def test_half_micro_unit_ties_round_away_from_zero(spark):
    """An exact .5 micro-unit tie rounds away from zero, as the oracle's
    DuckDB ``ROUND`` does (round-half-to-even would give ±2, not ±3)."""
    import duckdb

    # d=1: each coordinate is ±0.25·1e-5, i.e. exactly ±2.5 micro-units.
    df = spark.createDataFrame(
        [(1, [1e-5])], "vec_id long, embedding array<double>"
    )
    (row,) = jl_project(df, d=1).collect()
    want = [
        duckdb.sql(
            f"SELECT CAST(ROUND({x!r} * 1000000.0) AS BIGINT)"
        ).fetchone()[0]
        for x in 1e-5 * jl_matrix(1, JL_K)[0]
    ]
    assert {abs(v) for v in row.jl} == {3}
    assert list(row.jl) == want
