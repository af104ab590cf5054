"""PageRank pinned against a numpy power-iteration reference, plus
structural invariants (mass conservation, dangling handling, hubs)."""

from __future__ import annotations

import numpy as np
import pytest

from mapreduce_stockheadlines_spark.operators.graph import pagerank


def ref_pagerank(edges, d=0.85, iters=10):
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.zeros(n)
        for s, t in edges:
            nxt[idx[t]] += r[idx[s]] / out[idx[s]]
        dangling = r[out == 0].sum()
        r = (1 - d) / n + d * (nxt + dangling / n)
    return {nodes[i]: r[i] for i in range(n)}


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3),
    (6, 1),  # 6 has out-links; 7 is dangling (in-link only)
    (3, 7),
]


def test_pagerank_matches_numpy_reference(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, n_iters=10).collect()}
    want = ref_pagerank(EDGES, iters=10)
    assert set(got) == set(want)
    for n, v in want.items():
        assert got[n] == pytest.approx(v, abs=1e-7), n
    # probability mass conserved (dangling node 7 redistributes)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)
    # 3 is the hub: every other node links to it
    assert got[3] == max(got.values())


def test_pagerank_parallel_edges_and_validation(spark):
    # duplicate edge doubles the contribution weight
    single = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    doubled = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3)], "src long, dst long"
    )
    r1 = {r.node: r.rank for r in pagerank(single, n_iters=3).collect()}
    r2 = {r.node: r.rank for r in pagerank(doubled, n_iters=3).collect()}
    assert r2[2] > r1[2]
    with pytest.raises(ValueError):
        pagerank(single, damping=1.5)
    with pytest.raises(ValueError):
        pagerank(single, n_iters=0)


def test_pagerank_quantized_is_partitioning_invariant(spark):
    """quantize_dp makes the iteration bit-reproducible: the same graph
    at 1 partition and at 16 partitions yields IDENTICAL ranks (the
    x31 oracle's cross-engine precondition), and the quantized result
    stays within the quantization error of the unquantized one."""
    from mapreduce_stockheadlines_spark.operators.graph import pagerank

    edges = [(i % 13, (i * 5 + 3) % 13) for i in range(60)]
    edges = [(s, d) for s, d in edges if s != d and s % 4 != 0]
    df1 = spark.createDataFrame(edges, "src long, dst long").coalesce(1)
    df16 = spark.createDataFrame(edges, "src long, dst long").repartition(16)
    r1 = {r.node: r.rank for r in pagerank(df1, quantize_dp=10).collect()}
    r16 = {r.node: r.rank for r in pagerank(df16, quantize_dp=10).collect()}
    assert r1 == r16  # bitwise equal, not approx
    full = {r.node: r.rank for r in pagerank(df1).collect()}
    for n in full:
        assert abs(full[n] - r1[n]) < 1e-8


# --- HITS hubs and authorities -------------------------------------------------


def test_hits_hand_values_one_round(spark):
    """Star graph 1→2, 3→2, 2→4, one round by hand: a = (0, 2/3, 0,
    1/3), then h = (0.4, 0.2, 0.4, 0)."""
    import pytest

    from mapreduce_stockheadlines_spark.operators.graph import hits

    e = spark.createDataFrame([(1, 2), (3, 2), (2, 4)], "src long, dst long")
    out = {r.node: r for r in hits(e, n_iters=1).collect()}
    assert out[2].auth == pytest.approx(2 / 3, abs=1e-8)
    assert out[4].auth == pytest.approx(1 / 3, abs=1e-8)
    assert out[1].auth == 0.0 and out[3].auth == 0.0
    assert out[1].hub == pytest.approx(0.4, abs=1e-8)
    assert out[3].hub == pytest.approx(0.4, abs=1e-8)
    assert out[2].hub == pytest.approx(0.2, abs=1e-8)
    assert out[4].hub == 0.0


def test_hits_matches_numpy_reference(spark):
    """Ten rounds on a seeded random digraph equal a numpy power
    iteration with the same L1 normalization."""
    import numpy as np

    from mapreduce_stockheadlines_spark.operators.graph import hits

    rng = np.random.RandomState(11)
    n = 12
    pairs = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, n, size=(40, 2))
            if a != b
        }
    )
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: (r.hub, r.auth) for r in hits(e, n_iters=10).collect()}

    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for a, b in pairs:
        A[idx[a], idx[b]] = 1.0
    h = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(10):
        a = A.T @ h
        a = a / a.sum() if a.sum() > 0 else a
        h = A @ a
        h = h / h.sum() if h.sum() > 0 else h
    for v in nodes:
        assert abs(got[v][0] - h[idx[v]]) < 1e-8, v
        assert abs(got[v][1] - a[idx[v]]) < 1e-8, v


def test_hits_single_edge_fixed_point_and_quantized_invariance(spark):
    from mapreduce_stockheadlines_spark.operators.graph import hits

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    out = {r.node: r for r in hits(e, n_iters=3).collect()}
    assert out[1].hub == 1.0 and out[1].auth == 0.0
    assert out[2].auth == 1.0 and out[2].hub == 0.0

    import numpy as np

    rng = np.random.RandomState(3)
    pairs = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, 30, size=(120, 2))
            if a != b
        }
    )
    big = spark.createDataFrame(pairs, "src long, dst long")
    r1 = sorted(map(tuple, hits(big, n_iters=6, quantize_dp=10).collect()))
    r2 = sorted(
        map(
            tuple,
            hits(big.repartition(13), n_iters=6, quantize_dp=10).collect(),
        )
    )
    assert r1 == r2


def test_x31_hits_columns_nondegenerate_and_role_separated(spark, sf_dir):
    """Promotion guard: hub and auth vary; the planted src%7==0
    residues (receive links, emit none) have hub exactly 0 with
    positive auth — the role separation the column exists to pin."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    from pyspark.sql import functions as F

    x31 = ALL_QUERIES["x31_pagerank"].builder(spark, sf_dir).cache()
    try:
        assert_column_nondegenerate(x31, "hub", f"at {sf_dir}")
        assert_column_nondegenerate(x31, "auth", f"at {sf_dir}")
        planted = x31.filter((F.col("node") % 7 == 0)).collect()
        assert planted
        assert all(r.hub == 0.0 for r in planted)
        assert any(r.auth > 0.0 for r in planted)
    finally:
        x31.unpersist()
