"""Product quantization (operators/pq.py): training determinism,
encode/reconstruction contracts, ADC exactness vs a pure-numpy
reference, recall on separable clusters, and the x27 zero-slot
promotion guards. The cross-engine pin itself lives in the registry
oracle (plans/extensions.X27_SQL re-derives both Lloyd rounds, the
encode, the reconstruction error and the ADC fold in DuckDB)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import mapreduce_stockheadlines_spark.operators.pq as PQ


def _clustered(rng: np.random.RandomState, n_per: int = 20, dim: int = 8):
    """Four well-separated clusters in every subspace: PQ with ksub=4
    should reconstruct near-perfectly and ADC should rank same-cluster
    vectors first. Ids interleave clusters (cluster = vec_id % 4) so the
    deterministic lowest-id init seeds one centroid per cluster —
    seeding all four cells inside ONE cluster would test Lloyd's
    escape from a degenerate init, not the PQ contract."""
    centers = np.array(
        [[5.0] * dim, [-5.0] * dim, [5.0, -5.0] * (dim // 2),
         [-5.0, 5.0] * (dim // 2)]
    )
    rows = []
    for ci, c in enumerate(centers):
        for i in range(n_per):
            rows.append(
                (i * 4 + ci, (c + rng.normal(0, 0.1, dim)).tolist())
            )
    return rows


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def test_pq_train_deterministic_across_partitionings(spark):
    rng = np.random.RandomState(11)
    df = _df(spark, _clustered(rng))
    cb1 = PQ.pq_train(df, m=2, ksub=4, n_iters=2)
    cb2 = PQ.pq_train(df.repartition(7), m=2, ksub=4, n_iters=2)
    cb3 = PQ.pq_train(df.coalesce(1), m=2, ksub=4, n_iters=2)
    assert cb1.shape == (2, 4, 4)
    assert np.array_equal(cb1, cb2)
    assert np.array_equal(cb1, cb3)
    # quantized contract: every trained coordinate is on the 7dp grid
    assert np.array_equal(cb1, np.round(cb1, 7))
    # NULL/empty vectors among the lowest ids carry no geometry: the
    # trainers' own init and a caller's shared head (x27 collects it
    # once for pq_train AND kmeans_centroids) both skip them
    from mapreduce_stockheadlines_spark.operators import similarity as S

    dirty = df.unionByName(
        spark.createDataFrame(
            [(-2, None), (-1, [])], "vec_id long, embedding array<double>"
        )
    )
    head = np.array(list(S._head_vecs(dirty, "vec_id", "embedding", 4)))
    assert head.shape == (4, 8)
    assert np.array_equal(PQ.pq_train(dirty, m=2, ksub=4, n_iters=2), cb1)
    assert np.array_equal(
        PQ.pq_train(dirty, m=2, ksub=4, n_iters=2, init_vecs=head), cb1
    )
    assert np.array_equal(
        S.kmeans_centroids(dirty, k=4, n_iters=2, quantize_dp=7,
                           init_vecs=head),
        S.kmeans_centroids(df, k=4, n_iters=2, quantize_dp=7),
    )


def test_pq_encode_codes_and_reconstruction(spark):
    rng = np.random.RandomState(12)
    rows = _clustered(rng)
    df = _df(spark, rows)
    cb = PQ.pq_train(df, m=2, ksub=4, n_iters=2)
    enc = {r.vec_id: r for r in PQ.pq_encode(df, cb).collect()}
    assert len(enc) == len(rows)
    X = {i: np.asarray(v) for i, v in rows}
    for vid, r in enc.items():
        codes = list(r.pq_codes)
        assert len(codes) == 2 and all(0 <= c < 4 for c in codes)
        recon = np.concatenate([cb[j][codes[j]] for j in range(2)])
        want = round(
            float(np.sqrt(((X[vid] - recon) ** 2).sum() / 8)), 4
        )
        assert r.pq_rmse == pytest.approx(want, abs=1e-12)
        # separable clusters + trained codebooks: tight reconstruction
        assert r.pq_rmse < 0.5
    # all four clusters map to distinct code pairs in each subspace
    seen = {tuple(r.pq_codes) for r in enc.values()}
    assert len(seen) == 4


def test_pq_adc_matches_numpy_reference_exactly(spark):
    """adc_fp is an INTEGER contract: sum over subspaces of
    round(||q_j - cb[j][code_j]||^2 * 10^4). The Spark path must equal
    a from-scratch numpy derivation bit-for-bit."""
    rng = np.random.RandomState(13)
    rows = _clustered(rng)
    df = _df(spark, rows)
    cb = PQ.pq_train(df, m=2, ksub=4, n_iters=2)
    q0 = np.asarray(rows[0][1])
    got = {
        r.vec_id: (tuple(r.pq_codes), r.adc_fp)
        for r in PQ.pq_encode(df, cb, query_vec=q0).collect()
    }
    qs = q0.reshape(2, 4)
    lut = np.round(
        ((qs[:, None, :] - cb) ** 2).sum(axis=2) * 10**4
    ).astype(np.int64)
    for vid, vec in rows:
        x = np.asarray(vec).reshape(2, 4)
        codes = []
        for j in range(2):
            d2 = np.round(((x[j] - cb[j]) ** 2).sum(axis=1), 4)
            codes.append(int(np.argmin(d2)))
        want_adc = int(lut[0, codes[0]] + lut[1, codes[1]])
        assert got[vid] == (tuple(codes), want_adc), vid


def test_pq_adc_topk_recall_on_separable_clusters(spark):
    """ADC top-k retrieves same-cluster neighbors: with 4 clusters of
    20 and k=5, every query's top-5 lives in its own cluster, distances
    ascend, ranks are 1..5, and self is masked."""
    rng = np.random.RandomState(14)
    rows = _clustered(rng)
    df = _df(spark, rows)
    cb = PQ.pq_train(df, m=2, ksub=4, n_iters=2)
    queries = df.filter("vec_id in (0, 25, 46, 71)")
    out = PQ.pq_adc_topk(queries, df, cb, k=5).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 25, 46, 71}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        assert all(r.neighbor_id != qid for r in rs)
        dists = [r.adc_fp for r in rs]
        assert dists == sorted(dists)
        cluster = qid % 4
        assert all(r.neighbor_id % 4 == cluster for r in rs)


def test_pq_train_validates_inputs(spark):
    rng = np.random.RandomState(15)
    df = _df(spark, _clustered(rng))
    with pytest.raises(ValueError, match="not divisible"):
        PQ.pq_train(df, m=3, ksub=4, n_iters=1)
    with pytest.raises(ValueError, match="at least ksub"):
        PQ.pq_train(df.filter("vec_id < 2"), m=2, ksub=4, n_iters=1)


def test_x27_pq_columns_nondegenerate(spark, sf_dir):
    """Promotion guard (VERDICT r7 #8) for the round-8 x27 zero slots:
    the PQ code/distance columns must vary at the test SF, or the
    registry hash would pin nothing."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x27_quantize_embeddings,
    )

    x27 = x27_quantize_embeddings(spark, sf_dir).localCheckpoint()
    assert_column_nondegenerate(x27, "pq_codes_csv", f"at {sf_dir}")
    assert_column_nondegenerate(x27, "pq_adc_fp", f"at {sf_dir}")
    assert_column_nondegenerate(x27, "pq_rmse", f"at {sf_dir}")
    # round-9 IVFPQ serving columns: cells spread over the 4-cell
    # coarse index, probe membership takes both values (n_probe=2 of
    # 4), and the served top-10 carries exactly 10 ranked rows
    assert_column_nondegenerate(x27, "ivf_cell", f"at {sf_dir}")
    assert_column_nondegenerate(x27, "ivfpq_codes_csv", f"at {sf_dir}")
    assert_column_nondegenerate(x27, "ivf_probed", f"at {sf_dir}")
    ranked = x27.filter(F.col("ivfpq_rank").isNotNull())
    assert ranked.count() == 10
    assert ranked.filter(F.col("ivf_probed") == 0).count() == 0


def _norm(v):
    n = np.linalg.norm(v)
    return v / (n or 1.0)


def test_ivfpq_trains_residual_codebooks_and_recalls(spark):
    """IVFPQ end-to-end: coarse spherical k-means + PQ on residuals;
    serving probes nearest cells and ADC-ranks candidates. On four
    well-separated noisy clusters, top-3 per query stays within the
    query's cluster and every returned neighbor is NEAR-OPTIMAL: its
    true cosine similarity is within quantization tolerance of the
    exact top-3 cut (PQ may legitimately reorder near-ties inside a
    tight cluster — item-exact equality is asserted separately on the
    duplicate-vector corpus where ADC is provably exact)."""
    from mapreduce_stockheadlines_spark.operators.similarity import (
        cosine_topk,
    )

    rng = np.random.RandomState(21)
    rows = _clustered(rng, n_per=15)
    df = _df(spark, rows)
    coarse, cb = PQ.ivfpq_train(
        df, n_centroids=4, coarse_iters=2, m=2, ksub=4, pq_iters=2
    )
    assert coarse.shape == (4, 8) and cb.shape == (2, 4, 4)
    # residual codebooks describe WITHIN-cell structure: much smaller
    # magnitude than the coarse centroids they sit on
    assert np.abs(cb).max() < np.abs(coarse).max()
    queries = df.filter("vec_id in (0, 1, 2, 3)")
    got = PQ.ivfpq_topk(queries, df, coarse, cb, k=3, n_probe=1).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    exact_cut = {}  # worst true sim inside the exact top-3
    for r in cosine_topk(queries, df, k=3).collect():
        exact_cut[r.query_id] = min(
            exact_cut.get(r.query_id, 1.0), r.sim
        )
    X = {i: _norm(np.asarray(v)) for i, v in rows}
    assert set(by_q) == {0, 1, 2, 3}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3]
        assert all(r.neighbor_id % 4 == qid % 4 for r in rs)
        dists = [r.adc_fp for r in rs]
        assert dists == sorted(dists)
        for r in rs:
            true_sim = float(X[qid] @ X[r.neighbor_id])
            assert true_sim >= exact_cut[qid] - 2e-3, (qid, r)


def test_ivfpq_exact_on_duplicate_vector_clusters(spark):
    """Zero-residual corpus (each cluster is one vector repeated): the
    coarse centroids land exactly on the cluster points, residuals
    vanish, ADC distances are EXACT, and ivfpq_topk's output equals
    cosine_topk's item-for-item including the id-ascending tie order."""
    from mapreduce_stockheadlines_spark.operators.similarity import (
        cosine_topk,
    )

    dim = 8
    centers = [[5.0] * dim, [-5.0] * dim, [5.0, -5.0] * 4,
               [-5.0, 5.0] * 4]
    rows = [
        (i * 4 + ci, list(centers[ci]))
        for ci in range(4)
        for i in range(12)
    ]
    df = _df(spark, rows)
    coarse, cb = PQ.ivfpq_train(df, n_centroids=4, m=2, ksub=4)
    # residuals vanish up to the coarse centroids' 7dp quantization
    # residue (|x_norm - round(x_norm, 7)| <= 5e-8), so every ADC LUT
    # entry rounds to 0 and the ranking is exact
    assert np.abs(cb).max() < 1e-6
    queries = df.filter("vec_id in (0, 1, 2, 3)")
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in PQ.ivfpq_topk(queries, df, coarse, cb, k=4,
                               n_probe=1).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk(queries, df, k=4).collect()
    )
    assert got == want


def test_ivfpq_deterministic_across_partitionings(spark):
    rng = np.random.RandomState(22)
    rows = _clustered(rng, n_per=10)
    df = _df(spark, rows)
    coarse1, cb1 = PQ.ivfpq_train(df, n_centroids=4, m=2, ksub=4)
    coarse2, cb2 = PQ.ivfpq_train(
        df.repartition(9), n_centroids=4, m=2, ksub=4
    )
    assert np.array_equal(coarse1, coarse2)
    assert np.array_equal(cb1, cb2)
    q = df.filter("vec_id in (0, 5)")
    a = sorted(
        map(tuple, PQ.ivfpq_topk(q, df, coarse1, cb1, k=4,
                                 n_probe=2).collect())
    )
    b = sorted(
        map(tuple, PQ.ivfpq_topk(q, df.repartition(9), coarse1, cb1,
                                 k=4, n_probe=2).collect())
    )
    assert a == b


# --- OPQ: rotation-trained PQ -------------------------------------------------


def _correlated(spark, n: int = 48, dim: int = 8):
    """The construction OPQ exists for: TWO independent high-variance
    signals landing in the SAME contiguous subspace (dims 0 and 1),
    rest noise. Plain PQ must cover their 2-D square with one
    codebook's ksub cells (≈√ksub levels per axis); eigenvalue
    allocation routes each signal to its OWN subspace, giving each a
    full ksub levels — a ~4× MSE cut at ksub=4. (Rank-ONE data is the
    counter-case: every subspace's cell choice is perfectly
    correlated, the combined reconstruction is ksub points with or
    without rotation, and OPQ provably gains nothing.)"""
    rng = np.random.RandomState(7)
    u = rng.uniform(-10, 10, size=n)
    v = rng.uniform(-10, 10, size=n)
    x = rng.normal(0, 0.05, size=(n, dim))
    x[:, 0] += u
    x[:, 1] += v
    return (
        spark.createDataFrame(
            [(i, [float(val) for val in x[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        ),
        x,
    )


def test_opq_identity_special_case(spark):
    """init='identity', n_iters=0 is plain PQ exactly: identity
    rotation, bit-identical codebooks. The default PCA seed at
    n_iters=0 is OPQ-P alone: an orthonormal rotation (permuted
    principal components)."""
    df, _ = _correlated(spark)
    rot, cb = PQ.opq_train(
        df, m=4, ksub=4, n_iters=0, pq_iters=1, init="identity"
    )
    assert np.array_equal(rot, np.eye(8))
    cb_plain = PQ.pq_train(df, m=4, ksub=4, n_iters=1)
    assert np.array_equal(cb, cb_plain)
    rot_p, _cb_p = PQ.opq_train(df, m=4, ksub=4, n_iters=0, pq_iters=1)
    assert np.allclose(rot_p @ rot_p.T, np.eye(8), atol=1e-10)
    assert not np.array_equal(rot_p, np.eye(8))

    import pytest

    with pytest.raises(ValueError, match="init"):
        PQ.opq_train(df, m=4, ksub=4, init="nope")


def _opq_err(df, rot, cb):
    """Mean reconstruction error of the OPQ serving path: rotate, then
    encode in the rotated space."""
    return (
        PQ.pq_encode(PQ.rotate_vectors(df, rot), cb, vec_col="vr")
        .agg(F.avg("pq_rmse").alias("e"))
        .collect()[0]["e"]
    )


def test_opq_rotation_orthonormal_and_beats_plain_pq(spark):
    df, _ = _correlated(spark)
    rot, cb = PQ.opq_train(df, m=4, ksub=4, n_iters=2, pq_iters=2)
    assert np.allclose(rot @ rot.T, np.eye(8), atol=1e-10)
    opq_err = _opq_err(df, rot, cb)
    cb_plain = PQ.pq_train(df, m=4, ksub=4, n_iters=2)
    pq_err = (
        PQ.pq_encode(df, cb_plain)
        .agg(F.avg("pq_rmse").alias("e"))
        .collect()[0]["e"]
    )
    # note: rotation is orthonormal, so rotated-space reconstruction
    # error is comparable to original-space error
    assert opq_err < pq_err * 0.8, (opq_err, pq_err)


def test_opq_alternation_nonincreasing_and_partition_invariant(spark):
    """More alternations never hurt (beyond quantization jitter), and
    the trained (rotation, codebooks) are bit-identical across input
    partitionings — the quantized-moment contract."""
    df, _ = _correlated(spark)
    errs = []
    for it in (0, 1, 2):
        rot, cb = PQ.opq_train(df, m=4, ksub=4, n_iters=it, pq_iters=2)
        errs.append(_opq_err(df, rot, cb))
    assert errs[1] <= errs[0] + 1e-3
    assert errs[2] <= errs[1] + 1e-3

    rot1, cb1 = PQ.opq_train(df, m=4, ksub=4, n_iters=1, pq_iters=1)
    rot2, cb2 = PQ.opq_train(
        df.repartition(7), m=4, ksub=4, n_iters=1, pq_iters=1
    )
    assert np.array_equal(rot1, rot2)
    assert np.array_equal(cb1, cb2)


def test_opq_cross_moment_matches_numpy_reference(spark):
    """The distributed d×d moment fold equals a driver-side numpy
    re-derivation (assignment under the shared 4dp contract,
    (1/n)·Σ x·ŷᵀ, 9dp round) — the pca_fit quantized-moment pin,
    applied to the Procrustes input."""
    df, x = _correlated(spark, n=30)
    cb = PQ.pq_train(df, m=4, ksub=4, n_iters=1)
    rot = np.eye(8)
    got = PQ.opq_cross_moment(df, rot, cb)
    xr = x.reshape(len(x), 4, 2)
    yhat = np.empty_like(xr)
    for j in range(4):
        d2 = np.round(
            ((xr[:, j, :][:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2),
            4,
        )
        yhat[:, j, :] = cb[j][np.argmin(d2, axis=1)]
    want = np.round(
        (x.T @ yhat.reshape(len(x), -1)) / len(x), 9
    )
    assert np.array_equal(got, want)


def test_opq_rejects_indivisible_dim_before_corpus_pass(spark):
    df, _ = _correlated(spark)
    with pytest.raises(ValueError, match="not divisible"):
        PQ.opq_train(df, m=3, ksub=4)


def test_x27_opq_moment_columns_nondegenerate(spark, sf_dir):
    """Promotion guard for the round-9 OPQ moment columns: the planted
    diagonal and off-diagonal cross-moment entries vary across residue
    dimensions, and the Spark-side moment equals the operator's own
    numpy re-derivation (the registry pins Spark vs DuckDB; this pins
    the builder wiring vs the operator)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x27_quantize_embeddings,
    )

    x27 = x27_quantize_embeddings(spark, sf_dir).localCheckpoint()
    assert_column_nondegenerate(x27, "opq_xmom_ii", f"at {sf_dir}")
    assert_column_nondegenerate(x27, "opq_xmom_ij", f"at {sf_dir}")


def test_x27_opq_serving_columns_nondegenerate_and_rotated(spark, sf_dir):
    """Promotion guard for the round-10 OPQ serving columns
    (opq_codes_csv / opq_rmse / opq_adc_fp): each varies across rows,
    and the rotation is REAL — the rotated-space codes must disagree
    with the plain-PQ codes on at least one row and the rotated
    reconstruction error must differ somewhere too (a broken rotation
    that degenerated to identity would make both columns mirror the
    pq_* twins and pin nothing new)."""
    from conftest import assert_column_nondegenerate

    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x27_quantize_embeddings,
    )

    x27 = x27_quantize_embeddings(spark, sf_dir).localCheckpoint()
    for c in ("opq_codes_csv", "opq_rmse", "opq_adc_fp"):
        assert_column_nondegenerate(x27, c, f"at {sf_dir}")
    assert x27.filter(
        F.col("opq_codes_csv") != F.col("pq_codes_csv")
    ).count() > 0
    assert x27.filter(F.col("opq_rmse") != F.col("pq_rmse")).count() > 0
