"""Embedding-column hygiene operators: int8 quantization, and PCA
dimensionality reduction (fit / project — one moment-partial corpus
pass, driver-side d x d eigensolve, Arrow-batched projection).

Storage arithmetic is the whole game at corpus scale: a 100 TB corpus
with 768-dim float32 embeddings carries ~3 KB/vector; symmetric int8
cuts that 4x (and the ANN scan bandwidth with it) for a bounded,
per-vector-measured reconstruction error. The quantizer here is the
standard symmetric max-abs scheme (the FAISS ``ScalarQuantizer``/
vector-DB default): scale = max|x| / 127, q_i = round(x_i / scale).

Everything is a narrow per-row projection — array HOFs over the
embedding column, zero shuffle, no Python — so quantization composes
freely with the scan it sits on (the plan is the parquet scan plus one
Project). All arithmetic is double-precision IEEE (float32 → double
widening is exact, division and round are exactly specified), so the
quantized codes are bit-identical across engines — the registry oracle
(plans/extensions.x27) recomputes them in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scale_col(vec_d: Column, levels: int) -> Column:
    """Symmetric quantization scale max|x|/levels; an all-zero vector gets
    scale 1.0 so the division is defined (its codes are all 0 anyway)."""
    absmax = F.array_max(F.transform(vec_d, F.abs))
    return F.when(absmax == 0.0, F.lit(1.0)).otherwise(absmax / F.lit(float(levels)))


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric int8 quantization of an ``array<float>`` column.

    Adds ``out_col`` (``array<tinyint>``, codes in [-127, 127]) and
    ``scale_col`` (double); other columns pass through. Per-element
    error is bounded by scale/2 ≈ max|x|/254 (pinned in
    tests/test_dedup_similarity.py along with the exact-roundtrip and
    zero-vector cases).
    """
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sc = _scale_col(vec_d, 127)
    # The division must reference the scale ATTRIBUTE, not the scale
    # EXPRESSION: embedding the O(d) absmax inside the per-element lambda
    # re-evaluates it for every element — O(d²) per row, measured 5.5x
    # slower on 64-dim vectors (0.85 s vs 0.15 s per 2k rows). As a
    # pass-through + lambda operand the non-cheap producer is referenced
    # twice, so CollapseProject keeps the projections separate and the
    # scale is computed once per row.
    codes = F.transform(
        vec_d, lambda x: F.round(x / F.col(scale_col)).cast("tinyint")
    )
    return df.withColumn(scale_col, sc).withColumn(out_col, codes)


def quantization_error(
    df: DataFrame,
    vec_col: str,
    qvec_col: str,
    scale_col: str,
    out_col: str = "rmse",
) -> DataFrame:
    """Per-vector reconstruction RMSE between the original and the
    dequantized codes, rounded to 4dp (the float contract: the fold
    runs in array order in any engine, and rounding absorbs sub-ulp
    summation differences)."""
    sc = F.col(scale_col)
    sq = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.col(qvec_col),
        lambda x, q: (x - q.cast("double") * sc) * (x - q.cast("double") * sc),
    )
    mse = F.aggregate(
        sq, F.lit(0.0), lambda acc, v: acc + v
    ) / F.greatest(F.size(sq), F.lit(1))
    return df.withColumn(out_col, F.round(F.sqrt(mse), 4))


def pca_fit(
    df: DataFrame,
    vec_col: str,
    k: int,
    return_variance: bool = False,
    return_moments: bool = False,
):
    """Fit a k-component PCA over an embedding column — the standard
    dimensionality cut in embedding pipelines (project 768-dim vectors
    to 64-128 before ANN/SemDeDup: index bandwidth and distance-compute
    cost drop proportionally, recall barely moves when the spectrum
    decays). Returns ``(mean, components)`` as numpy arrays of shape
    (d,) and (k, d), components row-orthonormal, ordered by descending
    explained variance — or ``(mean, components, explained)`` with
    ``return_variance=True``, where ``explained`` is the captured
    fraction of total variance (free from the eigenvalues already in
    hand — no extra pass).

    Scale shape: ONE corpus pass. ``mapInPandas`` emits per-partition
    moment partials — count, sum vector, and the d x d gram matrix
    X^T X, one BLAS matmul per Arrow batch — which are then folded
    DISTRIBUTEDLY (posexplode + per-index sum), so the driver receives
    exactly d + d^2 + 1 numbers (~4.7 MB at d=768) regardless of
    partition count; a per-partition driver collect would be
    O(#partitions * d^2) and OOM at real partition counts. The driver
    forms the covariance and runs the d x d eigendecomposition (d^3 at
    d<=1024 is microseconds; the CORPUS never reaches the driver). The
    projection matrix then broadcasts back via ``pca_project``.

    Determinism (the pagerank/quantize trick, applied where magnitudes
    are O(1)): the DERIVED mean and covariance — not the raw sums, whose
    magnitude grows with corpus size and would outgrow any fixed
    absolute quantum — are rounded to 9 decimals before the eigensolve.
    Per-element mean/cov values stay O(1) for normalized-ish embeddings
    at any corpus size, so the ~1e-16 relative summation noise stays far
    below the 1e-9 quantum and the fit is reproducible across
    partitionings; eigenvector sign is canonicalized (largest-magnitude
    entry positive).
    ``numpy.linalg.eigh`` on the identical symmetric matrix is
    deterministic per platform.
    """
    import numpy as np

    if k < 1:
        raise ValueError("pca_fit: k must be >= 1")
    if return_variance and return_moments:
        # argument validation belongs BEFORE the corpus pass — the two
        # flags reshape the return tuple differently and an order-
        # dependent silent pick would hand the caller comps where it
        # expects cov
        raise ValueError(
            "pca_fit: return_variance and return_moments are mutually "
            "exclusive; call twice or derive explained variance from "
            "the returned covariance's trace"
        )

    def moments(batches):
        import numpy as _np
        import pandas as _pd

        n, s, g = 0, None, None
        for pdf in batches:
            vecs = [v for v in pdf[vec_col] if v is not None and len(v) > 0]
            if not vecs:
                continue
            X = _np.asarray([_np.asarray(v, dtype=_np.float64) for v in vecs])
            n += X.shape[0]
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            gg = X.T @ X
            g = gg if g is None else g + gg
        if n:
            yield _pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    parts = df.select(vec_col).mapInPandas(
        moments, "n long, s array<double>, g array<double>"
    )
    # distributed fold of the partials: the count rides the exploded
    # stream at index 0 (exact as a double below 2^53), so ONE shuffle
    # of (index, value) pairs folds everything and the driver sees
    # 1 + d + d^2 numbers however many partitions fed the map pass
    folded = (
        parts.select(
            F.posexplode(
                F.concat(
                    F.array(F.col("n").cast("double")),
                    F.col("s"),
                    F.col("g"),
                )
            ).alias("_i", "_v")
        )
        .groupBy("_i")
        .agg(F.sum("_v").alias("_sum"))
        .orderBy("_i")
        .collect()
    )
    if not folded:
        raise ValueError("pca_fit: no non-empty vectors")
    flat = np.asarray([r["_sum"] for r in folded])
    n = int(flat[0])
    flat = flat[1:]
    # infer d from d + d^2 = len(flat)
    d = int((-1 + (1 + 4 * len(flat)) ** 0.5) / 2)
    if d + d * d != len(flat):
        raise ValueError("pca_fit: inconsistent moment shapes across rows")
    s, g = flat[:d], flat[d:].reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    mean = np.round(mean, 9)
    cov = np.round(cov, 9)
    if k > d:
        raise ValueError(f"pca_fit: k={k} exceeds dimension {d}")
    evals, evecs = np.linalg.eigh((cov + cov.T) / 2.0)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    # canonical sign: the largest-|entry| coordinate of each component
    # is made positive — eigh's sign is arbitrary and would otherwise
    # flip run-to-run on degenerate-ish spectra
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    if return_variance:
        total = float(np.trace(cov))
        explained = (
            1.0 if total <= 0 else float(evals[order].sum() / total)
        )
        return mean, comps, min(max(explained, 0.0), 1.0)
    if return_moments:
        # the exact quantized (mean, covariance) pair the eigensolve
        # consumed — the cross-engine-pinnable artifact (the x27 registry
        # oracle re-derives both in DuckDB; the eigensolve itself stays
        # driver-numpy on both sides, float-summation-order-specific)
        return mean, cov, comps
    return mean, comps


def pca_project(
    df: DataFrame,
    vec_col: str,
    mean,
    components,
    out_col: str = "pca",
) -> DataFrame:
    """Project the embedding column onto fitted PCA components:
    ``y = C (x - mean)``, appended as ``out_col`` (array<double>, length
    k). Arrow-batched ``mapInPandas`` — one BLAS matmul per batch, no
    shuffle, partitioning preserved; the (k x d) projection matrix
    rides the closure (a few KB). NULL/empty vectors project to NULL."""
    import numpy as np

    mu = np.asarray(mean, dtype=np.float64)
    C = np.asarray(components, dtype=np.float64)
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{fields}, {out_col} array<double>"

    def project(batches):
        import numpy as _np

        for pdf in batches:
            outs = []
            for v in pdf[vec_col]:
                if v is None or len(v) == 0:
                    outs.append(None)
                else:
                    x = _np.asarray(v, dtype=_np.float64) - mu
                    outs.append((C @ x).tolist())
            pdf = pdf.copy()
            pdf[out_col] = outs
            yield pdf

    return df.mapInPandas(project, schema)


def fixed_query_cosine(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    d: int | None = None,
    out_col: str = "sim",
) -> DataFrame:
    """4dp-rounded cosine of each vector (or its first-``d`` MRL
    prefix) against ONE fixed query vector — the zero-Python path for
    single-query scoring/eval columns (the x27 registry shape): dot and
    norm are ``aggregate``/``zip_with`` HOFs inside codegen, the query
    prefix is a literal array, and the decision surface is the rounded
    value (the shared 4dp cross-engine float contract). A zero-norm
    vector gets NULL (unrankable, the lm_perplexity loud-null
    convention), never a division error or a fake 0 — and so does a
    vector with too few dims (< ``d``, or != len(query) when ``d`` is
    None): the size check is an EXPLICIT when-guard, not an accident
    of zip_with NULL-padding, so a short vector can never produce a
    silently-truncated sim (review finding, round 10)."""
    import math

    if d is not None and len(query) < d:
        # query[:d] would silently truncate and zip_with would
        # NULL-pad against the longer vector slice, NULLing every sim —
        # indistinguishable from the zero-norm arm (review finding)
        raise ValueError(
            f"fixed_query_cosine: query has {len(query)} dims, "
            f"fewer than d={d}"
        )
    qd = [float(x) for x in (query if d is None else query[:d])]
    qnorm = math.sqrt(sum(x * x for x in qd))
    if qnorm == 0.0:
        raise ValueError("fixed_query_cosine: query has zero norm")
    v = (
        F.col(vec_col)
        if d is None
        else F.slice(F.col(vec_col), 1, int(d))
    )
    v = F.transform(v, lambda x: x.cast("double"))
    qlit = F.array(*[F.lit(x) for x in qd])
    dot = F.aggregate(
        F.zip_with(v, qlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # explicit dimensionality guard: with d, the vector must carry at
    # least d elements (F.slice of a shorter array returns fewer and
    # zip_with would NULL-pad); without d, it must match the query
    # exactly. Either violation is loud-NULL by contract, never a
    # truncated-but-plausible sim.
    sized = (
        F.size(F.col(vec_col)) >= int(d)
        if d is not None
        else F.size(F.col(vec_col)) == len(qd)
    )
    sim = F.when(
        sized & (vnorm > 0.0), F.round(dot / (vnorm * F.lit(qnorm)), 4)
    )
    return df.withColumn(out_col, sim)
