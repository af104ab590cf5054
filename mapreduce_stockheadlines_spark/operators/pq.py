"""Product quantization (PQ) — Jégou/Douze/Schmid, "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011), the Faiss
``IndexPQ``/``IVFPQ`` compression scheme.

The vector space is split into ``m`` contiguous subspaces of
``dim/m`` coordinates; each subspace gets its own tiny k-means
codebook (``ksub`` centroids), and a vector is stored as the ``m``
nearest-centroid indices — e.g. 64 float32 dims (256 B) compress to
4 bytes at m=4/ksub=256, a 64x storage cut that also makes
asymmetric-distance (ADC) scans table-lookup cheap: for a query,
precompute the m x ksub table of subspace distances ONCE, then every
corpus vector's approximate distance is just m table lookups summed.

Scale shape (the part Spark owns):
- ``pq_train``: ONE corpus pass per Lloyd round trains ALL m
  subspace codebooks simultaneously — each Arrow batch emits at most
  m x ksub partial-sum rows (tiny), the corpus is never shuffled, and
  the driver folds m x ksub x dsub numbers. Same treeAggregate shape
  as ``similarity.kmeans_centroids``, generalized over subspaces.
- ``pq_encode``: one broadcast-codebook Arrow projection; per-row
  output is the m int codes (plus measured reconstruction error), no
  shuffle.
- ``pq_adc_topk``: queries collected bounded (the broadcast-build-side
  contract of ``similarity.cosine_topk``), LUTs built per batch, each
  partition emits only its local top-k — the global window ranks
  |Q| x k x partitions rows, never |Q| x |corpus|.

Cross-engine determinism (the x18/x31 quantized-trainer recipe): the
assignment argmin compares 4dp-ROUNDED squared L2 distances with
first-min (lowest cell index) tie-break; centroid updates round the
per-dim mean to ``quantize_dp`` decimals so distributed summation-order
noise vanishes below the quantum; empty cells keep the previous
centroid VERBATIM. ADC distances ship as fixed-point BIGINTs
(``round(d2 * 10^4)`` summed over subspaces — integer, order-free), so
the registry oracle (plans/extensions.x27) re-derives training,
encoding, reconstruction error and ADC bit-for-bit in DuckDB.

Reference parity note: the reference repo (195-line Java MapReduce)
has no vector ops at all; PQ is part of the §2.2 LLM-pipeline
extension surface (SURVEY.md), not a port.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import as_double
from ..session import checkpoint, local_frame
from .similarity import _collect_query_side, _head_vecs, _nonempty_vecs

ADC_FP_DP = 4  # fixed-point decimals for ADC lookup-table entries


def _raw_matrix(series: pd.Series) -> np.ndarray:
    """Stack an Arrow list column into a dense float64 matrix, RAW
    (PQ quantizes the actual coordinates; contrast similarity._to_matrix,
    which L2-normalizes for the cosine operators)."""
    return np.array(list(series), dtype=np.float64)


def _argmin_cells(xsub: np.ndarray, cb_j: np.ndarray, d2_dp: int = 4):
    """THE PQ assignment contract, shared by training, encoding and the
    oracle: 4dp-rounded squared L2 distance per subspace, argmin taking
    the FIRST minimal centroid on ties (lowest cell index). Returns
    (rounded_d2, cells)."""
    d2 = np.round(
        ((xsub[:, None, :] - cb_j[None, :, :]) ** 2).sum(axis=2), d2_dp
    )
    return d2, np.argmin(d2, axis=1)


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 4,
    n_iters: int = 2,
    quantize_dp: int = 7,
    init_vecs: np.ndarray | None = None,
) -> np.ndarray:
    """Train m subspace codebooks with Lloyd's k-means; returns an
    ``(m, ksub, dim/m)`` float64 array.

    Init is deterministic: subspace c's cell i starts at the subvector
    of the i-th lowest-``id_col`` vector. Each Lloyd round is ONE
    distributed pass that assigns and partial-sums ALL subspaces at
    once (map-side combine; at most m x ksub rows per Arrow batch reach
    the driver fold). Assignment/update follow the quantized contract
    in the module docstring, so N rounds of double arithmetic are
    bit-reproducible across engines and partitionings.

    ``init_vecs``: the ksub lowest-``id_col`` RAW vectors as a
    ``(>=ksub, dim)`` array — the operator's own init contract handed
    in by a caller that already collected the corpus head, so
    co-trained stages share ONE TakeOrdered corpus pass instead of one
    per trainer (round 13 — VERDICT r12 #2: the init collect cannot
    fold INTO the first Lloyd pass, assignment needs the centroids
    broadcast first, but it can be shared across trainers). Must be
    exactly what the internal collect would produce; the codebooks are
    a pure function of it by the quantized contract."""
    spark = corpus.sparkSession
    corpus = _nonempty_vecs(corpus, vec_col)
    if init_vecs is not None:
        x0 = np.asarray(init_vecs, dtype=np.float64)
        if x0.shape[0] < ksub:
            raise ValueError(
                f"pq_train: need at least ksub={ksub} init vectors, "
                f"got {x0.shape[0]}"
            )
        x0 = x0[:ksub]
    else:
        head = _head_vecs(corpus, id_col, vec_col, ksub)
        if len(head) < ksub:
            raise ValueError(
                f"pq_train: need at least ksub={ksub} vectors, "
                f"got {len(head)}"
            )
        x0 = _raw_matrix(head)
    dim = x0.shape[1]
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    dsub = dim // m
    cb = np.ascontiguousarray(
        x0.reshape(ksub, m, dsub).transpose(1, 0, 2)
    )  # (m, ksub, dsub)
    vecs = corpus.select(as_double(vec_col).alias("cv"))

    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(cb)

        def partials(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            cbv = bc.value
            mm, kk, ds = cbv.shape
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = _raw_matrix(pdf["cv"]).reshape(len(pdf), mm, ds)
                subs, cells, vsums, ns = [], [], [], []
                for j in range(mm):
                    _, cl = _argmin_cells(x[:, j, :], cbv[j])
                    sums = np.zeros((kk, ds))
                    np.add.at(sums, cl, x[:, j, :])
                    counts = np.bincount(cl, minlength=kk)
                    nz = np.nonzero(counts)[0]
                    subs.extend([j] * len(nz))
                    cells.extend(nz.tolist())
                    vsums.extend(list(sums[nz]))
                    ns.extend(counts[nz].tolist())
                yield pd.DataFrame(
                    {
                        "sub": np.asarray(subs, dtype="int32"),
                        "cell": np.asarray(cells, dtype="int32"),
                        "vsum": vsums,
                        "n": np.asarray(ns, dtype="int64"),
                    }
                )

        # distributed fold of the per-BATCH partials BEFORE toPandas
        # (VERDICT r8): the driver receives ≤ m·ksub rows total instead
        # of m·ksub rows per Arrow batch — at 100 TB batch counts the
        # old per-batch collect was a multi-GB driver-side groupby.
        # Summation-order noise from the distributed element-wise sum
        # sits ~1e-12 relative, far below the quantize_dp quantum (the
        # same argument that lets the DuckDB oracle sum in ITS order).
        folded = (
            vecs.mapInPandas(
                partials, "sub int, cell int, vsum array<double>, n long"
            )
            .groupBy("sub", "cell")
            .agg(
                F.sum("n").alias("n"),
                F.aggregate(
                    # array_sort: collect_list order varies with task
                    # completion; sorting the per-batch partials makes
                    # the float fold order-deterministic run-to-run
                    F.array_sort(F.collect_list("vsum")),
                    F.array_repeat(F.lit(0.0), dsub),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
                ).alias("vsum"),
            )
            .toPandas()
        )
        assert len(folded) <= m * ksub, (
            f"pq_train fold: {len(folded)} rows > m*ksub={m * ksub}"
        )
        new_cb = cb.copy()  # empty cells keep prev centroid VERBATIM
        for row in folded.itertuples(index=False):
            n = int(row.n)
            if n > 0:
                new_cb[int(row.sub), int(row.cell)] = np.round(
                    np.asarray(row.vsum, dtype=np.float64) / n, quantize_dp
                )
        cb = new_cb
    return cb


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec: np.ndarray | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector as its m nearest-subspace-centroid indices:
    ``(id, pq_codes array<int>, pq_rmse double)`` where ``pq_rmse`` is
    the 4dp-rounded full-vector reconstruction error
    sqrt(sum_d (x_d - recon_d)^2 / dim). With ``query_vec`` given, adds
    ``adc_fp`` (bigint): the asymmetric distance of the query to this
    vector's reconstruction as a SUM OF FIXED-POINT LUT ENTRIES —
    round(||q_j - cb[j][code_j]||^2 * 10^4) per subspace, summed as
    integers so the result is order-free and exactly re-derivable.
    One broadcast-codebook Arrow pass, no shuffle.

    ``keep_cols``: input columns passed through the Arrow batch
    unchanged (appended after the encode columns). Saves the id-keyed
    join a caller would otherwise need to re-attach per-row metadata
    that already sits on the input (round 12: x27 re-scanned the
    residual frame just to join ``cell`` back). Only primitive-typed
    columns (the schema is derived from the input's)."""
    spark = corpus.sparkSession
    corpus = _nonempty_vecs(corpus, vec_col)
    # keep_cols validation (ADVICE r12): a kept column that collides
    # with the encode outputs / internal aliases would produce
    # ambiguous duplicates; a missing or non-atomic one, a confusing
    # late analysis error — fail loudly up front instead
    reserved = {"vid", "cv", "pq_codes", "pq_rmse", "adc_fp", id_col, vec_col}
    fields = {f.name: f.dataType for f in corpus.schema}
    for kc in keep_cols:
        if kc in reserved:
            raise ValueError(
                f"pq_encode: keep_cols entry {kc!r} collides with a "
                f"reserved output/input column ({sorted(reserved)})"
            )
        if kc not in fields:
            raise ValueError(
                f"pq_encode: keep_cols entry {kc!r} not in the input "
                f"schema ({sorted(fields)})"
            )
        if fields[kc].typeName() in ("array", "map", "struct"):
            raise ValueError(
                f"pq_encode: keep_cols entry {kc!r} is {fields[kc]}; "
                "only primitive-typed passthrough columns are supported"
            )
    cb = np.asarray(codebooks, dtype="float64")
    mm, kk, ds = cb.shape
    lut_fp = None
    if query_vec is not None:
        q = np.asarray(query_vec, dtype="float64").reshape(mm, ds)
        lut_fp = np.round(
            ((q[:, None, :] - cb) ** 2).sum(axis=2) * 10**ADC_FP_DP
        ).astype(np.int64)  # (m, ksub)
    bc = spark.sparkContext.broadcast((cb, lut_fp))
    with_adc = lut_fp is not None
    keep_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in corpus.schema
        if f.name in keep_cols
    )
    schema = (
        "vid long, pq_codes array<int>, pq_rmse double"
        + (", adc_fp long" if with_adc else "")
        + keep_schema
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cbv, lut = bc.value
        mm2, kk2, ds2 = cbv.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _raw_matrix(pdf["cv"]).reshape(len(pdf), mm2, ds2)
            codes = np.empty((len(pdf), mm2), dtype=np.int32)
            recon = np.empty_like(x)
            for j in range(mm2):
                _, cl = _argmin_cells(x[:, j, :], cbv[j])
                codes[:, j] = cl
                recon[:, j, :] = cbv[j][cl]
            err = np.round(
                np.sqrt(
                    ((x - recon) ** 2).reshape(len(pdf), -1).sum(axis=1)
                    / (mm2 * ds2)
                ),
                4,
            )
            out = {
                "vid": pdf["vid"],
                "pq_codes": list(codes),
                "pq_rmse": err,
            }
            if lut is not None:
                out["adc_fp"] = lut[np.arange(mm2)[None, :], codes].sum(
                    axis=1
                )
            for kc in keep_cols:
                out[kc] = pdf[kc]
            yield pd.DataFrame(out)

    return (
        corpus.select(
            F.col(id_col).cast("long").alias("vid"),
            as_double(vec_col).alias("cv"),
            *keep_cols,
        )
        .mapInPandas(encode, schema)
        .withColumnRenamed("vid", id_col)
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k nearest neighbors per query by PQ asymmetric
    distance: per Arrow batch, corpus vectors are encoded against the
    broadcast codebooks and scored via each query's m x ksub
    fixed-point LUT; only the local top-k per query leave the batch,
    and the final window ranks the survivors. Distances ascend;
    ``adc_fp = sum_j round(||q_j - cb[j][code_j]||^2 * 10^4)``, ties on
    neighbor id. Returns (query_id, neighbor_id, adc_fp, rank).

    Accuracy is the PQ trade: recall vs ``cosine_topk`` is bounded by
    quantization error (tests pin top-1 self-retrieval and recall@k
    against brute force on separable clusters); storage and scan cost
    drop dim*4/m-fold."""
    corpus = _nonempty_vecs(corpus, vec_col)
    queries = _nonempty_vecs(queries, vec_col)
    cb = np.asarray(codebooks, dtype="float64")
    mm, kk, ds = cb.shape
    q_pdf = _collect_query_side(queries, id_col, vec_col, "pq_adc_topk")
    q_ids = q_pdf["query_id"].to_numpy()
    q_mat = _raw_matrix(q_pdf["qv"]).reshape(len(q_pdf), mm, ds)
    # |Q| x m x ksub fixed-point LUTs, built once on the driver and
    # broadcast (|Q|*m*ksub int64s — query-set sized, not corpus sized)
    luts = np.round(
        ((q_mat[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        * 10**ADC_FP_DP
    ).astype(np.int64)
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, luts, cb))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, luts_b, cbv = bq.value
        mm2, kk2, ds2 = cbv.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_c = pdf["neighbor_id"].to_numpy()
            x = _raw_matrix(pdf["cv"]).reshape(len(pdf), mm2, ds2)
            codes = np.empty((len(pdf), mm2), dtype=np.int64)
            for j in range(mm2):
                _, codes[:, j] = _argmin_cells(x[:, j, :], cbv[j])
            # dists[q, c] = sum_j luts[q, j, codes[c, j]] — kept int64
            # end-to-end: a float64 detour would round adc_fp above
            # 2^53 and break the exact integer contract
            gathered = luts_b[:, np.arange(mm2)[None, :], codes]
            dists = gathered.sum(axis=2)  # |Q| x batch, int64
            self_mask = ids_q[:, None] == ids_c[None, :]
            kcut = min(k, dists.shape[1])
            rows, cols, vals = [], [], []
            for qi in range(dists.shape[0]):
                cand = np.nonzero(~self_mask[qi])[0]
                if len(cand) == 0:
                    continue
                d = dists[qi][cand]
                take = min(kcut, len(cand))
                part = np.argpartition(d, take - 1)[:take]
                kth = d[part].max()
                sel = cand[d <= kth]
                order = sel[
                    np.lexsort((ids_c[sel], dists[qi][sel]))
                ][:take]
                rows.extend([ids_q[qi]] * len(order))
                cols.extend(order.tolist())
                vals.extend(dists[qi][order].tolist())
            cols = np.asarray(cols, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(rows, dtype=np.int64),
                    "neighbor_id": ids_c[cols] if len(cols) else cols,
                    "adc_fp": np.asarray(vals, dtype=np.int64),
                }
            )

    c = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
    )
    scored = c.mapInPandas(
        local_topk, "query_id long, neighbor_id long, adc_fp long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_fp"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_fp", "rank")
    )


def ivfpq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    coarse_iters: int = 2,
    m: int = 4,
    ksub: int = 16,
    pq_iters: int = 2,
    return_residuals: bool = False,
    init_vecs: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray] | tuple[np.ndarray, np.ndarray, DataFrame]:
    """Train the two-level IVFPQ index (Jégou et al. §V / Faiss
    ``IndexIVFPQ``): a coarse spherical-k-means quantizer over the
    L2-normalized corpus (``similarity.kmeans_centroids``, the shared
    x18 contract) plus PQ codebooks over the RESIDUALS
    ``x_norm - coarse[cell(x)]`` — residual encoding is what makes the
    fine quantizer spend its bits on within-cell structure instead of
    re-describing the cell location. Returns
    ``(coarse (n_centroids, dim), codebooks (m, ksub, dim/m))``, plus
    the materialized residual frame when ``return_residuals=True``.

    Cost shape: coarse training is one corpus pass per Lloyd round;
    residual PQ training adds ONE assignment+subtract projection,
    materialized (checkpoint) before ``pq_train``'s
    one-pass-per-round loop — the residual projection has
    ``pq_iters + 1`` consumers (the init collect and every Lloyd
    round), so without the barrier each re-ran the broadcast-Arrow
    assignment pass over the corpus (measured in round 12: the
    un-materialized form re-derived residuals 3x inside x27's
    ivfpq stage — the multi-consumer lesson of x18/x31, applied
    here). ``return_residuals=True`` hands the same checkpointed
    frame to callers that need per-row (cell, residual) columns, so
    they do not re-derive it a fourth time. Centroids/codebooks only
    ever move driver->executor as broadcasts; the corpus never
    shuffles.

    ``init_vecs`` seeds the COARSE quantizer (the n_centroids
    lowest-``id_col`` raw vectors — the kmeans_centroids contract,
    shared-head collect); the residual PQ init stays internal (it
    seeds from the residual frame, which is checkpointed here, so its
    TakeOrdered never re-scans the corpus)."""
    from .similarity import kmeans_centroids

    corpus = _nonempty_vecs(corpus, vec_col)
    # both quantizers train under the 7dp quantized-Lloyd contract, so
    # the index is the same at any partitioning
    dp = 7
    coarse = kmeans_centroids(
        corpus, id_col, vec_col, k=n_centroids, n_iters=coarse_iters,
        quantize_dp=dp, init_vecs=init_vecs,
    )
    residuals = checkpoint(_ivfpq_residuals(corpus, coarse, id_col, vec_col))
    codebooks = pq_train(
        residuals, id_col, "residual", m=m, ksub=ksub, n_iters=pq_iters,
        quantize_dp=dp,
    )
    if return_residuals:
        return coarse, codebooks, residuals
    return coarse, codebooks


def ivf_probe_cells(
    q_mat: np.ndarray, coarse: np.ndarray, n_probe: int
) -> np.ndarray:
    """Deterministic probe sets under the shared ivf_topk contract:
    4dp-rounded similarities, stable argsort, lowest cell index on
    ties. The SINGLE definition of the probe rule — serving
    (``ivfpq_topk``) and the x27 registry pin both call it, so a
    tie-break or rounding change cannot silently diverge the two
    (round-9 review finding). ``q_mat``: (n_queries, dim), already
    L2-normalized."""
    cmat = np.asarray(coarse, dtype="float64")
    return np.argsort(
        -np.round(np.asarray(q_mat, dtype="float64") @ cmat.T, 4),
        axis=1,
        kind="stable",
    )[:, :n_probe]


def _ivfpq_residuals(
    corpus: DataFrame, coarse: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cell, residual): normalized vector minus its coarse centroid
    under the shared 4dp-argmax assignment contract. One broadcast
    Arrow projection, no shuffle."""
    from .similarity import _argmax_cells, _to_matrix

    spark = corpus.sparkSession
    cmat = np.asarray(coarse, dtype="float64")
    bc = spark.sparkContext.broadcast(cmat)

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mnorm = _to_matrix(pdf["cv"])
            _, cl = _argmax_cells(mnorm, cm)
            res = mnorm - cm[cl]
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    "cell": cl.astype("int32"),
                    "residual": list(res),
                }
            )

    return (
        corpus.select(
            F.col(id_col).cast("long").alias("vid"),
            as_double(vec_col).alias("cv"),
        )
        .mapInPandas(project, "vid long, cell int, residual array<double>")
        .withColumnRenamed("vid", id_col)
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    coarse: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVFPQ serving: probe the ``n_probe`` coarse cells nearest each
    query, ADC-score ONLY rows in probed cells from their PQ codes —
    the corpus is pruned to ~n_probe/n_centroids of its rows before any
    distance work, and each scored row costs m table lookups instead of
    a dim-length dot product. Returns (query_id, neighbor_id, adc_fp,
    rank), adc_fp ascending (fixed-point squared L2 of the query
    residual to the candidate's reconstructed residual, the
    (query, cell)-dependent LUT sum).

    Plan shape: one Arrow pass assigns + residual-encodes the corpus
    (broadcast coarse + codebooks); the probe table (|Q| x n_probe) and
    the per-(query, probed-cell) LUTs (|Q| x n_probe x m x ksub int64s
    — query-set sized) broadcast; candidates flow cell-join -> LUT
    rescore -> per-query top-k window. Recall < 1 by construction
    (pinned by property tests against ``cosine_topk``); no oracle-SQL
    entry — the PQ arithmetic itself is registry-pinned via x27."""
    from .similarity import _argmax_cells, _to_matrix

    spark = corpus.sparkSession
    corpus = _nonempty_vecs(corpus, vec_col)
    queries = _nonempty_vecs(queries, vec_col)
    cmat = np.asarray(coarse, dtype="float64")
    cb = np.asarray(codebooks, dtype="float64")
    mm, kk, ds = cb.shape
    benc = spark.sparkContext.broadcast((cmat, cb))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm, cbv = benc.value
        mm2, _, ds2 = cbv.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mnorm = _to_matrix(pdf["cv"])
            _, cl = _argmax_cells(mnorm, cm)
            res = (mnorm - cm[cl]).reshape(len(pdf), mm2, ds2)
            codes = np.empty((len(pdf), mm2), dtype=np.int32)
            for j in range(mm2):
                _, codes[:, j] = _argmin_cells(res[:, j, :], cbv[j])
            yield pd.DataFrame(
                {
                    "cell": cl.astype("int32"),
                    "neighbor_id": pdf["neighbor_id"],
                    "codes": list(codes),
                }
            )

    encoded = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
    ).mapInPandas(enc, "cell int, neighbor_id long, codes array<int>")

    q_pdf = _collect_query_side(queries, id_col, vec_col, "ivfpq_topk")
    q_ids = q_pdf["query_id"].to_numpy()
    q_raw = np.array(list(q_pdf["qv"]), dtype=np.float64)
    norms = np.linalg.norm(q_raw, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    q_mat = q_raw / norms
    probe_order = ivf_probe_cells(q_mat, cmat, n_probe)
    probes = local_frame(
        spark,
        [
            (int(qid), int(c))
            for qid, row in zip(q_ids, probe_order)
            for c in row
        ],
        T.StructType([
            T.StructField("query_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
        ]),
    )
    # per-(query, probed cell) residual LUTs, fixed-point
    luts: dict[tuple[int, int], np.ndarray] = {}
    for qi, qid in enumerate(q_ids):
        for c in probe_order[qi]:
            rq = (q_mat[qi] - cmat[int(c)]).reshape(mm, ds)
            luts[(int(qid), int(c))] = np.round(
                ((rq[:, None, :] - cb) ** 2).sum(axis=2) * 10**ADC_FP_DP
            ).astype(np.int64)
    blut = spark.sparkContext.broadcast(luts)

    def rescore(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table = blut.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            adc = np.empty(len(pdf), dtype=np.int64)
            cells = pdf["cell"].to_numpy()
            qids = pdf["query_id"].to_numpy()
            idx = np.arange(codes.shape[1])[None, :]
            # one vectorized gather per (query, cell) group — the LUT
            # scan the design promises, not a per-row interpreter loop
            key = qids * (cells.max() + 1) + cells
            order = np.argsort(key, kind="stable")
            bounds = np.nonzero(
                np.diff(key[order], prepend=key[order[0]] - 1)
            )[0]
            for s, e in zip(bounds, np.append(bounds[1:], len(order))):
                grp = order[s:e]
                lut = table[(int(qids[grp[0]]), int(cells[grp[0]]))]
                adc[grp] = lut[idx, codes[grp]].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": qids,
                    "neighbor_id": pdf["neighbor_id"],
                    "adc_fp": adc,
                }
            )

    candidates = encoded.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = candidates.select(
        "query_id", "cell", "neighbor_id", "codes"
    ).mapInPandas(rescore, "query_id long, neighbor_id long, adc_fp long")
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_fp"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_fp", "rank")
    )


# --- OPQ: Optimized Product Quantization (rotation-trained PQ) ---------------


def rotate_vectors(
    corpus: DataFrame,
    rotation: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "vr",
) -> DataFrame:
    """(id, out_col = R·x) — one broadcast-rotation Arrow pass, no
    shuffle; the projection OPQ interposes before every PQ step."""
    spark = corpus.sparkSession
    corpus = _nonempty_vecs(corpus, vec_col)
    br = spark.sparkContext.broadcast(
        np.asarray(rotation, dtype="float64")
    )

    def rot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rr = br.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _raw_matrix(pdf["cv"])
            yield pd.DataFrame(
                {"vid": pdf["vid"], "vr": list(x @ rr.T)}
            )

    return corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        as_double(vec_col).alias("cv"),
    ).mapInPandas(rot, f"vid long, {out_col} array<double>").select(
        F.col("vid").alias(id_col), out_col
    )


def opq_cross_moment(
    corpus: DataFrame,
    rotation: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """The Procrustes input: A = (1/n)·Σ x·ŷᵀ (d×d), where ŷ is the PQ
    reconstruction of the ROTATED vector R·x under the current
    codebooks. Accumulated DISTRIBUTEDLY (per-batch d×d partials →
    per-row-index zip_with fold, the pca_fit shape — the driver
    receives d² numbers however many partitions), then normalized and
    rounded to 9 decimals: the 1/n-normalized entries are
    O(1)-magnitude at any corpus size, so distributed summation noise
    vanishes below the quantum and the matrix the SVD consumes is
    partitioning-invariant (the quantized-moment contract pca_fit
    established)."""
    spark = corpus.sparkSession
    corpus = _nonempty_vecs(corpus, vec_col)
    rr = np.asarray(rotation, dtype="float64")
    cb = np.asarray(codebooks, dtype="float64")
    mm, kk, ds = cb.shape
    dim = rr.shape[0]
    bc = spark.sparkContext.broadcast((rr, cb))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r_, cb_ = bc.value
        mm2, _, ds2 = cb_.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _raw_matrix(pdf["cv"])
            xr = (x @ r_.T).reshape(len(pdf), mm2, ds2)
            yhat = np.empty_like(xr)
            for j in range(mm2):
                _, cl = _argmin_cells(xr[:, j, :], cb_[j])
                yhat[:, j, :] = cb_[j][cl]
            a = x.T @ yhat.reshape(len(pdf), -1)  # (dim, dim)
            yield pd.DataFrame(
                {
                    "i": np.arange(a.shape[0], dtype="int32"),
                    "arow": list(a),
                    "n": np.full(a.shape[0], len(pdf), dtype="int64"),
                }
            )

    folded = (
        corpus.select(as_double(vec_col).alias("cv"))
        .mapInPandas(partials, "i int, arow array<double>, n long")
        .groupBy("i")
        .agg(
            F.sum("n").alias("n"),
            F.aggregate(
                F.array_sort(F.collect_list("arow")),
                F.array_repeat(F.lit(0.0), dim),
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
            ).alias("arow"),
        )
        .toPandas()
    )
    a = np.zeros((dim, dim))
    n_total = 0
    for row in folded.itertuples(index=False):
        a[int(row.i)] = np.asarray(row.arow, dtype=np.float64)
        n_total = max(n_total, int(row.n))
    if n_total == 0:
        raise ValueError("opq_cross_moment: empty corpus")
    a /= n_total
    return np.round(a, 9)


def opq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 4,
    n_iters: int = 2,
    pq_iters: int = 1,
    init: str = "pca",
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ, non-parametric variant (Ge et al. CVPR 2013; the Faiss
    ``OPQMatrix`` scheme): learn an ORTHONORMAL rotation R jointly with
    the PQ codebooks by alternating

      1. codebooks ← ``pq_train`` over the rotated corpus R·x;
      2. R ← the orthogonal-Procrustes solution of
         min_R Σ‖R·x − ŷ‖² — with A = (1/n)·Σ x·ŷᵀ and A = U·S·Vᵀ,
         R = V·Uᵀ (maximizes tr(R·A); each alternation is
         non-increasing in reconstruction error, pinned in tests),

    then one final codebook fit under the final R so the returned pair
    is consistent. Plain PQ is the R = I special case (n_iters=0
    returns identity + pq_train's codebooks exactly — pinned). The
    rotation aligns the m independent subspace quantizers with the
    data's correlated directions: on correlated data OPQ cuts
    reconstruction error vs plain PQ at the same (m, ksub) bit budget
    (pinned), and serving composes unchanged — rotate the query once,
    then every PQ/ADC path below applies verbatim.

    Returns ``(rotation (dim, dim), codebooks (m, ksub, dim/m))``.

    Initialization matters: the alternation is a LOCAL method, and from
    the identity it stalls whenever the plain-PQ reconstructions are
    already axis-aligned-ish (A is then near-symmetric and the
    Procrustes step returns ≈I — measured on rank-1-plus-noise data).
    ``init="pca"`` (default) is therefore the OPQ-P seed (Ge et al.
    §4): rotate onto the principal directions with GREEDY EIGENVALUE
    ALLOCATION — components assigned, in descending-eigenvalue order,
    to the subspace with the smallest running log-eigenvalue product
    and free capacity — which balances variance products across the m
    quantizers before the non-parametric refinement. ``init="identity"``
    keeps the pure OPQ-NP behavior (and n_iters=0 then IS plain PQ —
    pinned).

    Scale shape: the rotation is a dim×dim broadcast applied inside
    the same Arrow passes as everything else (rotating never
    shuffles); the PCA init is pca_fit's one distributed moment pass;
    each alternation costs pq_iters distributed Lloyd passes + ONE
    cross-moment pass whose d×d partials fold distributedly
    (``opq_cross_moment``). The SVD/eigensolve run driver-side on d×d
    quantized moments — the pca_fit eigensolve argument: LAPACK
    factorization order is not a cross-engine contract, so what gets
    pinned is the MOMENT each factorization consumes, which is
    partitioning-invariant under opq_cross_moment's 1e-9 quantum."""
    dim_row = corpus.select(as_double(vec_col).alias("v")).first()
    if dim_row is None:
        raise ValueError("opq_train: empty corpus")
    dim = len(dim_row["v"])
    if dim % m:
        # validate BEFORE the corpus passes: the pca init would
        # otherwise run a full distributed moment pass and then die
        # inside the greedy allocation with an opaque empty-min
        # (review finding, round 9); the identity path would reach
        # pq_train's check only after the rotation pass
        raise ValueError(f"opq_train: dim {dim} not divisible by m={m}")
    if init == "pca":
        rot = _opq_pca_init(corpus, vec_col, dim, m)
        train_src: DataFrame = rotate_vectors(corpus, rot, id_col, vec_col)
        train_col = "vr"
    elif init == "identity":
        rot = np.eye(dim)
        train_src, train_col = corpus, vec_col
    else:
        raise ValueError(
            f"opq_train: init must be 'pca' or 'identity', got {init!r}"
        )
    cb = pq_train(
        train_src, id_col, train_col, m=m, ksub=ksub, n_iters=pq_iters
    )
    for _ in range(n_iters):
        a = opq_cross_moment(corpus, rot, cb, id_col, vec_col)
        u, _s, vt = np.linalg.svd(a)
        rot = vt.T @ u.T  # R = V·Uᵀ
        rotated = rotate_vectors(corpus, rot, id_col, vec_col)
        cb = pq_train(rotated, id_col, "vr", m=m, ksub=ksub, n_iters=pq_iters)
    return rot, cb


def _opq_pca_init(
    corpus: DataFrame, vec_col: str, dim: int, m: int
) -> np.ndarray:
    """OPQ-P seed rotation: principal components as rows, assigned to
    subspaces by greedy eigenvalue allocation — each component (in
    descending-eigenvalue order) goes to the not-yet-full subspace
    with the smallest running Σlog λ, balancing the variance PRODUCT
    across the m quantizers (the bit-allocation argument of Ge et al.
    §4). Built on pca_fit's quantized distributed moments, so the seed
    is partitioning-invariant like everything downstream."""
    from .embeddings import pca_fit

    # one moment pass: comps ordered by descending eigenvalue, λ_i
    # recovered as the quadratic form against the returned covariance
    _mean, cov, comps = pca_fit(corpus, vec_col, k=dim, return_moments=True)
    lam = np.array([c @ cov @ c for c in comps], dtype="float64")
    dsub = dim // m
    log_lam = np.log(np.maximum(lam, 1e-12))
    sums = np.zeros(m)
    counts = np.zeros(m, dtype=int)
    rows = [[] for _ in range(m)]
    for i in range(dim):
        # smallest running log-product among subspaces with capacity;
        # lowest index on ties — deterministic
        cand = [j for j in range(m) if counts[j] < dsub]
        j = min(cand, key=lambda jj: (sums[jj], jj))
        rows[j].append(i)
        sums[j] += log_lam[i]
        counts[j] += 1
    order = [i for j in range(m) for i in rows[j]]
    return np.ascontiguousarray(comps[order])
