"""Similarity search over embedding columns.

* ``topk_bruteforce`` — exact cosine top-k for a (small) query set: the
  query side is broadcast, so the big side streams through one scan with
  no shuffle; ranking is a per-query window.  The right baseline, and the
  right *final reranker* at scale.
* ``topk_ivf`` — IVF-style ANN: coarse centroids (spherical k-means
  over a bounded sample — the FAISS training discipline) assign every
  vector to a partition (nprobe controls recall); candidate generation
  joins the query only against its closest centroid partitions.  This is the
  100 TB path: candidate volume drops by ~nlist/nprobe.
* ``topk_pq`` (r14) — product quantization with asymmetric-distance
  candidate generation + exact rerank: every corpus vector compresses to
  ``m`` one-byte codes (64x smaller than a float32 dim-64 embedding), the
  candidate scan touches ONLY the code column (per-batch numpy
  table-lookup sums, per-batch local top-C so the shuffle carries
  candidates, not the corpus), and the final exact cosine runs on just
  the C = rerank*k survivors per query.  This is the MEMORY-bound 100 TB
  answer — when the raw embedding column is too big to scan per query,
  the codes still fit: 100 TB of float32x64 is ~1.6 TB of m=8 codes.
* Random-hyperplane LSH bucketing lives in ``functions.vectors``/
  ``operators.dedup.embedding_neardup_pairs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spreadsheet_etl_engine_spark.functions import vectors as VEC


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors by cosine for every query vector.

    ``queries`` is expected to be small (it is broadcast); self-matches
    (same id) are excluded; ties break on neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", VEC.cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def train_centroids_lite(
    corpus: DataFrame, vec_col: str, *, nlist: int = 16, sample_per_list: int = 1
) -> list[list[float]]:
    """IVF centroid 'training' without iterations: deterministic sample
    of ``nlist`` vectors as centroids (k-means|| init without the
    iterations).  The IVF operators train with
    :func:`train_centroids_sample`; this is a standalone trainer."""
    rows = (
        corpus.select(F.col(vec_col).alias("v"))
        # NULL vectors carry no geometry — and NULLS FIRST ordering
        # would otherwise put them at the head of the sample (r15
        # review pass 11: a NULL centroid crashed list(map(float, ..))
        # with a bare TypeError).
        .filter(F.col("v").isNotNull())
        # Order before limit: a bare limit() depends on partition layout,
        # which would make the "deterministic" sample anything but.
        .orderBy(F.col("v"))
        .limit(nlist * sample_per_list)
        .collect()
    )
    return [list(map(float, r["v"])) for r in rows[:nlist]]


def train_centroids_kmeans(
    corpus: DataFrame, vec_col: str, *, nlist: int = 16, seed: int = 42, max_iter: int = 10
) -> list[list[float]]:
    """Real IVF centroids via pyspark.ml KMeans (k-means|| init, fixed
    seed) over L2-NORMALIZED vectors — spherical k-means, so the bucket
    structure matches the cosine metric the search ranks by.  Training
    runs distributed over the corpus; only the ``nlist`` centroid vectors
    come back to the driver (tiny — they are shipped to executors inside
    the Arrow-batched assignment kernel).  The IVF operators train with
    :func:`train_centroids_sample` instead: on the sf0.001 embeddings at
    nlist=8, nprobe=4, spill=2 its recall@5 is 0.94 against 0.96 here,
    at a fraction of the cost; this is a standalone trainer."""
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.functions import pandas_udf

    # Arrow-batched normalization: one numpy pass per batch.  (The
    # expression form — transform(arr, x -> x / norm(arr)) — re-evaluates
    # the full norm aggregate per ELEMENT: O(dim^2) work per row.)
    def _unit_rows(vs):
        if len(vs) == 0:
            # Arrow can hand a zero-row batch; np.stack raises on it
            # (r15 review pass 11 — same guard as _cosine_to_centroids).
            return pd.Series([], dtype=object)
        M = np.stack(vs.to_numpy()).astype(np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series(list(M))

    _unit_rows.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    unit = pandas_udf(_unit_rows, "array<double>")(F.col(vec_col))
    # NULL vectors train nothing; unfiltered they reach np.stack as
    # None and die with a bare TypeError (r15 review pass 11).
    train = corpus.filter(F.col(vec_col).isNotNull()).select(
        array_to_vector(unit).alias("features"))
    model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def train_centroids_sample(
    corpus: DataFrame, vec_col: str, *, nlist: int = 16, sample: int = 4096,
    seed: int = 42, iters: int = 12,
) -> list[list[float]]:
    """Spherical k-means coarse centroids over a BOUNDED deterministic
    sample — the FAISS coarse-quantizer training discipline (faiss
    trains IVF centroids on ~39*nlist sampled points, not the corpus)
    and the coarse trainer of :func:`topk_ivf`.  Reuses the PQ stack
    end to end: the hash-ordered ``_pq_sample_matrix`` collect
    (``sample`` rows whatever the corpus size, unit-normalized, named
    non-finite / ragged-dim errors) feeds ``_pq_kmeans_codebooks`` with
    m=1 and ksub=``nlist`` — k-means++ seeding with a running
    min-distance vector, matmul distance expansion, bincount/scatter-add
    updates.  Driver-side numpy on <= ``sample`` rows, so training costs
    milliseconds and ZERO extra Spark jobs beyond the one sample scan —
    against MLlib's k-means|| (which launches a multi-job distributed
    workload per fit, ~80%% of the measured IVF line cost at bench
    scale) the quality is equivalent at any realistic ``sample``/
    ``nlist`` ratio while the cost collapses."""
    X = _pq_sample_matrix(corpus, vec_col, sample)
    return _sample_centroids_from_matrix(X, nlist, seed, iters)


def _sample_centroids_from_matrix(X, nlist: int, seed: int, iters: int):
    """Coarse k-means over a prepared unit-row matrix: one m=1 'subspace'
    run of the shared PQ k-means kernel (so coarse and residual training
    exercise the same numerics), padded deterministically when the
    sample is smaller than ``nlist``."""
    import numpy as np

    rng = np.random.default_rng(seed)
    C = _pq_kmeans_codebooks(X, 1, nlist, rng, iters)[0]
    return [list(map(float, c)) for c in C]


def _centroid_matrix(centroids: list[list[float]]):
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)


def _cosine_to_centroids(vs, Cn):
    """(batch × dim) unit-normalized matmul against the centroid matrix."""
    import numpy as np

    if len(vs) == 0:
        # Arrow can hand the kernel a zero-row batch (empty partition /
        # empty source slice); np.stack raises on an empty list.
        return np.zeros((0, Cn.shape[0]))
    M = np.stack(vs.to_numpy()).astype(np.float64)
    M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    return M @ Cn.T


def assign_centroid(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add ``centroid_id`` = argmax cosine against the centroid list.

    One Arrow-batched kernel: the whole batch is a single
    ``(batch × dim) @ (dim × nlist)`` numpy matmul — per-row expression
    trees (nlist × dim literals deep) make Catalyst analysis itself the
    bottleneck, and a centroid *join* would amplify the corpus nlist-fold.
    Per-partition, no shuffle; centroids ride along in the closure
    (serialized once per executor, like a broadcast).  NULL vectors get
    a NULL ``centroid_id`` (SQL NULL-in/NULL-out, like ``pq_encode`` —
    r15 review pass 11: they previously reached ``np.stack`` and died
    with a bare TypeError mid-executor)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Cn = _centroid_matrix(centroids)

    def _nearest(vs):
        mask = vs.notna().to_numpy()
        if not mask.any():
            return pd.Series([None] * len(vs), dtype=object)
        near = _cosine_to_centroids(vs[mask], Cn).argmax(axis=1)
        it = iter(near.tolist())
        return pd.Series([next(it) if ok else None for ok in mask])

    _nearest.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return df.withColumn("centroid_id", pandas_udf(_nearest, "int")(F.col(vec_col)))


def probe_centroids(df: DataFrame, vec_col: str, centroids: list[list[float]],
                    nprobe: int) -> DataFrame:
    """Add ``probes`` = the ``nprobe`` nearest centroid ids (by cosine),
    same Arrow-batched matmul as :func:`assign_centroid`.  NULL vectors
    get NULL probes (the downstream ``explode`` then drops them, so a
    NULL embedding generates no candidates — r15 review pass 11)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Cn = _centroid_matrix(centroids)

    def _probes(vs):
        mask = vs.notna().to_numpy()
        if not mask.any():
            return pd.Series([None] * len(vs), dtype=object)
        sims = _cosine_to_centroids(vs[mask], Cn)
        order = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        it = iter(list(order))
        return pd.Series([next(it) if ok else None for ok in mask])

    _probes.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return df.withColumn("probes", pandas_udf(_probes, "array<int>")(F.col(vec_col)))


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    spill: int = 2,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` closest centroid
    partitions per query.  Recall < 1 by design; the bruteforce operator
    is the exact baseline.  The ``nlist`` coarse centroids come from
    :func:`train_centroids_sample` — spherical k-means over a bounded
    sample, milliseconds of driver numpy after one sample scan.

    ``spill`` replicates each corpus vector into its ``spill`` nearest
    buckets (spill-tree / IVF-with-replication): near-boundary vectors —
    where most recall is lost, especially on near-orthogonal embeddings
    with weak cluster structure — become reachable from either side.
    Storage × spill, query fan-in unchanged (still nprobe buckets).
    """
    centroids = train_centroids_sample(corpus, vec_col, nlist=nlist)
    c = probe_centroids(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv", centroids, max(1, spill),
    ).withColumn("centroid_id", F.explode(F.col("probes"))).drop("probes")
    # Rank centroids per query, keep nprobe.
    q = probe_centroids(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv", centroids, nprobe,
    ).withColumn("probe", F.explode(F.col("probes"))).drop("probes")
    scored = (
        F.broadcast(q)
        .join(c, F.col("probe") == F.col("centroid_id"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # A pair can surface via several shared buckets — dedupe before
        # scoring so the window ranks each candidate once.
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", VEC.cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    *,
    m: int = 8,
    ksub: int = 256,
    sample: int = 4096,
    seed: int = 42,
    iters: int = 12,
):
    """Per-subspace k-means codebooks for product quantization.

    Vectors are L2-normalized, split into ``m`` contiguous subspaces,
    and each subspace gets its own ``ksub``-centroid Lloyd's k-means —
    the classic PQ training (Jégou et al., "Product Quantization for
    Nearest Neighbor Search").  Training runs DRIVER-SIDE over a
    bounded deterministic sample (``orderBy`` before ``limit`` — a bare
    limit depends on partition layout), the same sample-based training
    discipline FAISS uses and the same bounded-collect contract as
    ``train_centroids_lite``: the collect is ``sample`` rows whatever
    the corpus size.  Returns an (m, ksub, dim/m) nested list.
    """
    import numpy as np

    X = _pq_sample_matrix(corpus, vec_col, sample)
    rng = np.random.default_rng(seed)
    books = _pq_kmeans_codebooks(X, m, ksub, rng, iters)
    return [[list(map(float, c)) for c in B] for B in books]


def _pq_sample_matrix(corpus: DataFrame, vec_col: str, sample: int):
    """Bounded deterministic training sample as an L2-normalized
    (sample, dim) matrix, with the named-error data checks (shared by
    :func:`train_pq_codebooks` and :func:`train_ivfpq`)."""
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col).alias("v"))
        .filter(F.col("v").isNotNull())
        # Deterministic sample by hash order: plans as
        # TakeOrderedAndProject on a codegen'd int64 key (the
        # lexicographic array comparator is interpreted and the
        # hash-shuffled order is also the BETTER training sample — a
        # value-sorted prefix is the most biased slice possible).
        .orderBy(F.xxhash64(F.col("v")), F.col("v"))
        .limit(sample)
        .collect()
    )
    try:
        X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    except ValueError as exc:  # ragged: numpy can't form a rectangle
        raise ValueError(
            "PQ training sample mixes embedding dimensions; all vectors "
            f"in {vec_col!r} must have one length") from exc
    if X.ndim != 2 or X.shape[0] == 0:
        raise ValueError("PQ training needs at least one non-NULL vector")
    if not np.isfinite(X).all():
        # NaN would otherwise poison every k-means++ distance and
        # surface as an unnamed numpy 'probabilities contain NaN'
        # (r15 review pass 11); name the data problem and the tool.
        raise ValueError(
            f"PQ training sample contains non-finite values in "
            f"{vec_col!r} (NaN/Inf); clean the corpus first — "
            "quality_nonfinite_report locates them")
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _kmeanspp_seed_batched(T, kk: int, rng):
    """k-means++ seeding for ALL m subspaces at once over ``T`` of shape
    ``(m, n, dsub)`` → ``(m, kk, dsub)`` seeds (r16 optimization round).

    The r15 trainer seeded each subspace separately: 2·m·ksub
    small-array numpy steps (``rng.choice(p=probs)`` re-validates and
    cumsums the weight vector per draw), which cProfile attributed
    1.4-2.0 s of each train-inclusive ANN bench line to.  This form
    does one vectorized step per centroid ordinal — inverse-CDF
    sampling of the SAME d² weight distribution (cumsum + count, one
    uniform per subspace), then one (m, n, dsub) running-min distance
    update — so the step count drops m-fold and each step is one pass
    of whole-matrix numpy.  The rng call SEQUENCE differs from the r15
    per-subspace loop, so codebooks/centroids differ run-over-round
    (NOT run-over-run: one rng draw per step keeps training fully
    deterministic for a fixed seed) — legal for the rows-only ANN
    queries; the recall floors and determinism pins in
    tests/test_ext_operators.py re-verify the quality contract.
    """
    import numpy as np

    m, n, dsub = T.shape
    # float32 working set: the seeding loop is memory-bandwidth-bound
    # (whole-matrix pass per step) and k-means++ only needs distances
    # as sampling WEIGHTS — half the bytes, deterministic arithmetic;
    # the cumsum accumulates in float64 so the inverse-CDF boundaries
    # are exact.  Returned seeds are float64 (the Lloyd refinement's
    # precision).
    T32 = np.asarray(T, dtype=np.float32)
    C = np.empty((m, kk, dsub))
    rows = np.arange(m)
    idx0 = rng.integers(0, n, size=m)
    C[:, 0] = T[rows, idx0]
    d2 = ((T32 - T32[rows, idx0][:, None, :]) ** 2).sum(-1)  # (m, n)
    for t in range(1, kk):
        u = rng.random(m)
        cs = np.cumsum(d2, axis=1, dtype=np.float64)
        tot = cs[:, -1]
        # First index with cumsum >= u·tot == inverse-CDF draw from the
        # d² distribution; clip covers u·tot == tot float rounding.
        idx = np.minimum((cs < (u * tot)[:, None]).sum(1), n - 1)
        degenerate = tot <= 0                    # all residual mass zero
        if degenerate.any():                     # → uniform, like r15
            idx[degenerate] = np.minimum(
                (u[degenerate] * n).astype(np.int64), n - 1)
        C[:, t] = T[rows, idx]
        d2 = np.minimum(
            d2, ((T32 - T32[rows, idx][:, None, :]) ** 2).sum(-1))
    return C


def _pq_kmeans_codebooks(X, m: int, ksub: int, rng, iters: int):
    """Per-subspace k-means over a prepared (n, dim) matrix (raw unit
    vectors for flat PQ, residuals for IVF-ADC) — batched k-means++
    seeding (see :func:`_kmeanspp_seed_batched`), then the r14
    running-min / matmul / bincount Lloyd loop per subspace (kept
    per-subspace so each keeps its own early-convergence break).
    Both trainers share this implementation.  Returns m (ksub, dsub)
    arrays."""
    import numpy as np

    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"PQ subspace count m={m} must divide dim={dim}")
    dsub = dim // m
    n = X.shape[0]
    kk = min(ksub, n)
    # Subspaces are contiguous column blocks, so the (m, n, dsub) view
    # is a reshape + axis swap (one 2·n·dim-byte copy, layout-friendly
    # for every per-subspace kernel below).
    T = np.ascontiguousarray(X.reshape(n, m, dsub).transpose(1, 0, 2))
    C = _kmeanspp_seed_batched(T, kk, rng)
    sub_ix = np.arange(m)
    # Batched Lloyd across all m subspaces (r16; the per-subspace loop
    # paid m× the numpy dispatch and small-gemm overhead).  The
    # assignment step is the memory-bound core (an (m, n, kk) distance
    # tensor per iteration): it runs in float32 over a PREALLOCATED
    # buffer (half the bytes, no per-iteration 64 MB alloc), and drops
    # the ||s||² term (constant in the argmin).  Centroid MEANS stay
    # float64 (one flat bincount + one flat scatter-add over m·kk
    # rows), so only which-cluster decisions see float32 — fine for a
    # quantizer whose cells are re-pinned this round.  Empty clusters
    # re-seed deterministically from the sample (seeded rng), as
    # before.  The convergence break is GLOBAL (all subspaces stable)
    # instead of per-subspace — a converged subspace's extra
    # iterations reproduce its C, so only the rng re-seed sequence
    # differs, which this round re-pins anyway.
    T32 = np.asarray(T, dtype=np.float32)
    Tflat = T.reshape(m * n, dsub)
    dist = np.empty((m, n, kk), dtype=np.float32)
    for _ in range(iters):
        C32 = np.asarray(C, dtype=np.float32)
        np.matmul(T32, C32.transpose(0, 2, 1), out=dist)
        dist *= -2.0
        dist += (C32 ** 2).sum(-1)[:, None, :]
        assign = dist.argmin(2)
        flat = (assign + (sub_ix * kk)[:, None]).ravel()
        counts = np.bincount(flat, minlength=m * kk).reshape(m, kk)
        sums = np.zeros((m * kk, dsub))
        np.add.at(sums, flat, Tflat)
        newC = np.where(
            counts[:, :, None] > 0,
            sums.reshape(m, kk, dsub) / np.maximum(counts, 1)[:, :, None],
            T[:, rng.integers(0, n, kk)],
        )
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    if kk < ksub:
        # Degenerate tiny corpus: pad with repeats so the code
        # domain stays [0, ksub) and encode/LUT shapes are stable.
        C = np.concatenate(
            [C, np.repeat(C[:, :1], ksub - kk, axis=1)], axis=1)
    return list(C)


def _codebook_array(codebooks):
    """Validate a (possibly externally persisted) codebook nest into the
    (m, ksub, dsub) float array every PQ kernel indexes — fail loud by
    name on a ragged or mis-shaped nest (r15 review pass 11)."""
    import numpy as np

    try:
        B = np.asarray(codebooks, dtype=np.float64)
    except ValueError as exc:
        raise ValueError(
            "PQ codebooks must be a rectangular (m, ksub, dsub) nest of "
            "floats (train_pq_codebooks output)") from exc
    if B.ndim != 3 or 0 in B.shape:
        raise ValueError(
            f"PQ codebooks must have shape (m, ksub, dsub); got {B.shape}")
    return B


def pq_encode(df: DataFrame, vec_col: str, codebooks) -> DataFrame:
    """Add ``pq_codes`` = the m per-subspace nearest-centroid indexes of
    the L2-NORMALIZED vector (array<int>, values < ksub — one byte each
    in parquet after dictionary encoding; the 100 TB storage form).
    One Arrow-batched kernel, per-partition, no shuffle; NULL vectors
    encode to NULL (SQL NULL-in/NULL-out).  Precomputed ``codebooks``
    are validated up front (r15 review pass 11): a malformed nest or a
    vector/codebook dimension mismatch raises a named ValueError, not a
    numpy shape error deep in an executor."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    B = _codebook_array(codebooks)                   # (m, ksub, dsub)
    m, ksub, dsub = B.shape

    def _codes(vs):
        out = []
        mask = vs.notna().to_numpy()
        if not mask.any():
            return pd.Series([None] * len(vs))
        M = np.stack(vs[mask].to_numpy()).astype(np.float64)
        if M.shape[1] != m * dsub:
            raise ValueError(
                f"pq_encode: vector dim {M.shape[1]} does not match the "
                f"codebooks' m*dsub = {m}*{dsub} = {m * dsub}")
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        codes = np.empty((M.shape[0], m), dtype=np.int32)
        for j in range(m):
            S = M[:, j * dsub:(j + 1) * dsub]
            # argmin of ||s-c||^2 == argmin of (||c||^2 - 2 s.c): drop
            # the per-row constant, one matmul per subspace.
            d2 = (B[j] ** 2).sum(-1)[None, :] - 2.0 * (S @ B[j].T)
            codes[:, j] = d2.argmin(1)
        it = iter(codes.tolist())
        for ok in mask:
            out.append(next(it) if ok else None)
        return pd.Series(out)

    _codes.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return df.withColumn("pq_codes", pandas_udf(_codes, "array<int>")(F.col(vec_col)))


def topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    rerank: int = 8,
    sample: int = 4096,
    codebooks=None,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance + exact rerank.

    Stage 1 (candidate scan): touches ONLY ``(id, pq_codes)`` — each
    Arrow batch scores all queries at once with numpy table lookups
    (``LUT[q, j, code]`` sums; the query-side lookup tables are
    ``nq x m x ksub`` floats riding the closure) and emits a per-batch
    LOCAL top-C per query, so the shuffle carries candidates, not the
    corpus.  Stage 2: a global window prunes to C = ``rerank * k`` per
    query, joins back to the RAW vectors (point lookups, the only time
    full embeddings leave the scan), and exact cosine re-ranks the
    survivors — output schema and determinism rules match the exact
    operator (ties break on neighbor id).

    The queries side is collected driver-side under the SAME
    small-query-set contract every top-k operator here has (it is
    broadcast in the exact path); NULL vectors on either side produce
    no candidates (NULL-in/NULL-out).  Recall < 1 by design — the
    quantization error decides stage-1 ranking; ``rerank`` widens the
    exact stage's safety margin.  Pass precomputed ``codebooks`` (from
    :func:`train_pq_codebooks`) to skip training, the production shape
    where codebooks are a persisted artifact.
    """
    import numpy as np
    import pandas as pd

    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, vec_col, m=m, ksub=ksub, sample=sample)
    # Precomputed codebooks are authoritative: m/ksub are re-read from
    # their shape (the keyword values only parameterize training).
    B = _codebook_array(codebooks)                   # (m, ksub, dsub)
    m, ksub, dsub = B.shape

    qrows = [
        (r[0], list(map(float, r[1])))
        for r in queries.select(F.col(id_col), F.col(vec_col)).collect()
        if r[1] is not None
    ]
    bad = [q for q, v in qrows if len(v) != m * dsub]
    if bad:
        # Without this the driver dies inside Q.reshape with a bare
        # numpy error (r15 review pass 11) — name the mismatch and the
        # offending query ids.
        raise ValueError(
            f"topk_pq: query vectors {bad[:5]} have dims != the "
            f"codebooks' m*dsub = {m}*{dsub} = {m * dsub}")
    if not qrows:
        return _empty_topk(corpus, id_col)
    qids = [q[0] for q in qrows]
    Q = np.asarray([q[1] for q in qrows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # LUT[q, j, c] = <Q_q subvector j, codebook_j[c]>: ADC inner product
    # of unit vectors ~= cosine.
    lut = np.einsum("qjd,jcd->qjc", Q.reshape(len(qids), m, dsub), B)
    n_cand = max(1, rerank * k)

    coded = pq_encode(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv")),
        "cv", codebooks,
    ).select("neighbor_id", "pq_codes")

    out_schema = "query_id long, neighbor_id long, adc double"

    def scan(batches):
        for pdf in batches:
            ok = pdf["pq_codes"].notna().to_numpy()
            if not ok.any():
                continue
            ids = pdf["neighbor_id"][ok].to_numpy()
            codes = np.stack(pdf["pq_codes"][ok].to_numpy()).astype(np.int64)
            # scores: (nq, batch) = sum_j lut[:, j, codes[:, j]]
            scores = np.zeros((len(qids), codes.shape[0]))
            for j in range(m):
                scores += lut[:, j, codes[:, j]]
            top = min(n_cand, codes.shape[0])
            # per-batch local top-C per query: argpartition then exact
            # sort of the C survivors only.
            part = np.argpartition(-scores, top - 1, axis=1)[:, :top]
            rows = {"query_id": [], "neighbor_id": [], "adc": []}
            for qi, qid in enumerate(qids):
                sel = part[qi]
                rows["query_id"].extend([qid] * len(sel))
                rows["neighbor_id"].extend(ids[sel].tolist())
                rows["adc"].extend(scores[qi, sel].tolist())
            yield pd.DataFrame(rows)

    cands = (
        coded.mapInPandas(scan, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _adc_candidates_to_topk(cands, corpus, vec_col, id_col,
                                   qrows, k, n_cand)


def _empty_topk(corpus: DataFrame, id_col: str) -> DataFrame:
    """Empty result with the top-k contract schema (no usable queries)."""
    return (
        corpus.select(
            F.col(id_col).cast("long").alias("query_id"),
            F.col(id_col).cast("long").alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(1).alias("rnk"),
        ).limit(0)
    )


def _adc_candidates_to_topk(
    cands: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    qrows: list,
    k: int,
    n_cand: int,
) -> DataFrame:
    """Shared ADC stage 2 (``topk_pq`` / ``topk_ivfpq``): a global
    window prunes the per-batch local candidates to C = ``n_cand`` per
    query, the survivors' RAW vectors come back via a point-lookup join
    (the only time full embeddings leave the scan), and exact cosine
    re-ranks — output schema and determinism rules match the exact
    operator (ties break on neighbor id)."""
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id"))
    pruned = (
        cands.withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= n_cand)
        .select("query_id", "neighbor_id")
    )
    # Exact rerank: point-fetch the survivors' raw vectors, broadcast
    # the (tiny) query matrix again as a DataFrame join.
    qdf = pruned.sparkSession.createDataFrame(
        [(int(i), v) for i, v in qrows], "query_id long, qv array<double>")
    raw = corpus.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("cv"))
    scored = (
        pruned.join(raw, "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("cosine", VEC.cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def train_ivfpq(
    corpus: DataFrame,
    vec_col: str,
    *,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 256,
    sample: int = 4096,
    seed: int = 42,
    iters: int = 12,
):
    """Train the composed IVF-ADC index: a coarse quantizer that
    prunes candidate VOLUME plus per-subspace RESIDUAL codebooks that
    prune candidate WIDTH — the production FAISS ``IVFx,PQy`` shape
    (Jégou et al. §IVFADC).  Residual coding is what makes the
    composition better than running the two halves separately: within a
    coarse cell the residuals ``x - c`` span a much tighter region than
    raw vectors, so the same ksub spends its codes on finer structure.

    BOTH halves train off ONE bounded hash-ordered sample collect (the
    collect is ``sample`` rows whatever the corpus size) — coarse
    spherical k-means first, as in :func:`topk_ivf`, then residual
    codebooks against those centroids with :func:`train_pq_codebooks`'s
    kernel — so the whole index trains in one Spark job plus driver
    numpy, the FAISS discipline.  Returns ``(centroids,
    codebooks)`` — both plain nested lists, the persistable index
    artifact."""
    import numpy as np

    X = _pq_sample_matrix(corpus, vec_col, sample)
    centroids = _sample_centroids_from_matrix(X, nlist, seed, iters)
    Cn = _centroid_matrix(centroids)
    R = X - Cn[(X @ Cn.T).argmax(axis=1)]
    rng = np.random.default_rng(seed)
    books = _pq_kmeans_codebooks(R, m, ksub, rng, iters)
    return centroids, [[list(map(float, c)) for c in B] for B in books]


def ivfpq_encode(
    df: DataFrame, vec_col: str, centroids, codebooks, *, spill: int = 1
) -> DataFrame:
    """Add ``centroid_id`` + residual ``pq_codes`` in ONE Arrow-batched
    kernel (per-partition, no shuffle): unit-normalize, assign the
    ``spill`` nearest coarse centroids by cosine, quantize the RESIDUAL
    against EACH assigned centroid with the subspace codebooks.
    ``(id, centroid_id, pq_codes)`` is the 100 TB index layout —
    written partitioned/bucketed by ``centroid_id``, a probed query
    prunes whole files before any code is read.

    ``spill > 1`` replicates each vector into its spill nearest lists
    (IVF-with-replication, same recall device as :func:`topk_ivf` —
    near-boundary vectors, where most recall is lost on weakly
    clustered embeddings, become reachable from either side); each
    replica's codes quantize ITS OWN list's residual, so ADC stays
    anchored to the list that was probed.  Storage × spill, query
    fan-in unchanged.  NULL vectors keep one row with NULL in both
    columns (``explode_outer`` — NULL-in/NULL-out); centroid/codebook
    dimension mismatches raise the named errors from the r15
    review-pass-11 contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Cn = _centroid_matrix(centroids)
    B = _codebook_array(codebooks)                   # (m, ksub, dsub)
    m, ksub, dsub = B.shape
    if Cn.shape[1] != m * dsub:
        raise ValueError(
            f"ivfpq_encode: centroid dim {Cn.shape[1]} does not match "
            f"the codebooks' m*dsub = {m}*{dsub} = {m * dsub}")
    spill_eff = min(max(1, spill), Cn.shape[0])

    def _enc(vs):
        out = [None] * len(vs)
        mask = vs.notna().to_numpy()
        if not mask.any():
            return pd.Series(out, dtype=object)
        M = np.stack(vs[mask].to_numpy()).astype(np.float64)
        if M.shape[1] != m * dsub:
            raise ValueError(
                f"ivfpq_encode: vector dim {M.shape[1]} does not match "
                f"the codebooks' m*dsub = {m}*{dsub} = {m * dsub}")
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ Cn.T
        # top-spill lists per vector, same argsort ordering as
        # probe_centroids (spill is tiny, a full sort costs nothing)
        near = np.argsort(-sims, axis=1)[:, :spill_eff]
        entries = []
        for s in range(spill_eff):
            cid = near[:, s]
            R = M - Cn[cid]
            codes = np.empty((M.shape[0], m), dtype=np.int32)
            for j in range(m):
                S = R[:, j * dsub:(j + 1) * dsub]
                d2 = (B[j] ** 2).sum(-1)[None, :] - 2.0 * (S @ B[j].T)
                codes[:, j] = d2.argmin(1)
            entries.append((cid.tolist(), codes.tolist()))
        packed = iter([
            [{"centroid_id": entries[s][0][i], "pq_codes": entries[s][1][i]}
             for s in range(spill_eff)]
            for i in range(M.shape[0])
        ])
        return pd.Series(
            [next(packed) if ok else None for ok in mask], dtype=object)

    _enc.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    kernel = pandas_udf(
        _enc, "array<struct<centroid_id:int, pq_codes:array<int>>>")
    return (
        df.withColumn("_ivfpq", F.explode_outer(kernel(F.col(vec_col))))
        .withColumn("centroid_id", F.col("_ivfpq.centroid_id"))
        .withColumn("pq_codes", F.col("_ivfpq.pq_codes"))
        .drop("_ivfpq")
    )


def topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 256,
    rerank: int = 8,
    sample: int = 4096,
    spill: int = 2,
    centroids=None,
    codebooks=None,
) -> DataFrame:
    """Approximate top-k via the composed IVF-ADC path: coarse
    probe prunes candidate VOLUME, residual-PQ ADC prunes candidate
    WIDTH, exact cosine re-ranks the survivors.

    Plan shape, scan-side first: the corpus encodes to
    ``(id, centroid_id, residual codes)`` per partition with no shuffle;
    a Catalyst ``isin`` filter on the UNION of all probed lists drops
    non-probed rows between the encode and ADC-scan kernels (inline
    the encoder still sees every row — but on the production path the
    encoded index is PERSISTED partitioned by ``centroid_id`` and the
    same filter becomes partition pruning: probing nprobe/nlist of the
    lists reads nprobe/nlist of the files); each
    Arrow batch then scores only the rows in each query's own probed
    lists via ``<q,x> ≈ <q,c> + Σ_j LUT[q,j,code_j]`` (the per-list
    constant rides the same centroid-similarity matrix the probes came
    from) and emits a per-batch local top-C, so the shuffle carries
    candidates, not the corpus.  Stage 2 is byte-shared with
    :func:`topk_pq` (global prune → point-lookup exact rerank).

    Same contracts as the other top-k operators: small-query-set
    driver collect, NULL vectors on either side produce no candidates,
    ties break on neighbor id, recall < 1 by design (pytest pins the
    floor; the registry row embeds per-query ``recall_vs_exact``).
    Pass precomputed ``centroids`` + ``codebooks`` (from
    :func:`train_ivfpq`) to skip training — the production shape where
    the index artifact is persisted; passing only one half raises (a
    mixed index would silently mis-assign residuals)."""
    import numpy as np
    import pandas as pd

    if (centroids is None) != (codebooks is None):
        raise ValueError(
            "topk_ivfpq: pass BOTH centroids and codebooks (a trained "
            "pair from train_ivfpq) or neither — residual codes are "
            "meaningless against a different coarse quantizer")
    if centroids is None:
        centroids, codebooks = train_ivfpq(
            corpus, vec_col, nlist=nlist, m=m, ksub=ksub,
            sample=sample)
    Cn = _centroid_matrix(centroids)
    B = _codebook_array(codebooks)                   # (m, ksub, dsub)
    m, ksub, dsub = B.shape
    if Cn.shape[1] != m * dsub:
        raise ValueError(
            f"topk_ivfpq: centroid dim {Cn.shape[1]} does not match "
            f"the codebooks' m*dsub = {m}*{dsub} = {m * dsub}")

    qrows = [
        (r[0], list(map(float, r[1])))
        for r in queries.select(F.col(id_col), F.col(vec_col)).collect()
        if r[1] is not None
    ]
    if not qrows:
        return _empty_topk(corpus, id_col)
    bad = [q for q, v in qrows if len(v) != m * dsub]
    if bad:
        raise ValueError(
            f"topk_ivfpq: query vectors {bad[:5]} have dims != the "
            f"codebooks' m*dsub = {m}*{dsub} = {m * dsub}")
    qids = [q[0] for q in qrows]
    Q = np.asarray([q[1] for q in qrows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # Coarse similarities feed BOTH the probe choice and the per-list
    # ADC constant: <q, x> ≈ <q, c_list> + <q, residual reconstruction>.
    csim = Q @ Cn.T                                   # (nq, nlist)
    nprobe_eff = min(max(1, nprobe), Cn.shape[0])
    probes = np.argsort(-csim, axis=1)[:, :nprobe_eff]
    lut = np.einsum("qjd,jcd->qjc", Q.reshape(len(qids), m, dsub), B)
    n_cand = max(1, rerank * k)
    probed_union = sorted({int(c) for row in probes for c in row})

    coded = (
        ivfpq_encode(
            corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("cv")),
            "cv", centroids, codebooks, spill=spill)
        .select("neighbor_id", "centroid_id", "pq_codes")
        # Catalyst-side list pruning between encode and scan: only
        # probed lists reach the ADC kernel (and on a PERSISTED
        # centroid-partitioned index this same filter is partition
        # pruning — pinned by the persisted-index pytest).
        .filter(F.col("centroid_id").isin(probed_union))
    )

    out_schema = "query_id long, neighbor_id long, adc double"

    def scan(batches):
        for pdf in batches:
            ok = pdf["pq_codes"].notna().to_numpy()
            if not ok.any():
                continue
            ids = pdf["neighbor_id"][ok].to_numpy()
            cids = pdf["centroid_id"][ok].to_numpy().astype(np.int64)
            codes = np.stack(pdf["pq_codes"][ok].to_numpy()).astype(np.int64)
            rows = {"query_id": [], "neighbor_id": [], "adc": []}
            for qi, qid in enumerate(qids):
                sel = np.isin(cids, probes[qi])
                if not sel.any():
                    continue
                sub = codes[sel]
                s = csim[qi, cids[sel]].copy()
                for j in range(m):
                    s += lut[qi, j, sub[:, j]]
                top = min(n_cand, sub.shape[0])
                part = np.argpartition(-s, top - 1)[:top]
                rows["query_id"].extend([qid] * len(part))
                rows["neighbor_id"].extend(ids[sel][part].tolist())
                rows["adc"].extend(s[part].tolist())
            if rows["query_id"]:
                yield pd.DataFrame(rows)

    cands = (
        coded.mapInPandas(scan, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # Spill replicas can surface the same (query, neighbor) from
        # several probed lists with DIFFERENT residual anchors — keep
        # the best ADC estimate (max-agg, not dropDuplicates: an
        # arbitrary survivor would make the prune ordering run-to-run
        # nondeterministic).  The aggregate runs on the candidate set,
        # not the corpus.
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("adc").alias("adc"))
    )
    return _adc_candidates_to_topk(cands, corpus, vec_col, id_col,
                                   qrows, k, n_cand)
