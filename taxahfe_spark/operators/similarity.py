"""Similarity search over embedding columns (array<float>).

- Exact cosine top-k (the correctness baseline): broadcast the query set,
  score each corpus partition with one Arrow-batched numpy matmul, keep
  each batch's local top-k, then a per-query top-k window.
- IVF top-k (the scale path): a seeded spherical k-means coarse
  quantizer (trained on a hash-sampled, driver-bounded slice) partitions
  the corpus into inverted lists; each query scores only its nprobe
  nearest lists. The pruning happens inside a single corpus scan — no
  shuffle, no index table — and nprobe >= n_centroids degenerates to the
  exact brute-force result, which is how the driver value-oracle gates it.
- All-pairs cosine over one corpus: exact (``cosine_allpairs``) or
  random-hyperplane LSH buckets with exact rescoring (``ann_self_pairs``,
  planes generated from a seed on the driver and inlined as literals), and
  ``embedding_dedup`` on top of either.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# estimated right-side payload (rows x dim x 8 B) up to which
# cosine_allpairs broadcasts it; above, the pair join runs as a partitioned
# cartesian product. Not a driver_side gate: broadcasting a small side is
# the at-scale plan, so TAXAHFE_DISTRIBUTED=1 leaves it on.
ALLPAIRS_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def _dot(a, b) -> F.Column:
    # cast BEFORE multiplying: float32*float32 loses precision pre-sum and
    # breaks bit-parity with engines that accumulate in double
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity_col(a, b) -> F.Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def _local_topk(Qb, q_ids_b, qnb, C, ids, cn, k, exclude_self):
    """Vectorized local top-k cosine for one corpus batch: returns
    (query_id, match_id, cosine) arrays holding each query's exact top-k
    under (round(cosine, 8) desc, id asc) within this batch.

    Shape decisions (each replaced a measured bottleneck on a 12.8M x 2000
    scaling leg):
    - query-major matmul (S = Q @ C.T): the top-k partition runs along
      contiguous rows; corpus-major needed a 160 MB transpose per batch.
    - QUERY-AXIS BLOCKING: each (block x n) score slab is sized to ~4 MB so
      the divide / round / mask / argpartition passes hit cache instead of
      DRAM. Unblocked, those ~12 elementwise passes moved ~2 GB per 10k-row
      batch and the whole operator ran at STREAM speed (the box probe's
      worst curve); blocked, DRAM sees the matmul write + one read and the
      operator tracks the ALU curve — which is also why it scales with
      cores on a real cluster.
    - selection by ONE argpartition per slab on a composite key instead of
      a per-query lexsort loop (the loop: 924 s; the matmul: seconds).
      Exactness: cosine is quantized to 1e-8 by the round, the id-rank
      perturbation is < 1e-8/2, so distinct cosines keep their order and
      ties break toward the smaller id. round is the bit-exact
      scale/rint/unscale form of np.round (measured ~30x cheaper; divide,
      NOT multiply-by-1e-8, for bit equality).
    The k selected entries per query are NOT locally sorted — the global
    rank window orders the (partitions x k) survivors downstream.
    """
    import pandas as pd  # noqa: F401  (callers build frames from the arrays)

    n = len(ids)
    nq = Qb.shape[0]
    if n == 0 or nq == 0:
        empty = np.array([], dtype=np.int64)
        return empty, empty, np.array([], dtype=np.float64)
    id_rank = np.empty(n, dtype=np.float64)
    id_rank[np.argsort(ids, kind="stable")] = np.arange(n)
    pert = id_rank * (1e-8 / (2.0 * n))
    zero_c = cn <= 0
    kk = min(k, n)
    bs = max(16, 4_000_000 // (8 * n))
    out_q, out_m, out_c = [], [], []
    for j0 in range(0, nq, bs):
        j1 = min(j0 + bs, nq)
        S = Qb[j0:j1] @ C.T  # (block, n), C-contiguous, cache-resident
        with np.errstate(divide="ignore", invalid="ignore"):
            S /= cn[None, :]
            S /= qnb[j0:j1, None]
            np.multiply(S, 1e8, out=S)
            np.rint(S, out=S)
            np.divide(S, 1e8, out=S)
        if zero_c.any():
            S[:, zero_c] = np.nan
        qz = qnb[j0:j1] <= 0
        if qz.any():
            S[qz, :] = np.nan
        valid = ~np.isnan(S)
        if exclude_self:
            valid &= q_ids_b[j0:j1][:, None] != ids[None, :]
        K = np.where(valid, S, -np.inf)
        K -= pert[None, :]
        sel = np.argpartition(K, n - kk, axis=1)[:, n - kk :]
        cols = sel.ravel()
        bidx = np.repeat(np.arange(j1 - j0), kk)
        keep = valid[bidx, cols]
        out_q.append(q_ids_b[j0 + bidx[keep]])
        out_m.append(ids[cols[keep]])
        out_c.append(S[bidx[keep], cols[keep]])
    return (
        np.concatenate(out_q),
        np.concatenate(out_m),
        np.concatenate(out_c),
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, match_id, cosine, rank).

    Query side is broadcast (ANN query batches are small relative to the
    corpus); the corpus is scanned once with no shuffle before the per-query
    top-k reduction.

    Each corpus partition is scored by one Arrow-batched numpy matmul that
    emits only the batch's LOCAL top-k per query — a candidate outside its
    batch's top-k under (cosine desc, id asc) can never enter the global
    top-k, so the final per-query window ranks (partitions x k) rows, not
    the full score matrix. Spark's array higher-order functions evaluate
    INTERPRETED per element (measured ~25x slower than the BLAS path on a
    2k x 100 x 64 score job), which makes this the sanctioned vectorized-UDF
    exception to built-ins-first.
    """
    import pandas as pd
    from pyspark.sql import types as T

    spark = queries.sparkSession
    q_pdf = queries.select(id_col, vec_col).toPandas()  # broadcast-sized
    Q = np.stack(q_pdf[vec_col].to_numpy()).astype(np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    q_ids = q_pdf[id_col].to_numpy()
    bc = spark.sparkContext.broadcast((q_ids, Q, qn))
    id_dtype = dict(queries.dtypes)[id_col]
    schema = T.StructType(
        [
            T.StructField("query_id", T._parse_datatype_string(id_dtype)),
            T.StructField("match_id", T._parse_datatype_string(id_dtype)),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        q_ids_b, Qb, qnb = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            cn = np.sqrt((C * C).sum(axis=1))
            q_arr, m_arr, c_arr = _local_topk(
                Qb, q_ids_b, qnb, C, ids, cn, k, exclude_self
            )
            yield pd.DataFrame(
                {"query_id": q_arr, "match_id": m_arr, "cosine": c_arr}
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def hyperplane_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 16,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Sign pattern of <v, r_i> over n random hyperplanes packed into a long."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        plane = F.array([F.lit(float(x)) for x in planes[i]])
        bit = (_dot(F.col(vec_col), plane) > 0).cast("long")
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return df.withColumn(out_col, sig)


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 100_000,
    iters: int = 15,
    n_rows: int | None = None,
) -> np.ndarray:
    """Seeded spherical k-means centroids for the IVF coarse quantizer.

    The trainer sees a HASH-SAMPLED slice of the corpus (layout-invariant:
    membership depends on xxhash64(id), not partition order), collected to
    the driver — at 100 TB the sample is a bounded O(sample_size x dim)
    array, never the corpus. Lloyd iterations on unit-normalized vectors
    (argmax dot == min cosine distance); k-means++-style seeding drawn from
    the sample with a seeded RNG. Deterministic in (seed, corpus content).

    No counting scan: the default path takes the ``sample_size`` rows with
    the SMALLEST xxhash64(id) via orderBy+limit — Spark plans that as
    TakeOrderedAndProject (per-partition top-k, driver merge), so sampling
    is ONE corpus scan with bounded driver memory and no prior
    ``corpus.count()`` job (the r5 trainer paid a full extra scan just to
    size a threshold). Callers that already know the corpus size can pass
    ``n_rows`` to keep the cheaper stateless hash-threshold filter.
    """
    if n_rows is not None and n_rows > sample_size:
        # keep ~sample_size rows: pmod(hash) < threshold is content-keyed,
        # so the trained centroids do not depend on partitioning
        denom = 1_000_000
        thresh = max(1, int(denom * sample_size / n_rows))
        sample = corpus.select(id_col, vec_col).filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(denom)) < thresh
        )
    elif n_rows is not None:
        sample = corpus.select(id_col, vec_col)
    else:
        sample = (
            corpus.select(id_col, vec_col)
            .withColumn("__h", F.xxhash64(F.col(id_col)))
            .orderBy("__h", id_col)
            .limit(sample_size)
            .drop("__h")
        )
    pdf = sample.select(id_col, vec_col).toPandas().sort_values(id_col)
    if not len(pdf):
        raise ValueError("train_ivf_centroids: corpus sample is empty")
    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    norms = np.sqrt((X * X).sum(axis=1))
    X = X[norms > 0] / norms[norms > 0][:, None]
    if not len(X):
        raise ValueError("train_ivf_centroids: no non-zero-norm vectors")
    k = min(n_centroids, len(X))
    rng = np.random.default_rng(seed)

    # k-means++ seeding on the unit sphere (distance = 1 - dot)
    cent = [X[rng.integers(len(X))]]
    for _ in range(1, k):
        d = 1.0 - np.max(np.stack([X @ c for c in cent]), axis=0)
        d = np.clip(d, 1e-12, None)
        cent.append(X[rng.choice(len(X), p=d / d.sum())])
    C = np.stack(cent)
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    C[j] = m / nm
    return C


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k cosine: (query_id, match_id, cosine, rank).

    The inverted-file pruning happens INSIDE the corpus scan: one
    mapInPandas pass assigns each Arrow batch's rows to their nearest
    centroid (one matmul against the broadcast coarse quantizer) and scores
    each centroid group only against the queries probing that centroid
    (nprobe nearest centroids per query, computed driver-side on the
    broadcast-sized query set). Zero shuffle of the corpus, no index
    materialization — at 100 TB this is a single scan whose compute drops
    by ~nprobe/n_centroids vs brute force, and the scan emits only local
    top-k rows per (batch, query) so the final window ranks a bounded set.

    ``nprobe >= n_centroids`` degenerates to EXACT brute force (every query
    probes every list) — bit-identical to cosine_topk, which is how the
    driver value-oracle gates this operator; recall at nprobe < n_centroids
    is pinned by pytest instead.
    """
    import pandas as pd
    from pyspark.sql import types as T

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_centroids, id_col=id_col, vec_col=vec_col, seed=seed
        )
    Cq = np.asarray(centroids, dtype=np.float64)
    nprobe = min(nprobe, len(Cq))

    spark = queries.sparkSession
    q_pdf = queries.select(id_col, vec_col).toPandas()
    Q = np.stack(q_pdf[vec_col].to_numpy()).astype(np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    q_ids = q_pdf[id_col].to_numpy()
    # per-query probe lists -> inverted: centroid -> query rows probing it
    with np.errstate(divide="ignore", invalid="ignore"):
        Qu = Q / np.where(qn > 0, qn, np.nan)[:, None]
    sim_qc = np.nan_to_num(Qu @ Cq.T, nan=-np.inf)
    probe = np.argsort(-sim_qc, axis=1, kind="stable")[:, :nprobe]
    probed_by: dict[int, np.ndarray] = {
        c: np.flatnonzero((probe == c).any(axis=1)) for c in range(len(Cq))
    }
    bc = spark.sparkContext.broadcast((q_ids, Q, qn, Cq, probed_by))
    id_dtype = dict(queries.dtypes)[id_col]
    schema = T.StructType(
        [
            T.StructField("query_id", T._parse_datatype_string(id_dtype)),
            T.StructField("match_id", T._parse_datatype_string(id_dtype)),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        q_ids_b, Qb, qnb, Cb, probed = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            cn = np.sqrt((C * C).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                Cu = C / np.where(cn > 0, cn, np.nan)[:, None]
            assign = np.argmax(np.nan_to_num(Cu @ Cb.T, nan=-np.inf), axis=1)
            frames = []
            for c in np.unique(assign):
                q_rows = probed.get(int(c))
                if q_rows is None or q_rows.size == 0:
                    continue
                rows = np.flatnonzero(assign == c)
                # same blocked query-major local top-k as cosine_topk
                # (_local_topk), per (inverted-list group, batch)
                q_arr, m_arr, c_arr = _local_topk(
                    Qb[q_rows],
                    q_ids_b[q_rows],
                    qnb[q_rows],
                    C[rows],
                    ids[rows],
                    cn[rows],
                    k,
                    exclude_self,
                )
                frames.append(
                    pd.DataFrame(
                        {"query_id": q_arr, "match_id": m_arr, "cosine": c_arr}
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = corpus.select(id_col, vec_col).mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def cosine_allpairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold over one corpus: (a, b, cosine),
    a < b. The correctness baseline for embedding near-dup detection.

    Quadratic by definition. The right side is broadcast only when its
    estimated payload (rows x dim x 8B) fits
    ``ALLPAIRS_BROADCAST_MAX_BYTES``; above that the non-equi join runs as
    a partitioned cartesian product instead of failing the driver on a
    giant broadcast. Use ann_self_pairs for the bucketed scale path; this
    exact form is for verification and modest
    corpora (<= ~10^5 vectors).
    """
    n = df.count()
    dim_row = df.select(vec_col).first()
    dim = len(dim_row[0]) if dim_row and dim_row[0] is not None else 0
    a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    right = F.broadcast(b) if n * dim * 8 <= ALLPAIRS_BROADCAST_MAX_BYTES else b
    pairs = a.join(right, F.col("a") < F.col("b"))
    scored = pairs.withColumn(
        "cosine", F.round(cosine_similarity_col("va", "vb"), 8)
    )
    return scored.filter(F.col("cosine") >= threshold).select("a", "b", "cosine")


def ann_self_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    n_tables: int = 6,
    seed: int = 42,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Approximate all-pairs cosine >= threshold over one corpus — the
    embedding-space analog of MinHash LSH dedup (the scale path for
    embedding-cosine near-dup at web-corpus size).

    Candidates share a random-hyperplane bucket in >= 1 of n_tables tables;
    exact cosine rescoring keeps only true hits (precision 1, recall < 1 —
    raised by more tables / fewer planes). ``max_bucket_size`` drops
    degenerate buckets before the self-join: a bucket of m vectors yields
    m^2/2 candidates, the same skew guard as minhash_lsh_pairs /
    ngram max_df.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    for t in range(n_tables):
        base = hyperplane_signature(
            base, "vec", n_planes=n_planes, seed=seed + 131 * t, out_col=f"b{t}"
        )
    banded = base.select(
        "id", "vec",
        F.posexplode(F.array(*[f"b{t}" for t in range(n_tables)])).alias(
            "table", "bucket"
        ),
    )
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("table", "bucket")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("table", "bucket")
        )
        banded = banded.join(F.broadcast(hot), ["table", "bucket"], "left_anti")
    # distinct on bare id pairs first (8-byte keys), then rejoin vectors once
    ids = (
        banded.select(F.col("id").alias("a"), "table", "bucket")
        .join(
            banded.select(F.col("id").alias("b"), "table", "bucket"),
            ["table", "bucket"],
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = base.select(F.col("id").alias("a"), F.col("vec").alias("va"))
    vb = base.select(F.col("id").alias("b"), F.col("vec").alias("vb"))
    scored = ids.join(va, "a").join(vb, "b").withColumn(
        "cosine", F.round(cosine_similarity_col("va", "vb"), 8)
    )
    return scored.filter(F.col("cosine") >= threshold).select("a", "b", "cosine")


def embedding_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    **pair_kwargs,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, end to end: pairs at
    ``cosine >= threshold`` -> connected components -> one canonical keeper
    per component. Returns (id_col, rep_id, keep) for EVERY input row:
    ``rep_id`` is the smallest id in the row's duplicate component (itself
    for singletons) and ``keep`` marks the component representative — the
    same min-id canonical rule as exact_dedup / minhash_dedup, so the three
    dedup families compose interchangeably in a filtering pipeline.

    ``method="exact"`` scores all pairs (quadratic — the verification path
    and the driver value-oracle target); ``method="lsh"`` generates
    candidates via random-hyperplane buckets (ann_self_pairs), the scale
    path: linear scans + bucket joins, recall < 1 pinned in tests. Both
    emit only (id, id, cosine) triples into the component step — vectors
    never enter a shuffle after scoring. Components use pointer-shortcut
    min-label propagation with a convergence certificate
    (operators/dedup.py:connected_components).

    Graft operator (SURVEY LLM-pipeline family: embedding near-dup); the
    reference R engine has no embedding surface.
    """
    from taxahfe_spark.operators.dedup import connected_components

    if method == "exact":
        pairs = cosine_allpairs(df, threshold, id_col=id_col, vec_col=vec_col)
    elif method == "lsh":
        pairs = ann_self_pairs(
            df, threshold, id_col=id_col, vec_col=vec_col, **pair_kwargs
        )
    else:
        raise ValueError(f"method must be 'exact' or 'lsh', got {method!r}")
    labels = connected_components(pairs.select("a", "b"))
    # no cast: cluster labels inherit the id column's own type from the
    # pair frame, so string doc ids work as well as numeric vector ids
    ids = df.select(id_col)
    out = ids.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).select(
        id_col,
        F.coalesce(F.col("cluster"), F.col(id_col)).alias("rep_id"),
    )
    return out.withColumn("keep", F.col(id_col) == F.col("rep_id"))
