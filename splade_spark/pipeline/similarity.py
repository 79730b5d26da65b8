"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline. Queries are broadcast as a
  numpy matrix; the corpus streams through a mapInPandas kernel doing one
  BLAS matmul per Arrow batch with a per-partition top-k, then a global
  window merge — same partial-topk shape as the retrieval engine.
- random-hyperplane LSH: the scale path. Sign-bit signatures bucket the
  corpus; queries probe their own bucket (+ multiprobe neighbors), exact
  rerank inside buckets.
- IVF: a seeded k-means coarse quantizer routes each vector to one cell;
  queries probe their nprobe nearest cells, exact rerank inside.
- cosine near-duplicate pairs: bucket-join + exact verify, for
  embedding-based dedup of training corpora.

Each ANN decision has one implementation here, shared with the persisted
index (ann_index.py): ``lsh_planes`` / ``lsh_buckets`` / ``lsh_probe_sets``
and ``ivf_train`` / ``ivf_cells`` / ``ivf_probe_sets``. The corpus-side
kernels (``hyperplane_signatures``, ``ivf_cells``) emit (id, vec, key) in
one Arrow pass, so candidates are a filter on that output — no second scan
of the corpus and no join back to it.

A pure-SQL brute-force variant (explode + join + groupBy) is provided for
DuckDB oracle parity — same math, all built-ins.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEED = 42


def _normalize(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


def _vectors(col: pd.Series) -> np.ndarray:
    return np.array(col.tolist(), dtype=np.float64)


def seeded_vector_sample(
    embeddings: DataFrame,
    sample_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> pd.DataFrame:
    """Deterministic, partition-order-invariant driver-side training sample.

    Rows are ranked by a content hash of their id (xxhash64(id, seed)) and
    the ``sample_size`` smallest are taken. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition partial top-k + driver merge, no
    full sort shuffle — so at 100 TB the cost is one (id, vec) scan.

    Why not ``df.sample(fraction, seed)``: Spark seeds its Bernoulli sampler
    per PARTITION INDEX, so the chosen rows change whenever the input is
    repartitioned or file-split differently — a quantizer trained on it is
    layout-dependent. The hash rank depends only on row content, so the
    sample (and any k-means trained on it) is identical across layouts.
    Returned sorted by id for a stable row order (k-means centroid init
    picks rows by position)."""
    h = F.xxhash64(F.col(id_col), F.lit(seed))
    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .limit(sample_size)
        .toPandas()
    )
    return pdf.sort_values(id_col, ignore_index=True)


def brute_cosine_topk(
    embeddings: DataFrame,
    query_vectors: pd.DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k. query_vectors: pandas (query_id, embedding list).

    Per Arrow batch: one float64 matmul (corpus_batch × queries^T) +
    argpartition top-k; global merge by window. Total order
    (cosine desc, vec_id asc)."""
    spark = embeddings.sparkSession
    qids = query_vectors["query_id"].tolist()
    qmat = _normalize(_vectors(query_vectors["embedding"]))
    bq = spark.sparkContext.broadcast((qids, qmat))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qmat_ = bq.value
        qarr = np.asarray(qids_, dtype=object)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = _normalize(_vectors(pdf[vec_col]))
            sims = mat @ qmat_.T  # (batch, nq)
            kk = min(k, len(ids))
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, nq)
            # ONE output frame per Arrow batch (query-major), not one
            # pandas DataFrame per query — frame-construction overhead
            # dominated the rerank at large batch sizes
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qarr, kk),
                    id_col: ids[top].T.ravel(),
                    "cosine": np.take_along_axis(sims, top, axis=0).T.ravel(),
                }
            )

    local = embeddings.select(id_col, vec_col).mapInPandas(
        kernel, schema=f"query_id string, {id_col} long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def bucketed_cosine_topk(
    candidates: DataFrame,
    query_vectors: pd.DataFrame,
    query_probes: dict[str, list[int]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Exact cosine top-k where each query only scores candidates in its
    OWN probe buckets (``query_probes``: query_id → bucket/cell list).

    This is the served-batch scale path: a union-probe rerank costs
    |∪ candidates| × n_queries, so a 10k-query batch touching 10% of the
    buckets reranks every query against ~10% of the corpus; here the work
    is Σ_q |candidates_q| — each Arrow batch is grouped by its partition
    key and matmul'ed only against the queries probing that key. A vector
    lives in exactly one bucket (LSH) / cell (IVF), so no (query, vec)
    pair is produced twice and no dedup pass is needed."""
    spark = candidates.sparkSession
    qids = query_vectors["query_id"].tolist()
    qmat = _normalize(_vectors(query_vectors["embedding"]))
    b2q: dict[int, list[int]] = {}
    for qi, qid in enumerate(qids):
        for b in query_probes[qid]:
            b2q.setdefault(int(b), []).append(qi)
    bq = spark.sparkContext.broadcast(
        (qids, qmat, {b: np.asarray(v, dtype=np.int64) for b, v in b2q.items()})
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qmat_, b2q_ = bq.value
        qarr = np.asarray(qids_, dtype=object)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # per-bucket matmuls, but ONE output frame per Arrow batch:
            # the previous per-(bucket, query) pd.DataFrame construction
            # was ~13k tiny frames for a 1000-query batch and dominated
            # the kernel (the matmuls themselves are micro-sized)
            out_q, out_i, out_c = [], [], []
            for b, grp in pdf.groupby(bucket_col, sort=False):
                qidx = b2q_.get(int(b))
                if qidx is None:
                    continue
                ids = grp[id_col].to_numpy()
                mat = _normalize(_vectors(grp[vec_col]))
                sims = mat @ qmat_[qidx].T  # (bucket_rows, n_probing_queries)
                kk = min(k, len(ids))
                top = np.argpartition(-sims, kk - 1, axis=0)[:kk]
                out_q.append(np.repeat(qidx, kk))
                out_i.append(ids[top].T.ravel())
                out_c.append(np.take_along_axis(sims, top, axis=0).T.ravel())
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": qarr[np.concatenate(out_q)],
                        id_col: np.concatenate(out_i),
                        "cosine": np.concatenate(out_c),
                    }
                )

    local = candidates.select(id_col, vec_col, bucket_col).mapInPandas(
        kernel, schema=f"query_id string, {id_col} long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def cosine_topk_sql(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pure-DataFrame exact cosine top-k (oracle-parity path).

    queries: (query_id, embedding). posexplode both sides → join on dim →
    sum of products / norms. Slower than the BLAS kernel but expressible
    1:1 in ANSI SQL for the DuckDB cross-check."""
    e = embeddings.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("i", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    q = queries.select(
        "query_id", F.posexplode(vec_col).alias("i", "y")
    ).withColumn("y", F.col("y").cast("double"))
    enorm = e.groupBy(id_col).agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nx"))
    qnorm = q.groupBy("query_id").agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("ny"))
    dots = (
        e.join(q, "i")
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("x") * F.col("y")).alias("dot"))
    )
    scored = (
        dots.join(enorm, id_col)
        .join(qnorm, "query_id")
        .withColumn("cosine", F.col("dot") / (F.col("nx") * F.col("ny")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def _check_dim(mat: np.ndarray, dim: int) -> None:
    if mat.shape[1] != dim:
        raise ValueError(f"embedding dim {mat.shape[1]} != index dim {dim}")


def probe_union(per_query: dict[str, list[int]]) -> list[int]:
    """Union of per-query probe sets — what one pruned scan filters on."""
    return sorted({p for probes in per_query.values() for p in probes})


def _keyed_rows(
    embeddings: DataFrame, model: np.ndarray, key_fn, key: str, key_type: str,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(id, vec, key): ``key_fn(batch matrix, model)`` per Arrow batch, the
    vector carried through the same pass — callers filter or write the
    output directly, never join it back to the corpus."""
    bm = embeddings.sparkSession.sparkContext.broadcast(model)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bm.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf[[id_col, vec_col]].copy()
            out[key] = key_fn(_vectors(pdf[vec_col]), m)
            yield out

    # the source's own element type, so a rerank over this output scores
    # exactly the input vectors (array<float> sources: the index layout)
    vec_type = embeddings.schema[vec_col].dataType.simpleString()
    return embeddings.select(id_col, vec_col).mapInPandas(
        kernel, schema=f"{id_col} long, {vec_col} {vec_type}, {key} {key_type}"
    )


def lsh_planes(dim: int, nbits: int, seed: int = SEED) -> np.ndarray:
    """The seeded (dim, nbits) hyperplanes. Re-derived, never stored: the
    per-call paths and the persisted index (its meta keeps dim/nbits/seed)
    draw them here, so both bucket a vector identically."""
    return np.random.default_rng(seed).standard_normal((dim, nbits))


def lsh_buckets(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Sign bit of each row's projection on each plane, packed into an
    int64 bucket id (bit i = plane i)."""
    _check_dim(mat, planes.shape[0])
    weights = (1 << np.arange(planes.shape[1], dtype=np.uint64)).astype(np.uint64)
    bits = (mat @ planes) > 0
    return (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)


def lsh_probe_sets(
    query_vectors: pd.DataFrame, planes: np.ndarray, multiprobe_bits: int = 1
) -> dict[str, list[int]]:
    """Driver-side probe sets, one per query: the query's own bucket plus
    all buckets within ``multiprobe_bits`` (0–2) bit flips. Tiny —
    n_queries × (1 + nbits) ints for 1-bit multiprobe."""
    nbits = planes.shape[1]
    qbuckets = lsh_buckets(_vectors(query_vectors["embedding"]), planes)
    out: dict[str, list[int]] = {}
    for qid, b in zip(query_vectors["query_id"].tolist(), qbuckets.tolist()):
        probe: set[int] = {b}
        if multiprobe_bits >= 1:
            for i in range(nbits):
                probe.add(b ^ (1 << i))
                if multiprobe_bits >= 2:
                    for j in range(i + 1, nbits):
                        probe.add(b ^ (1 << i) ^ (1 << j))
        out[qid] = sorted(probe)
    return out


def hyperplane_signatures(
    embeddings: DataFrame,
    nbits: int = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> DataFrame:
    """(id, vec, bucket long): sign-bit signature under seeded random
    hyperplanes, computed in one Arrow pass that carries the vector."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    return _keyed_rows(
        embeddings, lsh_planes(dim, nbits, seed), lsh_buckets, "bucket", "long",
        id_col, vec_col,
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    query_vectors: pd.DataFrame,
    k: int = 10,
    nbits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> DataFrame:
    """ANN: probe the query's LSH bucket and its 1-bit-flip neighbors,
    exact-rerank candidates. Approximate — recall depends on nbits."""
    dim = len(query_vectors["embedding"].iloc[0])
    probe = probe_union(lsh_probe_sets(query_vectors, lsh_planes(dim, nbits, seed)))
    sigs = hyperplane_signatures(embeddings, nbits, dim, id_col, vec_col, seed)
    cands = sigs.filter(F.col("bucket").isin(probe))
    return brute_cosine_topk(cands, query_vectors, k, id_col, vec_col)


def _kmeans(sample: np.ndarray, n_centroids: int, iters: int = 8, seed: int = SEED) -> np.ndarray:
    """Tiny seeded Lloyd's k-means on a driver-side sample (centroid init =
    random sample rows). Deterministic; good enough for IVF routing.

    Early-exits once the assignment repeats: an unchanged assignment
    recomputes the exact same centroids, so every later iteration is a
    no-op — the returned centroids are identical to running all ``iters``
    rounds (on converged inputs this skips most of the fixed 8 rounds)."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    cent = sample[idx].copy()
    prev_assign = None
    for _ in range(iters):
        d = sample @ cent.T
        assign = d.argmax(axis=1)  # cosine on normalized rows
        if prev_assign is not None and np.array_equal(assign, prev_assign):
            break
        prev_assign = assign
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                v = sample[m].mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return cent


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int,
    sample_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> np.ndarray:
    """The coarse quantizer: seeded k-means on a content-hash sample
    (seeded_vector_sample — uniform over the corpus, layout-invariant).
    Returns unit-normalized centroids, shape (n_centroids, dim)."""
    sample = seeded_vector_sample(embeddings, sample_size, id_col, vec_col, seed)
    return _kmeans(_normalize(_vectors(sample[vec_col])), n_centroids, seed=seed)


def _nearest_cell(mat: np.ndarray, cent: np.ndarray) -> np.ndarray:
    _check_dim(mat, cent.shape[1])
    return (_normalize(mat) @ cent.T).argmax(axis=1).astype(np.int32)


def ivf_cells(
    embeddings: DataFrame,
    cent: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell int): each vector routed to its nearest centroid
    (cosine) in one Arrow pass that carries the vector."""
    return _keyed_rows(embeddings, cent, _nearest_cell, "cell", "int", id_col, vec_col)


def ivf_probe_sets(
    query_vectors: pd.DataFrame, cent: np.ndarray, nprobe: int
) -> dict[str, list[int]]:
    """Driver-side probe sets, one per query: its nprobe nearest cells."""
    qmat = _vectors(query_vectors["embedding"])
    _check_dim(qmat, cent.shape[1])
    order = (_normalize(qmat) @ cent.T).argsort(axis=1)[:, ::-1][:, :nprobe]
    return {
        qid: sorted(int(c) for c in row)
        for qid, row in zip(query_vectors["query_id"].tolist(), order)
    }


def ivf_cosine_topk(
    embeddings: DataFrame,
    query_vectors: pd.DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> DataFrame:
    """IVF ANN: route vectors to their nearest centroid (coarse quantizer
    trained on a seeded sample), probe the query's nprobe nearest centroid
    cells, exact-rerank inside. nprobe=n_centroids degenerates to exact.

    At 100 TB the cell assignment is one mapInPandas pass (matmul per Arrow
    batch) and a write partitioned by cell; queries touch nprobe cells —
    partition pruning does the rest."""
    cent = ivf_train(embeddings, n_centroids, sample_size, id_col, vec_col, seed)
    probe = probe_union(ivf_probe_sets(query_vectors, cent, nprobe))
    cands = ivf_cells(embeddings, cent, id_col, vec_col).filter(
        F.col("cell").isin(probe)
    )
    return brute_cosine_topk(cands, query_vectors, k, id_col, vec_col)


def _dot_expr(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    tau: float = 0.95,
    nbits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine >= tau): embedding near-duplicate pairs.

    Candidates from shared LSH bucket (high-cosine pairs collide with
    probability (1 - θ/π)^nbits), verified exactly with a zip_with dot
    product — JVM-side, no Python in the verify.

    dim: embedding dimensionality — pass it to skip the one-row inference
    job that hyperplane_signatures otherwise runs per call.

    max_bucket_size: skew guard for the within-bucket self-join (the
    shingle pipeline's max_shingle_df analogue, dedup.py). A degenerate
    bucket — skewed or normalized-collapsed embeddings are common in real
    corpora — otherwise goes quadratic. Buckets over the cap switch to
    star linking: every member is verified against the bucket's min-id
    representative only (linear in bucket size). For the dominant
    degenerate case (identical/collapsed vectors, which NO hyperplane
    split can separate) this still yields every member's duplicate edge;
    pairs in an oversized bucket whose cosine ≥ tau with each other but
    not with the representative are the accepted recall trade."""
    # one shuffle by bucket up front: every consumer below is clustered by
    # bucket, so both self-join sides reuse that exchange and the
    # signature kernel runs once instead of once per side
    e = hyperplane_signatures(
        embeddings, nbits, dim, id_col, vec_col, seed
    ).repartition("bucket")
    if max_bucket_size is not None:
        # bucket size and min-id representative as windows over the bucket
        # exchange (already clustered by bucket, so no second shuffle):
        # every branch below reads that one exchange, so the signature
        # kernel runs once
        w = Window.partitionBy("bucket")
        e = e.select(
            "*",
            F.count(F.lit(1)).over(w).alias("_bsize"),
            F.min(id_col).over(w).alias("_rep"),
        )
        small = e.filter(F.col("_bsize") <= max_bucket_size)
        big = e.filter(F.col("_bsize") > max_bucket_size)
        small_pairs = _bucket_self_join(small, id_col, vec_col)
        reps = big.filter(F.col(id_col) == F.col("_rep")).select(
            "bucket",
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
        )
        # reps is one row (with a full embedding) PER oversized bucket —
        # usually tiny, but a pathological corpus can have ~n/cap of them,
        # so no force-broadcast here; AQE broadcasts when it fits
        big_pairs = (
            big.filter(F.col(id_col) != F.col("_rep"))
            .select("bucket", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
            .join(reps, "bucket")
        )
        cand = small_pairs.unionByName(big_pairs.select(small_pairs.columns))
    else:
        cand = _bucket_self_join(e, id_col, vec_col)
    return (
        cand.withColumn(
            "cosine",
            _dot_expr(F.col("va"), F.col("vb"))
            / (
                F.sqrt(_dot_expr(F.col("va"), F.col("va")))
                * F.sqrt(_dot_expr(F.col("vb"), F.col("vb")))
            ),
        )
        .filter(F.col("cosine") >= tau)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def _bucket_self_join(e: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    a = e.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket")
    b = e.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket")
    return a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "va", "id_b", "vb"
    )
