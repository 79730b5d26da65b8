"""Persisted ANN index artifacts: build once, probe many times.

Round-3 gap this closes: ``lsh_cosine_topk`` / ``ivf_cosine_topk``
(similarity.py) recompute hyperplane signatures / IVF cell assignments over
the WHOLE corpus on every call — fine for one-shot jobs, wrong for a query
service. The reference-world analogue is PISA holding a built impact index
between queries (efficient_splade_pisa/README.md:47-59); the repo's own
BM25 analogue is ``prepare_serving`` (query/wand.py:149).

Layout: one parquet table per index, hive-partitioned by the coarse key
(``bucket`` for LSH, ``cell`` for IVF) with the raw embeddings co-located
inside each partition, plus an ``_ann_meta.json`` carrying everything the
query side needs (nbits/dim/seed for LSH — the seeded hyperplanes are
re-derived, not stored; the trained centroid matrix for IVF — it IS the
model, so it is stored).

Scale shape: a query batch computes its probe set driver-side (tiny numpy),
then reads ONLY the probed partitions — Spark's partition pruning turns the
``bucket IN (...)`` filter into a directory-level skip, so query cost scales
with candidate count (probe selectivity), not corpus size. The build is one
signature/assignment pass (mapInPandas, Arrow-batched) + one shuffle by the
partition key so each partition directory is written by one task.
"""

from __future__ import annotations

import json
import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import (
    SEED,
    _kmeans,
    _normalize,
    brute_cosine_topk,
    bucketed_cosine_topk,
    seeded_vector_sample,
)

ANN_META = "_ann_meta.json"

# serializes the session-global discovery-threshold override in
# _read_probed_partitions: two concurrent probes would otherwise interleave
# set/read/restore, and the later restore re-installs the override for good
_DISCOVERY_CONF_LOCK = threading.Lock()


def _write_meta(path: str, meta: dict) -> None:
    """Atomic meta write (same tmp+rename discipline as the index builder:
    a killed build must not leave a readable-but-wrong meta)."""
    tmp = os.path.join(path, ANN_META + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, ANN_META))


def read_ann_meta(path: str) -> dict:
    with open(os.path.join(path, ANN_META)) as fh:
        return json.load(fh)


def _read_probed_partitions(
    spark: SparkSession,
    path: str,
    key_col: str,
    probes: list[int],
    empty_schema: str,
):
    """Scan ONLY the probed partition directories of a hive-partitioned ANN
    index.

    ``spark.read.parquet(path)`` lists every ``bucket=``/``cell=``
    directory (up to 2^nbits / n_centroids of them) on EVERY query call —
    at serving rates that driver-side listing dominates the probe itself,
    and the alternative ``isin`` over a large probe union costs seconds of
    Catalyst planning per batch. The probe set is known driver-side, so:
    one cheap listing of the index ROOT (names only), intersect with the
    probe set, and hand Spark just those directories with ``basePath`` —
    the scan starts at the probed data, directory pruning done before
    Spark ever lists. Results are identical by construction: partition
    directories are disjoint by key, so reading the probed subset equals
    reading everything and filtering key ∈ probes.

    Falls back to the full read + exact filter when the root isn't
    listable (non-posix paths) or when the probe set covers most of the
    index (explicit-path planning would cost more than it saves); the
    large-union fallback filters via a broadcast semi-join instead of a
    thousands-literal isin."""
    try:
        names = os.listdir(path)
    except OSError:
        names = None

    def _read(*paths, base=None):
        if names is None:
            r = spark.read
            if base:
                r = r.option("basePath", base)
            return r.parquet(*paths)
        # the root IS posix-listable, so file listing is cheap serial
        # driver work — suppress Spark's distributed listing job (fires
        # above parallelPartitionDiscovery.threshold=32 paths and costs
        # ~2.5 s per call against ~0.2 s serial on a local FS; on object
        # stores, where the job earns its keep, os.listdir fails above
        # and this branch never runs). Conf restored immediately, under
        # one lock so concurrent serving threads cannot leave it set.
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        with _DISCOVERY_CONF_LOCK:
            old = spark.conf.get(key)
            spark.conf.set(key, "1000000")
            try:
                r = spark.read
                if base:
                    r = r.option("basePath", base)
                return r.parquet(*paths)  # listing happens eagerly here
            finally:
                spark.conf.set(key, old)

    probes = list(probes)
    if names is not None:
        pref = key_col + "="
        existing = {}
        for nm in names:
            if nm.startswith(pref):
                try:
                    existing[int(nm[len(pref):])] = nm
                except ValueError:
                    continue
        hits = [existing[b] for b in probes if b in existing]
        if not hits:
            return spark.createDataFrame([], empty_schema)
        if len(hits) <= max(64, len(existing) // 2):
            return _read(
                *[os.path.join(path, nm) for nm in hits], base=path
            )
    idx = _read(path)
    if len(probes) <= 128:
        return idx.filter(F.col(key_col).isin(probes))
    pr = spark.createDataFrame([(int(b),) for b in probes], "_probe long")
    return idx.join(
        F.broadcast(pr),
        F.col(key_col).cast("long") == F.col("_probe"),
        "left_semi",
    )


def _partition_write_tasks(spark: SparkSession) -> int:
    """Shuffle-partition count for the bucket/cell-partitioned index write.

    One output file per populated bucket exists regardless; what the task
    count sets is how many parquet writers open/commit CONCURRENTLY. The
    default shuffle partitioning (cores*2 here) left each task serially
    creating ~30 tiny per-bucket files — measured 14.3 s vs 5.7 s at 8x
    parallelism for the same 2k-file layout. Derived from the session's
    parallelism, not a constant, so cluster deployments scale it with
    executor count."""
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        8 * spark.sparkContext.defaultParallelism,
    )


def _lsh_planes(dim: int, nbits: int, seed: int) -> np.ndarray:
    """The seeded hyperplanes — identical derivation to
    similarity.hyperplane_signatures, so an index built here yields the
    same buckets as the per-call path (and the same DuckDB oracle)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, nbits))


def _lsh_bucket_rows(
    embeddings: DataFrame,
    dim: int,
    nbits: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Single pass: compute the bucket AND carry the embedding in one Arrow
    kernel (no corpus-vs-signatures self-join — at 100 TB that join is a
    second full shuffle of the fat vector column for nothing). Shared by
    build and append so appended rows land in exactly the buckets a full
    rebuild would produce."""
    spark = embeddings.sparkSession
    bp = spark.sparkContext.broadcast(_lsh_planes(dim, nbits, seed))

    def kernel(batches):
        p = bp.value
        weights = (1 << np.arange(p.shape[1], dtype=np.uint64)).astype(np.uint64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if mat.shape[1] != p.shape[0]:
                raise ValueError(
                    f"embedding dim {mat.shape[1]} != index dim {p.shape[0]}"
                )
            bits = (mat @ p) > 0
            out = pdf[[id_col, vec_col]].copy()
            out["bucket"] = (
                (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            )
            yield out

    return embeddings.select(id_col, vec_col).mapInPandas(
        kernel, schema=f"{id_col} long, {vec_col} array<float>, bucket long"
    )


def build_lsh_index(
    embeddings: DataFrame,
    path: str,
    nbits: int = 12,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> dict:
    """Write a hyperplane-LSH index: parquet partitioned by ``bucket``.

    Each row keeps the raw embedding next to its bucket so probing needs no
    join back to the source table. Returns build metrics."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    # count the SOURCE once, before the write: the bucket kernel is 1:1, so
    # rows written == rows in. Re-listing the written index instead costs a
    # full directory walk across up to 2^nbits bucket partitions — at
    # billions of rows the listing alone is a job, paid on EVERY
    # build/append (for a plain parquet source this count is footer-only)
    n_vectors = embeddings.count()
    rows = _lsh_bucket_rows(embeddings, dim, nbits, seed, id_col, vec_col)
    # one shuffle by the partition key → each bucket directory written by
    # exactly one task (no small-file explosion at high partition counts)
    (
        rows.repartition(_partition_write_tasks(embeddings.sparkSession), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    meta = {
        "kind": "lsh",
        "nbits": nbits,
        "dim": dim,
        "seed": seed,
        "id_col": id_col,
        "vec_col": vec_col,
        "n_vectors": n_vectors,
    }
    _write_meta(path, meta)
    return meta


def lsh_probe_buckets_per_query(
    query_vectors: pd.DataFrame, meta: dict, multiprobe_bits: int = 1
) -> dict[str, list[int]]:
    """Driver-side probe sets, one per query: the query's own bucket plus
    all buckets within ``multiprobe_bits`` bit flips (0 disables
    multiprobe). Tiny — n_queries × (1 + nbits) ints for 1-bit
    multiprobe."""
    nbits, dim, seed = meta["nbits"], meta["dim"], meta["seed"]
    qmat = np.array(query_vectors["embedding"].tolist(), dtype=np.float64)
    if qmat.shape[1] != dim:
        raise ValueError(
            f"query dim {qmat.shape[1]} != index dim {dim} (index at "
            "a different embedding width — rebuild or fix the query side)"
        )
    planes = _lsh_planes(dim, nbits, seed)
    qbits = (qmat @ planes) > 0
    weights = (1 << np.arange(nbits, dtype=np.uint64)).astype(np.uint64)
    qbuckets = (qbits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
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


def lsh_probe_buckets(
    query_vectors: pd.DataFrame, meta: dict, multiprobe_bits: int = 1
) -> list[int]:
    """Union of the per-query probe sets — what the partition-pruned scan
    filters on (one scan serves the whole batch)."""
    per_q = lsh_probe_buckets_per_query(query_vectors, meta, multiprobe_bits)
    return sorted({b for probes in per_q.values() for b in probes})


def lsh_topk_from_index(
    spark: SparkSession,
    path: str,
    query_vectors: pd.DataFrame,
    k: int = 10,
    multiprobe_bits: int = 1,
    probe_scope: str = "per_query",
) -> DataFrame:
    """ANN top-k over a persisted LSH index: partition-pruned candidate
    scan + exact cosine rerank.

    probe_scope='per_query' (default, the scale path): ONE scan pruned to
    the union of probe buckets, but each query is reranked only against
    candidates from its OWN probe set (bucket → probing-queries broadcast
    map inside the kernel), so served-batch cost is Σ_q |cands_q| — a
    query in a 10k-query batch does not pay for the other 9 999 queries'
    buckets. Result-identical to probing each query alone.

    probe_scope='union': every query reranks the whole union candidate
    set — result-identical to ``similarity.lsh_cosine_topk`` at the same
    (nbits, seed, 1-bit multiprobe), whose candidate set is also the
    batch union. Cost |∪ cands| × n_queries; fine for small batches."""
    meta = read_ann_meta(path)
    if meta.get("kind") != "lsh":
        raise ValueError(f"index at {path} is kind={meta.get('kind')!r}, not lsh")
    per_q = lsh_probe_buckets_per_query(query_vectors, meta, multiprobe_bits)
    union = sorted({b for probes in per_q.values() for b in probes})
    # bucket is the hive partition column → directory-level pruning, done
    # driver-side before Spark lists the index (one root listing instead
    # of walking all 2^nbits bucket directories per call)
    pruned = _read_probed_partitions(
        spark, path, "bucket", union,
        f"{meta['id_col']} long, {meta['vec_col']} array<float>, bucket long",
    )
    if probe_scope == "per_query":
        return bucketed_cosine_topk(
            pruned, query_vectors, per_q, k, meta["id_col"], meta["vec_col"],
            bucket_col="bucket",
        )
    if probe_scope != "union":
        raise ValueError(f"probe_scope must be per_query|union, got {probe_scope!r}")
    return brute_cosine_topk(
        pruned.select(meta["id_col"], meta["vec_col"]),
        query_vectors, k, meta["id_col"], meta["vec_col"],
    )


def append_lsh_index(embeddings: DataFrame, path: str) -> dict:
    """Append new vectors to an existing LSH index without a rebuild.

    The seeded planes come from the index meta, so appended rows land in
    exactly the buckets a full rebuild would produce — build(A) then
    append(B) is query-identical to build(A ∪ B). Parquet append into the
    bucket partitions; meta n_vectors updated atomically afterwards by
    adding the appended source's count (a killed append can leave rows the
    meta doesn't count — harmless for querying; rebuild to restore an
    exact meta).

    ANN analogue of the BM25 side's incremental segment ingest
    (streaming/incremental.py) — grow-only, no merge needed because
    bucket partitions are content-addressed, not ordered."""
    meta = read_ann_meta(path)
    if meta.get("kind") != "lsh":
        raise ValueError(f"index at {path} is kind={meta.get('kind')!r}, not lsh")
    # count the APPENDED source only (1:1 kernel): recounting the whole
    # index would re-list up to 2^nbits bucket directories per append
    n_new = embeddings.count()
    rows = _lsh_bucket_rows(
        embeddings, meta["dim"], meta["nbits"], meta["seed"],
        meta["id_col"], meta["vec_col"],
    )
    (
        rows.repartition(_partition_write_tasks(embeddings.sparkSession), "bucket")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )
    meta["n_vectors"] = meta["n_vectors"] + n_new
    _write_meta(path, meta)
    return meta


def append_ivf_index(embeddings: DataFrame, path: str) -> dict:
    """Append new vectors to an existing IVF index: route through the
    STORED centroids (the coarse quantizer is frozen at build time, the
    standard IVF contract — re-training would reshuffle existing cells),
    parquet append into the cell partitions, meta recounted."""
    meta = read_ann_meta(path)
    if meta.get("kind") != "ivf":
        raise ValueError(f"index at {path} is kind={meta.get('kind')!r}, not ivf")
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    dim = meta["dim"]
    spark = embeddings.sparkSession
    n_new = embeddings.count()  # 1:1 kernel — no full-index relisting below
    cent = np.array(meta["centroids"], dtype=np.float64)
    bc = spark.sparkContext.broadcast(cent)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            if mat.shape[1] != dim:
                raise ValueError(
                    f"embedding dim {mat.shape[1]} != index dim {dim}"
                )
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = (mat @ c.T).argmax(axis=1).astype("int32")
            yield out

    rows = embeddings.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, {vec_col} array<float>, cell int"
    )
    (
        rows.repartition(_partition_write_tasks(embeddings.sparkSession), "cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )
    meta["n_vectors"] = meta["n_vectors"] + n_new
    _write_meta(path, meta)
    return meta


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> dict:
    """Write an IVF index: parquet partitioned by ``cell``, centroids in
    meta (they ARE the trained model — unlike the LSH planes they cannot be
    re-derived from a seed alone, since k-means sees the data).

    The coarse quantizer trains on a seeded content-hash sample
    (seeded_vector_sample), not a head-of-corpus ``limit()`` slice: limit
    takes whatever partitions return first, which at 100 TB means one
    day's shard or one tenant trains every cell boundary. The hash sample
    is uniform over the whole corpus and invariant to partition layout."""
    spark = embeddings.sparkSession
    sample = seeded_vector_sample(embeddings, sample_size, id_col, vec_col, seed)
    smat = _normalize(np.array(sample[vec_col].tolist(), dtype=np.float64))
    cent = _kmeans(smat, n_centroids, seed=seed)
    bc = spark.sparkContext.broadcast(cent)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = (mat @ c.T).argmax(axis=1).astype("int32")
            yield out

    n_vectors = embeddings.count()  # 1:1 kernel — no post-write relisting
    rows = embeddings.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, {vec_col} array<float>, cell int"
    )
    (
        rows.repartition(_partition_write_tasks(embeddings.sparkSession), "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    meta = {
        "kind": "ivf",
        "n_centroids": int(len(cent)),
        "dim": int(cent.shape[1]),
        "seed": seed,
        "id_col": id_col,
        "vec_col": vec_col,
        "n_vectors": n_vectors,
        "centroids": cent.tolist(),
    }
    _write_meta(path, meta)
    return meta


def ivf_probe_cells_per_query(
    query_vectors: pd.DataFrame, meta: dict, nprobe: int
) -> dict[str, list[int]]:
    """Driver-side probe sets, one per query: the query's nprobe nearest
    centroid cells."""
    cent = np.array(meta["centroids"], dtype=np.float64)
    qmat = _normalize(np.array(query_vectors["embedding"].tolist(), dtype=np.float64))
    if qmat.shape[1] != cent.shape[1]:
        raise ValueError(
            f"query dim {qmat.shape[1]} != index dim {cent.shape[1]}"
        )
    order = (qmat @ cent.T).argsort(axis=1)[:, ::-1][:, :nprobe]
    return {
        qid: sorted(int(c) for c in row)
        for qid, row in zip(query_vectors["query_id"].tolist(), order)
    }


def ivf_probe_cells(query_vectors: pd.DataFrame, meta: dict, nprobe: int) -> list[int]:
    """Union of the per-query probe sets (what the pruned scan filters on)."""
    per_q = ivf_probe_cells_per_query(query_vectors, meta, nprobe)
    return sorted({c for cells in per_q.values() for c in cells})


def ivf_topk_from_index(
    spark: SparkSession,
    path: str,
    query_vectors: pd.DataFrame,
    k: int = 10,
    nprobe: int = 4,
    probe_scope: str = "per_query",
) -> DataFrame:
    """ANN top-k over a persisted IVF index: partition-pruned scan of the
    probed cells + exact cosine rerank. nprobe = n_centroids probes every
    cell (exact search, brute-force-oracle-checkable).

    probe_scope='per_query' (default): each query reranks only its own
    nprobe cells' vectors — served-batch work is Σ_q |cands_q| (see
    lsh_topk_from_index). 'union': every query scores the whole union
    candidate set — the small-batch/legacy shape."""
    meta = read_ann_meta(path)
    if meta.get("kind") != "ivf":
        raise ValueError(f"index at {path} is kind={meta.get('kind')!r}, not ivf")
    per_q = ivf_probe_cells_per_query(query_vectors, meta, nprobe)
    union = sorted({c for cells in per_q.values() for c in cells})
    # cell is the hive partition column → driver-side directory pruning
    # (see _read_probed_partitions)
    pruned = _read_probed_partitions(
        spark, path, "cell", union,
        f"{meta['id_col']} long, {meta['vec_col']} array<float>, cell int",
    )
    if probe_scope == "per_query":
        return bucketed_cosine_topk(
            pruned, query_vectors, per_q, k, meta["id_col"], meta["vec_col"],
            bucket_col="cell",
        )
    if probe_scope != "union":
        raise ValueError(f"probe_scope must be per_query|union, got {probe_scope!r}")
    return brute_cosine_topk(
        pruned.select(meta["id_col"], meta["vec_col"]),
        query_vectors, k, meta["id_col"], meta["vec_col"],
    )
