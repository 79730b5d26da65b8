"""Persisted ANN index: build-once/probe-many parity with the per-call
ANN paths, partition pruning through the probe filter, and meta guards.

Reference analogue: PISA holds the built impact index between queries
(efficient_splade_pisa/README.md:47-59); here the LSH/IVF artifacts play
that role for the embedding column."""
from __future__ import annotations

import threading

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from splade_spark.pipeline.ann_index import (
    _read_probed_partitions,
    build_ivf_index,
    build_lsh_index,
    ivf_topk_from_index,
    lsh_probe_buckets,
    lsh_topk_from_index,
    read_ann_meta,
)
from splade_spark.pipeline.similarity import ivf_cosine_topk, lsh_cosine_topk


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def qvecs(emb):
    pdf = emb.orderBy("vec_id").limit(3).toPandas()
    return pd.DataFrame(
        {
            "query_id": [f"v{r.vec_id}" for r in pdf.itertuples()],
            "embedding": pdf["embedding"].tolist(),
        }
    )


@pytest.fixture(scope="module")
def lsh_path(emb, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ann") / "lsh_idx")
    build_lsh_index(emb, p, nbits=10, dim=64)
    return p


@pytest.fixture(scope="module")
def ivf_path(emb, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ann") / "ivf_idx")
    # sample_size >= corpus so the trained centroids are row-order-proof
    # identical to ivf_cosine_topk's (limit on an unordered source)
    build_ivf_index(emb, p, n_centroids=8, sample_size=100_000)
    return p


def _key(rows):
    return sorted(
        (r.query_id, r.rank, r.vec_id, round(r.cosine, 9)) for r in rows
    )


def test_lsh_served_matches_per_call(spark, emb, qvecs, lsh_path):
    """probe_scope='union' reproduces the per-call batch exactly (same
    union probe set, same rerank math); the default per_query scope must
    equal running each query ALONE through the per-call path — each query
    sees only its own probe buckets, by construction."""
    served_union = lsh_topk_from_index(
        spark, lsh_path, qvecs, k=5, multiprobe_bits=1, probe_scope="union"
    )
    percall = lsh_cosine_topk(emb, qvecs, k=5, nbits=10)
    assert _key(served_union.collect()) == _key(percall.collect())

    served_pq = lsh_topk_from_index(spark, lsh_path, qvecs, k=5, multiprobe_bits=1)
    singles = []
    for i in range(len(qvecs)):
        one = qvecs.iloc[[i]].reset_index(drop=True)
        singles.extend(lsh_cosine_topk(emb, one, k=5, nbits=10).collect())
    assert _key(served_pq.collect()) == _key(singles)


def test_lsh_meta_roundtrip(lsh_path, emb):
    meta = read_ann_meta(lsh_path)
    assert meta["kind"] == "lsh" and meta["nbits"] == 10 and meta["dim"] == 64
    assert meta["n_vectors"] == emb.count()


def test_lsh_partition_pruning(spark, lsh_path, qvecs):
    """The probe filter must land in PartitionFilters (directory-level
    skip), and the probed-file set must be a strict subset of the index."""
    meta = read_ann_meta(lsh_path)
    probes = lsh_probe_buckets(qvecs, meta, multiprobe_bits=1)
    idx = spark.read.parquet(lsh_path)
    filtered = idx.filter(F.col("bucket").isin(probes))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    n_buckets = idx.select("bucket").distinct().count()
    assert len(probes) < n_buckets  # probing is selective on this corpus
    got_buckets = {r.bucket for r in filtered.select("bucket").distinct().collect()}
    assert got_buckets <= set(probes)


def test_probe_conf_restored_under_concurrent_reads(spark, tmp_path, monkeypatch):
    """Two serving threads probing at once must leave the session-global
    discovery threshold as they found it. The patched reader forces the
    racy order: the second probe enters its read while the first holds
    the override, and restores after the first has restored."""
    (tmp_path / "bucket=1").mkdir()
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    original = spark.conf.get(key)
    first_in_read = threading.Event()
    second_in_read = threading.Event()
    first_done = threading.Event()
    callers = []

    def fake_parquet(self, *paths):
        callers.append(threading.current_thread().name)
        if threading.current_thread().name == "first":
            first_in_read.set()
            # bounded: with the lock the second probe cannot enter yet
            second_in_read.wait(timeout=2)
        else:
            second_in_read.set()
            first_done.wait(timeout=30)
        return None

    monkeypatch.setattr(DataFrameReader, "parquet", fake_parquet)
    errors = []

    def probe():
        try:
            _read_probed_partitions(spark, str(tmp_path), "bucket", [1], "x long")
        except Exception as e:  # surfaced by the main thread
            errors.append(e)

    first = threading.Thread(target=probe, name="first")
    second = threading.Thread(target=probe, name="second")
    try:
        first.start()
        assert first_in_read.wait(timeout=30)
        second.start()
        first.join(timeout=60)
        first_done.set()
        second.join(timeout=60)
        final = spark.conf.get(key)
    finally:
        spark.conf.set(key, original)
    assert not first.is_alive() and not second.is_alive()
    assert not errors and sorted(callers) == ["first", "second"]
    assert final == original


@pytest.fixture(scope="module")
def wide_index(spark, tmp_path_factory):
    """A hive-partitioned index with 200 populated bucket directories."""
    p = str(tmp_path_factory.mktemp("ann") / "wide_idx")
    rows = spark.range(0, 1000).withColumn("bucket", F.col("id") % 200)
    rows.repartition(4, "bucket").write.partitionBy("bucket").parquet(p)
    everything = {(r.id, r.bucket) for r in spark.read.parquet(p).collect()}
    return p, everything


def _probed_read(spark, monkeypatch, path, probes):
    """_read_probed_partitions' rows, the paths it handed the reader and
    its optimized plan."""
    seen = []
    original = DataFrameReader.parquet

    def spy(self, *paths):
        seen.append(paths)
        return original(self, *paths)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    df = _read_probed_partitions(spark, path, "bucket", probes, "id long, bucket int")
    rows = {(r.id, r.bucket) for r in df.select("id", "bucket").collect()}
    return rows, seen, df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "case, probes",
    [
        ("non-listable root", [3, 7, 150, 999]),
        ("over half probed", list(range(120))),  # 120 of 200 buckets, <= 128 probes
        ("over 128 probes", list(range(150)) + [5000]),
    ],
)
def test_probed_read_fallbacks_equal_filtered_full_read(spark, monkeypatch, wide_index,
                                                        case, probes):
    """Each fallback of _read_probed_partitions (full read + isin, full
    read + broadcast semi-join) returns exactly the full read filtered by
    key in probes, and the branch taken is the one named."""
    path, everything = wide_index
    root = "file://" + path if case == "non-listable root" else path
    got, seen, plan = _probed_read(spark, monkeypatch, root, probes)
    assert got == {(i, b) for i, b in everything if b in set(probes)} and got
    assert seen == [(root,)], seen  # one full read, no per-directory paths
    assert ("LeftSemi" in plan) == (len(probes) > 128), plan


def test_probed_read_subset_lists_only_hits(spark, monkeypatch, wide_index):
    """Under the thresholds the reader gets only the probed directories."""
    path, everything = wide_index
    got, seen, _ = _probed_read(spark, monkeypatch, path, [4, 9, 4000])
    assert got == {(i, b) for i, b in everything if b in (4, 9)}
    assert [sorted(p.rsplit("/", 1)[1] for p in seen[0])] == [["bucket=4", "bucket=9"]]


def test_lsh_multiprobe2_superset(spark, lsh_path, qvecs):
    meta = read_ann_meta(lsh_path)
    p1 = set(lsh_probe_buckets(qvecs, meta, multiprobe_bits=1))
    p2 = set(lsh_probe_buckets(qvecs, meta, multiprobe_bits=2))
    p0 = set(lsh_probe_buckets(qvecs, meta, multiprobe_bits=0))
    assert p0 <= p1 <= p2 and len(p2) > len(p1) > len(p0)


def test_lsh_dim_mismatch_raises(spark, lsh_path):
    bad = pd.DataFrame({"query_id": ["q0"], "embedding": [[0.0] * 32]})
    with pytest.raises(ValueError, match="dim 32 != index dim 64"):
        lsh_topk_from_index(spark, lsh_path, bad, k=5)


def test_kind_guard(spark, lsh_path, ivf_path, qvecs):
    with pytest.raises(ValueError, match="not ivf"):
        ivf_topk_from_index(spark, lsh_path, qvecs, k=5)
    with pytest.raises(ValueError, match="not lsh"):
        lsh_topk_from_index(spark, ivf_path, qvecs, k=5)


def test_ivf_served_matches_per_call(spark, emb, qvecs, ivf_path):
    served = ivf_topk_from_index(
        spark, ivf_path, qvecs, k=5, nprobe=3, probe_scope="union"
    )
    percall = ivf_cosine_topk(
        emb, qvecs, k=5, n_centroids=8, nprobe=3, sample_size=100_000
    )
    assert _key(served.collect()) == _key(percall.collect())

    served_pq = ivf_topk_from_index(spark, ivf_path, qvecs, k=5, nprobe=3)
    singles = []
    for i in range(len(qvecs)):
        one = qvecs.iloc[[i]].reset_index(drop=True)
        singles.extend(
            ivf_cosine_topk(
                emb, one, k=5, n_centroids=8, nprobe=3, sample_size=100_000
            ).collect()
        )
    assert _key(served_pq.collect()) == _key(singles)


def test_ivf_training_sample_partition_invariant(spark, emb):
    """The coarse quantizer must not depend on input partition layout: the
    content-hash sample (seeded_vector_sample) picks the same rows whether
    the corpus arrives as 1 partition or hash-partitioned into 7 — unlike
    limit()/df.sample(), both of which are layout-dependent."""
    from splade_spark.pipeline.similarity import seeded_vector_sample

    a = seeded_vector_sample(emb.coalesce(1), 40)
    b = seeded_vector_sample(emb.repartition(7, "vec_id"), 40)
    assert a["vec_id"].tolist() == b["vec_id"].tolist()
    assert a["embedding"].map(tuple).tolist() == b["embedding"].map(tuple).tolist()
    # and it is a genuine subset, not a head slice
    assert len(a) == 40
    assert a["vec_id"].tolist() != sorted(
        emb.select("vec_id").toPandas()["vec_id"]
    )[:40]


def test_ivf_full_probe_is_exact(spark, emb, qvecs, ivf_path):
    """nprobe = n_centroids scans every cell → exact brute-force result."""
    got = ivf_topk_from_index(spark, ivf_path, qvecs, k=5, nprobe=8).collect()
    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    q = np.array(qvecs["embedding"].tolist(), dtype=np.float64)
    q = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = mat @ q.T
    for qi, qid in enumerate(qvecs["query_id"]):
        order = np.lexsort((ids, -sims[:, qi]))[:5]
        expected = [
            (int(ids[j]), round(float(sims[j, qi]), 9)) for j in order
        ]
        mine = [
            (r.vec_id, round(r.cosine, 9))
            for r in sorted(
                (x for x in got if x.query_id == qid), key=lambda x: x.rank
            )
        ]
        assert mine == expected


def test_ivf_meta_carries_centroids(ivf_path):
    meta = read_ann_meta(ivf_path)
    cent = np.array(meta["centroids"])
    assert meta["kind"] == "ivf" and cent.shape == (8, 64)
    # centroids are unit-normalized (cosine routing)
    np.testing.assert_allclose(np.linalg.norm(cent, axis=1), 1.0, rtol=1e-9)


def test_ivf_cells_cover_corpus(spark, ivf_path, emb):
    """Every vector landed in exactly one cell partition; no loss, no dup."""
    idx = spark.read.parquet(ivf_path)
    assert idx.count() == emb.count()
    assert idx.select("vec_id").distinct().count() == emb.count()
    cells = {r.cell for r in idx.select("cell").distinct().collect()}
    assert cells <= set(range(8)) and len(cells) > 1


def test_cli_ann_build_query(spark, emb, qvecs, tmp_path):
    """ann-build → ann-query through the CLI surface, both kinds; the LSH
    CLI result must equal the library served path at the same config."""
    from splade_spark.cli import main

    qdir = str(tmp_path / "q")
    spark.createDataFrame(
        qvecs, "query_id string, embedding array<float>"
    ).write.parquet(qdir)
    for kind, extra in (("lsh", ["--nbits", "10"]), ("ivf", ["--centroids", "8"])):
        idir = str(tmp_path / f"cli_{kind}")
        rdir = str(tmp_path / f"res_{kind}")
        assert main(
            ["ann-build", "--embeddings",
             "/root/testdata/sf0.001/embeddings.parquet",
             "--index", idir, "--kind", kind, *extra]
        ) == 0
        assert main(
            ["ann-query", "--index", idir, "--queries", qdir,
             "--out", rdir, "--k", "5", "--nprobe", "8"]
        ) == 0
        res = spark.read.parquet(rdir)
        # per-query probing can surface fewer than k candidates for a
        # query whose own buckets are sparse — never more than k per query
        assert 0 < res.count() <= 15 and res.filter("rank > 5").count() == 0
        per_q = res.groupBy("query_id").count().collect()
        assert len(per_q) == 3 and all(r["count"] <= 5 for r in per_q)
    cli_lsh = spark.read.parquet(str(tmp_path / "res_lsh"))
    lib = lsh_topk_from_index(
        spark, str(tmp_path / "cli_lsh"), qvecs, k=5, multiprobe_bits=1
    )
    assert _key(cli_lsh.collect()) == _key(lib.collect())


def test_lsh_append_equals_rebuild(spark, emb, qvecs, tmp_path):
    """build(A) + append(B) must be query-identical to build(A ∪ B): the
    appended rows use the meta's seeded planes, so bucket placement and
    the probe-time candidate set match a full rebuild exactly."""
    from splade_spark.pipeline.ann_index import append_lsh_index

    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_lsh_index(half_a, inc, nbits=10, dim=64)
    meta = append_lsh_index(half_b, inc)
    assert meta["n_vectors"] == emb.count()
    build_lsh_index(emb, full, nbits=10, dim=64)
    got = lsh_topk_from_index(spark, inc, qvecs, k=5)
    exp = lsh_topk_from_index(spark, full, qvecs, k=5)
    assert _key(got.collect()) == _key(exp.collect())
    # bucket contents identical, not just query results
    ib = spark.read.parquet(inc).select("vec_id", "bucket")
    fb = spark.read.parquet(full).select("vec_id", "bucket")
    assert sorted(map(tuple, ib.collect())) == sorted(map(tuple, fb.collect()))


def test_ivf_append_routes_through_stored_centroids(spark, emb, qvecs, tmp_path):
    """Append routes through the frozen build-time quantizer: appended
    vectors land in the cell the stored centroids choose, and a full-probe
    query over the grown index is exact over the union."""
    from splade_spark.pipeline.ann_index import append_ivf_index

    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")
    inc = str(tmp_path / "ivf_inc")
    build_ivf_index(half_a, inc, n_centroids=8, sample_size=100_000)
    cent_before = read_ann_meta(inc)["centroids"]
    meta = append_ivf_index(half_b, inc)
    assert meta["n_vectors"] == emb.count()
    assert meta["centroids"] == cent_before  # quantizer frozen
    got = ivf_topk_from_index(spark, inc, qvecs, k=5, nprobe=8).collect()
    exp = brute_expected(emb, qvecs, k=5)
    assert _key(got) == exp


def brute_expected(emb, qvecs, k):
    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    q = np.array(qvecs["embedding"].tolist(), dtype=np.float64)
    q = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = mat @ q.T
    out = []
    for qi, qid in enumerate(qvecs["query_id"]):
        order = np.lexsort((ids, -sims[:, qi]))[:k]
        for rank, j in enumerate(order, 1):
            out.append((qid, rank, int(ids[j]), round(float(sims[j, qi]), 9)))
    return sorted(out)


def test_append_kind_guard(spark, lsh_path, ivf_path, emb):
    from splade_spark.pipeline.ann_index import append_ivf_index, append_lsh_index

    with pytest.raises(ValueError, match="not ivf"):
        append_ivf_index(emb, lsh_path)
    with pytest.raises(ValueError, match="not lsh"):
        append_lsh_index(emb, ivf_path)
