from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from splade_spark.bm25 import bm25_topk, bm25_weights, quantization_scale, quantize
from splade_spark.fixtures import queries_df
from splade_spark.index.build import (
    build_index,
    index_dist_from_postings,
    load_postings,
    read_index_meta,
    read_ledger,
)
from splade_spark.query.wand import retrieve
from splade_spark.stats import corpus_stats, index_dist
from splade_spark.tokenize import query_term_freqs, term_freqs


@pytest.fixture(scope="module")
def corpus(spark, tiny_documents):
    tf = term_freqs(tiny_documents).cache()
    n, avgdl = corpus_stats(tf)
    w = bm25_weights(tf, n, avgdl).cache()
    scale = quantization_scale(w)
    return tf, w, scale


def test_resume_repairs_missing_meta(spark, corpus, tmp_path):
    """A build killed between the last ledger write and the meta write
    leaves an index the query path can't open; re-running with resume=True
    (pending empty) must re-emit _index_meta.json."""
    import os

    _, w, scale = corpus
    path = str(tmp_path / "idx")
    build_index(w, path, scale, num_shards=4)
    os.remove(os.path.join(path, "_index_meta.json"))
    m = build_index(w, path, scale, num_shards=4, resume=True)
    assert m["built_shards"] == 0  # nothing rebuilt — repair only
    assert read_index_meta(path)["scale"] == scale


def test_resume_rejects_mismatched_codec(spark, corpus, tmp_path):
    """Continuing a killed --codec for build with default flags would
    produce a silently mixed-codec index; the resume path must refuse."""
    import os

    _, w, scale = corpus
    path = str(tmp_path / "idx")
    build_index(w, path, scale, num_shards=4, codec="for")
    # drop one ledger entry to simulate a kill mid-build
    ledger = sorted(
        f for f in os.listdir(os.path.join(path, "_ledger"))
        if f.endswith(".json")
    )
    os.remove(os.path.join(path, "_ledger", ledger[0]))
    with pytest.raises(ValueError, match="resume parameter mismatch"):
        build_index(w, path, scale, num_shards=4)  # codec defaults to varint
    # matching flags resume fine
    m = build_index(w, path, scale, num_shards=4, codec="for")
    assert m["built_shards"] == 1 and m["skipped_shards"] == 3


def test_for_codec_build_query_identity(spark, corpus, tmp_path):
    """FOR-bitpacked index answers rank- and score-identically to the
    varint index (same quantized domain, different delta encoding)."""
    _, w, scale = corpus
    pv, pf = str(tmp_path / "v"), str(tmp_path / "f")
    build_index(w, pv, scale, num_shards=4, codec="varint")
    build_index(w, pf, scale, num_shards=4, codec="for")
    assert read_index_meta(pf)["codec"] == "for"
    qt = query_term_freqs(queries_df(spark))
    rv = retrieve(load_postings(spark, pv), qt, scale, k=20, num_shards=4,
                  codec="varint")
    rf = retrieve(load_postings(spark, pf), qt, scale, k=20, num_shards=4,
                  codec="for")
    assert sorted(map(tuple, rv.collect())) == sorted(map(tuple, rf.collect()))


def test_build_and_ledger(spark, corpus, tmp_path):
    tf, w, scale = corpus
    path = str(tmp_path / "idx")
    m = build_index(w, path, scale, num_shards=8, lineage={"src": "tiny"})
    assert m["built_shards"] == 8 and m["skipped_shards"] == 0
    assert m["postings"] == w.count()
    ledger = read_ledger(path)
    assert set(ledger) == set(range(8))
    assert all(e["lineage"]["src"] == "tiny" for e in ledger.values())
    assert read_index_meta(path)["scale"] == scale

    # resume: no work left
    m2 = build_index(w, path, scale, num_shards=8)
    assert m2["built_shards"] == 0 and m2["skipped_shards"] == 8

    # kill/resume: drop 3 shards' ledger entries + data, rebuild only those
    import os

    for s in [1, 4, 6]:
        os.remove(os.path.join(path, "_ledger", f"shard-{s:05d}.json"))
        shutil.rmtree(os.path.join(path, f"shard_id={s}"))
    m3 = build_index(w, path, scale, num_shards=8)
    assert m3["built_shards"] == 3 and m3["skipped_shards"] == 5
    postings = load_postings(spark, path)
    assert postings.groupBy().agg(F.sum("n")).collect()[0][0] == w.count()

    # index_dist parity: postings-derived == term_freqs-derived
    a = {r.term_id: r.posting_len for r in index_dist_from_postings(postings).collect()}
    b = {r.term_id: r.posting_len for r in index_dist(tf).collect()}
    assert a == b

    # docID-sorted within term: blocks non-overlapping ascending
    bad = (
        postings.groupBy("shard_id", "term_id")
        .agg(
            F.count("*").alias("nb"),
            F.expr(
                "sum(case when last_doc < first_doc then 1 else 0 end)"
            ).alias("inverted"),
        )
        .filter(F.col("inverted") > 0)
        .count()
    )
    assert bad == 0


def test_engine_rank_identical_to_oracle(spark, corpus, tmp_path):
    """The core invariant: block-compressed BMW engine == quantized
    DataFrame oracle, exactly (ranks and scores), on the fixture query set."""
    tf, w, scale = corpus
    path = str(tmp_path / "idx2")
    build_index(w, path, scale, num_shards=8)
    postings = load_postings(spark, path).cache()
    qt = query_term_freqs(queries_df(spark)).cache()

    for k, threshold in [(10, 0.0), (100, 0.0), (5, 2.0)]:
        oracle = bm25_topk(quantize(w, scale), qt, k=k, threshold=threshold, scale=scale)
        engine = retrieve(postings, qt, scale, k=k, threshold=threshold)
        o = [
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in oracle.orderBy("query_id", "rank").collect()
        ]
        e = [
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in engine.orderBy("query_id", "rank").collect()
        ]
        assert o == e, f"mismatch at k={k} threshold={threshold}"


def test_empty_corpus_build_and_query(spark, tmp_path):
    """Empty input: build succeeds (0-posting index + full ledger), resume
    is a no-op, and retrieval returns no rows without error."""
    import pandas as pd

    empty_w = spark.createDataFrame([], "doc_id long, term_id long, weight double")
    path = str(tmp_path / "empty_idx")
    m = build_index(empty_w, path, scale=10.0, num_shards=4)
    assert m["built_shards"] == 4 and m["postings"] == 0
    postings = load_postings(spark, path)
    assert postings.count() == 0
    qt = pd.DataFrame({"query_id": ["q1"], "term_id": [123], "qtf": [1]})
    assert retrieve(postings, qt, 10.0, k=5, num_shards=4).count() == 0
    m2 = build_index(empty_w, path, scale=10.0, num_shards=4)
    assert m2["skipped_shards"] == 4


def test_engine_pruned_equals_exact(spark, corpus, tmp_path):
    tf, w, scale = corpus
    path = str(tmp_path / "idx3")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path).cache()
    qt = query_term_freqs(queries_df(spark))
    pruned = retrieve(postings, qt, scale, k=20, prune=True)
    exact = retrieve(postings, qt, scale, k=20, prune=False)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, exact.collect()))


def test_driver_merge_equals_window_merge(spark, corpus, tmp_path):
    """The serving path (per-shard top-k collected + merged on the driver)
    must be result-identical to the distributed window merge — both order
    by (score_int desc, doc_id asc) over the same shard-local scores."""
    _, w, scale = corpus
    path = str(tmp_path / "idx_dm")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path).cache()
    qt = query_term_freqs(queries_df(spark))
    win = retrieve(postings, qt, scale, k=15, num_shards=4, merge="window")
    drv = retrieve(postings, qt, scale, k=15, num_shards=4, merge="driver")
    key = lambda r: (r.query_id, r.rank, r.doc_id, round(r.score, 9))  # noqa: E731
    assert sorted(map(key, win.collect())) == sorted(map(key, drv.collect()))
    # warm-serving variant: pre-shuffled postings, no per-query shuffle
    from splade_spark.query.wand import prepare_serving

    serving = prepare_serving(postings, 4).cache()
    srv = retrieve(
        serving, qt, scale, k=15, num_shards=4,
        merge="driver", prepartitioned=True,
    )
    assert sorted(map(key, win.collect())) == sorted(map(key, srv.collect()))
    # serving defaults to ONE task wave (latency path); explicit partitions
    # override for batch-heavy serving frames
    par = spark.sparkContext.defaultParallelism
    assert serving.rdd.getNumPartitions() == max(4, par)
    assert prepare_serving(postings, 4, partitions=16).rdd.getNumPartitions() == 16
    serving.unpersist()
    # same column names and types (nullability differs: createDataFrame
    # marks driver-built columns nullable)
    assert [(f.name, f.dataType) for f in win.schema] == [
        (f.name, f.dataType) for f in drv.schema
    ]
    # merge='auto' (the default): small batch resolves to the driver path
    # (results identical either way; the plan check is that it doesn't
    # throw and matches), an unknown shard count is discovered first so the
    # collect stays bounded, and an over-bound k×shards product falls back
    # to window
    aut = retrieve(postings, qt, scale, k=15, num_shards=4, merge="auto")
    assert sorted(map(key, win.collect())) == sorted(map(key, aut.collect()))
    found = retrieve(postings, qt, scale, k=15)
    assert sorted(map(key, win.collect())) == sorted(map(key, found.collect()))
    from splade_spark.query import wand as _wand

    old = _wand.DRIVER_MERGE_MAX_ROWS
    try:
        _wand.DRIVER_MERGE_MAX_ROWS = 1  # force the window fallback
        big = retrieve(postings, qt, scale, k=15, num_shards=4, merge="auto")
        assert sorted(map(key, win.collect())) == sorted(map(key, big.collect()))
    finally:
        _wand.DRIVER_MERGE_MAX_ROWS = old


def test_retrieve_local_pandas_distributed_terms_identical(spark, corpus, tmp_path):
    """retrieve reads local query terms by collect, a pandas frame as is,
    and any other frame by toPandas: the rows must not depend on which."""
    _, w, scale = corpus
    path = str(tmp_path / "idx_qt")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path).cache()
    local = query_term_freqs(queries_df(spark))
    dist = query_term_freqs(queries_df(spark).repartition(2))
    assert local.isLocal() and not dist.isLocal()
    key = lambda r: (r.query_id, r.rank, r.doc_id, r.score)  # noqa: E731
    for merge in ("driver", "window"):
        runs = [
            sorted(map(key, retrieve(postings, qt, scale, k=10, num_shards=4,
                                     merge=merge).collect()))
            for qt in (local, local.toPandas(), dist)
        ]
        assert runs[0] and runs[0] == runs[1] == runs[2]
    postings.unpersist()


def test_warm_serving_call_runs_one_job(spark, corpus, tmp_path, spark_jobs):
    """A warm single-query call — query_term_freqs on a pandas-built frame,
    retrieve on prepare_serving postings with the driver merge, collect —
    runs exactly one Spark job (the kernel stage), whether the query
    scores, is out of vocabulary, or tokenizes to nothing."""
    import pandas as pd

    from splade_spark.query.wand import prepare_serving

    _, w, scale = corpus
    path = str(tmp_path / "idx_warm")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path)
    serving = prepare_serving(postings, 4).cache()
    serving.count()
    normal = queries_df(spark).toPandas()["text"].iloc[0]

    def call(text):
        q = spark.createDataFrame(pd.DataFrame({"query_id": ["q"], "text": [text]}))
        res = retrieve(serving, query_term_freqs(q), scale, k=10, num_shards=4,
                       merge="driver", prepartitioned=True)
        return res.collect()

    for text, scores in ((normal, True), ("zzzunknownterm", False), ("!!! ???", False)):
        call(text)  # warm
        rows, jobs = spark_jobs(lambda: call(text))
        assert jobs == 1, (text, jobs)
        assert bool(rows) == scores
    serving.unpersist()


def test_explicit_driver_merge_guarded(spark, corpus, tmp_path):
    """merge='driver' honors the auto-mode collect bound: a batch whose
    n_queries x k x num_shards exceeds DRIVER_MERGE_MAX_ROWS raises, with
    num_shards passed or discovered; auto falls back to the window merge."""
    import pandas as pd
    import pytest as _pytest

    from splade_spark.query import wand as wand_mod

    _, w, scale = corpus
    path = str(tmp_path / "idx_guard")
    build_index(w, path, scale, num_shards=4)
    postings = load_postings(spark, path).cache()
    qt = pd.DataFrame(
        {"query_id": ["q1", "q2"], "term_id": [1, 2], "qtf": [1, 1]}
    )
    old = wand_mod.DRIVER_MERGE_MAX_ROWS
    # 2 queries x 5 x (>= 1 shard) >= 10 > 9, whatever shard count the
    # term-filtered postings reveal
    wand_mod.DRIVER_MERGE_MAX_ROWS = 9
    try:
        for num_shards in (4, None):
            with _pytest.raises(ValueError, match="DRIVER_MERGE_MAX_ROWS"):
                retrieve(postings, qt, scale, k=5, num_shards=num_shards,
                         merge="driver")
            fallback = retrieve(postings, qt, scale, k=5, num_shards=num_shards)
            plan = fallback._jdf.queryExecution().optimizedPlan().toString()
            assert "Window" in plan
            fallback.count()
    finally:
        wand_mod.DRIVER_MERGE_MAX_ROWS = old
