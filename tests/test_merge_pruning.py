from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from splade_spark.bm25 import bm25_topk, bm25_weights, quantization_scale, quantize
from splade_spark.fixtures import queries_df
from splade_spark.index.build import build_index, load_postings
from splade_spark.index.merge import merge_indexes, tiered_merge_plan
from splade_spark.pruning import prune_by_value, prune_doc_topk, prune_quantile
from splade_spark.query.wand import retrieve
from splade_spark.stats import corpus_stats
from splade_spark.tokenize import query_term_freqs, term_freqs


@pytest.fixture(scope="module")
def corpus(spark, tiny_documents):
    tf = term_freqs(tiny_documents).cache()
    n, avgdl = corpus_stats(tf)
    w = bm25_weights(tf, n, avgdl).cache()
    return tf, w, quantization_scale(w)


@pytest.mark.parametrize("codec,bits", [
    ("varint", 8), ("varint", 16), ("for", 8), ("for", 16),
])
def test_segment_merge_equals_full_build(spark, corpus, tmp_path, codec, bits):
    """Two doc-disjoint segments merged == index built over the union, for
    every posting codec and weight width (each drives its own decode
    branch of the merge)."""
    tf, w, _ = corpus
    scale = quantization_scale(w, bits)
    seg_a = w.filter(F.col("doc_id") < 50)
    seg_b = w.filter(F.col("doc_id") >= 50)
    pa, pb, pm, pf = (str(tmp_path / x) for x in ["a", "b", "m", "full"])
    for src, path in ((seg_a, pa), (seg_b, pb), (w, pf)):
        build_index(src, path, scale, num_shards=4, bits=bits, codec=codec)
    merge_indexes(spark, [pa, pb], pm)

    # strongest form: the merged index is BLOCK-identical to the
    # from-scratch build (same blocking, same bytes), not just
    # query-equivalent — re-encode round-trips quantized values exactly
    m, f = load_postings(spark, pm), load_postings(spark, pf)
    assert m.exceptAll(f).count() == 0 and f.exceptAll(m).count() == 0

    qt = query_term_freqs(queries_df(spark)).cache()
    res_m = retrieve(
        load_postings(spark, pm), qt, scale, k=20, bits=bits, codec=codec
    )
    res_f = retrieve(
        load_postings(spark, pf), qt, scale, k=20, bits=bits, codec=codec
    )
    assert sorted(map(tuple, res_m.collect())) == sorted(map(tuple, res_f.collect()))

    # merged blocks remain docID-sorted / non-overlapping per (shard, term)
    p = load_postings(spark, pm)
    viol = (
        p.withColumn(
            "prev_last",
            F.lag("last_doc").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("shard_id", "term_id")
                .orderBy("block_id")
            ),
        )
        .filter(F.col("prev_last") >= F.col("first_doc"))
        .count()
    )
    assert viol == 0


def test_tiered_merge_plan():
    assert tiered_merge_plan([1, 2, 3, 2, 100], fanout=4) == [[0, 1, 2, 3]]
    assert tiered_merge_plan([100, 200], fanout=4) == []
    # exact powers of the fanout must classify into THEIR tier: float
    # math.log put fanout**t a tier low (int(log(3**5, 3)) == 4), grouping
    # a fresh 243-doc merge with the 81-class and re-merging it prematurely
    assert tiered_merge_plan([3**5] * 3 + [3**4] * 2, fanout=3) == [[0, 1, 2]]
    assert tiered_merge_plan([4**3] * 4, fanout=4) == [[0, 1, 2, 3]]
    assert tiered_merge_plan([4**3] * 3 + [4**2], fanout=4) == []


def test_prune_by_value(spark, corpus):
    _, w, _ = corpus
    v = 2.0
    pruned = prune_by_value(w, v)
    assert pruned.filter(F.col("weight") <= v).count() == 0
    assert pruned.count() < w.count()


def test_prune_doc_topk(spark, corpus):
    _, w, _ = corpus
    pruned = prune_doc_topk(w, 10)
    mx = pruned.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert mx <= 10
    # kept terms are each doc's heaviest
    one = pruned.filter(F.col("doc_id") == 0).orderBy(F.col("weight").desc()).collect()
    all_w = sorted(
        [r.weight for r in w.filter(F.col("doc_id") == 0).collect()], reverse=True
    )
    assert sorted([r.weight for r in one], reverse=True) == all_w[: len(one)]


def test_prune_quantile_vs_duckdb(spark, corpus):
    import duckdb

    _, w, _ = corpus
    pdf = w.select("term_id", "doc_id", "weight").toPandas()
    got = prune_quantile(w, 0.5, exact=True).count()
    con = duckdb.connect()
    con.register("w", pdf)
    exp = con.execute(
        """WITH th AS (SELECT term_id, quantile_cont(weight, 0.5) t FROM w GROUP BY 1)
           SELECT count(*) FROM w JOIN th USING(term_id) WHERE weight > t"""
    ).fetchone()[0]
    assert got == exp


def test_merge_rejects_overlapping_docid_ranges(spark, corpus, tmp_path):
    """Two independent builds that both start doc ids at 0 would alias
    different documents: the merge must refuse them before writing."""
    import os

    tf, w, scale = corpus
    pa, pb, pm = (str(tmp_path / x) for x in ["a", "b", "m"])
    build_index(w.filter(F.col("doc_id") < 50), pa, scale, num_shards=4)
    build_index(w.filter(F.col("doc_id") < 30), pb, scale, num_shards=4)
    with pytest.raises(ValueError, match="segment docID ranges overlap"):
        merge_indexes(spark, [pa, pb], pm)
    assert not os.path.exists(pm)


def test_merge_skips_empty_segment(spark, corpus, tmp_path):
    """An empty segment has no docID range; it takes no part in the
    overlap check and the merge equals the merge without it."""
    tf, w, scale = corpus
    pa, pe, pb, pm, pr = (str(tmp_path / x) for x in ["a", "e", "b", "m", "r"])
    build_index(w.filter(F.col("doc_id") < 50), pa, scale, num_shards=4)
    build_index(w.filter(F.lit(False)), pe, scale, num_shards=4)
    build_index(w.filter(F.col("doc_id") >= 50), pb, scale, num_shards=4)
    merge_indexes(spark, [pe, pa, pb], pm)
    merge_indexes(spark, [pa, pb], pr)
    m, r = load_postings(spark, pm), load_postings(spark, pr)
    assert m.count() > 0
    assert m.exceptAll(r).count() == 0 and r.exceptAll(m).count() == 0


def test_merge_killed_before_meta_is_rerunnable(spark, corpus, tmp_path):
    """A merge killed between the postings write and the meta write leaves
    an index the query path cannot open; re-running the merge must be
    idempotent (dynamic partition overwrite) and publish a complete,
    openable index identical to an uninterrupted merge."""
    import os

    from splade_spark.index.build import read_index_meta

    tf, w, scale = corpus
    seg_a = w.filter(F.col("doc_id") < 50)
    seg_b = w.filter(F.col("doc_id") >= 50)
    pa, pb, pm = (str(tmp_path / x) for x in ["a", "b", "m"])
    build_index(seg_a, pa, scale, num_shards=4)
    build_index(seg_b, pb, scale, num_shards=4)
    merge_indexes(spark, [pa, pb], pm)
    before = sorted(map(tuple, load_postings(spark, pm).collect()))
    # simulate the kill: postings are on disk, meta never landed
    os.remove(os.path.join(pm, "_index_meta.json"))
    with pytest.raises(FileNotFoundError):
        read_index_meta(pm)
    merge_indexes(spark, [pa, pb], pm)  # re-run = resume
    meta = read_index_meta(pm)
    assert meta["num_shards"] == 4 and meta["scale"] == scale
    after = sorted(map(tuple, load_postings(spark, pm).collect()))
    assert before == after


def test_segment_union_query_order_invariant(spark, corpus, tmp_path):
    """Querying a base ∪ segment union (the pre-merge incremental serving
    path) must not depend on the physical order of the unioned block rows:
    each (shard, term) carries one block run PER SEGMENT, each run's
    block_id restarting at 0, so the kernel must arrange blocks by
    first_doc, not block_id. Regression: with segment-B rows physically
    before segment-A rows in one pre-partitioned partition, a block_id
    sort interleaved the runs, broke the sorted-firsts invariant behind
    the interval→block searchsorted, and silently dropped segment-A
    postings from the scores."""
    import pandas as pd

    tf, w, scale = corpus
    pa, pb, pf = (str(tmp_path / x) for x in ["ua", "ub", "ufull"])
    build_index(w.filter(F.col("doc_id") < 50), pa, scale, num_shards=2)
    build_index(w.filter(F.col("doc_id") >= 50), pb, scale, num_shards=2)
    build_index(w, pf, scale, num_shards=2)
    qt = query_term_freqs(queries_df(spark)).cache()
    expected = sorted(
        map(
            tuple,
            retrieve(
                load_postings(spark, pf), qt, scale, k=20, num_shards=2
            ).collect(),
        )
    )
    schema = load_postings(spark, pa).schema
    adversarial = pd.concat(
        [load_postings(spark, pb).toPandas(), load_postings(spark, pa).toPandas()],
        ignore_index=True,
    )
    un = spark.createDataFrame(adversarial, schema=schema).coalesce(1)
    got = sorted(
        map(
            tuple,
            retrieve(
                un, qt, scale, k=20, num_shards=2, prepartitioned=True
            ).collect(),
        )
    )
    assert got == expected
