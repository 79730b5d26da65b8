#!/usr/bin/env python3
"""Round-6 optimization harness (bench.py is FROZEN for measurement — this
file carries the per-query isolation runs, guide §1.4 noop-sink timing and
the .explain("formatted") captures for plans/r06/).

Usage:
  python bench_extra.py suite [names...]     # time suite queries (count, like bench)
  python bench_extra.py plans <tag> [names...]  # write plans/r06/<name>_<tag>.txt
  python bench_extra.py engine               # index pipeline + retrieve timings
  python bench_extra.py merge                # segment merge timing
  python bench_extra.py ann                  # served-ANN timings

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from bench import _mk_spark


SUITE = [
    "bm25_topk", "term_freqs", "ngram_jaccard", "minhash_dups",
    "simhash_dups", "exact_dedup", "emb_cosine_topk", "quality",
    "events_hourly", "revenue_top5",
]


def _suite_fns():
    import __spark_entry__ as em

    def _minhash_prod(s, d):
        from splade_spark.pipeline.dedup import minhash_dedup_pairs

        return minhash_dedup_pairs(
            s.read.parquet(f"{d}/documents.parquet"), n=3, tau=0.5
        )

    def _simhash_prod(s, d):
        from splade_spark.pipeline.dedup import (
            simhash_near_dup_pairs, simhash_signatures,
        )
        from splade_spark.tokenize import term_freqs

        sigs = simhash_signatures(
            term_freqs(s.read.parquet(f"{d}/documents.parquet"))
        )
        return simhash_near_dup_pairs(sigs, max_hamming=3)

    suite = dict(em.queries())
    suite["minhash_dups"] = _minhash_prod
    suite["simhash_dups"] = _simhash_prod
    return suite


def run_suite(spark, sf_dir, names, reps=3):
    suite = _suite_fns()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        suite[name](spark, sf_dir).count()  # warm (plans, python workers)
        secs = []
        for _ in range(reps):
            t0 = time.time()
            suite[name](spark, sf_dir).count()
            secs.append(round(time.time() - t0, 3))
        out[name] = {"min": min(secs), "samples": secs}
        print(name, out[name], flush=True)
    return out


def write_plans(spark, sf_dir, tag, names):
    os.makedirs("plans/r06", exist_ok=True)
    suite = _suite_fns()
    for name in names:
        df = suite[name](spark, sf_dir)
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(f"plans/r06/{name}_{tag}.txt", "w") as fh:
            fh.write(p)
        print("wrote", name, tag, flush=True)


def _explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def write_engine_plans(spark, sf_dir, tag, cpus, outdir="plans/r06"):
    """Capture .explain('formatted') for the engine paths bench.py times
    (build encode, retrieve window path, segment merge re-encode, served
    ANN probe) — these are not queries() entries, so the suite plan
    capture misses them."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql import functions as F

    from splade_spark.bm25 import bm25_weights, quantization_scale
    from splade_spark.documents import build_documents
    from splade_spark.fixtures import queries_df, transcripts
    from splade_spark.index.build import build_index, build_postings, load_postings
    from splade_spark.index.merge import merge_postings
    from splade_spark.query.wand import retrieve
    from splade_spark.stats import corpus_stats_from_docs
    from splade_spark.tokenize import query_term_freqs, term_freqs
    from splade_spark.pipeline.ann_index import build_lsh_index, lsh_topk_from_index

    os.makedirs(outdir, exist_ok=True)
    tdir = tempfile.mkdtemp(prefix="splade_bx_p_")
    try:
        transcripts(spark, 800).write.mode("overwrite").parquet(tdir + "/head")
        docs = build_documents(spark.read.parquet(tdir + "/head"))
        tf = term_freqs(docs).cache()
        n, avgdl = corpus_stats_from_docs(docs)
        w = bm25_weights(tf, n, avgdl).select("doc_id", "term_id", "weight").cache()
        w.count()
        scale = quantization_scale(w)
        num_shards = max(cpus, 16)
        plans = {}
        plans["index_encode"] = _explain_str(
            build_postings(w, scale, num_shards=num_shards)
        )
        build_index(w, tdir + "/a", scale, num_shards=num_shards, resume=False)
        build_index(w.withColumn("doc_id", F.col("doc_id") + 10_000_000),
                    tdir + "/b", scale, num_shards=num_shards, resume=False)
        segs = [load_postings(spark, tdir + "/a"), load_postings(spark, tdir + "/b")]
        plans["segment_merge"] = _explain_str(
            merge_postings(segs, scale, bits=8, codec="varint")
        )
        postings = load_postings(spark, tdir + "/a").cache()
        postings.count()
        qt = (
            query_term_freqs(queries_df(spark, 25))
            .select("query_id", "term_id", "qtf").toPandas()
        )
        plans["bm25_retrieve_window"] = _explain_str(
            retrieve(postings, qt, scale, k=10, num_shards=num_shards,
                     merge="window")
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        build_lsh_index(emb, tdir + "/lsh", nbits=12)
        qv = _pd.DataFrame(
            {
                "query_id": ["q0", "q1"],
                "embedding": [
                    r["embedding"] for r in emb.limit(2).collect()
                ],
            }
        )
        plans["ann_lsh_served"] = _explain_str(
            lsh_topk_from_index(spark, tdir + "/lsh", qv, k=10)
        )
        for name, p in plans.items():
            with open(f"{outdir}/{name}_{tag}.txt", "w") as fh:
                fh.write(p)
            print("wrote", name, tag, flush=True)
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


def run_engine(spark, sf_dir, cpus):
    """Headline-shaped engine run: transcripts -> index -> query batches."""
    from pyspark.sql import functions as F

    from splade_spark.bm25 import bm25_weights, quantization_scale
    from splade_spark.documents import build_documents
    from splade_spark.fixtures import queries_df, transcripts
    from splade_spark.index.build import build_index, load_postings
    from splade_spark.query.wand import retrieve
    from splade_spark.stats import corpus_stats_from_docs
    from splade_spark.tokenize import query_term_freqs, term_freqs

    out = {}
    tdir = tempfile.mkdtemp(prefix="splade_bx_")
    try:
        transcripts(spark, 4000).write.mode("overwrite").parquet(tdir + "/head")
        # python worker pre-warm, same as bench._engine_job
        spark.range(0, 1024, 1, spark.sparkContext.defaultParallelism * 2).mapInPandas(
            lambda it: (pdf for pdf in it), schema="id long"
        ).count()
        num_shards = max(cpus, 16)
        spark.sparkContext.setJobDescription("bench_extra: index_pipeline")
        t0 = time.time()
        docs = build_documents(spark.read.parquet(tdir + "/head"))
        tf = term_freqs(docs).cache()
        n, avgdl = corpus_stats_from_docs(docs)
        w = bm25_weights(tf, n, avgdl).select("doc_id", "term_id", "weight").cache()
        w.count()
        scale = quantization_scale(w)
        tb0 = time.time()
        metrics = build_index(w, tdir + "/idx", scale, num_shards=num_shards, resume=False)
        out["index_build"] = round(time.time() - tb0, 3)
        out["index_pipeline"] = round(time.time() - t0, 3)
        out["postings"] = metrics["postings"]
        tf.unpersist()
        w.unpersist()

        postings = load_postings(spark, tdir + "/idx").cache()
        postings.count()
        qt25 = (
            query_term_freqs(queries_df(spark, 25))
            .select("query_id", "term_id", "qtf").toPandas()
        )
        spark.sparkContext.setJobDescription("bench_extra: bm25_query25")
        retrieve(postings, qt25, scale, k=10, num_shards=num_shards).count()  # warm
        lat = []
        for _ in range(5):
            q0 = time.time()
            retrieve(postings, qt25, scale, k=10, num_shards=num_shards).count()
            lat.append(round(time.time() - q0, 3))
        lat.sort()
        out["bm25_query_p50"] = lat[len(lat) // 2]
        out["bm25_query_samples"] = lat
        for nq in (500, 5000):
            qt_big = (
                query_term_freqs(queries_df(spark, nq))
                .select("query_id", "term_id", "qtf").toPandas()
            )
            spark.sparkContext.setJobDescription(f"bench_extra: bm25_batch{nq}")
            retrieve(postings, qt_big, scale, k=10, num_shards=num_shards).count()
            b0 = time.time()
            retrieve(postings, qt_big, scale, k=10, num_shards=num_shards).count()
            out[f"bm25_batch{nq}"] = round(time.time() - b0, 3)
        postings.unpersist()
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return out


def run_merge(spark, sf_dir, cpus):
    from pyspark.sql import functions as F

    from splade_spark.bm25 import bm25_weights, quantization_scale
    from splade_spark.documents import build_documents
    from splade_spark.fixtures import transcripts
    from splade_spark.index.build import build_index
    from splade_spark.index.merge import merge_indexes
    from splade_spark.stats import corpus_stats_from_docs
    from splade_spark.tokenize import term_freqs

    out = {}
    d = tempfile.mkdtemp(prefix="splade_bx_m_")
    try:
        transcripts(spark, 4000).write.mode("overwrite").parquet(d + "/head")
        docs = build_documents(spark.read.parquet(d + "/head"))
        tf = term_freqs(docs).cache()
        n, avgdl = corpus_stats_from_docs(docs)
        w = bm25_weights(tf, n, avgdl).select("doc_id", "term_id", "weight").cache()
        w.count()
        scale = quantization_scale(w)
        num_shards = max(cpus, 16)
        mid = n // 2
        build_index(w.filter(F.col("doc_id") < mid), d + "/a", scale,
                    num_shards=num_shards, resume=False)
        build_index(w.filter(F.col("doc_id") >= mid), d + "/b", scale,
                    num_shards=num_shards, resume=False)
        tf.unpersist()
        w.unpersist()
        secs = []
        for i in range(3):
            spark.sparkContext.setJobDescription(f"bench_extra: merge {i}")
            t0 = time.time()
            merge_indexes(spark, [d + "/a", d + "/b"], d + f"/m{i}")
            secs.append(round(time.time() - t0, 3))
            shutil.rmtree(d + f"/m{i}", ignore_errors=True)
        out["segment_merge"] = {"min": min(secs), "samples": secs}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return out


def run_ann(spark, sf_dir, cpus):
    import numpy as _np
    import pandas as _pd
    from pyspark.sql import functions as _F

    from splade_spark.pipeline.ann_index import (
        build_lsh_index, lsh_topk_from_index, read_ann_meta,
    )

    out = {}
    emb_pdf = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id").toPandas()
    )
    base = _np.array(emb_pdf["embedding"].tolist(), dtype=_np.float64)
    base /= _np.linalg.norm(base, axis=1, keepdims=True)
    _rng = _np.random.default_rng(123)
    n_plant = min(100, len(base) // 20)
    src_idx = _np.arange(0, n_plant * 20, 20)
    noise = _rng.standard_normal((n_plant, base.shape[1]))
    noise /= _np.linalg.norm(noise, axis=1, keepdims=True)
    dup_vecs = base[src_idx] + 0.1 * noise
    dup_vecs /= _np.linalg.norm(dup_vecs, axis=1, keepdims=True)
    planted = _pd.DataFrame(
        {
            "vec_id": (1_000_000 + _np.arange(n_plant)).tolist(),
            "embedding": [v.astype("float32").tolist() for v in dup_vecs],
        }
    )
    corpus = spark.createDataFrame(
        _pd.concat([emb_pdf[["vec_id", "embedding"]], planted], ignore_index=True),
        "vec_id long, embedding array<float>",
    ).cache()
    corpus.count()
    qv = _pd.DataFrame(
        {
            "query_id": [str(int(emb_pdf["vec_id"][i])) for i in src_idx[:10]],
            "embedding": [base[i].tolist() for i in src_idx[:10]],
        }
    )
    corpus4 = corpus
    for i in range(1, 4):
        corpus4 = corpus4.unionByName(
            corpus.withColumn("vec_id", _F.col("vec_id") + _F.lit(i * 4_000_000))
        )
    corpus4 = corpus4.cache()
    corpus4.count()

    d = tempfile.mkdtemp(prefix="splade_bx_ann_")
    try:
        for label, cdf in (("1x", corpus), ("4x", corpus4)):
            ipath = d + f"/lsh_{label}"
            b0 = time.time()
            build_lsh_index(cdf, ipath, nbits=12, dim=int(base.shape[1]))
            out[f"build_{label}"] = round(time.time() - b0, 3)
            spark.sparkContext.setJobDescription(f"bench_extra: ann served {label}")
            lsh_topk_from_index(spark, ipath, qv, k=10).count()  # warm
            secs = []
            for _ in range(3):
                s0 = time.time()
                lsh_topk_from_index(spark, ipath, qv, k=10).collect()
                secs.append(round(time.time() - s0, 3))
            out[f"ann_lsh_served_{label}"] = {"min": min(secs), "samples": secs}
        # batch1000 per-query on the 4x index (bench shape)
        nq_b = 1000
        qv_big = _pd.DataFrame(
            {
                "query_id": [f"q{i}" for i in range(nq_b)],
                "embedding": [base[i % len(base)].tolist() for i in range(nq_b)],
            }
        )
        bpath = d + "/lsh_4x"
        spark.sparkContext.setJobDescription("bench_extra: ann batch1000")
        lsh_topk_from_index(spark, bpath, qv_big, k=10, probe_scope="per_query").count()
        secs = []
        for _ in range(3):
            t0 = time.time()
            lsh_topk_from_index(
                spark, bpath, qv_big, k=10, probe_scope="per_query"
            ).count()
            secs.append(round(time.time() - t0, 3))
        out["ann_batch1000_per_query"] = {"min": min(secs), "samples": secs}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    corpus4.unpersist()
    corpus.unpersist()
    print(json.dumps(out), flush=True)
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mode = sys.argv[1] if len(sys.argv) > 1 else "suite"
    spark = _mk_spark(cpus, f"bench_extra_{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "suite":
        names = sys.argv[2:] or SUITE
        run_suite(spark, sf_dir, names)
    elif mode == "plans":
        tag = sys.argv[2]
        names = sys.argv[3:] or SUITE
        write_plans(spark, sf_dir, tag, names)
    elif mode == "plans_engine":
        tag = sys.argv[2]
        outdir = sys.argv[3] if len(sys.argv) > 3 else "plans/r06"
        write_engine_plans(spark, sf_dir, tag, cpus, outdir)
    elif mode == "engine":
        run_engine(spark, sf_dir, cpus)
    elif mode == "merge":
        run_merge(spark, sf_dir, cpus)
    elif mode == "ann":
        run_ann(spark, sf_dir, cpus)
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
