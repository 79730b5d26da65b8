"""The workloads, their set-up, their ops and their correctness checks.

Every engine call goes through a public ``splade_spark`` function, wrapped
in a tracer span (a no-op in untraced runs). Both are closed loops with
one client: the next op starts when the previous one has returned.

- serve:  one query text -> query_term_freqs -> retrieve(merge="driver",
          prepartitioned=True) -> collect, against a warm serving frame.
- ingest: base build from transcripts, micro-batch segment appends with
          frozen stats, one query batch over base plus segments, merge.

``serve`` serves a base index only. Its traced run appends the same
segments and merges them after the timed ops, as a probe, so every layer
is measured on both workloads.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import functions as F

import gen
from splade_spark.bm25 import bm25_topk, bm25_weights, quantization_scale, quantize
from splade_spark.documents import build_documents
from splade_spark.index.build import build_index, build_postings, read_index_meta, load_postings
from splade_spark.index.codec import decode_block_raw
from splade_spark.index.merge import merge_indexes
from splade_spark.query.wand import prepare_serving, retrieve
from splade_spark.stats import corpus_stats_from_docs, doc_freqs
from splade_spark.streaming.incremental import (
    FrozenStats, build_segment_from_batch, load_all_postings, set_doc_watermark,
)
from splade_spark.tokenize import query_term_freqs, term_freqs

K = 10

# conv: base conversations; seg_conv x segments: appended micro-batches;
# queries: per op (serve: pool cycled one query per op); oracle: sample
# checked against the DataFrame oracle; warmup: serve's warm-up queries —
# with the driver JVM on C1 (see run.JVM_OPTS) serve latency is flat from
# about the 10th call
SIZES = {
    "full": {
        "serve": dict(conv=800, seg_conv=100, segments=1, queries=400, oracle=8, warmup=15),
        "ingest": dict(conv=400, seg_conv=40, segments=1, queries=500, oracle=8),
    },
    "smoke": {
        "serve": dict(conv=120, seg_conv=20, segments=1, queries=40, oracle=4, warmup=2),
        "ingest": dict(conv=80, seg_conv=15, segments=2, queries=30, oracle=4),
    },
}
HEAD_SHARE = {"serve": 0.0, "ingest": 0.10}


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    sizes: dict
    shards: int
    workload: str


@dataclass
class Written:
    """What one write path produced (base build plus appended segments)."""
    base_dir: str
    base_idx: str
    segs: list
    scale: float
    n_docs: int
    avgdl: float
    df_path: str
    cached: list  # frames the build cached, unpersisted by release()

    def release(self) -> None:
        unpersist(self.cached)


def make_inputs(ctx: Ctx) -> dict:
    """Write the seeded transcripts (base and one file set per segment)
    and return their paths plus the workload's query mix."""
    z = ctx.sizes
    root = os.path.join(ctx.work, "inputs")
    base = gen.write_transcripts(
        gen.transcripts(ctx.seed, z["conv"], stream="base"),
        os.path.join(root, "base"),
    )
    segs = [
        gen.write_transcripts(
            gen.transcripts(ctx.seed, z["seg_conv"], first_conv=z["conv"] + j * z["seg_conv"],
                            stream=f"seg{j}"),
            os.path.join(root, f"seg{j}"),
        )
        for j in range(z["segments"])
    ]
    queries = gen.query_mix(ctx.seed, z["queries"], ctx.workload, HEAD_SHARE[ctx.workload])
    return {"base": base, "segs": segs, "queries": queries}


def unpersist(frames: list) -> None:
    for df in frames:
        df.unpersist()
    frames.clear()


def build_base(ctx: Ctx, src: str, out: str) -> Written:
    """transcripts -> documents -> term freqs -> stats -> weights -> index,
    cached as the engine's own build (splade_spark.cli) caches it: the term
    freqs only, with the weights left lazy. Traced runs force each layer's
    frame instead."""
    spark, t = ctx.spark, ctx.tracer
    cached: list = []
    tr = spark.read.parquet(src)
    with t.span("documents", "build_documents"):
        docs = t.force(build_documents(tr, cache_registry=cached))
    with t.span("tokenize", "term_freqs"):
        tf = t.force(term_freqs(docs).cache())
        cached.append(tf)
    with t.span("stats", "corpus_stats"):
        n, avgdl = corpus_stats_from_docs(docs)
    with t.span("bm25", "weights"):
        w = t.force(bm25_weights(tf, n, avgdl).select("doc_id", "term_id", "weight"))
    with t.span("bm25", "quantization_scale"):
        scale = quantization_scale(w)
    base_idx = os.path.join(out, "base")
    with t.span("index.build", "build_index"):
        build_index(w, base_idx, scale, num_shards=ctx.shards, resume=False)
    df_path = os.path.join(out, "df")
    with t.span("stats", "doc_freqs"):
        doc_freqs(tf).write.parquet(df_path)
    return Written(out, base_idx, [], scale, n, avgdl, df_path, cached)


def append_segments(ctx: Ctx, wr: Written, seg_srcs: list[str]) -> None:
    """Append one segment per micro-batch, BM25 stats frozen from the base."""
    t = ctx.tracer
    set_doc_watermark(wr.base_dir, ctx.sizes["conv"])
    stats = FrozenStats(wr.n_docs, wr.avgdl, wr.scale, wr.df_path)
    for epoch, src in enumerate(seg_srcs):
        batch = ctx.spark.read.parquet(src)
        with t.span("streaming.incremental", "segment"):
            seg = build_segment_from_batch(batch, wr.base_dir, stats, ctx.shards, epoch)
        wr.segs.append(seg)


def merge(ctx: Ctx, wr: Written, out: str) -> None:
    with ctx.tracer.span("index.merge", "merge_indexes"):
        merge_indexes(ctx.spark, [wr.base_idx] + wr.segs, out)


def tokenize_queries(ctx: Ctx, queries: pd.DataFrame) -> pd.DataFrame:
    """Pre-tokenize a query batch to (query_id, term_id, qtf) on the driver."""
    with ctx.tracer.span("tokenize", "query_term_freqs"):
        qt = query_term_freqs(ctx.spark.createDataFrame(queries))
        return qt.select("query_id", "term_id", "qtf").toPandas()


def rows_by_query(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    return {q: sorted(v) for q, v in out.items()}


def index_stats(path: str) -> tuple[int, int]:
    """(postings, parquet bytes) of an on-disk index, read from the files."""
    nbytes = 0
    for dp, _dn, fns in os.walk(path):
        for f in fns:
            if f.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(dp, f))
    n = pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=["n"])
    return int(n.column("n").to_numpy().sum()), nbytes


def weights(spark, src: str, wr: Written, cached: list, offset: int = 0,
            df_table=None):
    """BM25 weights of one transcripts input, rebuilt from the input with
    the base statistics of `wr`; doc ids start at `offset`. Frames cached on
    the way are appended to `cached`."""
    d = build_documents(spark.read.parquet(src), cache_registry=cached)
    if offset:
        d = d.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
    w = bm25_weights(term_freqs(d), wr.n_docs, wr.avgdl, df_table=df_table)
    return w.select("doc_id", "term_id", "weight")


def oracle_rows(ctx: Ctx, inputs: dict, wr: Written, qids: list, segs: list) -> dict:
    """Exact DataFrame-oracle top-k for the given queries over the base and
    the segment inputs `segs`: bm25_topk(quantize(w, scale)), where w is the
    base weights plus each segment's weights against the frozen base
    statistics, all rebuilt from the inputs. Weights above the frozen
    scale's range saturate at 255, exactly as the index codec stores them."""
    spark, z = ctx.spark, ctx.sizes
    cached: list = []
    with ctx.tracer.span("bm25", "oracle_topk"):
        df_table = spark.read.parquet(wr.df_path)
        w = weights(spark, inputs["base"], wr, cached)
        for j, src in enumerate(segs):
            offset = z["conv"] + j * z["seg_conv"]
            w = w.unionByName(weights(spark, src, wr, cached, offset, df_table))
        w = quantize(w, wr.scale)
        w = w.withColumn("weight", F.least(F.col("weight"), F.lit(255.0)))
        qs = inputs["queries"]
        qt = query_term_freqs(spark.createDataFrame(qs[qs["query_id"].isin(qids)]))
        rows = rows_by_query(bm25_topk(w, qt, k=K, scale=wr.scale).collect())
    unpersist(cached)
    return rows


def probe_write(ctx: Ctx, wr: Written, segs: list) -> str:
    """Append the segments to a served base index and merge them into a
    new directory; returns the merged index path."""
    append_segments(ctx, wr, segs)
    out = os.path.join(wr.base_dir, "merged")
    merge(ctx, wr, out)
    return out


def probe_codec(ctx: Ctx, path: str) -> dict:
    """Decode every block of an index with decode_block_raw."""
    meta = read_index_meta(path)
    tbl = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["first_doc", "n", "doc_bytes", "w_bytes"]
    )
    first = tbl.column("first_doc").to_pylist()
    ns = tbl.column("n").to_pylist()
    db = tbl.column("doc_bytes").to_pylist()
    wb = tbl.column("w_bytes").to_pylist()
    bits, codec = meta.get("bits", 8), meta.get("codec", "varint")
    with ctx.tracer.span("index.codec", "decode_block_raw"):
        t0 = time.perf_counter_ns()
        for f, n, d, w in zip(first, ns, db, wb):
            decode_block_raw(f, n, d, w, bits, codec)
        dt = time.perf_counter_ns() - t0
    total = sum(ns)
    return {
        "index.codec.decode_ns_per_posting": dt / max(total, 1),
        "index.codec.blocks": float(len(ns)),
        "index.codec.compressed_bytes": float(sum(map(len, db)) + sum(map(len, wb))),
    }


def probe_encode(ctx: Ctx, src: str, wr: Written, repeats: int = 3) -> None:
    """build_postings ended by an aggregate: the encode without the sink,
    over weights forced beforehand, as the traced build_index gets them.
    Repeated, because the first pass also pays this plan's code generation,
    which build_index paid during the warm-up."""
    cached: list = []
    w = weights(ctx.spark, src, wr, cached).cache()
    cached.append(w)
    w.count()
    for _ in range(repeats):
        with ctx.tracer.span("index.build", "encode"):
            build_postings(w, wr.scale, num_shards=ctx.shards).agg(F.sum("n")).collect()
    unpersist(cached)


def candidates_per_result(path: str, qt: pd.DataFrame, n_rows: int) -> float:
    """Postings in the index blocks carrying a query term, summed over the
    queries' distinct terms, per result row returned."""
    tbl = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["term_id", "n"]
    ).to_pandas()
    plen = tbl.groupby("term_id")["n"].sum()
    terms = qt[["query_id", "term_id"]].drop_duplicates()
    total = plen.reindex(terms["term_id"]).fillna(0).sum()
    return float(total) / max(n_rows, 1)


def files_written(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for dp, _dn, fns in os.walk(path):
        for f in fns:
            files += 1
            nbytes += os.path.getsize(os.path.join(dp, f))
    return files, nbytes


# --------------------------------------------------------------- serve ---

class Serve:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inputs = make_inputs(ctx)
        self.wr = build_base(ctx, self.inputs["base"], os.path.join(ctx.work, "index"))
        self.wr.release()
        ctx.tracer.release()
        self.read_index = self.wr.base_idx
        self.merged = None
        self.postings = load_postings(ctx.spark, self.read_index)
        with ctx.tracer.span("query.wand", "prepare_serving"):
            self.serving = prepare_serving(self.postings, ctx.shards).cache()
            self.serving.count()
        self.pool = self.inputs["queries"]

    def warmup(self) -> None:
        warm = gen.query_mix(self.ctx.seed, self.ctx.sizes["warmup"], "warmup")
        for i in range(len(warm)):
            self._query(warm.iloc[[i]])

    def _query(self, q: pd.DataFrame) -> list:
        ctx, t = self.ctx, self.ctx.tracer
        with t.span("tokenize", "query_term_freqs"):
            qt = t.force(query_term_freqs(ctx.spark.createDataFrame(q)))
        with t.span("query.wand", "retrieve"):
            res = retrieve(self.serving, qt, self.wr.scale, k=K, num_shards=ctx.shards,
                           merge="driver", prepartitioned=True)
        with t.span("query.wand", "collect"):
            rows = res.collect()
        t.release()
        return rows

    def op(self, i: int) -> dict:
        q = self.pool.iloc[[i % len(self.pool)]]
        t0 = time.perf_counter()
        rows = self._query(q)
        dt = time.perf_counter() - t0
        return {"s": dt, "queries": 1, "query_s": dt, "qids": [q["query_id"].iloc[0]],
                "rows": rows_by_query(rows)}

    def check(self, ops: list) -> int:
        """Each op's rows must equal the batch path's (default window merge
        over the same queries), and the oracle sample the DataFrame oracle."""
        ctx = self.ctx
        qids = sorted({q for o in ops for q in o["qids"]})
        qs = self.pool[self.pool["query_id"].isin(qids)]
        qt = tokenize_queries(ctx, qs)
        with ctx.tracer.span("query.wand", "retrieve_check"):
            ref = rows_by_query(
                retrieve(self.postings, qt, self.wr.scale, k=K, num_shards=ctx.shards).collect()
            )
        sample = [q for q in self.pool["query_id"][: ctx.sizes["oracle"]] if q in qids]
        orc = oracle_rows(ctx, self.inputs, self.wr, sample, [])
        bad = 0
        for o in ops:
            q = o["qids"][0]
            want = orc.get(q, []) if q in sample else ref.get(q, [])
            if o["rows"].get(q, []) != want or ref.get(q, []) != want:
                bad += 1
        return bad

    def probe_queries(self) -> tuple[pd.DataFrame, int]:
        qs = self.pool.iloc[: min(40, len(self.pool))]
        qt = tokenize_queries(self.ctx, qs)
        res = retrieve(self.postings, qt, self.wr.scale, k=K, num_shards=self.ctx.shards)
        return qt, res.count()


# -------------------------------------------------------------- ingest ---

class Ingest:
    """One op = base build, segment appends, a query batch over base plus
    segments, then the merge. Each op writes into its own directory."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inputs = make_inputs(ctx)
        self.qt = tokenize_queries(ctx, self.inputs["queries"])
        self.wr = self.merged = self.read_index = None

    def warmup(self) -> None:
        # one untimed op at the workload's own size: JIT, code generation
        # and the Python worker pool are warm before the first timed op
        self._op("warmup")

    def _op(self, tag) -> dict:
        ctx, t = self.ctx, self.ctx.tracer
        out = os.path.join(ctx.work, f"ingest-{tag}")
        t0 = time.perf_counter()
        wr = build_base(ctx, self.inputs["base"], out)
        append_segments(ctx, wr, self.inputs["segs"])
        tq = time.perf_counter()
        with t.span("streaming.incremental", "load_all_postings"):
            union = load_all_postings(ctx.spark, wr.base_dir, wr.base_idx)
        with t.span("query.wand", "retrieve"):
            res = retrieve(union, self.qt, wr.scale, k=K, num_shards=ctx.shards)
        with t.span("query.wand", "collect"):
            rows = res.collect()
        query_s = time.perf_counter() - tq
        merged = os.path.join(out, "merged")
        merge(ctx, wr, merged)
        dt = time.perf_counter() - t0
        wr.release()
        t.release()
        self.wr, self.merged = wr, merged
        self.read_index = merged  # same postings as the union the batch read
        return {"s": dt, "queries": len(self.inputs["queries"]), "query_s": query_s,
                "rows": rows_by_query(rows), "wr": wr, "merged": merged}

    def op(self, i: int) -> dict:
        return self._op(i)

    def check(self, ops: list) -> int:
        """Per op: the union's rows must equal the merged index's rows (served
        through prepare_serving with the driver merge), and equal across ops;
        the oracle sample must equal the DataFrame oracle."""
        ctx = self.ctx
        qs = self.inputs["queries"]
        sample = list(qs["query_id"][: ctx.sizes["oracle"]])
        orc = oracle_rows(ctx, self.inputs, self.wr, sample, self.inputs["segs"])
        first = ops[0]["rows"]
        bad = 0
        for o in ops:
            post = load_postings(ctx.spark, o["merged"])
            with ctx.tracer.span("query.wand", "prepare_serving"):
                serving = prepare_serving(post, ctx.shards).cache()
                serving.count()
            with ctx.tracer.span("query.wand", "retrieve_check"):
                m = rows_by_query(
                    retrieve(serving, self.qt, o["wr"].scale, k=K, num_shards=ctx.shards,
                             merge="driver", prepartitioned=True).collect()
                )
            serving.unpersist()
            got = o["rows"]
            ok = got == m == first and all(got.get(q, []) == orc.get(q, []) for q in sample)
            bad += not ok
        return bad

    def probe_queries(self) -> tuple[pd.DataFrame, int]:
        return self.qt, None


WORKLOADS = {"serve": Serve, "ingest": Ingest}

