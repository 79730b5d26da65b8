"""Document-at-a-time top-k retrieval with block-max pruning.

Reference analogues: the exact numba TAAT kernel
(splade/tasks/transformer_evaluator.py:92-111) and PISA's block_max_wand over
a block_simdbp impact index (efficient_splade_pisa/README.md:28-38). Spark
design: the index is document-sharded (index/build.py), so retrieval is

    postings ⋈ broadcast(query terms)        -- term pruning, broadcast join
      → groupBy(shard_id).applyInPandas(kernel)  -- per-shard top-k
      → bounded top-k merge (driver/window)   -- global (score desc, doc asc)

The kernel scores in the *integer* quantized-impact domain (exact in int64),
so per-shard results and the final merge are bit-deterministic and
rank-identical to the quantized DataFrame oracle (bm25.quantize + bm25_topk).

Block-max pruning, rank-safe by construction: block boundaries of the query's
terms partition the shard's docID space into elementary intervals; every
document's *complete* score is confined to one interval. Each interval gets
an upper bound UB = Σ_t qtf_t · block_max_t(interval). Intervals are
processed in descending-UB order, decoding only the blocks they overlap, and
processing stops once UB < θ (the current k-th best integer score) — exactly
WAND's invariant, at block granularity, fully vectorized (no per-posting
Python). Skipped intervals' blocks are never decoded.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.codec import check_bits, decode_block_raw
from ..session import local_frame

CHUNK = 32  # intervals scored in the FIRST refinement round
CHUNK_MAX = 512  # cap for the geometrically-growing later rounds
# retrieve collects per-shard top-k driver-side only up to this bound on
# n_queries × k × num_shards. 400k is the measured crossover on the bench
# shape (32 shards, k=10): below it the driver merge saves a Spark stage;
# above it the collect + re-upload costs more than the distributed window
# merge — and the collect is a serial driver cost that no executor count
# amortizes, so large batches should stay distributed on clusters too.
DRIVER_MERGE_MAX_ROWS = 400_000
# byte budget for one kernel invocation's decoded-block cache (per shard
# group, per query batch). Without a bound, a batch whose term union touches
# most of the vocabulary asymptotically holds the shard's whole decompressed
# posting set in Python memory; eviction only costs a re-decode, so results
# are identical at any budget.
DECODE_CACHE_BYTES = 1 << 30


class _BlockCache:
    """Byte-budgeted LRU for decoded (term_id, block) → (docs, qweights).

    Shared by every query of a batch within one shard group so head-term
    blocks decode once per batch, but bounded: when the budget is
    exceeded the least-recently-used entries are dropped and a later
    touch simply re-decodes — correctness is unaffected by construction."""

    __slots__ = ("budget", "nbytes", "data")

    def __init__(self, budget: int = DECODE_CACHE_BYTES):
        self.budget = budget
        self.nbytes = 0
        self.data: OrderedDict = OrderedDict()

    def get(self, key):
        blk = self.data.get(key)
        if blk is not None:
            self.data.move_to_end(key)
        return blk

    def put(self, key, blk) -> None:
        self.data[key] = blk
        self.nbytes += blk[0].nbytes + blk[1].nbytes
        while self.nbytes > self.budget and len(self.data) > 1:
            _, old = self.data.popitem(last=False)
            self.nbytes -= old[0].nbytes + old[1].nbytes


def _topk_merge(
    docs: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Keep k best under (score desc, doc asc); exact, vectorized."""
    if len(docs) > k:
        order = np.lexsort((docs, -scores))[:k]
    else:
        order = np.lexsort((docs, -scores))
    return docs[order], scores[order]


def _score_query_in_shard(
    terms: list[tuple[int, int, np.ndarray, np.ndarray, np.ndarray, list]],
    k: int,
    theta0: int,
    prune: bool,
    decoded: dict | None = None,
    bits: int = 8,
    codec: str = "varint",
) -> tuple[np.ndarray, np.ndarray]:
    """terms: [(term_id, qtf, firsts, lasts, bmax_q, block_rows)] per query
    term present in this shard; block_rows[j] = (first, n, doc_bytes,
    w_bytes). Returns (doc_ids, int_scores) of the shard-local top-k.

    decoded: optional shared _BlockCache — pass one per shard per query
    batch so head-term blocks decode once for the whole batch instead of
    once per query (byte-budgeted LRU; an evicted block re-decodes)."""
    if not terms:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)

    # elementary intervals from all block boundaries
    bounds = np.unique(
        np.concatenate(
            [f for _, _, f, _, _, _ in terms] + [l + 1 for _, _, _, l, _, _ in terms]
        )
    )
    m = len(bounds) - 1
    if m <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)

    # interval upper bounds via range-add of qtf*block_max
    diff = np.zeros(m + 1, dtype=np.int64)
    for _tid, qtf, firsts, lasts, bmax, _rows in terms:
        i0 = np.searchsorted(bounds, firsts, side="right") - 1
        i1 = np.searchsorted(bounds, lasts, side="right") - 1
        np.add.at(diff, i0, qtf * bmax)
        np.add.at(diff, i1 + 1, -(qtf * bmax))
    ub = np.cumsum(diff)[:m]

    order = np.argsort(-ub, kind="stable")
    top_docs = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.int64)
    theta = theta0
    if decoded is None:
        decoded = _BlockCache()

    # geometric chunk growth: small first rounds establish θ fast (pruning
    # re-filters on the CURRENT θ each round, so early small chunks avoid
    # decoding blocks a soon-to-rise θ would skip), then the per-round
    # vectorized cost is amortized over bigger chunks — measured 3.6x over
    # a fixed size-8 chunk on a 370k-posting query, output identical for
    # any chunk schedule by construction
    pos = 0
    csize = CHUNK
    while pos < m:
        chunk = order[pos : pos + csize]
        if prune and len(top_docs) >= k:
            chunk = chunk[ub[chunk] >= theta]
            if len(chunk) == 0:
                break  # all remaining intervals have UB < θ (desc order)
        elif prune:
            chunk = chunk[ub[chunk] > theta0]
            if len(chunk) == 0:
                break
        pos += csize
        csize = min(csize * 2, CHUNK_MAX)

        # chunk intervals are disjoint (elementary intervals), so per term:
        # (1) ONE searchsorted pair over the whole chunk gives each
        # interval's overlapping block range, (2) the union of needed
        # blocks decodes once (range-cover diff trick, no per-interval
        # loop), (3) ONE membership pass of the decoded docs against the
        # sorted interval bounds replaces the per-(interval x block) mask —
        # the surviving (doc, weight) set is identical to the nested-loop
        # form because each doc lives in exactly one interval and, within a
        # term, exactly one block.
        los = bounds[chunk]
        his = bounds[chunk + 1]
        iord = np.argsort(los)
        slos, shis = los[iord], his[iord]
        cand_docs, cand_w = [], []
        for tid, qtf, firsts, lasts, _bmax, rows in terms:
            j0s = np.searchsorted(lasts, los, side="left")
            j1s = np.searchsorted(firsts, his, side="left")
            valid = j1s > j0s
            if not valid.any():
                continue
            nb = len(firsts)
            cover = np.zeros(nb + 1, dtype=np.int32)
            np.add.at(cover, j0s[valid], 1)
            np.add.at(cover, j1s[valid], -1)
            need = np.nonzero(np.cumsum(cover[:nb]) > 0)[0]
            ds, qs = [], []
            for j in need.tolist():
                key = (tid, j)
                blk = decoded.get(key)
                if blk is None:
                    first, n, dbytes, wbytes = rows[j]
                    # raw int decode: the kernel scores in the quantized
                    # integer domain, so one parse per block, no float
                    # divide ever
                    blk = decode_block_raw(first, n, dbytes, wbytes, bits, codec)
                    decoded.put(key, blk)
                ds.append(blk[0])
                qs.append(blk[1])
            d = np.concatenate(ds)
            q = np.concatenate(qs)
            pos_i = np.searchsorted(slos, d, side="right") - 1
            sel = (pos_i >= 0) & (d < shis[np.maximum(pos_i, 0)])
            if sel.any():
                cand_docs.append(d[sel])
                cand_w.append(qtf * q[sel])
        if not cand_docs:
            continue
        cd = np.concatenate(cand_docs)
        cw = np.concatenate(cand_w)
        udocs, inv = np.unique(cd, return_inverse=True)
        uscores = np.zeros(len(udocs), dtype=np.int64)
        np.add.at(uscores, inv, cw)
        keep = uscores > theta0
        top_docs, top_scores = _topk_merge(
            np.concatenate([top_docs, udocs[keep]]),
            np.concatenate([top_scores, uscores[keep]]),
            k,
        )
        if len(top_docs) >= k:
            theta = int(top_scores[-1])
    return top_docs, top_scores


def prepare_serving(
    postings: DataFrame, num_shards: int, partitions: int | None = None
) -> DataFrame:
    """Shuffle the postings by shard_id ONCE for a query-serving loop.

    Pass the (cached) result to ``retrieve(..., prepartitioned=True)``:
    the per-query term filter preserves this partitioning, so every
    subsequent batch runs as a single scan→kernel stage plus the top-k
    merge — no per-query shuffle. This is the warm-serving analogue of
    PISA holding its index memory-mapped between queries
    (efficient_splade_pisa/README.md:47-59).

    partitions defaults to ONE task wave (max(num_shards, default
    parallelism)) — a single query's kernel stage costs little more than
    the fixed start-up of its Python tasks (each pays PySpark's per-task
    import-cache refresh before any scoring; see
    ``splade_spark._pyworker``), and the 4x shard oversubscription
    retrieve() uses for heavy batch scoring (anti-skew: hash collisions
    stacking shards on one task) triples single-query p50 here (measured
    1.08 s vs 0.36 s at sf0.1 / 32 cores). For a serving frame that will
    mostly take LARGE batches, pass partitions=4*num_shards explicitly."""
    spark = postings.sparkSession
    par = spark.sparkContext.defaultParallelism
    if partitions is None:
        partitions = max(num_shards, par)
    return postings.repartition(partitions, "shard_id")


def retrieve(
    postings: DataFrame,
    query_terms: DataFrame,
    scale: float,
    k: int = 10,
    threshold: float = 0.0,
    prune: bool = True,
    num_shards: int | None = None,
    bits: int = 8,
    codec: str = "varint",
    merge: str = "auto",
    prepartitioned: bool = False,
) -> DataFrame:
    """Top-k BM25 over a block-compressed sharded index.

    postings: index/build.py layout; query_terms: (query_id, term_id, qtf).
    Returns (query_id, doc_id, score double, rank int), rank-identical to
    ``bm25.bm25_topk`` on integer-quantized weights.

    query_terms already on the driver take the query-service path, read
    without a Spark job: a pandas frame, or a local Spark frame
    (``isLocal()``, e.g. ``query_term_freqs`` over
    ``createDataFrame(pandas)``). Any other frame is collected by one
    job. The driver merge returns a local frame too, so a warm
    single-query call on ``prepare_serving`` postings with
    ``num_shards`` given runs exactly one Spark job, the kernel stage —
    also for an OOV or empty query.

    num_shards: pass the value from _index_meta.json — when omitted, an
    extra max(shard_id) Spark job runs per batch (a term-filtered postings
    scan in a query-serving loop) before the merge is chosen. bits:
    quantization width from the same meta (u8/u16 weight bytes decode
    differently; a mismatch is garbage scores).

    merge: the global (score desc, doc asc) top-k over the per-shard
    top-k. A driver merge collects up to n_queries × k × num_shards rows
    and never runs when that product exceeds DRIVER_MERGE_MAX_ROWS (400k,
    the measured crossover where collect + re-upload starts losing to the
    distributed merge, and a serial driver-side cost no executor count
    amortizes) — the bound caps that product, not the query count alone:
    1000 queries × k=100 × 4096 shards would be 410M driver rows. 'auto' (default) merges
    on the driver within the bound — one fewer Spark stage per batch, the
    serving path for interactive/small batches (the reference's mono-CPU
    latency protocol analogue, efficient_splade_pisa/README.md:47-59) —
    and as a Spark window job above it. 'driver' demands the driver merge
    and raises over the bound; 'window' always runs the window job.
    Identical results by construction: both orders are (score_int desc,
    doc_id asc) over the same shard-local integer scores.

    prepartitioned: postings came from ``prepare_serving`` (already
    shuffled by shard_id) — skip the per-batch repartition; the term
    filter preserves the partitioning, so a batch costs one Spark stage.
    """
    check_bits(bits)
    if merge not in ("window", "driver", "auto"):
        # a typo would silently fall through to the window path — results
        # identical, but the caller's one-stage serving intent ignored
        raise ValueError(
            f"merge must be 'window', 'driver' or 'auto', got {merge!r}"
        )
    spark = postings.sparkSession
    if isinstance(query_terms, pd.DataFrame):
        # query-service path: terms already driver-side, skip the Spark job
        qpdf = query_terms[["query_id", "term_id", "qtf"]]
    else:
        # a local frame (query_term_freqs over createDataFrame(pandas))
        # folds the projection into its LocalRelation, so this collect runs
        # no job; any other frame is read by one job
        cols = ["query_id", "term_id", "qtf"]
        qpdf = pd.DataFrame(query_terms.select(*cols).collect(), columns=cols)
    # term pruning: small term sets go in as an INSET literal (pushed into
    # the parquet scan as row-group stats filters); large batches use a
    # broadcast semi-join instead — a thousands-literal isin() costs seconds
    # of Catalyst planning *per query batch*, a fixed cost no executor count
    # can amortize
    term_ids = qpdf["term_id"].unique().tolist()
    if len(term_ids) <= 128:
        relevant = postings.filter(F.col("term_id").isin(term_ids))
    else:
        tid_df = spark.createDataFrame(
            [(int(t),) for t in term_ids], "term_id long"
        )
        relevant = postings.join(F.broadcast(tid_df), "term_id", "left_semi")

    if num_shards is None:
        # discovered BEFORE the merge is chosen, so the collect bound holds
        # on every path (the shuffle below needs the count too)
        row = relevant.agg(F.max("shard_id")).collect()[0]
        num_shards = int(row[0] or 0) + 1
    bound = qpdf["query_id"].nunique() * k * num_shards
    if merge == "auto":
        merge = "driver" if bound <= DRIVER_MERGE_MAX_ROWS else "window"
    elif merge == "driver" and bound > DRIVER_MERGE_MAX_ROWS:
        # n_queries × k × num_shards rows land on the driver, and a huge
        # batch forced down this path OOMs it
        raise ValueError(
            f"merge='driver' would collect up to {bound} rows "
            f"(> DRIVER_MERGE_MAX_ROWS={DRIVER_MERGE_MAX_ROWS}); use "
            "merge='auto' or 'window'"
        )

    bq = spark.sparkContext.broadcast(
        [
            (qid, list(zip(g["term_id"].tolist(), g["qtf"].tolist())))
            for qid, g in qpdf.groupby("query_id")
        ]
    )
    theta0 = int(np.floor(threshold * scale))

    def kernel(batches) -> "pd.DataFrame":
        """Per-partition: buffer the (small, term-filtered) block rows,
        then score every query against every complete shard group present.
        Partitions hold whole shards (explicit repartition by shard_id)."""
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        pdf_all = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        out_q, out_d, out_s = [], [], []
        # first_doc, NOT block_id: a base-index ∪ segment union (streaming/
        # incremental.py) carries several docID-disjoint block runs per
        # (shard, term), each with its own block_id 0..n — block_id order
        # interleaves them, breaking the sorted-firsts invariant the
        # interval→block searchsorted below relies on. first_doc gives the
        # same order for a single index and the globally docID-sorted order
        # for any disjoint-segment union.
        pdf_all = pdf_all.sort_values(["shard_id", "term_id", "first_doc"])
        shards = pdf_all["shard_id"].to_numpy()
        t_all = pdf_all["term_id"].to_numpy(np.int64)
        fd_all = pdf_all["first_doc"].to_numpy(np.int64)
        ld_all = pdf_all["last_doc"].to_numpy(np.int64)
        bm_all = pdf_all["block_max"].to_numpy(np.int64)
        n_all = pdf_all["n"].to_numpy()
        db_all = pdf_all["doc_bytes"].to_numpy(object)
        wb_all = pdf_all["w_bytes"].to_numpy(object)
        ushards, sh_starts = np.unique(shards, return_index=True)
        sh_bounds = np.append(sh_starts, len(shards))
        for si in range(len(ushards)):
            s0, s1 = int(sh_bounds[si]), int(sh_bounds[si + 1])
            # per-term slices via numpy (a pandas groupby here costs more
            # than the scoring itself when thousands of terms are probed)
            uterms, t_starts = np.unique(t_all[s0:s1], return_index=True)
            t_bounds = np.append(t_starts, s1 - s0)
            by_term: dict[int, tuple] = {}
            for ti in range(len(uterms)):
                a, b = s0 + int(t_bounds[ti]), s0 + int(t_bounds[ti + 1])
                by_term[int(uterms[ti])] = (
                    fd_all[a:b],
                    ld_all[a:b],
                    bm_all[a:b],
                    list(zip(fd_all[a:b], n_all[a:b], db_all[a:b], wb_all[a:b])),
                )
            # (term_id, block) decode shared by the batch — LRU, byte-capped
            shard_cache = _BlockCache()
            for qid, qterms in bq.value:
                terms = [
                    (int(t), int(qtf), *by_term[int(t)])
                    for t, qtf in qterms
                    if int(t) in by_term
                ]
                docs, scores = _score_query_in_shard(
                    terms, k, theta0, prune, decoded=shard_cache,
                    bits=bits, codec=codec,
                )
                out_q.extend([qid] * len(docs))
                out_d.extend(docs.tolist())
                out_s.extend(scores.tolist())
        yield pd.DataFrame({"query_id": out_q, "doc_id": out_d, "score_int": out_s})

    # explicit partition count: AQE's coalescePartitions would fold this
    # CPU-heavy, byte-light stage into one partition (the shuffled blocks
    # are small even when the scoring work isn't) — user-specified
    # repartition(N) is exempt. Oversubscribe 4x so hash collisions don't
    # stack multiple heavy shards on one task.
    if prepartitioned:
        arranged = relevant  # prepare_serving already shuffled by shard_id
    else:
        par = spark.sparkContext.defaultParallelism
        arranged = relevant.repartition(max(4 * num_shards, par), "shard_id")
    local = arranged.mapInPandas(
        kernel, schema="query_id string, doc_id long, score_int long"
    )
    out_schema = "query_id string, doc_id long, score double, rank int"
    if merge == "driver":
        pdf = local.toPandas()
        # the job is done — free the per-call query-terms broadcast now.
        # The serving loop calls retrieve() once per batch; without this,
        # a long-lived query service accumulates one broadcast per call in
        # the driver and every executor's block manager until the context
        # cleaner happens to run. (The lazy window path below cannot do
        # this: its job runs after retrieve() returns.)
        bq.unpersist(blocking=False)
        if len(pdf) == 0:
            # a local frame even when empty: the caller's collect of an OOV
            # or empty query runs no job
            return local_frame(
                spark, {"query_id": [], "doc_id": [], "score": [], "rank": []},
                out_schema,
            )
        # one vectorized global merge instead of a per-query pandas groupby
        # loop (5000-query batches spent ~as long in frame construction as
        # in scoring): lexsort the whole collect by (group, score desc,
        # doc asc) — identical order to _topk_merge per group — then keep
        # the first k rows of each group by position.
        qcodes, quniq = pd.factorize(pdf["query_id"], sort=False)
        docs = pdf["doc_id"].to_numpy(np.int64)
        scores = pdf["score_int"].to_numpy(np.int64)
        order = np.lexsort((docs, -scores, qcodes))
        qs = qcodes[order]
        group_starts = np.flatnonzero(
            np.concatenate(([True], qs[1:] != qs[:-1]))
        )
        sizes = np.diff(np.concatenate((group_starts, [len(qs)])))
        pos = np.arange(len(qs)) - np.repeat(group_starts, sizes)
        keep = pos < k
        return local_frame(
            spark,
            {
                "query_id": quniq.to_numpy(dtype=object)[qs[keep]],
                "doc_id": docs[order][keep],
                "score": scores[order][keep] / float(scale),
                "rank": (pos[keep] + 1).astype(np.int32),
            },
            out_schema,
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_int").desc(), F.col("doc_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", F.col("score_int") / F.lit(float(scale)))
        .select("query_id", "doc_id", "score", "rank")
    )
