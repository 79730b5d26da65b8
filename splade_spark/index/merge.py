"""Log-structured tiered segment merge.

Incremental indexing produces partition-local *segments* (each a full sharded
index over a batch of new documents, built by index/build.py). Queries can
run over the union of segments (retrieval is distributive over docID-disjoint
segments), but block counts and per-term fan-out grow with segment count — so
segments are folded with a tiered merge, the standard log-structured policy
(reference delegates this to Lucene/PISA whose segment merging is the same
idea; in-repo, the reference rebuilds from scratch — inverted_index.py:23-46).

The merge itself is one Spark job: union the segments' postings (still
block-compressed — the shuffle carries compressed blocks, never raw posting
rows), repartition by (shard, term) + sortWithinPartitions(shard, term,
first_doc), then a *streaming* mapInPandas that decodes, concatenates by
docID and re-encodes every complete (shard, term) group per Arrow batch,
carrying the trailing possibly-incomplete group into the next batch — the
same encode_groups kernel as the build encoder (build.py:build_postings).
A per-group applyInPandas is wrong here for the same reason it was wrong
in the build: Zipf tails create millions of tiny (shard, term) groups and
per-group pandas overhead dominates. Because shards partition docID space
identically in every segment (same num_shards), the merge never crosses
shards; segments are docID-disjoint, so blocks sorted by first_doc
concatenate into a globally docID-sorted list per group.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import numpy as np

from .build import POSTINGS_SCHEMA, _write_index_meta, read_index_meta
from .codec import decode_block_raw, decode_varint, encode_groups


def merge_postings(
    segments: list[DataFrame],
    scale: float,
    block_size: int = 128,
    bits: int = 8,
    codec: str = "varint",
) -> DataFrame:
    """Merge docID-sorted posting segments into one postings DataFrame.

    Streaming re-encode (see module docstring): one repartition of the
    compressed blocks, then all complete (shard, term) groups in each
    Arrow batch are decoded + re-encoded in a single vectorized
    encode_groups pass. The decode side stays in the integer quantized
    domain end to end (decoded weights feed encode_groups with
    prequantized=True), which is byte-identical to the old
    dequantize-then-requantize round trip — rint((q/scale)*scale) == q —
    without the two float passes. Varint doc deltas for ALL blocks in a
    batch decode in ONE vectorized pass over the concatenated byte
    streams (segmented cumsum reconstructs absolute docIDs), replacing
    the per-block Python decode loop."""
    unioned = segments[0]
    for s in segments[1:]:
        unioned = unioned.unionByName(s)
    spark = unioned.sparkSession
    # explicit partition count — AQE would coalesce this CPU-heavy,
    # byte-light stage down to a handful of partitions
    n_part = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        spark.sparkContext.defaultParallelism * 2,
    )
    arranged = unioned.repartition(
        n_part, "shard_id", "term_id"
    ).sortWithinPartitions("shard_id", "term_id", "first_doc")

    wdtype = np.uint8 if bits <= 8 else np.uint16

    def _reencode_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        n_arr = pdf["n"].to_numpy(np.int64)
        first = pdf["first_doc"].to_numpy(np.int64)
        total = int(n_arr.sum())
        if codec == "varint":
            # one vectorized decode of every block's delta stream: LEB128
            # is self-delimiting, so the concatenated buffers parse in a
            # single pass (sum(n-1) deltas, in block order)
            deltas = decode_varint(b"".join(pdf["doc_bytes"])).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(n_arr)[:-1]))
            vals = np.empty(total, dtype=np.int64)
            mask = np.ones(total, dtype=bool)
            mask[starts] = False
            vals[starts] = first
            vals[mask] = deltas
            c = np.cumsum(vals)
            # segmented cumsum: doc[j] = first_b + Σ deltas in block b
            doc = c - np.repeat(c[starts] - first, n_arr)
            q = np.frombuffer(
                b"".join(pdf["w_bytes"]), dtype=wdtype
            ).astype(np.int64)
        else:
            docs_all, w_all = [], []
            for f, n, db, wb in zip(
                pdf["first_doc"], pdf["n"], pdf["doc_bytes"], pdf["w_bytes"]
            ):
                d, w = decode_block_raw(int(f), int(n), db, wb, bits, codec)
                docs_all.append(d)
                w_all.append(w)
            doc = np.concatenate(docs_all)
            q = np.concatenate(w_all)
        shard_rep = np.repeat(pdf["shard_id"].to_numpy(), n_arr)
        term_rep = np.repeat(pdf["term_id"].to_numpy(), n_arr)
        return pd.DataFrame(
            encode_groups(
                shard_rep, term_rep, doc, q, scale,
                block_size=block_size, bits=bits, codec=codec,
                prequantized=True,
            )
        )

    def reencode_stream(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if len(pdf) == 0:
                continue
            s = pdf["shard_id"].to_numpy()
            t = pdf["term_id"].to_numpy()
            same_tail = (s == s[-1]) & (t == t[-1])
            not_tail = np.flatnonzero(~same_tail)
            cut = int(not_tail[-1]) + 1 if len(not_tail) else 0
            pending = pdf.iloc[cut:]
            body = pdf.iloc[:cut]
            if len(body):
                yield _reencode_rows(body)
        if pending is not None and len(pending):
            yield _reencode_rows(pending)

    return arranged.mapInPandas(reencode_stream, schema=POSTINGS_SCHEMA)


def merge_indexes(
    spark: SparkSession, segment_paths: list[str], out_path: str
) -> dict:
    """Merge on-disk index segments (identical meta) into out_path.

    Segments must cover **disjoint docID ranges** (the incremental indexer
    allocates contiguous ranges above a persisted watermark —
    streaming/incremental.py). Two independent `cli build` runs both start
    doc ids at 0; merging those would silently alias different documents,
    so overlapping ranges are rejected."""
    metas = [read_index_meta(p) for p in segment_paths]
    scale = metas[0]["scale"]
    num_shards = metas[0]["num_shards"]
    block_size = metas[0]["block_size"]
    # explicit raises, not asserts — these guard against silent index
    # corruption and must survive python -O
    if not all(
        m["scale"] == scale and m["num_shards"] == num_shards for m in metas
    ):
        raise ValueError("segments must share quantization scale and shard count")
    if not all(
        m.get("codec", "varint") == metas[0].get("codec", "varint")
        and m.get("bits", 8) == metas[0].get("bits", 8)
        for m in metas
    ):
        raise ValueError("segments must share posting codec and quantization width")
    # explicit schema: an empty segment (no parquet files under the
    # partition dirs) fails schema inference; its (None, None) range is
    # skipped below rather than TypeError-ing against int ranges
    segs = [
        spark.read.schema(POSTINGS_SCHEMA).parquet(p) for p in segment_paths
    ]
    ranges = sorted(
        r
        for r in (
            tuple(s.agg(F.min("first_doc"), F.max("last_doc")).collect()[0])
            for s in segs
        )
        if r[0] is not None
    )
    for (lo_a, hi_a), (lo_b, _hi_b) in zip(ranges, ranges[1:]):
        if lo_b <= hi_a:
            raise ValueError(
                f"segment docID ranges overlap ({lo_a}..{hi_a} vs {lo_b}..): "
                "merge requires docID-disjoint segments (watermark-allocated)"
            )
    merged = merge_postings(
        segs, scale, block_size,
        bits=metas[0].get("bits", 8),
        codec=metas[0].get("codec", "varint"),
    )
    # Same sink arrangement as build_index: range the (small, compressed)
    # blocks into one partition per shard so each shard directory gets ~one
    # term-sorted file. Without this every re-encode partition writes its
    # own sliver into every shard dir (encode_partitions × shards files —
    # measured 2 048 at the bench shape): the commit's serial renames
    # dominate merge wall time and the query path loses tight term_id
    # row-group pruning.
    merged = merged.repartition(num_shards, "shard_id").sortWithinPartitions(
        "shard_id", "term_id", "block_id"
    )
    # STATIC overwrite, unlike build_index's dynamic mode: dynamic only
    # replaces partitions present in the new data, so a merge into a path
    # that previously held an index with more shards (or any shard the new
    # merge leaves empty) would keep the stale shard partitions on disk —
    # postings for documents that exist in no merged segment, silently
    # wrong at query time. Merge has no per-shard resume ledger, so the
    # whole-directory replace costs nothing and a killed merge re-run is
    # still idempotent.
    merged.write.mode("overwrite").partitionBy("shard_id").parquet(out_path)
    # atomic tmp+rename, same as the build path: a crash mid-write must not
    # leave a merged index the query path cannot open
    _write_index_meta(
        out_path,
        {
            "scale": scale,
            "num_shards": num_shards,
            "block_size": block_size,
            "bits": metas[0].get("bits", 8),
            "codec": metas[0].get("codec", "varint"),
            "lineage": {"merged_from": segment_paths},
        },
    )
    return {"segments": len(segment_paths), "out": out_path}


def tiered_merge_plan(segment_sizes: list[int], fanout: int = 4) -> list[list[int]]:
    """Which segments to fold this round (indices), grouped by tier.

    Tier t holds segments with size in [fanout^t, fanout^(t+1)); when a tier
    accumulates >= fanout segments they merge into the next tier. Driver-side
    planning only — the merges themselves are Spark jobs.
    """

    def _tier(sz: int) -> int:
        # integer floor-log: float math.log(fanout**t, fanout) rounds DOWN
        # for exact powers (int(math.log(3**5, 3)) == 4), dropping freshly
        # merged fanout^t-sized segments a tier low and re-merging them
        # prematurely
        t, sz = 0, max(sz, 1)
        while sz >= fanout:
            sz //= fanout
            t += 1
        return t

    tiers: dict[int, list[int]] = {}
    for i, sz in enumerate(segment_sizes):
        tiers.setdefault(_tier(sz), []).append(i)
    return [idxs for t, idxs in sorted(tiers.items()) if len(idxs) >= fanout]
