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
rows), repartition by (shard, term), then one mapInArrow per partition that
decodes every block in one decode_blocks call and re-encodes through the
build's own partition encoder (build.encode_partition: worker-side lexsort
+ encode_groups) — one posting encoder for build and merge. Because shards
partition docID space identically in every segment (same num_shards), the
merge never crosses shards; segments are docID-disjoint, so the lexsort on
(shard, term, doc) yields exactly the postings order a full build over the
union would see, and the merged index is block-identical to that build.
Memory: a worker buffers one partition's decoded postings — never more than
a build over the same postings buffers in the same encoder.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    POSTINGS_SCHEMA,
    _write_index_meta,
    arrange_for_sink,
    encode_partition,
    encode_partition_count,
    read_index_meta,
)
from .codec import decode_blocks


def merge_postings(
    segments: list[DataFrame],
    scale: float,
    block_size: int = 128,
    bits: int = 8,
    codec: str = "varint",
) -> DataFrame:
    """Merge docID-sorted posting segments into one postings DataFrame.

    One repartition of the compressed blocks by (shard, term), then per
    partition: decode all blocks (decode_blocks), repeat each block's
    shard/term over its postings, and re-encode with encode_partition.
    The decode stays in the integer quantized domain end to end, which is
    byte-identical to a dequantize-then-requantize round trip —
    rint((q/scale)*scale) == q — without the two float passes, so `scale`
    is not needed to re-encode (kept for callers)."""
    unioned = segments[0]
    for s in segments[1:]:
        unioned = unioned.unionByName(s)

    def reencode(batches):
        import pyarrow as pa

        chunks = [rb for rb in batches if rb.num_rows]
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks).combine_chunks()
        col = tbl.column
        n = col("n").to_numpy().astype(np.int64)
        doc, q = decode_blocks(
            col("first_doc").to_numpy(), n, col("doc_bytes").to_pylist(),
            col("w_bytes").to_pylist(), bits, codec,
        )
        yield encode_partition(
            np.repeat(col("shard_id").to_numpy(), n),
            np.repeat(col("term_id").to_numpy(), n),
            doc, q, block_size, bits, codec,
        )

    return unioned.repartition(
        encode_partition_count(unioned.sparkSession), "shard_id", "term_id"
    ).mapInArrow(reencode, schema=POSTINGS_SCHEMA)


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
    bits, codec = metas[0]["bits"], metas[0]["codec"]
    # explicit raises, not asserts — these guard against silent index
    # corruption and must survive python -O
    if not all(
        m["scale"] == scale and m["num_shards"] == num_shards for m in metas
    ):
        raise ValueError("segments must share quantization scale and shard count")
    if not all(m["codec"] == codec and m["bits"] == bits for m in metas):
        raise ValueError("segments must share posting codec and quantization width")
    # explicit schema: an empty segment (no parquet files under the
    # partition dirs) fails schema inference
    segs = [
        spark.read.schema(POSTINGS_SCHEMA).parquet(p) for p in segment_paths
    ]
    # every segment's docID range in one aggregate, not one per segment:
    # the union tagged by input index, grouped by tag (one row per
    # non-empty segment, so empty segments drop out and the collect is
    # bounded by the input count)
    tagged = segs[0].select(F.lit(0).alias("_seg"), "first_doc", "last_doc")
    for i, s in enumerate(segs[1:], 1):
        tagged = tagged.unionByName(
            s.select(F.lit(i).alias("_seg"), "first_doc", "last_doc")
        )
    ranges = sorted(
        (r[1], r[2])
        for r in tagged.groupBy("_seg")
        .agg(F.min("first_doc"), F.max("last_doc"))
        .collect()
    )
    for (lo_a, hi_a), (lo_b, _hi_b) in zip(ranges, ranges[1:]):
        if lo_b <= hi_a:
            raise ValueError(
                f"segment docID ranges overlap ({lo_a}..{hi_a} vs {lo_b}..): "
                "merge requires docID-disjoint segments (watermark-allocated)"
            )
    merged = merge_postings(segs, scale, block_size, bits=bits, codec=codec)
    # same sink arrangement as build_index (without it: 2 048 files at the
    # bench shape, whose serial commit renames dominated merge wall time)
    merged = arrange_for_sink(merged, num_shards)
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
            "bits": bits,
            "codec": codec,
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
