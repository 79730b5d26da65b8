"""transcripts → documents materialization.

Reference analogue: the collection scan that assigns contiguous internal row
ids in scan order (splade/datasets/datasets.py:65-98,
splade/tasks/transformer_evaluator.py:45-53). Here a "document" is one
conversation: all turns concatenated in stable (conv_id, turn_idx) order.

Scale notes (100 TB / 10^12 turns):
- The per-conversation aggregation is one shuffle on conv_id — unavoidable
  and map-side combinable (collect_list of small structs).
- Dense doc_id assignment avoids the single-partition `row_number() OVER
  (ORDER BY conv_id)` anti-pattern: we range-partition by conv_id, count
  rows per partition (cheap second job over the shuffled data), fold the
  cumulative offsets into a literal array, and add offset + local position
  per partition — the classic distributed zipWithIndex, pure JVM codegen
  (monotonically_increasing_id supplies the local position).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def documents_text(transcripts: DataFrame) -> DataFrame:
    """(conv_id, text): turns joined by '\\n' in turn_idx order.

    array_sort on struct(turn_idx, ...) gives stable per-turn ordering
    without a sort shuffle; the groupBy is the only exchange.
    """
    turns = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
    return transcripts.groupBy("conv_id").agg(
        F.array_join(F.transform(turns, lambda s: s["text"]), "\n").alias("text"),
        F.count("*").alias("n_turns"),
    )


def assign_doc_ids(
    docs: DataFrame, partitions: int = 0,
    cache_registry: list | None = None,
) -> DataFrame:
    """Add dense int64 doc_id in ascending conv_id order, distributed.

    Returns (doc_id long, conv_id string, text string, n_turns long).

    cache_registry: when provided, the internally cached DataFrame is
    appended to it so the caller can unpersist once downstream consumption
    is done — a long-lived loop (e.g. one call per streaming micro-batch)
    would otherwise accumulate one pinned cache entry per call.
    """
    spark = docs.sparkSession
    partitions = partitions or docs.sparkSession.sparkContext.defaultParallelism
    ranged = docs.repartitionByRange(partitions, "conv_id").sortWithinPartitions(
        "conv_id"
    )
    # cached: the per-partition count job below and the downstream consumer
    # would otherwise each recompute the full upstream aggregation
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).cache()
    if cache_registry is not None:
        cache_registry.append(with_pid)
    counts = {
        r["_pid"]: r["c"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    return _attach_doc_ids(with_pid, offsets).select("doc_id", *docs.columns)


def _attach_doc_ids(with_pid: DataFrame, offsets: dict[int, int]) -> DataFrame:
    """Add doc_id = offsets[_pid] + local row number to a frame whose
    ``_pid`` column is its own spark_partition_id().

    Pure JVM codegen, so downstream evaluations of `docs` (tokenize,
    stats, ...) never ship text through Python workers just to attach an
    integer: monotonically_increasing_id() is
    (partition_id << 33) | local_row_number with rows numbered in flow
    order — i.e. the sortWithinPartitions(conv_id) order, read stably from
    the cache — so offset[pid] + (mid & (2^33-1)) is exactly the dense
    ascending-conv_id id. Partitions are bounded at 2^33 rows by the id
    encoding — far above any sane partition sizing.

    That bit layout is Spark's implementation, not its contract, so it is
    checked per row: a row whose mid >> 33 is not its _pid fails the job
    (raise_error) instead of silently getting a wrong id."""
    max_pid = max(offsets) if offsets else 0
    off_arr = F.array(
        *[F.lit(int(offsets.get(p, 0))) for p in range(max_pid + 1)]
    )
    # _mid is its own column so the check and the id read the same value:
    # Spark never inlines a nondeterministic column into its consumers
    mid = F.col("_mid")
    doc_id = F.when(
        F.shiftright(mid, 33) == F.col("_pid"),
        F.element_at(off_arr, F.col("_pid") + 1) + mid.bitwiseAND(F.lit((1 << 33) - 1)),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("assign_doc_ids: monotonically_increasing_id() >> 33 = "),
                F.shiftright(mid, 33).cast("string"),
                F.lit(" but spark_partition_id() = "),
                F.col("_pid").cast("string"),
            )
        )
    )
    return with_pid.withColumn("_mid", F.monotonically_increasing_id()).withColumn(
        "doc_id", doc_id.cast("long")
    )


def build_documents(
    transcripts: DataFrame, partitions: int = 0,
    cache_registry: list | None = None,
) -> DataFrame:
    """Full pipeline: transcripts → (doc_id, conv_id, text, n_turns).

    cache_registry: see assign_doc_ids."""
    return assign_doc_ids(
        documents_text(transcripts), partitions, cache_registry=cache_registry
    )


def doc_map(documents: DataFrame) -> DataFrame:
    """Internal→external id dim table (reference: doc_ids.pkl,
    splade/tasks/transformer_evaluator.py:59). Broadcast at emission."""
    return documents.select("doc_id", "conv_id")
