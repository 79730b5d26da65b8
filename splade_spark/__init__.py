"""splade_spark — a PySpark-native sparse retrieval engine.

A brand-new inverted-index build + BM25 query engine with the query and
data-processing capabilities of naver/splade (reference studied read-only at
/root/reference), re-expressed Spark-first:

- ``documents``   : transcripts → per-conversation documents (concat_ws agg)
- ``tokenize``    : deterministic lowercase [a-z0-9]+ tokenizer → term rows
- ``stats``       : corpus statistics (N, avgdl, df, idf, FLOPS, index_dist)
- ``bm25``        : exact DataFrame BM25 oracle (join + groupBy + window top-k)
- ``index``       : docID-sorted, delta+varint, u8-quantized, block-max
                    posting blocks (one Arrow partition encoder for build
                    and tiered merge, per-partition checkpoint ledger)
- ``query``       : document-at-a-time block-max WAND Arrow kernel
- ``evaluation``  : MRR@k / recall@k / NDCG@k in DataFrame ops
- ``pruning``     : static index pruning (value / quantile / per-doc top-k)
- ``pipeline``    : training-data ops — dedup (exact / MinHash-LSH / SimHash /
                    n-gram Jaccard / embedding-cosine), ANN similarity,
                    text quality & language-ID, multimodal column plumbing

Everything is DataFrame/SQL-first; Python only runs inside Arrow-vectorized
pandas UDFs (never per-row).
"""

from ._pyworker import install_in_worker as _install_in_worker

# engine UDFs pickle module-level functions by reference, so a Python
# worker imports this package on its first engine task; from then on that
# reused worker skips PySpark's per-task zip-directory re-read
_install_in_worker()

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
BLOCK_SIZE = 128
QUANT_BITS = 8
