"""spark-submit entry point.

Cluster launch (the north-rule deployment shape):

    zip -r splade_spark.zip splade_spark
    spark-submit --py-files splade_spark.zip \
        --master <cluster> \
        -- python -m splade_spark.cli build \
           --transcripts s3://.../transcripts --index s3://.../idx --shards 4096

Local: python -m splade_spark.cli {synth|build|query|evaluate} ...
Per-stage metrics (postings/sec, wall time, shard ledger) are logged to
stderr and persisted in the index's _ledger/ directory.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _log(msg: str) -> None:
    print(f"[splade_spark] {msg}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="splade_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("synth", help="generate deterministic transcripts")
    sp.add_argument("--out", required=True)
    sp.add_argument("--conversations", type=int, default=10000)

    bp = sub.add_parser("build", help="build the compressed posting index")
    bp.add_argument("--transcripts", required=True)
    bp.add_argument("--index", required=True,
                    help="output dir (parquet) — with --format iceberg, "
                         "also pass --table; the dir still gets the docmap")
    bp.add_argument("--shards", type=int, default=64)
    bp.add_argument("--no-resume", action="store_true")
    bp.add_argument("--format", choices=["parquet", "iceberg", "auto"],
                    default="parquet",
                    help="auto = iceberg when the runtime jar is present "
                         "and --table is given, else parquet")
    bp.add_argument("--table", default=None,
                    help="Iceberg table identifier (catalog.db.table)")
    bp.add_argument("--codec", choices=["varint", "for"], default="varint",
                    help="posting delta codec: LEB128 varint or "
                         "fixed-width FOR bitpack (faster decode)")

    qp = sub.add_parser("query", help="top-k BM25 retrieval")
    qp.add_argument("--index", default=None, help="parquet index dir")
    qp.add_argument("--table", default=None,
                    help="Iceberg postings table (instead of --index)")
    qp.add_argument("--queries", required=True, help="TSV qid\\ttext")
    qp.add_argument("--out", required=True, help="runs parquet dir")
    qp.add_argument("--k", type=int, default=10)
    qp.add_argument("--threshold", type=float, default=0.0)
    qp.add_argument("--run-json", default=None)

    ep = sub.add_parser("evaluate", help="score a run against qrels")
    ep.add_argument("--run", required=True)
    ep.add_argument("--qrels", required=True, help="qrels json")

    mp = sub.add_parser("merge", help="tiered merge of index segments")
    mp.add_argument("--segments", required=True, nargs="+")
    mp.add_argument("--out", required=True)

    ap = sub.add_parser(
        "ann-build",
        help="build a persisted ANN index (LSH or IVF) over an embedding "
             "column — parquet hive-partitioned by bucket/cell; queries "
             "then scan only probed partitions",
    )
    ap.add_argument("--embeddings", required=True,
                    help="parquet with (id, embedding array<float>)")
    ap.add_argument("--index", required=True, help="output index dir")
    ap.add_argument("--kind", choices=["lsh", "ivf"], default="lsh")
    ap.add_argument("--nbits", type=int, default=12, help="LSH: signature bits")
    ap.add_argument("--centroids", type=int, default=64, help="IVF: cells")
    ap.add_argument("--id-col", default="vec_id")
    ap.add_argument("--vec-col", default="embedding")

    aq = sub.add_parser("ann-query", help="top-k cosine ANN over a persisted index")
    aq.add_argument("--index", required=True)
    aq.add_argument("--queries", required=True,
                    help="parquet with (query_id, embedding)")
    aq.add_argument("--out", required=True, help="results parquet dir")
    aq.add_argument("--k", type=int, default=10)
    aq.add_argument("--nprobe", type=int, default=8, help="IVF cells probed")
    aq.add_argument("--multiprobe-bits", type=int, default=1,
                    help="LSH: probe buckets within this many bit flips")

    # session options shared by every subcommand: without these the
    # iceberg path could never reach a configured catalog except under
    # spark-submit with externally supplied --conf
    for sp_ in (sp, bp, qp, ep, mp, ap, aq):
        sp_.add_argument(
            "--warehouse", default=None,
            help="Iceberg warehouse root — registers a hadoop catalog "
                 "named 'local' (tables: local.db.tbl)")
        sp_.add_argument(
            "--conf", action="append", default=[], metavar="K=V",
            help="extra Spark conf, repeatable (e.g. "
                 "--conf spark.sql.catalog.prod=org.apache.iceberg...)")

    args = p.parse_args(argv)
    # fail fast on argument combinations BEFORE any Spark job runs (a
    # missing --table should not surface after scanning a 100 GB corpus)
    if args.cmd == "build" and args.format == "iceberg" and not args.table:
        p.error("--format iceberg requires --table")
    bad = [kv for kv in args.conf if "=" not in kv]
    if bad:
        p.error(f"--conf expects K=V, got: {' '.join(bad)}")

    from .session import get_spark

    spark = get_spark(
        f"splade_{args.cmd}",
        extra_conf=dict(kv.split("=", 1) for kv in args.conf) or None,
        iceberg_warehouse=args.warehouse,
    )

    def _check_catalog(table: str) -> None:
        """Verify the table's catalog resolves BEFORE any corpus scan —
        an unresolved catalog must not surface after a full encode.

        Only the first component of a ≥3-part identifier is necessarily a
        catalog. A 2-part ``db.tbl`` resolves its namespace in the
        session's CURRENT catalog unless ``db`` happens to be a configured
        catalog — probing ``SHOW NAMESPACES IN db`` for that case would
        reject perfectly valid input."""
        parts = table.split(".")
        if len(parts) < 2:
            return
        catalog = parts[0]
        has_catalog_conf = (
            spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None
        )
        if len(parts) == 2 and not has_catalog_conf:
            return  # namespace.table in the current catalog
        try:
            spark.sql(f"SHOW NAMESPACES IN {catalog}").collect()
        except Exception as exc:
            p.error(
                f"Iceberg catalog '{catalog}' is not resolvable — pass "
                f"--warehouse or --conf spark.sql.catalog.{catalog}.*=... "
                f"({type(exc).__name__}: {exc})"
            )

    if args.cmd == "synth":
        from .fixtures import transcripts

        transcripts(spark, args.conversations).write.mode("overwrite").parquet(args.out)
        _log(f"wrote {args.conversations} conversations to {args.out}")

    elif args.cmd == "build":
        from pyspark.sql import functions as F

        from .bm25 import bm25_weights, quantization_scale
        from .documents import build_documents
        from .stats import corpus_stats_from_docs
        from .tokenize import term_freqs

        from .index.build import build_index

        # resolve format + verify the catalog BEFORE the corpus scan
        fmt = args.format
        if fmt == "auto":
            from .index.build import iceberg_available

            fmt = (
                "iceberg"
                if args.table and iceberg_available(spark)
                else "parquet"
            )
            _log(f"format auto → {fmt}")
        if fmt == "iceberg":
            _check_catalog(args.table)

        t0 = time.time()
        tr = spark.read.parquet(args.transcripts)
        # every frame this build caches (build_documents' doc-id cache and
        # the term table) is dropped on the way out, error or not, so a
        # caller embedding this entry point in a loop doesn't accumulate
        # pinned cache entries (same discipline as the streaming indexer)
        cached: list = []
        try:
            docs = build_documents(tr, cache_registry=cached)
            # cached: consumed by the df aggregation inside bm25_weights,
            # quantization, and the build shuffle — uncached this lineage
            # would tokenize the corpus three times. N/avgdl come from the
            # documents table directly (map-only, no postings-wide shuffle).
            tf = term_freqs(docs).cache()
            cached.append(tf)
            n, avgdl = corpus_stats_from_docs(docs)
            _log(f"corpus: N={n} avgdl={avgdl:.2f} ({time.time() - t0:.1f}s)")
            w = bm25_weights(tf, n, avgdl).select("doc_id", "term_id", "weight")
            scale = quantization_scale(w)
            if fmt == "iceberg":
                from .index.build import build_index_iceberg

                metrics = build_index_iceberg(
                    w, args.table, scale, num_shards=args.shards,
                    codec=args.codec,
                )
            else:
                metrics = build_index(
                    w,
                    args.index,
                    scale,
                    num_shards=args.shards,
                    resume=not args.no_resume,
                    lineage={
                        "transcripts": args.transcripts,
                        "n_docs": n,
                        "avgdl": avgdl,
                    },
                    codec=args.codec,
                )
            # doc_map dim table for external-id emission
            docs.select("doc_id", "conv_id").write.mode("overwrite").parquet(
                args.index + "_docmap"
            )
        finally:
            for df in cached:
                df.unpersist()
        _log(f"build: {json.dumps(metrics)}")

    elif args.cmd == "query":
        from pyspark.sql import functions as F

        from .index.build import load_postings, read_index_meta
        from .io import read_collection_tsv, write_run_json, write_runs_parquet
        from .query.wand import retrieve
        from .tokenize import query_term_freqs

        if args.table:
            from .index.build import load_postings_iceberg, read_index_meta_iceberg

            _check_catalog(args.table)
            meta = read_index_meta_iceberg(spark, args.table)
            postings = load_postings_iceberg(spark, args.table)
        elif args.index:
            meta = read_index_meta(args.index)
            postings = load_postings(spark, args.index)
        else:
            p.error("query requires --index or --table")
        queries = read_collection_tsv(spark, args.queries).withColumnRenamed(
            "doc_id", "query_id"
        )
        qt = query_term_freqs(queries).select("query_id", "term_id", "qtf").toPandas()
        t0 = time.time()
        # num_shards from the meta kills an extra max(shard_id) Spark job
        # (a full postings scan) per query batch; retrieve's merge policy
        # takes the driver-side top-k merge (one fewer Spark stage) whenever
        # the collected row bound allows
        runs = retrieve(
            postings,
            qt,
            meta["scale"],
            k=args.k,
            threshold=args.threshold,
            num_shards=meta["num_shards"],
            bits=meta["bits"],
            codec=meta["codec"],
        )
        write_runs_parquet(runs, args.out)
        _log(f"query: k={args.k} wall={time.time() - t0:.2f}s → {args.out}")
        if args.run_json:
            write_run_json(spark.read.parquet(args.out), args.run_json)

    elif args.cmd == "evaluate":
        from pyspark.sql import functions as F

        from .evaluation.metrics import evaluate
        from .io import read_qrels_json

        runs = spark.read.parquet(args.run).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
        qrels = read_qrels_json(spark, args.qrels)
        print(json.dumps(evaluate(runs, qrels)))

    elif args.cmd == "merge":
        from .index.merge import merge_indexes

        t0 = time.time()
        out = merge_indexes(spark, args.segments, args.out)
        _log(f"merge: {json.dumps(out)} wall={time.time() - t0:.2f}s")

    elif args.cmd == "ann-build":
        from .pipeline.ann_index import build_ivf_index, build_lsh_index

        emb = spark.read.parquet(args.embeddings)
        t0 = time.time()
        if args.kind == "lsh":
            meta = build_lsh_index(
                emb, args.index, nbits=args.nbits,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        else:
            meta = build_ivf_index(
                emb, args.index, n_centroids=args.centroids,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        _log(
            f"ann-build: kind={meta['kind']} n_vectors={meta['n_vectors']} "
            f"wall={time.time() - t0:.2f}s → {args.index}"
        )

    elif args.cmd == "ann-query":
        from .pipeline.ann_index import (
            ivf_topk_from_index, lsh_topk_from_index, read_ann_meta,
        )

        meta = read_ann_meta(args.index)
        # query batches are driver-side by design: the probe set is tiny
        # numpy and the per-batch cardinality is operator-bounded (a batch
        # too big to hold driver-side should be split upstream)
        qpdf = spark.read.parquet(args.queries).toPandas()
        t0 = time.time()
        if meta["kind"] == "lsh":
            res = lsh_topk_from_index(
                spark, args.index, qpdf, k=args.k,
                multiprobe_bits=args.multiprobe_bits,
            )
        else:
            res = ivf_topk_from_index(
                spark, args.index, qpdf, k=args.k, nprobe=args.nprobe
            )
        res.write.mode("overwrite").parquet(args.out)
        _log(f"ann-query: k={args.k} wall={time.time() - t0:.2f}s → {args.out}")

    return 0


if __name__ == "__main__":
    sys.exit(main())
