"""Iceberg index path (north rule names Iceberg tables explicitly).

Without an iceberg-spark-runtime jar on the classpath the round-trip test
self-skips; the capability guards, the auto-fallback, the sink's writer
calls (stubbed) and the meta read-back (stub session) are asserted
unconditionally.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from splade_spark.bm25 import bm25_weights, quantization_scale
from splade_spark.index.build import (
    build_index_iceberg,
    iceberg_available,
    load_postings_iceberg,
    read_index_meta_iceberg,
    write_postings_iceberg,
)
from splade_spark.query.wand import retrieve
from splade_spark.stats import corpus_stats
from splade_spark.tokenize import query_term_freqs, term_freqs


@pytest.fixture(scope="module")
def weights(spark, tiny_documents):
    tf = term_freqs(tiny_documents)
    n, avgdl = corpus_stats(tf)
    w = bm25_weights(tf, n, avgdl).select("doc_id", "term_id", "weight").cache()
    return w, quantization_scale(w)


def test_guard_raises_without_runtime(spark, weights):
    w, scale = weights
    if iceberg_available(spark):
        pytest.skip("iceberg runtime present — guard not reachable")
    from splade_spark.index.build import build_postings

    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        write_postings_iceberg(
            build_postings(w, scale, num_shards=4), "local.db.t", 4
        )


def test_build_index_iceberg_guard(spark, weights, monkeypatch):
    """The Iceberg build refuses to run without the runtime, before any
    job: the guard sits in front of the write, never after a full encode."""
    import splade_spark.index.build as build_mod

    monkeypatch.setattr(build_mod, "iceberg_available", lambda spark: False)
    w, scale = weights
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        build_index_iceberg(w, "local.db.t", scale, num_shards=4)


class _Writer:
    """Stands in for the arranged postings and the DataFrameWriterV2 they
    open; records the calls the Iceberg sink makes."""

    def __init__(self):
        self.calls = []

    def _record(self, *call):
        self.calls.append(call)
        return self

    def writeTo(self, table):
        return self._record("writeTo", table)

    def tableProperty(self, k, v):
        return self._record("tableProperty", k, v)

    def partitionedBy(self, col):
        return self._record("partitionedBy", str(col))

    def createOrReplace(self):
        self._record("createOrReplace")


def test_write_postings_iceberg_publishes_meta_with_data(monkeypatch):
    """Meta properties ride on the same createOrReplace commit as the
    data, on the sink arrangement, partitioned by shard_id."""
    import splade_spark.index.build as build_mod

    writer, arranged = _Writer(), []

    def fake_arrange(postings, num_shards):
        arranged.append(num_shards)
        return writer

    monkeypatch.setattr(build_mod, "iceberg_available", lambda spark: True)
    monkeypatch.setattr(build_mod, "arrange_for_sink", fake_arrange)
    postings = type("P", (), {"sparkSession": None})()
    write_postings_iceberg(
        postings, "local.db.t", 4,
        properties={"splade.scale": 2.5, "splade.bits": 8},
    )
    assert arranged == [4]
    assert writer.calls == [
        ("writeTo", "local.db.t"),
        ("tableProperty", "splade.scale", "2.5"),
        ("tableProperty", "splade.bits", "8"),
        ("partitionedBy", str(F.col("shard_id"))),
        ("createOrReplace",),
    ]


class _PropsSession:
    """Stub session whose SHOW TBLPROPERTIES returns the given rows."""

    def __init__(self, props):
        self.props = props
        self.queries = []

    def sql(self, q):
        self.queries.append(q)
        rows = [{"key": k, "value": v} for k, v in self.props.items()]
        return type("R", (), {"collect": lambda self_: rows})()


def test_read_index_meta_iceberg_fills_defaults():
    """A table written before bits/codec were recorded reads back with
    META_DEFAULTS; a stored width past 16 bits is rejected."""
    from splade_spark.index.build import META_DEFAULTS

    props = {
        "splade.scale": "12.5", "splade.num_shards": "4",
        "splade.block_size": "128", "owner": "x",
    }
    sess = _PropsSession(props)
    meta = read_index_meta_iceberg(sess, "local.db.t")
    assert sess.queries == ["SHOW TBLPROPERTIES local.db.t"]
    assert meta == {
        "scale": 12.5, "num_shards": 4, "block_size": 128, **META_DEFAULTS,
    }
    props.update({"splade.bits": "16", "splade.codec": "for"})
    meta = read_index_meta_iceberg(_PropsSession(props), "local.db.t")
    assert (meta["bits"], meta["codec"]) == (16, "for")
    props["splade.bits"] = "17"
    with pytest.raises(ValueError, match="bits must be in"):
        read_index_meta_iceberg(_PropsSession(props), "local.db.t")


def test_cli_auto_falls_back_to_parquet(spark, tmp_path, tiny_documents):
    if iceberg_available(spark):
        pytest.skip("iceberg runtime present — fallback not reachable")
    import splade_spark.cli as cli

    tr = str(tmp_path / "tr")
    # cli build consumes transcripts; synthesize a tiny set
    from splade_spark.fixtures import transcripts

    transcripts(spark, 20).write.mode("overwrite").parquet(tr)
    idx = str(tmp_path / "idx")
    cli.main(
        [
            "build", "--transcripts", tr, "--index", idx, "--shards", "4",
            "--format", "auto", "--table", "local.db.postings",
        ]
    )
    from splade_spark.index.build import read_index_meta

    assert read_index_meta(idx)["num_shards"] == 4  # parquet path taken


def test_iceberg_round_trip(spark, weights, tmp_path):
    """Build → query over an Iceberg table must match the parquet path."""
    if not iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on the classpath")
    w, scale = weights
    from splade_spark.fixtures import queries_df
    from splade_spark.index.build import build_index, load_postings

    table = "local.db.postings_rt"
    m = build_index_iceberg(w, table, scale, num_shards=4)
    assert m["postings"] == w.count()
    meta = read_index_meta_iceberg(spark, table)
    assert meta["num_shards"] == 4 and meta["scale"] == pytest.approx(scale)

    pf = str(tmp_path / "pq")
    build_index(w, pf, scale, num_shards=4)
    qt = query_term_freqs(queries_df(spark))
    res_i = retrieve(load_postings_iceberg(spark, table), qt, scale, k=10,
                     num_shards=4)
    res_p = retrieve(load_postings(spark, pf), qt, scale, k=10, num_shards=4)
    assert sorted(map(tuple, res_i.collect())) == sorted(
        map(tuple, res_p.collect())
    )
