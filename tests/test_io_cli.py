from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from splade_spark.io import (
    export_anserini_jsonl,
    export_anserini_queries_tsv,
    read_beir_corpus,
    read_collection_tsv,
    read_qrels_json,
    read_qrels_trec,
    read_trec_run,
    self_hit_filter,
    write_run_json,
)


def test_collection_tsv_roundtrip(spark, tmp_path):
    p = tmp_path / "raw.tsv"
    p.write_text("0\thello world\n1\tsecond doc\n2\t\n")
    df = read_collection_tsv(spark, str(p))
    rows = {r.doc_id: r.text for r in df.collect()}
    assert rows == {"0": "hello world", "1": "second doc", "2": ""}


def test_beir_corpus_concat(spark, tmp_path):
    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"_id": "a", "title": "T", "text": "body"}\n'
        '{"_id": "b", "text": "only body"}\n'
    )
    rows = {r.doc_id: r.text for r in read_beir_corpus(spark, str(p)).collect()}
    assert rows == {"a": "T body", "b": "only body"}


def test_ir_corpus_coalescing(spark):
    """S6 fallback chain: title+text → body.decode+url → text
    (reference splade/datasets/datasets.py:192-198)."""
    from splade_spark.io import read_ir_corpus

    docs = spark.createDataFrame(
        [
            ('"d1"', "T", "body text", None, None),
            ("d2", None, None, bytearray(b"web body"), "http://x"),
            ("d3", None, "plain", None, None),
            ("d4", None, None, None, None),
            ("d5", "title only", None, None, None),
        ],
        "doc_id string, title string, text string, body binary, url string",
    )
    rows = {r.doc_id: r.text for r in read_ir_corpus(docs).collect()}
    assert rows == {
        "d1": "T body text",
        "d2": "web body http://x",
        "d3": "plain",
        "d4": "",
        "d5": "title only",
    }
    # schema-flexible: a text-only frame works too
    slim = spark.createDataFrame(
        [("a", "hello")], "doc_id string, text string"
    )
    assert read_ir_corpus(slim).collect()[0].text == "hello"


def test_qrels_json_and_trec(spark, tmp_path):
    j = tmp_path / "qrel.json"
    j.write_text(json.dumps({"q1": {"d1": 1, "d2": 0}, "q2": {"d3": 2}}))
    rows = {(r.query_id, r.doc_id): r.rel for r in read_qrels_json(spark, str(j)).collect()}
    assert rows == {("q1", "d1"): 1, ("q1", "d2"): 0, ("q2", "d3"): 2}
    t = tmp_path / "qrel.txt"
    t.write_text("q1 0 d1 1\nq2 0 d3 2\n")
    rows2 = {(r.query_id, r.doc_id): r.rel for r in read_qrels_trec(spark, str(t)).collect()}
    assert rows2 == {("q1", "d1"): 1, ("q2", "d3"): 2}


def test_trec_run_scan(spark, tmp_path):
    p = tmp_path / "run.txt"
    p.write_text("q1 Q0 d9 1 12.5 tag\nq1 Q0 d3 2 10.0 tag\n")
    rows = read_trec_run(spark, str(p)).collect()
    assert {(r.query_id, r.doc_id, r.rank, r.score) for r in rows} == {
        ("q1", "d9", 1, 12.5),
        ("q1", "d3", 2, 10.0),
    }


def test_run_json_sink(spark, tmp_path):
    runs = spark.createDataFrame(
        [("q1", "d1", 3.5), ("q1", "d2", 2.0), ("q2", "d3", 1.0)],
        "query_id string, doc_id string, score double",
    )
    out = tmp_path / "run.json"
    write_run_json(runs, str(out))
    assert json.loads(out.read_text()) == {
        "q1": {"d1": 3.5, "d2": 2.0},
        "q2": {"d3": 1.0},
    }


def test_anserini_exports(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "c"), (2, "")], "doc_id long, text string"
    )
    weights = spark.createDataFrame(
        [(0, "a", 1.25), (0, "b", 0.4), (1, "c", 0.002)],
        "doc_id long, term string, weight double",
    )
    out = tmp_path / "anserini"
    export_anserini_jsonl(weights, docs, str(out), quantization_factor=100.0)
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            lines += open(out / f).read().splitlines()
    recs = {json.loads(l)["id"]: json.loads(l) for l in lines}
    assert recs["0"]["vector"] == {"a": 125, "b": 40}
    # doc 1's only term quantizes to 0 → filler; doc 2 has no terms → filler
    assert recs["1"]["vector"] == {"[unused993]": 1}
    assert recs["2"]["vector"] == {"[unused993]": 1}

    qw = spark.createDataFrame(
        [("q1", "a", 0.021), ("q1", "b", 0.012)],
        "query_id string, term string, weight double",
    )
    qout = tmp_path / "queries"
    export_anserini_queries_tsv(qw, str(qout), quantization_factor=100.0)
    qlines = []
    for f in os.listdir(qout):
        if f.startswith("part-"):
            qlines += open(qout / f).read().splitlines()
    qid, terms = qlines[0].split("\t")
    assert qid == "q1" and sorted(terms.split()) == ["a", "a", "b"]


def test_self_hit_filter(spark):
    runs = spark.createDataFrame(
        [("a", "a", 1.0), ("a", "b", 0.5)],
        "query_id string, doc_id string, score double",
    )
    assert self_hit_filter(runs).count() == 1


def test_cli_end_to_end(spark, tmp_path):
    """synth → build → query → evaluate through the CLI surface."""
    from splade_spark.cli import main

    tdir, idir, rdir = str(tmp_path / "t"), str(tmp_path / "i"), str(tmp_path / "r")
    assert main(["synth", "--out", tdir, "--conversations", "60"]) == 0
    assert main(["build", "--transcripts", tdir, "--index", idir, "--shards", "4"]) == 0
    qf = tmp_path / "queries.tsv"
    qf.write_text("q1\tterm0001 term0002\nq2\tterm0100 term0200\n")
    assert (
        main(["query", "--index", idir, "--queries", str(qf), "--out", rdir, "--k", "5"])
        == 0
    )
    runs = spark.read.parquet(rdir)
    assert runs.count() > 0 and runs.filter(F.col("rank") > 5).count() == 0
    qrels = tmp_path / "qrels.json"
    top = runs.filter("rank <= 2").collect()
    qd: dict = {}
    for r in top:
        qd.setdefault(r.query_id, {})[str(r.doc_id)] = 1
    qrels.write_text(json.dumps(qd))
    assert main(["evaluate", "--run", rdir, "--qrels", str(qrels)]) == 0


def test_cli_build_unpersists_its_caches(spark, tmp_path, monkeypatch):
    """`cli build` pins the doc-id and term-table caches only while it runs:
    the persistent-RDD count is the same before and after, also when the
    index write fails."""
    import splade_spark.index.build as build_mod
    from splade_spark.cli import main

    def persistent():  # getPersistentRDDs() is a snapshot: re-read it
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    tdir = str(tmp_path / "t")
    assert main(["synth", "--out", tdir, "--conversations", "20"]) == 0
    before = persistent()
    args = ["build", "--transcripts", tdir, "--shards", "4", "--index"]
    assert main(args + [str(tmp_path / "i")]) == 0
    assert persistent() == before

    def failing_build(*a, **kw):
        raise RuntimeError("injected build failure")

    monkeypatch.setattr(build_mod, "build_index", failing_build)
    with pytest.raises(RuntimeError, match="injected build failure"):
        main(args + [str(tmp_path / "j")])
    assert persistent() == before


def test_anserini_export_half_even_rounding(spark, tmp_path):
    """Reference parity: the export quantizes with np.rint — HALF_EVEN
    (splade/tasks/transformer_evaluator.py:229). A weight product landing
    exactly on .5 must round to the even neighbor (112.5 → 112, 87.5 → 88),
    not HALF_UP's 113/88."""
    docs = spark.createDataFrame([(0, "x"), (1, "y")], "doc_id long, text string")
    weights = spark.createDataFrame(
        [(0, "x", 1.125), (1, "y", 0.875)],  # *100 → exactly 112.5 / 87.5
        "doc_id long, term string, weight double",
    )
    out = tmp_path / "anserini_he"
    export_anserini_jsonl(weights, docs, str(out), quantization_factor=100.0)
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            lines += open(out / f).read().splitlines()
    recs = {json.loads(l)["id"]: json.loads(l)["vector"] for l in lines}
    assert recs["0"] == {"x": 112}  # HALF_UP would export 113
    assert recs["1"] == {"y": 88}

    qw = spark.createDataFrame(
        [("q1", "x", 0.025)],  # *100 → 2.5 → HALF_EVEN 2 (HALF_UP: 3)
        "query_id string, term string, weight double",
    )
    qout = tmp_path / "queries_he"
    export_anserini_queries_tsv(qw, str(qout), quantization_factor=100.0)
    qlines = []
    for f in os.listdir(qout):
        if f.startswith("part-"):
            qlines += open(qout / f).read().splitlines()
    assert qlines[0].split("\t")[1].split() == ["x", "x"]


def test_cli_rejects_malformed_conf():
    from splade_spark.cli import main

    with pytest.raises(SystemExit):
        main(["synth", "--out", "/tmp/x", "--conf", "notakv"])
