from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from splade_spark.bm25 import bm25_topk, bm25_weights
from splade_spark.documents import _attach_doc_ids, build_documents
from splade_spark.stats import corpus_stats, doc_freqs, idf_value
from splade_spark.tokenize import query_term_freqs, term_freqs, tokenize


def test_tokenizer_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "Hello, WORLD! hello\tworld2 a-b"), (2, ""), (3, "!!!")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.tokens, r.doc_len) for r in tokenize(df).collect()}
    assert out[1] == (["hello", "world", "hello", "world2", "a", "b"], 6)
    assert out[2] == ([], 0)
    assert out[3] == ([], 0)


def test_term_freqs_hand_computed(spark):
    df = spark.createDataFrame([(1, "a b a a b c")], "doc_id long, text string")
    tf = {r.term: r.tf for r in term_freqs(df).collect()}
    assert tf == {"a": 3, "b": 2, "c": 1}
    dl = term_freqs(df).select("doc_len").distinct().collect()
    assert dl[0].doc_len == 6


def test_documents_build(tiny_transcripts, tiny_documents):
    docs = tiny_documents
    assert docs.count() == 100
    # dense contiguous ids in conv_id order
    rows = docs.orderBy("conv_id").select("doc_id", "conv_id").collect()
    assert [r.doc_id for r in rows] == list(range(100))
    # text = turns joined in order
    one = rows[5].conv_id
    expected = "\n".join(
        r.text
        for r in tiny_transcripts.filter(F.col("conv_id") == one)
        .orderBy("turn_idx")
        .collect()
    )
    got = docs.filter(F.col("conv_id") == one).collect()[0].text
    assert got == expected


def test_doc_id_layout_invariant(spark):
    # assign_doc_ids relies on monotonically_increasing_id() carrying the
    # partition id in bits 33+; a row where it does not must fail the job
    frame = spark.range(0, 8, numPartitions=2)
    offsets = {0: 0, 1: 4}
    ok = frame.withColumn("_pid", F.spark_partition_id())
    assert sorted(r.doc_id for r in _attach_doc_ids(ok, offsets).collect()) == list(
        range(8)
    )
    wrong = frame.withColumn("_pid", 1 - F.spark_partition_id())
    with pytest.raises(Exception, match="assign_doc_ids: monotonically_increasing_id"):
        _attach_doc_ids(wrong, offsets).collect()


_QTF_TEXTS = [
    ("qnull", None),
    ("qempty", ""),
    ("qpunct", "!!! ... ???"),
    ("qdup", "Spark spark SPARK index"),
    ("qtwo", "first row"),
    ("qtwo", "second row"),
    ("qutf", "Straße İstanbul \u212aelvin"),
]


@pytest.mark.parametrize(
    "rows, ddl, expect",
    [
        (
            _QTF_TEXTS,
            "query_id string, text string",
            # qtwo: two rows sharing a query_id merge into one vector
            {("qdup", "spark"): 3, ("qdup", "index"): 1, ("qtwo", "row"): 2},
        ),
        ([(i, t) for i, (_, t) in enumerate(_QTF_TEXTS)], "query_id int, text string", {}),
        ([("a", ""), ("b", "!!!"), ("c", None)], "query_id string, text string", {}),
    ],
    ids=["mixed", "int-id", "all-empty"],
)
def test_query_term_freqs_local_equals_distributed(spark, rows, ddl, expect):
    """A driver-local query frame is reduced on the driver; the result must
    equal the explode + groupBy reducer's on the same rows spread over two
    partitions: same schema, same rows, and again a local frame."""
    local = spark.createDataFrame(pd.DataFrame(rows, columns=["query_id", "text"]), ddl)
    dist = local.repartition(2)
    assert local.isLocal() and not dist.isLocal()
    got, want = query_term_freqs(local), query_term_freqs(dist)
    assert got.isLocal()
    assert got.schema == want.schema
    assert got.columns == ["query_id", "term", "qtf", "term_id"]
    rows_got = sorted(got.collect())
    assert rows_got == sorted(want.collect())
    qtf = {(r.query_id, r.term): r.qtf for r in rows_got}
    assert {key: qtf.get(key) for key in expect} == expect
    assert not any(q in ("qnull", "qempty", "qpunct") for q, _ in qtf)


@pytest.mark.parametrize("text", ["hello hello world", "!!! ???"])
def test_local_query_term_freqs_runs_no_job(spark, spark_jobs, text):
    pdf = pd.DataFrame({"query_id": ["q"], "text": [text]})
    rows, jobs = spark_jobs(
        lambda: query_term_freqs(spark.createDataFrame(pdf)).collect()
    )
    assert jobs == 0
    assert len(rows) == (2 if text[0] == "h" else 0)


def test_bm25_weights_hand_computed(spark):
    # 3 docs, avgdl and idf computed by hand
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a c"), (2, "b b b c")], "doc_id long, text string"
    )
    tf = term_freqs(df).cache()
    n, avgdl = corpus_stats(tf)
    assert n == 3 and abs(avgdl - 3.0) < 1e-12
    w = {
        (r.doc_id, r.term): r.weight
        for r in bm25_weights(tf, n, avgdl).collect()
    }
    k1, b = 1.2, 0.75
    # doc0 term 'a': tf=2, dl=3, df('a')=2
    idf_a = idf_value(2, 3)
    exp = idf_a * (2 * (k1 + 1)) / (2 + k1 * (1 - b + b * 3 / 3.0))
    assert abs(w[(0, "a")] - exp) < 1e-9


def test_bm25_topk_vs_duckdb(spark):
    """Cross-engine oracle: same BM25 in DuckDB SQL must agree."""
    import duckdb

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "apple cherry cherry date"),
            (3, "date egg fig"),
        ],
        "doc_id long, text string",
    )
    tf = term_freqs(docs).cache()
    n, avgdl = corpus_stats(tf)
    w = bm25_weights(tf, n, avgdl)
    q = spark.createDataFrame([("q1", "apple cherry")], "query_id string, text string")
    qt = query_term_freqs(q)
    got = {
        (r.query_id, r.doc_id): (r.score, r.rank)
        for r in bm25_topk(w, qt, k=10).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES (0,'apple banana apple'),"
        "(1,'banana cherry'),(2,'apple cherry cherry date'),(3,'date egg fig'))"
        " t(doc_id, text)"
    )
    sql = """
    WITH toks AS (
      SELECT doc_id, t.term FROM docs,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '')) AS t(term)
    ),
    tf AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM toks GROUP BY 1,2),
    dl AS (SELECT doc_id, count(*)::DOUBLE dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
    dfs AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
    w AS (
      SELECT tf.doc_id, tf.term,
        ln(1 + (n - df + 0.5)/(df + 0.5)) * tf*(1.2+1)/(tf + 1.2*(1-0.75+0.75*dl/avgdl)) AS weight
      FROM tf JOIN dl USING(doc_id) JOIN dfs USING(term) CROSS JOIN stats
    ),
    qt AS (SELECT 'q1' query_id, 'apple' term, 1 qtf UNION ALL SELECT 'q1','cherry',1),
    s AS (SELECT query_id, doc_id, sum(qtf*weight) score
          FROM w JOIN qt USING(term) GROUP BY 1,2)
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) rank
    FROM s
    """
    exp = {
        (r[0], r[1]): (r[2], r[3]) for r in con.execute(sql).fetchall()
    }
    assert set(got) == set(exp)
    for key in exp:
        assert abs(got[key][0] - exp[key][0]) < 1e-9
        assert got[key][1] == exp[key][1]


def test_corpus_stats_from_docs_matches_tf_path(spark, tiny_documents):
    """The shuffle-free documents-based stats must be bit-identical to the
    term-table path (both sum doc lengths in exact int64)."""
    from splade_spark.stats import corpus_stats_from_docs

    tf = term_freqs(tiny_documents)
    assert corpus_stats(tf) == corpus_stats_from_docs(tiny_documents)


def test_corpus_stats_from_docs_excludes_empty_docs(spark):
    """Docs tokenizing to zero tokens produce no term rows, so the tf path
    never counts them; the docs path must filter them the same way."""
    from splade_spark.stats import corpus_stats_from_docs

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "!!! ---"), (3, "one")],
        "doc_id long, text string",
    )
    got = corpus_stats_from_docs(docs)
    assert got == (2, 1.5)
    assert got == corpus_stats(term_freqs(docs))
