"""BM25 retrieval operator tests (operators/search.py)."""

import math

from pyspark.sql import functions as F

from worlddatapipeline_spark.operators import search


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "spark joins tables fast"),
            (2, "spark spark spark streaming"),
            (3, "the cat sat on the mat"),
            (4, "hash join beats nested loop join"),
        ],
        ["doc_id", "text"],
    )


def test_build_postings(spark):
    p = search.build_postings(_docs(spark)).collect()
    by = {(r["id"], r["term"]): (r["tf"], r["dl"]) for r in p}
    assert by[(2, "spark")] == (3, 4)
    assert by[(4, "join")] == (2, 6)
    assert by[(3, "the")] == (2, 6)
    # dl is total tokens, not distinct terms
    assert by[(1, "spark")][1] == 4


def _bm25_ref(tf, df, n, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


def test_bm25_topk_matches_hand_formula(spark):
    docs = _docs(spark)
    queries = spark.createDataFrame(
        [("q1", "spark join")], ["query_id", "query_text"]
    )
    out = search.bm25_topk(docs, queries, k=4).collect()
    got = {r["doc_id"]: (r["score"], r["rank"]) for r in out}
    # corpus: N=4, avgdl=(4+4+6+6)/4=5; df(spark)=2, df(join)=1
    # ("joins" in doc1 is a distinct term — no stemming)
    n, avgdl = 4, 5.0
    exp2 = _bm25_ref(3, 2, n, 4, avgdl)  # doc2: spark x3
    exp4 = _bm25_ref(2, 1, n, 6, avgdl)  # doc4: join x2, rarer term
    exp1 = _bm25_ref(1, 2, n, 4, avgdl)  # doc1: spark x1
    assert got[2][0] == round(exp2, 6)
    assert got[4][0] == round(exp4, 6)
    assert got[1][0] == round(exp1, 6)
    assert 3 not in got  # shares no query term -> pruned, never scored
    assert [d for d, (_, rk) in sorted(got.items(), key=lambda kv: kv[1][1])] == [4, 2, 1]


def test_bm25_query_term_multiplicity_ignored(spark):
    docs = _docs(spark)
    q1 = spark.createDataFrame([("q", "spark")], ["query_id", "query_text"])
    q2 = spark.createDataFrame([("q", "spark spark")], ["query_id", "query_text"])
    r1 = {r["doc_id"]: r["score"] for r in search.bm25_topk(docs, q1).collect()}
    r2 = {r["doc_id"]: r["score"] for r in search.bm25_topk(docs, q2).collect()}
    assert r1 == r2


def test_bm25_k_bounds_output(spark):
    docs = _docs(spark)
    queries = spark.createDataFrame(
        [("a", "spark join the"), ("b", "cat")], ["query_id", "query_text"]
    )
    out = search.bm25_topk(docs, queries, k=2).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(len(v) <= 2 for v in per_q.values())
    assert sorted(per_q["a"]) == [1, 2]
    assert per_q["b"] == [1]  # only doc3 contains 'cat'


def test_bm25_no_cache_leak(spark):
    def ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = ids()
    docs = _docs(spark)
    queries = spark.createDataFrame([("q", "spark")], ["query_id", "query_text"])
    search.bm25_topk(docs, queries).collect()
    # the plan is lazy end to end: no persist, no checkpoint RDD pinned
    assert ids() - before == set()
