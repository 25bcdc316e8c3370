"""Similarity search tests with numpy goldens."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from ref_similarity import cosine_pairs, cosine_topk
from worlddatapipeline_spark.operators import similarity


def _emb_df(spark, mat):
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(mat)], schema
    )


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(5)
    mat = rng.standard_normal((40, 16))
    corpus = _emb_df(spark, mat)
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(corpus, queries, k=4).collect()
    norms = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norms @ norms.T
    for q in range(3):
        s = sims[q].copy()
        s[q] = -np.inf  # self excluded
        exp = set(np.argsort(-s)[:4])
        got = {r["vec_id"] for r in out if r["query_id"] == q}
        assert got == exp


def test_lsh_topk_recall(spark):
    """Approximate top-k finds the planted near-identical vector at either
    dimension: the hyperplanes take theirs from the vectors."""
    rng = np.random.default_rng(9)
    for dim in (16, 40):
        mat = rng.standard_normal((60, dim))
        mat[42] = mat[0] + 0.001 * rng.standard_normal(dim)  # near-dup of 0
        corpus = _emb_df(spark, mat)
        queries = corpus.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = similarity.lsh_topk(corpus, queries, k=3, n_planes=4, seed=1).collect()
        assert 42 in {r["vec_id"] for r in out}, dim


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])], ["a", "b"])
    row = df.select(
        similarity.dot(F.col("a"), F.col("b")).alias("d"),
        similarity.l2_norm(F.col("a")).alias("n"),
    ).collect()[0]
    assert row["d"] == pytest.approx(11.0)
    assert row["n"] == pytest.approx(np.sqrt(5.0))


def test_ivf_topk_recall(spark):
    """IVF with enough probes recalls most of the exact top-k."""
    import pyspark.sql.functions as F

    from worlddatapipeline_spark.operators.similarity import ivf_topk
    from worlddatapipeline_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(corpus, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(corpus, queries, k=5, n_centroids=8, n_probe=6).collect()
    }
    # high-probe IVF on a small corpus should recall most exact neighbours
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6
    # determinism
    again = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(corpus, queries, k=5, n_centroids=8, n_probe=6).collect()
    }
    assert approx == again


def test_cosine_pairs_matches_numpy(spark):
    """Exact near-dup pairs = numpy brute force above the same threshold."""
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((30, 16))
    mat[7] = mat[2] + 0.01 * rng.standard_normal(16)  # planted near-dup
    mat[19] = mat[5] + 0.02 * rng.standard_normal(16)
    corpus = _emb_df(spark, mat)
    out = cosine_pairs(corpus, threshold=0.8)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    norms = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norms @ norms.T
    exp = {
        (i, j)
        for i in range(30)
        for j in range(i + 1, 30)
        if round(sims[i, j], 6) >= 0.8
    }
    assert got == exp
    assert (2, 7) in got and (5, 19) in got


def test_cosine_pairs_batched_matches_expression_form(spark):
    """BLAS-batched pair scorer = the expression-form reference, pair for
    pair and score for score (both rounded to 6 digits)."""
    rng = np.random.default_rng(13)
    mat = rng.standard_normal((60, 16))
    mat[11] = mat[3] + 0.01 * rng.standard_normal(16)
    corpus = _emb_df(spark, mat)
    ref = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cosine_pairs(corpus, threshold=0.5).collect()
    }
    fast = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in similarity.cosine_pairs_batched(corpus, threshold=0.5).collect()
    }
    assert ref == fast
    assert (3, 11) in fast


def test_kmeans_centroids_unit_norm_and_count(spark):
    from worlddatapipeline_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = kmeans_centroids(emb, k=6, n_iter=2).collect()
    assert len(cents) == 6
    import numpy as np

    for r in cents:
        assert abs(np.linalg.norm(np.asarray(r["cvec"])) - 1.0) < 1e-9


def test_kmeans_cache_scans_source_once(spark):
    """The corpus source is scanned exactly once — the init job
    materializes the persisted frame and every Lloyd's iteration reads the
    cache.  Measured behaviorally: an accumulator counting rows flowing
    out of the source sees n_rows once, not (1 + n_iter) times."""
    from worlddatapipeline_spark.operators.similarity import kmeans_centroids

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n_rows = base.count()

    def counted(df):
        acc = spark.sparkContext.accumulator(0)

        def tag(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(tag, schema=df.schema), acc

    corpus, acc = counted(base)
    kmeans_centroids(corpus, k=4, n_iter=3)
    assert acc.value == n_rows


def test_kmeans_centroids_improve_ivf_recall(spark):
    """Trained quantizer must not be worse than the sampled one (same probe
    budget) on the test corpus."""
    import numpy as np
    from worlddatapipeline_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=5).collect()
    }

    def recall(df):
        hit = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(exact & hit) / len(exact)

    cents = kmeans_centroids(emb, k=8, n_iter=3)
    r_trained = recall(ivf_topk(emb, q, k=5, n_probe=3, centroids=cents))
    r_sampled = recall(ivf_topk(emb, q, k=5, n_centroids=8, n_probe=3))
    assert r_trained >= r_sampled - 0.05
    assert r_trained > 0.3


def test_bucketed_cosine_dedup_removal_rule(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.01], 0),   # ~0.99995 cosine to id 1, same bucket
        (3, [0.0, 1.0], 0),    # orthogonal -> kept
        (4, [1.0, 0.0], 1),    # identical to id 1 but different bucket -> kept
        (5, [1.0, 0.0], 1),    # identical to id 4, same bucket -> removed
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.bucketed_cosine_dedup(
        emb, bucket_col="label", threshold=0.9
    ).collect()
    got = {r["vec_id"]: (r["label"], r["dup_of"]) for r in out}
    assert got == {2: (0, 1), 5: (1, 4)}


def test_bucketed_cosine_dedup_max_bucket_guard(spark):
    rows = [(i, [1.0, 0.0], 0) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    with pytest.raises(Exception, match="max_bucket"):
        similarity.bucketed_cosine_dedup(
            emb, bucket_col="label", threshold=0.9, max_bucket=3
        ).collect()


def test_semantic_dedup_contract_properties(spark):
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0]
        rows.append((i, [x + rnd.uniform(-0.05, 0.05) for x in base]))
    # two guaranteed exact duplicates (identical vectors share a cluster)
    rows.append((100, rows[0][1]))
    rows.append((101, rows[1][1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup(emb, threshold=0.999, k=2, n_iter=2).collect()
    removed = {r["vec_id"]: r["dup_of"] for r in out}
    # identical-vector pairs must collapse onto the lower id
    assert removed.get(100) == 0 and removed.get(101) == 1
    # keep-rule validity: dup_of strictly below the removed id
    assert all(d < i for i, d in removed.items())


def test_cross_cosine_flags_semantics(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.cross_cosine_flags(corpus, probes, threshold=0.9).collect()
    got = {r["vec_id"]: (r["n_hits"], round(r["max_sim"], 3)) for r in out}
    # corpus 1 matches both probes; corpus 2 matches none; corpus 3 ~0.707/0.77
    assert got[1] == (2, 1.0)
    assert 2 not in got and 3 not in got


def test_cross_cosine_flags_probe_bound(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    probes = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="max_probes"):
        similarity.cross_cosine_flags(corpus, probes, threshold=0.5, max_probes=3)


def test_int8_quantize_roundtrip_and_guards(spark):
    from worlddatapipeline_spark.operators.similarity import (
        int8_dequantize,
        int8_quantize,
    )
    from pyspark.sql import functions as F

    vecs = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5, 127.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),   # zero vector: scale 0, codes 0
        ],
        "vec_id long, embedding array<double>",
    )
    q = int8_quantize(vecs, "embedding", "vec_id")
    rows = {r["vec_id"]: r for r in q.collect()}
    assert rows[1]["codes"] == [1, -2, 1, 127]  # scale = 1.0; 0.5 rounds up
    assert rows[1]["scale"] == 1.0 and rows[1]["dim"] == 4
    assert rows[2]["codes"] == [0, 0, 0, 0] and rows[2]["scale"] == 0.0
    deq = q.select(
        "vec_id", int8_dequantize(F.col("codes"), F.col("scale")).alias("v")
    )
    got = {r["vec_id"]: r["v"] for r in deq.collect()}
    assert got[1] == [1.0, -2.0, 1.0, 127.0]
    assert got[2] == [0.0, 0.0, 0.0, 0.0]


def test_filtered_cosine_topk_respects_predicate(spark):
    """Every hit shares the query's label; results equal a per-label
    brute-force reference; k under-fills when the label group is small."""
    import numpy as np

    from worlddatapipeline_spark.operators.similarity import filtered_cosine_topk

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)], i % 3) for i in range(60)
    ]
    # label 2 made tiny: only 2 corpus rows besides the query
    rows = [r for r in rows if r[2] != 2 or r[0] in (2, 5, 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    queries = df.filter("vec_id in (0, 1, 2)").select(
        df.vec_id.alias("query_id"), "embedding", "label"
    )
    out = filtered_cosine_topk(df, queries, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    labels = {i: lab for (i, _, lab) in rows}
    vecs = {i: np.array(v) for (i, v, _) in rows}
    for qid, hits in by_q.items():
        assert all(labels[h["vec_id"]] == labels[qid] for h in hits)
        # brute-force reference within the label group
        cand = [
            (j, float(vecs[qid] @ vecs[j] / (np.linalg.norm(vecs[qid]) * np.linalg.norm(vecs[j]))))
            for j in vecs
            if j != qid and labels[j] == labels[qid]
        ]
        cand.sort(key=lambda t: (-round(t[1], 6), t[0]))
        expect = [j for j, _ in cand[:4]]
        got = [h["vec_id"] for h in sorted(hits, key=lambda h: h["rank"])]
        assert got == expect
    assert len(by_q[2]) == 2  # small label group under-fills k


def test_filtered_cosine_topk_string_and_null_labels(spark):
    """String attributes work (hashed comparison) and NULL labels match
    nothing on either side, like SQL equality."""
    import numpy as np

    from worlddatapipeline_spark.operators.similarity import filtered_cosine_topk

    rng = np.random.default_rng(9)
    rows = [
        (i, [float(x) for x in rng.normal(size=4)],
         None if i == 7 else ("red" if i % 2 == 0 else "blue"))
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    queries = df.filter("vec_id in (0, 1, 7)").select(
        df.vec_id.alias("query_id"), "embedding", "label"
    )
    out = filtered_cosine_topk(df, queries, k=3, attr_col="label").collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert by_q[0] <= {2, 4, 6, 8}          # red query -> red corpus only
    assert by_q[1] <= {3, 5, 9}             # blue query -> blue (7 is NULL)
    assert 7 not in by_q                    # NULL-label query matches nothing
    assert all(7 not in hits for hits in by_q.values())


BATCHED_TOPK = ["cosine_topk_batched", "filtered_cosine_topk"]


def _batched_topk(op, corpus, queries, k):
    """Run one batched top-k operator; the filtered one gets the same label
    on every row, so its predicate mask keeps everything."""
    if op == "filtered_cosine_topk":
        corpus = corpus.withColumn("label", F.lit(1))
        queries = queries.withColumn("label", F.lit(1))
    return getattr(similarity, op)(corpus, queries, k=k)


def _at_cosine(c):
    """Unit 4-vector at cosine ``c`` to the query direction [1, 0, 0, 0]."""
    return [c, float(np.sqrt(1.0 - c * c)), 0.0, 0.0]


# (rows, k, expected ids).  exact_dups: ids 1..6 duplicate the query
# direction (cos = 1.0, a six-way exact tie).  near_pair / near_eight:
# raw cosines differ below 1e-6, so all round to 0.8, and the LARGER ids
# score higher raw — a raw-score cut keeps them, the final order wants the
# smallest.  ids 90/91 are orthogonal decoys.
TIE_CASES = {
    "exact_dups": ([(i, [1.0, 0.0, 0.0, 0.0]) for i in range(1, 7)], 3, [1, 2, 3]),
    "near_pair": ([(1, _at_cosine(0.80000010)), (2, _at_cosine(0.80000040))], 1, [1]),
    "near_eight": ([(i, _at_cosine(0.8 + i * 5e-8)) for i in range(1, 9)], 3, [1, 2, 3]),
}


@pytest.mark.parametrize("case", sorted(TIE_CASES))
@pytest.mark.parametrize("op", BATCHED_TOPK)
def test_batched_topk_ties_keep_smallest_ids(spark, op, case):
    """The per-batch cut must select under the FINAL total order
    (round(cos,6) DESC, vec_id ASC): with more rounding-tied rows than k,
    the kept ids are exactly the smallest — a raw-score argpartition keeps
    an arbitrary tie member, and on near ties the raw-highest one."""
    rows, k, expect = TIE_CASES[case]
    off = [0.0, 1.0, 0.0, 0.0]
    # one partition, so every tie member meets the same per-batch cut
    corpus = spark.createDataFrame(
        rows + [(90, off), (91, off)], "vec_id long, embedding array<double>"
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    got = sorted(r["vec_id"] for r in _batched_topk(op, corpus, queries, k).collect())
    assert got == expect  # smallest ids win every tie, deterministically


@pytest.mark.parametrize("op", BATCHED_TOPK)
def test_batched_topk_matches_exact_reference(spark, op):
    """Batched top-k equals the expression-form reference cosine_topk on a
    random corpus (the differential cross-check for the vectorized cut)."""
    rng = np.random.default_rng(17)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id % 10 = 0").select(
        corpus.vec_id.alias("query_id"), "embedding"
    )
    a = {(r["query_id"], r["rank"]): r["vec_id"]
         for r in _batched_topk(op, corpus, queries, 5).collect()}
    b = {(r["query_id"], r["rank"]): r["vec_id"]
         for r in cosine_topk(corpus, queries, k=5).collect()}
    assert a == b


def test_topk_self_contract_columns(spark):
    """topk_self_contract appends the three structural invariants and they
    hold on a real LSH result — and a corrupted frame flips them."""
    import numpy as np

    from worlddatapipeline_spark.operators.similarity import (
        lsh_topk,
        topk_self_contract,
    )

    rng = np.random.default_rng(23)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id % 20 = 0").select(
        corpus.vec_id.alias("query_id"), "embedding"
    )
    out = topk_self_contract(
        lsh_topk(corpus, queries, k=5, n_planes=4, seed=1, n_tables=8)
    )
    got = out.collect()
    assert len(got) > 0
    assert all(
        r["rank_contiguous"] and r["score_monotone"] and r["score_in_range"]
        for r in got
    )
    # corrupt: shift one rank → contiguity must break for that query
    from pyspark.sql import functions as F

    broken = topk_self_contract(
        out.select(
            "query_id",
            "vec_id",
            "cosine_sim",
            F.when(F.col("rank") == 2, 7).otherwise(F.col("rank")).alias("rank"),
        )
    )
    assert broken.filter(~F.col("rank_contiguous")).count() > 0


def test_int8_ann_recall_kernel_matches_expression_fold(spark):
    """r11: the Arrow partial-top5 kernel in q_int8_ann_recall must
    reproduce the original interpreted F.aggregate/zip_with expression
    form bit-for-bit — same strict left fold, same Double.compare tie
    order, same int8 quantization math — so the final recall rows are
    identical."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from worlddatapipeline_spark.operators import similarity as sim_ops
    from worlddatapipeline_spark.queries_ext import q_int8_ann_recall
    from worlddatapipeline_spark.session import load_tables

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in q_int8_ann_recall(spark, sf_dir).collect())

    # the pre-r11 expression form, verbatim
    embeddings = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    corpus = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def _norm(col):
        return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))

    probes = corpus.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("nq"),
    )
    deq = sim_ops.int8_quantize(embeddings, "embedding", "vec_id").select(
        "vec_id",
        sim_ops.int8_dequantize(F.col("codes"), F.col("scale")).alias("v"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )

    def top5(cand):
        cand_n = cand.select("vec_id", "v", _norm(F.col("v")).alias("nc"))
        dot = F.aggregate(
            F.zip_with(F.col("qv"), F.col("v"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = (
            F.broadcast(probes)
            .crossJoin(cand_n)
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                (dot / (F.col("nq") * F.col("nc"))).alias("cos"),
            )
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "vec_id")
        )

    exact = top5(corpus)
    quant = top5(deq)
    hits = (
        exact.join(quant, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    want = sorted(
        tuple(r)
        for r in probes.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 5.0, 2).alias(
                "recall_at_5"
            ),
        )
        .collect()
    )
    assert got == want


def test_embedding_quantize_audit_kernel_matches_expression_fold(spark):
    """r11: the Arrow audit kernel in q_embedding_quantize_audit must
    reproduce the original join + interpreted-fold expression form
    bit-for-bit (same quantization math, same strict left folds)."""
    from pyspark.sql import functions as F

    from worlddatapipeline_spark.operators import similarity as sim_ops
    from worlddatapipeline_spark.queries_ext import q_embedding_quantize_audit
    from worlddatapipeline_spark.session import load_tables

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in q_embedding_quantize_audit(spark, sf_dir).collect()
    )

    embeddings = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    q = sim_ops.int8_quantize(embeddings, "embedding", "vec_id")
    j = embeddings.select("vec_id", "label", "embedding").join(q, "vec_id")
    err = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("codes"),
            lambda x, c: (x.cast("double") - c.cast("double") * F.col("scale"))
            * (x.cast("double") - c.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    ss = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    maxc = F.aggregate(
        F.col("codes"), F.lit(0), lambda acc, c: F.greatest(acc, F.abs(c))
    )
    per_vec = j.select(
        "label",
        maxc.alias("max_code"),
        F.when(ss > 0, F.sqrt(err / ss)).otherwise(F.lit(0.0)).alias("rel_rmse"),
    )
    want = sorted(
        tuple(r)
        for r in per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.max("max_code").alias("max_code"),
            F.round(
                F.sum(F.col("rel_rmse").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_rel_rmse"),
        )
        .collect()
    )
    assert got == want
