"""Expression-form exact cosine operators, kept as differential-test oracles.

The engine scores exact cosines in batches on Python workers
(``operators/similarity.py::cosine_topk_batched``, ``filtered_cosine_topk``
and ``cosine_pairs_batched``: one BLAS matmul per Arrow batch).  The
brute-force joins below score every pair with the engine's one Catalyst
expression instead (``norm_side`` + ``cosine_sim``, the same expression
``lsh_topk`` and ``ivf_topk`` run over their candidates), and the batched
forms are pinned to them row for row in ``tests/test_similarity.py``.
Both round at 6 digits, where the two summation orders agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from worlddatapipeline_spark.operators.joins import top_k_per_group
from worlddatapipeline_spark.operators.similarity import cosine_sim, norm_side


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k nearest corpus
    vectors, self-matches excluded.  Broadcast(queries) × corpus → score
    → ranking window on query_id under (cosine_sim DESC, vec_id ASC).
    Returns (query_id, vec_id, cosine_sim, rank)."""
    q = norm_side(queries, query_id_col, vec_col, "query_id", "q")
    c = norm_side(corpus, id_col, vec_col, "vec_id", "c")
    scored = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", cosine_sim()
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("vec_id").asc()], k, "rank"
    )


def cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: every (id_a < id_b) with
    round(cosine, 6) >= threshold, by a theta self-join on id_a < id_b.
    Returns (id_a, id_b, cosine_sim)."""
    a = norm_side(corpus, id_col, vec_col, "id_a", "q")
    b = norm_side(corpus, id_col, vec_col, "id_b", "c")
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_sim())
        .filter(F.col("cosine_sim") >= threshold)
    )
