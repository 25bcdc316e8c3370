"""Similarity search over embedding columns (array<float>).

LLM-data-pipeline extension surface (BASELINE.json north_star): nearest
neighbours, near-duplicate pairs and dedup over
``embeddings(vec_id, embedding, label)``.

Expression form — ``lsh_topk`` (random-hyperplane buckets; one pandas_udf
GEMM per batch computes every sign bit) and ``ivf_topk`` (inverted lists
over sampled or k-means centroids) are the approximate 100 TB paths.  They
differ only in their candidate join (the bucket equi-join, the ``list_id``
join); both project each side once with ``norm_side`` (id, vector, L2
norm) and score every candidate pair with the one exact expression
``cosine_sim``, ``F.zip_with`` + ``F.aggregate`` codegen'd with no Python
worker in the scoring loop.  The exact expression-form references
``cosine_topk`` and ``cosine_pairs`` live in ``tests/ref_similarity.py``:
only tests call them, to pin the batched forms.  Hyperplanes and centroid
samples are seeded, so results reproduce across retries (same requirement
as the reference's seeded sequences, `behavior_executor.py:681-696`).

Batched forms — ``cosine_pairs_batched``, ``cross_cosine_flags``,
``cosine_topk_batched`` and ``filtered_cosine_topk`` return the same rows
as the references, scored by numpy BLAS on Python workers.  They share
one frame: ``_collect_side`` brings the small side to the driver,
``_matrix`` turns vectors into a float64 matrix with zero-safe L2 norms,
and ``_gemm_stream`` broadcasts that matrix and streams the other side
through ``mapInPandas``, one GEMM per Arrow batch.  The top-k forms cut
each batch with ``_topk_cut`` under the final total order.
``bucketed_cosine_dedup`` (and ``semantic_dedup`` on top of it) runs one
GEMM per bucket through the same ``_matrix``.

Every cosine rounds to ``DIGITS`` places, the SQL oracles' round(…, 6);
every top-k ranks with ``joins.top_k_per_group`` under (cosine_sim DESC,
vec_id ASC); and every literal-centroid expression (k-means assignment,
semantic-dedup clusters, IVF list ranking) is built by ``centroid_dots``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import literal_frame
from .joins import top_k_per_group

DIGITS = 6


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (zip_with + aggregate).

    Measured note: symbolically unrolling a known-width dot into a flat
    ``a[0]*b[0] + ...`` Add-chain is ~6x SLOWER than this fold on a 64-d
    pair join (the deep chain defeats codegen); the fast path for bulk
    scoring is the BLAS-batched ``cosine_topk_batched``/``cosine_pairs_batched``.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def norm_side(
    df: DataFrame, id_col: str, vec_col: str, id_out: str, side: str, *extra: Column
) -> DataFrame:
    """One side of an exact cosine join as (id_out, __{side}v, __{side}n,
    *extra), ``side`` being "q" or "c".  Norms are per row, not per pair:
    computing them here, BEFORE the join, leaves one dot product per pair."""
    v = F.col(vec_col)
    return df.select(
        F.col(id_col).alias(id_out), v.alias(f"__{side}v"), l2_norm(v).alias(f"__{side}n"),
        *extra,
    )


def cosine_sim() -> Column:
    """The exact cosine of a joined row of a q and a c ``norm_side``:
    round(dot / (|q|·|c|), DIGITS), the IEEE order of the SQL oracles."""
    return F.round(
        dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), DIGITS
    ).alias("cosine_sim")


def centroid_dots(vec: Column, cents) -> Column:
    """array(dot(vec, c) for c in cents), every centroid inlined as a
    literal array: one codegen'd expression, no join."""
    return F.array(*[dot(vec, F.array(*[F.lit(float(x)) for x in c])) for c in cents])


def nearest_centroid(vec: Column, cents) -> Column:
    """0-based index of the centroid with the largest dot (the first max
    wins a tie) — the k-means assignment step."""
    dots = centroid_dots(vec, cents)
    return F.array_position(dots, F.array_max(dots)) - 1


def _hash_sample(df: DataFrame, id_col: str, vec_col: str, n: int) -> list:
    """The n (cid, cvec) rows with the smallest xxhash64(id), ties by id:
    a reproducible pseudo-random spread fetched with TakeOrderedAndProject
    (per-partition heap + driver merge).  NOT a global row_number window,
    which would move the whole corpus to one partition at 100 TB.  Only
    the sampled rows reach the driver."""
    return (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy(F.xxhash64(F.col("cid")), F.col("cid"))
        .limit(n)
        .collect()
    )


def _id_vec(df: DataFrame, id_col: str, vec_col: str, *extra: Column) -> DataFrame:
    """The (id, v array<double>, *extra) projection that both sides of a
    batched scorer read."""
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"), *extra
    )


def _collect_side(
    side: DataFrame, bound: int | None = None, overflow: str = ""
) -> pd.DataFrame:
    """Collect the broadcast side of a batched scorer as a pandas frame.

    With ``bound`` the collect is ENFORCED, not advisory: limit(bound+1)
    keeps the probe O(bound), and a side over the bound raises
    ``ValueError(overflow)`` with the scale-path pointer instead of OOMing
    the driver."""
    if bound is not None:
        side = side.limit(bound + 1)
    pdf = pd.DataFrame(side.collect(), columns=side.columns)
    if bound is not None and len(pdf) > bound:
        raise ValueError(overflow)
    return pdf


def _matrix(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """A frame's ``v`` vectors as a float64 matrix plus their L2 norms,
    zero norms replaced by 1 so a zero vector scores 0, not NaN."""
    m = np.array(list(pdf["v"]), dtype=np.float64)
    n = np.linalg.norm(m, axis=1)
    n[n == 0] = 1.0
    return m, n


def _cosines(a, an, b, bn) -> np.ndarray:
    """round(a·bᵀ / (|a|·|b|), DIGITS): the division follows the matmul,
    the same algebraic form as the expression path's dot/(|a|·|b|)."""
    return np.round((a @ b.T) / (an[:, None] * bn[None, :]), DIGITS)


def _gemm_stream(
    stream: DataFrame,
    id_col: str,
    vec_col: str,
    side,
    kernel,
    schema: str,
    *extra: Column,
    spread: bool = False,
) -> DataFrame:
    """The shared batched-scorer frame: broadcast ``side`` once, stream
    ``stream`` as (id, v array<double>, *extra) through ``mapInPandas``,
    and call ``kernel(ids, m, n, pdf, side)`` on each non-empty Arrow
    batch with its matrix and zero-safe norms; the kernel returns the
    batch's output frame.  The stream never shuffles unless ``spread``
    repartitions it to defaultParallelism (AQE would coalesce a small
    scan onto one core)."""
    bc = stream.sparkSession.sparkContext.broadcast(side)

    def run(batches):
        side_v = bc.value
        for pdf in batches:
            if len(pdf):
                m, n = _matrix(pdf)
                yield kernel(pdf["id"].to_numpy(dtype=np.int64), m, n, pdf, side_v)

    df = _id_vec(stream, id_col, vec_col, *extra)
    if spread:
        df = df.repartition(stream.sparkSession.sparkContext.defaultParallelism)
    return df.mapInPandas(run, schema)


def _topk_cut(ids: np.ndarray, r: np.ndarray, q_ids: np.ndarray, k: int) -> pd.DataFrame:
    """One batch's top-k candidates per query from rounded scores ``r``
    (batch, n_queries); -inf marks masked pairs and is never emitted.

    The cut must use the FINAL total order — (round(cos, 6) DESC, vec_id
    ASC) — not raw scores: when a rounding tie (duplicate vectors,
    last-ulp matmul noise) straddles a raw-score cut, argpartition keeps
    an arbitrary member while the global window (and the SQL oracle) want
    the smallest id, and the dropped row can never be recovered
    downstream.  A batch-local top-k under the same
    total order the final window uses is always a superset of that
    batch's global-top-k members.  Vectorized: rows are pre-ordered by
    vec_id once, then ONE stable column argsort makes row position the
    ascending-id tie-break for every query at C speed (no per-query
    Python loop)."""
    kk = min(k, len(ids))
    perm = np.argsort(ids, kind="stable")
    ids_s = ids[perm]
    r_s = r[perm]
    # O(b) argpartition with a tie-slack window instead of a full
    # O(b log b) column sort: take the kk-th largest rounded score per
    # column, widen the cut to cover every row tied at-or-above it (so no
    # tie member the final total order would keep can be dropped), then
    # stable-sort only that slice.  Slice rows are re-sorted to ascending
    # row index first, so the stable score sort still breaks ties by
    # ascending vec_id, bit-identical to the full-sort path.
    n_rows = len(ids_s)
    if kk < n_rows:
        thresh = -np.partition(-r_s, kk - 1, axis=0)[kk - 1]
        kk2 = int((r_s >= thresh).sum(axis=0).max())
    else:
        kk2 = kk
    if kk2 < n_rows:
        part = np.argpartition(-r_s, kk2 - 1, axis=0)[:kk2]
        part.sort(axis=0)
        sub = np.take_along_axis(r_s, part, axis=0)
        ord2 = np.argsort(-sub, axis=0, kind="stable")[:kk]
        top = np.take_along_axis(part, ord2, axis=0)  # (kk, n_q)
    else:
        top = np.argsort(-r_s, axis=0, kind="stable")[:kk]  # (kk, n_q)
    out_s = np.take_along_axis(r_s, top, axis=0).T.ravel()
    out_c = ids_s[top].T.ravel()
    out_q = np.repeat(q_ids, kk)
    keep = np.isfinite(out_s)
    return pd.DataFrame(
        {"query_id": out_q[keep], "vec_id": out_c[keep], "cosine_sim": out_s[keep]}
    )


def _batched_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    attrs: tuple[Column, Column] | None = None,
) -> DataFrame:
    """Shared body of the batched top-k operators.  ``attrs`` is an
    optional (query-side, corpus-side) pair of int64 key expressions: a
    corpus row then only scores against queries with an equal key
    (others score -inf before the cut)."""
    q_extra = [attrs[0].alias("a")] if attrs else []
    q = _collect_side(_id_vec(queries, query_id_col, vec_col, *q_extra))
    qm, qn = _matrix(q)
    q_ids = q["id"].to_numpy(dtype=np.int64)
    q_attrs = q["a"].to_numpy(dtype=np.int64) if attrs else None

    def kernel(ids, m, n, pdf, side):
        q_ids_b, qm_b, qa_b = side
        sims = (m / n[:, None]) @ qm_b.T  # (batch, n_queries)
        sims[ids[:, None] == q_ids_b[None, :]] = -np.inf  # self-matches
        if qa_b is not None:  # predicate mask
            ca = pdf["a"].to_numpy(dtype=np.int64)
            sims[ca[:, None] != qa_b[None, :]] = -np.inf
        return _topk_cut(ids, np.round(sims, DIGITS), q_ids_b, k)

    c_extra = [attrs[1].alias("a")] if attrs else []
    cand = _gemm_stream(
        corpus, id_col, vec_col, (q_ids, qm / qn[:, None], q_attrs), kernel,
        "query_id long, vec_id long, cosine_sim double", *c_extra,
    )
    return top_k_per_group(
        cand, ["query_id"], [F.col("cosine_sim").desc(), F.col("vec_id").asc()], k, "rank"
    )


def cosine_pairs_batched(
    corpus: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_collect: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via batched BLAS scoring: all
    (id_a < id_b) with round(cosine, 6) >= threshold, the same rows as the
    expression-form reference ``tests/ref_similarity.py::cosine_pairs``.
    Thresholding on the ROUNDED value keeps the boundary deterministic
    across engines.

    One side of the self-join is collected and broadcast as a dense float64
    matrix (the same bounded-broadcast contract the reference's
    ``F.broadcast`` join has — ≤ ~100k×64-d); the other side streams through
    ``mapInPandas`` and scores each Arrow batch against the whole broadcast
    matrix in a single numpy matmul, emitting only the (id_a < id_b,
    sim >= threshold) survivors.  The corpus never shuffles and the pair
    space is never materialized — only surviving pairs cross the Arrow
    boundary.  At 100 TB the identical batch scorer runs over LSH/IVF
    candidate buckets instead of the full matrix.

    Like ``cosine_topk_batched``: np.dot's pairwise summation can differ
    from the sequential expression form in the last ulp — both are exact at
    the oracle's round(…, 6), and the sim is computed as dot/(|a|·|b|) in
    the same algebraic form as the expression path.
    """
    side = _collect_side(
        _id_vec(corpus, id_col, vec_col),
        max_collect,
        f"cosine_pairs_batched collects the corpus (> {max_collect} rows); "
        "prune candidates first with lsh_topk/ivf_topk, or raise "
        "max_collect if the driver can hold the matrix.",
    )
    bm, bn = _matrix(side)

    def pairs(aids, am, an, pdf, side_v):
        ids_b, bm_b, bn_b = side_v
        sims = _cosines(am, an, bm_b, bn_b)
        keep = (aids[:, None] < ids_b[None, :]) & (sims >= threshold)
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {"id_a": aids[ai], "id_b": ids_b[bi], "cosine_sim": sims[ai, bi]}
        )

    return _gemm_stream(
        corpus, id_col, vec_col, (side["id"].to_numpy(dtype=np.int64), bm, bn),
        pairs, "id_a long, id_b long, cosine_sim double", spread=True,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket with
    the query in ANY of ``n_tables`` independent hash tables.

    Standard OR-amplified random-hyperplane LSH: one sign-pattern table has
    collision probability (1 - θ/π)^n_planes for angle θ — too sharp a
    cliff for top-k recall on real embeddings (a single 6-plane table
    measured ~5% recall@5 on the test corpus).  Unioning candidates over L
    independent tables lifts recall to 1-(1-p)^L while candidate volume
    stays ~L × corpus/2^n_planes — the classic recall/cost dial
    (n_planes ↓ recall, n_tables ↑ recall).  Table t's planes are drawn
    from ``default_rng(seed + t)`` at the vectors' own dimension, so they
    depend only on (seed, n_planes, n_tables) and the dimension.

    Plan shape: corpus and queries each explode to (table, bucket) rows;
    candidates meet in an equi-join on (table, bucket) and dedup to
    (query_id, vec_id) BEFORE scoring, so each surviving pair is scored
    exactly once.  At 100 TB the corpus posting table is written bucketed
    by (table, bucket) making the probe join shuffle-free; the explode is
    n_tables × 8-byte keys per vector, not a vector copy per table.
    """
    bit_weights = (2 ** np.arange(n_planes)).astype(np.int64)

    # one GEMM per Arrow batch computes ALL n_tables × n_planes sign bits:
    # (batch, dim) @ (dim, n_tables*n_planes) — the expression form would
    # evaluate 96 interpreted array-dot folds per row (measured ~50x slower
    # at 16 tables); same bucket ids (sign of the same float dot).
    @F.pandas_udf("array<long>")
    def table_buckets(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy())
        planes = np.vstack([
            np.random.default_rng(seed + t).standard_normal((n_planes, mat.shape[1]))
            for t in range(n_tables)
        ])
        signs = ((mat @ planes.T) > 0).reshape(len(mat), n_tables, n_planes)
        return pd.Series(list((signs * bit_weights).sum(axis=2)))

    c_vec = norm_side(corpus, id_col, vec_col, "vec_id", "c")
    q_vec = norm_side(queries, query_id_col, vec_col, "query_id", "q")

    def bucketed(df, id_out, vcol):
        return df.select(
            F.col(id_out), F.posexplode(table_buckets(F.col(vcol)))
        ).withColumnsRenamed({"pos": "tbl", "col": "bkt"})

    cand = (
        bucketed(c_vec, "vec_id", "__cv")
        .join(
            F.broadcast(bucketed(q_vec, "query_id", "__qv")),
            ["tbl", "bkt"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    scored = (
        cand.join(c_vec, "vec_id")
        .join(F.broadcast(q_vec), "query_id")
        .select("query_id", "vec_id", cosine_sim())
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("vec_id").asc()], k, "rank"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantize the corpus into inverted
    lists, probe only the query's ``n_probe`` nearest lists.

    The coarse centroids are either ``centroids`` (a trained quantizer such
    as ``kmeans_centroids``, k rows) or the ``n_centroids`` corpus rows with
    the smallest xxhash64(id) — no iterative k-means pass, which keeps the
    operator a fixed 3-stage DAG.

    Plan shape: centroids are collected once (driver-safe by construction)
    and inlined as literals; corpus → (list_id, vec) via the top centroid
    cosine; queries fan out to their n_probe lists, ranked by (sim, cid)
    descending; candidates meet in a hash join on list_id.  At 100 TB the
    corpus can be written bucketed by list_id, making the probe join
    shuffle-free.
    Returns (query_id, vec_id, cosine_sim, rank).
    """
    if centroids is not None:
        cents = centroids.select("cid", "cvec").collect()
    else:
        cents = _hash_sample(corpus, id_col, vec_col, n_centroids)
    cids = F.array(*[F.lit(r["cid"]) for r in cents])
    c_norms = F.array(
        *[F.lit(float(sum(float(x) * float(x) for x in r["cvec"]) ** 0.5)) for r in cents]
    )

    def nearest_lists(n: int) -> Column:
        """ids of the n centroids with highest cosine to the vector."""
        vec = F.col(vec_col)
        v_norm = l2_norm(vec)
        scored = F.transform(
            centroid_dots(vec, [r["cvec"] for r in cents]),
            lambda d, i: F.struct(
                (d / (v_norm * c_norms[i])).alias("sim"), cids[i].alias("cid")
            ),
        )
        top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
        return F.transform(top, lambda s: s["cid"])

    c = norm_side(
        corpus, id_col, vec_col, "vec_id", "c",
        F.element_at(nearest_lists(1), 1).alias("list_id"),
    )
    q = norm_side(
        queries, query_id_col, vec_col, "query_id", "q",
        F.explode(nearest_lists(n_probe)).alias("list_id"),
    )
    scored = c.join(F.broadcast(q), ["list_id"]).filter(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id", cosine_sim())
    return top_k_per_group(
        scored.dropDuplicates(["query_id", "vec_id"]),
        ["query_id"], [F.col("cosine_sim").desc(), F.col("vec_id").asc()], k, "rank",
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Spherical k-means (Lloyd's) over an embedding column, DataFrame-native.

    The trained coarse quantizer for ``ivf_topk`` and the clustering step of
    semantic dedup (cluster-then-dedup-within-cluster).  Per iteration:

    1. assignment — ``nearest_centroid``: argmax of dot(vec, centroid) over
       the k centroids, evaluated as ONE codegen'd array expression
       (centroids are literals, L2-normalized so dot == cosine ranking); no
       join, no UDF;
    2. update — element-wise mean per cluster via posexplode →
       groupBy(cluster, pos).avg (map-side partial agg) → re-assemble the
       array with collect_list sorted by position.

    Only k centroid rows ever reach the driver per iteration.  The
    projected (id, vec) frame is persisted before the loop (the default
    storage level spills to disk), so the source is SCANNED ONCE — init
    materializes the cache and every Lloyd's iteration reads it (verified
    by a statusTracker-based test).  For a corpus far past cluster memory,
    train on a sample: the quantizer doesn't need every row.  Empty
    clusters keep their previous centroid.  Deterministic: min-hash-of-id
    init (``ivf_topk``'s sample), first-max tiebreak.

    Iterative-algorithm family, like graph.connected_components — a
    driver-side loop over declarative steps, the reference's batch-loop
    analog (`navmesh_connectivity.py:158-180`).
    Returns a k-row DataFrame (cid int, cvec array<double>), unit-norm.
    """
    spark = corpus.sparkSession
    work = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).persist()
    try:
        # init: the k hash-sampled rows; this job also materializes the cache
        cents = []
        for row in _hash_sample(work, "__id", "__v", k):
            v = np.asarray(row["cvec"], dtype=np.float64)
            n = np.linalg.norm(v)
            cents.append(v / n if n > 0 else v)

        for _ in range(n_iter):
            assigned = work.select(
                nearest_centroid(F.col("__v"), cents).alias("cluster"), "__v"
            )
            means = (
                assigned.select("cluster", F.posexplode("__v").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.avg("val").alias("avgv"))
                .groupBy("cluster")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "avgv"))),
                        lambda s: s["avgv"],
                    ).alias("mean_vec")
                )
                .collect()
            )
            new_cents = list(cents)
            for row in means:
                v = np.asarray(row["mean_vec"], dtype=np.float64)
                n = np.linalg.norm(v)
                if n > 0:
                    new_cents[int(row["cluster"])] = v / n
            cents = new_cents
    finally:
        work.unpersist()

    return literal_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid int, cvec array<double>",
    )


def cosine_topk_batched(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k via batched BLAS scoring: for each query vector
    the k nearest corpus vectors, self-matches excluded — the same rows as
    the expression-form reference ``tests/ref_similarity.py::cosine_topk``.
    Returns (query_id, vec_id, cosine_sim, rank).

    The query matrix is collected once (bounded by the broadcast contract —
    ≤ ~100k×64-d float64, same limit the reference's broadcast join has),
    L2-normalized, and shipped to executors as a broadcast variable.
    Each corpus Arrow batch scores against ALL queries in one numpy matmul
    (C·Qᵀ — hundreds of MFLOPs per batch at BLAS speed instead of
    interpreted per-pair zip_with lambdas), keeps its per-batch top-k per
    query (a global top-k member is necessarily in its batch's top-k), and
    only those k·n_batches·n_queries candidate rows reach the final ranking
    window.  The corpus never shuffles; candidates are tiny.

    np.dot's pairwise summation can differ from the sequential expression
    form in the last ulp — both are exact at the oracle's round(…, 6).
    """
    return _batched_topk(corpus, queries, k, vec_col, id_col, query_id_col)


def bucketed_cosine_dedup(
    corpus: DataFrame,
    bucket_col: str,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 100_000,
) -> DataFrame:
    """Within-bucket embedding-cosine dedup (the SemDeDup removal rule,
    Abbas et al. 2023): inside each bucket, a row is REMOVED when some
    lower-id row in the same bucket has round(cosine, 6) >= threshold, and
    ``dup_of`` records the smallest such partner — a deterministic one-shot
    keep-rule (no iteration, no order dependence beyond the id total order).

    The bucket column is the quadratic bound: pairs are only ever formed
    within a bucket, so cost is sum(bucket²), never corpus².  Callers choose
    the bucketing: a data column (label / source / language), an LSH sign
    pattern (``lsh_topk``'s table buckets), or a trained k-means cluster
    (``semantic_dedup``).  Scoring is one GEMM per bucket over Arrow batches
    (``applyInPandas``); only (id, bucket, dup_of) rows come back — vectors
    never leave the executor.  A bucket larger than ``max_bucket`` fails
    fast with the scale-path pointer (split buckets with a finer quantizer)
    instead of OOMing an executor.

    Returns removed rows only: (id, bucket, dup_of), id-ascending semantics;
    rows absent from the output are kept.
    """
    thr = float(threshold)

    def dedup_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_bucket:
            raise ValueError(
                f"bucketed_cosine_dedup: bucket of {len(pdf)} rows exceeds "
                f"max_bucket={max_bucket}; use a finer bucketing (more "
                "k-means clusters / more LSH planes) so per-bucket GEMMs "
                "stay bounded."
            )
        if len(pdf) < 2:
            return pdf.iloc[0:0][["id", "bucket"]].assign(dup_of=np.int64(0))
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        m, n = _matrix(pdf)
        sims = _cosines(m, n, m, n)
        hit = np.tril(sims >= thr, k=-1)  # [j, i] with i < j in id order
        removed = hit.any(axis=1)
        first = hit.argmax(axis=1)  # min row index == min id (sorted)
        return pd.DataFrame(
            {
                "id": ids[removed],
                "bucket": pdf["bucket"].to_numpy()[removed],
                "dup_of": ids[first[removed]],
            }
        )

    btype = dict(corpus.dtypes)[bucket_col]
    out_schema = f"id long, bucket {btype}, dup_of long"
    return (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(bucket_col).alias("bucket"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .groupBy("bucket")
        .applyInPandas(dedup_bucket, out_schema)
        .withColumnRenamed("id", id_col)
        .withColumnRenamed("bucket", bucket_col)
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    k: int = 16,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embedding space, then remove near-semantic-duplicates WITHIN each
    cluster — the clustering bounds the pairwise term, which is what lets
    embedding dedup run at web-corpus scale at all.

    Composition of two existing primitives: ``kmeans_centroids`` (spherical
    Lloyd's, corpus scanned once per iteration off a persisted projection)
    trains the quantizer; assignment is the trainer's own
    ``nearest_centroid`` (centroids inlined as literals — no join); then
    ``bucketed_cosine_dedup`` applies the lower-id keep-rule per cluster.

    Approximate by design (a true near-dup pair split across two clusters is
    missed — the recall/cost trade SemDeDup documents), so registry exposure
    is rows-only plus a validity CONTRACT query: every emitted (id, dup_of)
    pair must verify exactly at the threshold (see
    queries_ext.q_semantic_dedup_contract).

    Returns removed rows: (vec_id, cluster long, dup_of).
    """
    cents = kmeans_centroids(
        corpus, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col
    ).collect()
    cvecs = [r["cvec"] for r in sorted(cents, key=lambda r: r["cid"])]
    assigned = corpus.select(
        F.col(id_col),
        nearest_centroid(F.col(vec_col).cast("array<double>"), cvecs).alias("cluster"),
        F.col(vec_col),
    )
    return bucketed_cosine_dedup(
        assigned,
        bucket_col="cluster",
        threshold=threshold,
        vec_col=vec_col,
        id_col=id_col,
        max_bucket=max_bucket,
    )


def cross_cosine_flags(
    corpus: DataFrame,
    probes: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_probes: int = 200_000,
) -> DataFrame:
    """Cross-corpus embedding contamination flags: for every corpus row,
    count the probe vectors with round(cosine, 6) >= threshold and record
    the best match — the embedding-space analog of the n-gram
    `train_test_decontamination` (probes = the held-out set, corpus = the
    training corpus; flagged rows are dropped before training).

    Plan: the probe set is collected and broadcast as one dense float64
    matrix behind the same enforced bound as ``cosine_pairs_batched`` (a
    held-out benchmark is small by construction; a probe set over the bound
    fails fast instead of OOMing the driver); the corpus STREAMS through
    ``mapInPandas`` — never shuffles, never collects — scoring each Arrow
    batch against all probes in a single GEMM and emitting only flagged
    rows.  Linear in corpus size at any scale.

    Returns (id, n_hits, max_sim) for corpus rows with at least one hit.
    """
    side = _collect_side(
        probes.select(F.col(vec_col).cast("array<double>").alias("v")),
        max_probes,
        f"cross_cosine_flags collects the probe set (> {max_probes} "
        "rows); decontamination probes are the held-out set — shard the "
        "probe matrix or raise max_probes if the driver can hold it.",
    )
    thr = float(threshold)

    def flags(ids, am, an, pdf, side_v):
        sims = _cosines(am, an, *side_v)
        n_hits = (sims >= thr).sum(axis=1)
        keep = n_hits > 0
        return pd.DataFrame(
            {
                "id": ids[keep],
                "n_hits": n_hits[keep].astype(np.int64),
                "max_sim": sims[keep].max(axis=1),
            }
        )

    return _gemm_stream(
        corpus, id_col, vec_col, _matrix(side), flags,
        "id long, n_hits long, max_sim double", spread=True,
    ).withColumnRenamed("id", id_col)


def int8_quantize(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the standard 4x
    memory/bandwidth reduction in front of large-scale ANN (FAISS SQ8 /
    scalar-quantized HNSW, public): ``scale = max|x| / 127``, ``code =
    clamp(floor(x / scale + 0.5), -127, 127)``.

    Pure Catalyst expressions (fold for the max, transform for the codes):
    zero shuffle, fuses into the scan — at 100 TB this is a map stage
    whose output is written once and read by every downstream ANN pass.
    ``floor(x/s + 0.5)`` instead of ``round``: round-half semantics are
    engine-specific; floor(+0.5) is the same IEEE op everywhere, so the
    codes are bit-reproducible across engines and retries.  Zero vectors
    get scale 0 and all-zero codes (guarded division).

    Returns (id, codes array<int>, scale double, dim int).
    """
    v = F.col(vec_col)
    max_abs = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = (max_abs / F.lit(127.0)).alias("scale")
    codes = F.when(
        max_abs > 0,
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x.cast("double") / (max_abs / 127.0) + 0.5).cast("int"),
                ),
            ).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0))).alias("codes")
    return df.select(
        F.col(id_col), codes, scale, F.size(v).alias("dim")
    )


def int8_dequantize(codes_col, scale_col):
    """codes + scale → array<double> reconstruction (q * scale)."""
    return F.transform(
        codes_col, lambda q: q.cast("double") * scale_col
    )


def filtered_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    attr_col: str = "label",
) -> DataFrame:
    """Filtered vector search: exact cosine top-k where each query only
    matches corpus rows sharing its ``attr_col`` value (the metadata-
    predicate + ANN composition every vector store exposes as
    "filtered search").

    Same batched-BLAS shape as ``cosine_topk_batched`` — the corpus never
    shuffles, queries broadcast once — with the predicate applied INSIDE
    the scoring kernel as a mask on the similarity matrix (mismatched
    attributes score -inf before the same tie-safe per-batch top-k cut).
    Pre-filtering the corpus per query would re-scan it n_queries times;
    post-filtering the top-k would under-fill it.  The mask costs one
    vectorized comparison per batch and keeps both exactness and the
    single-scan plan.
    """
    # attributes of ANY type (string, int, nullable) are compared by their
    # 64-bit hash, computed JVM-side so the Arrow column is a non-null
    # int64 (a pandas nullable int would arrive as float64 and lose
    # precision on full-range hashes).  NULL attrs get disjoint sentinels
    # per side so a NULL never matches anything, like SQL equality.
    def _attr_hash(col, sentinel):
        return F.when(
            col.isNotNull(), F.xxhash64(col.cast("string"))
        ).otherwise(F.lit(sentinel))

    return _batched_topk(
        corpus, queries, k, vec_col, id_col, query_id_col,
        (_attr_hash(F.col(attr_col), -2), _attr_hash(F.col(attr_col), -1)),
    )


def topk_self_contract(out: DataFrame) -> DataFrame:
    """Append derived top-k invariant columns to a (query_id, vec_id,
    cosine_sim, rank) frame (VERDICT r6 item 9 — self-checking structure
    for rows-only approximate results): ``rank_contiguous`` (ranks are
    exactly 1..n_results per query), ``score_monotone`` (cosine
    non-increasing in rank), ``score_in_range`` (|cosine| <= 1).  A rank
    slip, an unsorted cut, or a scoring bug flips a boolean even without
    a value oracle.  Cheap: per-query windows over bounded k-row frames."""
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return out.select(
        "query_id",
        "vec_id",
        "cosine_sim",
        "rank",
        (F.col("rank") == F.row_number().over(w)).alias("rank_contiguous"),
        (
            F.col("cosine_sim")
            <= F.coalesce(F.lag("cosine_sim").over(w), F.lit(1.0))
        ).alias("score_monotone"),
        (F.abs(F.col("cosine_sim")) <= F.lit(1.0)).alias("score_in_range"),
    )
