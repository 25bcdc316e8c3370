"""Full-text retrieval: inverted-index BM25 scoring and top-k search.

Extends the engine's LLM-pipeline surface (BASELINE.json "north_star") with
the retrieval primitive a training-data stack needs for RAG corpus curation,
query-based quality probes, and hard-negative mining: score documents
against a (small) set of text queries with Lucene-style BM25 and return the
top-k per query.

Scale design (100 TB corpus, thousands of queries):
- The corpus is never shuffled at full vocabulary: the broadcast query-term
  prune applies to the raw token stream BEFORE the tf groupBy, so the only
  (id, term)-keyed exchange carries query-vocabulary tokens (~0.1% of the
  stream).  Corpus stats (N, avgdl) come from a separate zero-shuffle scalar
  pass — one extra columnar scan in exchange for removing the full-corpus
  postings shuffle, the right trade at every scale past a few GB.  The
  document body itself never shuffles anywhere.
- The query side is tiny by construction and is BROADCAST onto the postings
  (an inverted-index semi-join): documents sharing no term with any query
  are pruned at the join, never scored.
- Document frequencies and corpus stats (N, avgdl) are aggregates of the
  postings, not re-scans; the 1-row stats frame rides a broadcast crossJoin
  (the scalar-from-aggregate pattern used across the engine).
- Scoring is pure Column arithmetic inside whole-stage codegen; ranking is
  a bounded per-query row_number window (k rows survive per query).

Determinism: ranks order by the ROUNDED score (6 dp) with doc-id tiebreak,
so a last-ulp float divergence between engines cannot flip a rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokenize


def build_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-pass inverted index: (id, dl, term, tf) per document-term.

    ``dl`` (document length in tokens) is computed from the token array
    BEFORE the explode and carried through the groupBy key — it is constant
    per id, so this costs nothing and avoids a doc-length join (which would
    be a second shuffle keyed by id).
    """
    toks = df.select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("ts")
    )
    return (
        toks.select("id", F.size("ts").alias("dl"), F.explode("ts").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
) -> DataFrame:
    """Top-k documents per query under Lucene BM25.

    idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))      (always positive)
    score(q,d)= Σ_{t ∈ distinct(q)} idf(t) · tf·(k1+1)
                 / (tf + k1·(1 - b + b·dl/avgdl))

    Returns (query_id, doc_id, score, rank) with score rounded to 6 dp and
    rank 1..k ordered by (rounded score DESC, doc_id ASC).

    Physical shape (r11): the broadcast query-vocabulary prune runs on the
    exploded TOKEN stream, BEFORE the tf groupBy — a broadcast hash join is
    map-side, so the only shuffle keyed on (id, term) carries the ~0.1% of
    tokens matching a query term instead of the full corpus vocabulary
    (guide §2.3 "aggregate before you shuffle" applied in reverse: prune
    before you aggregate).  Corpus stats (N, avgdl) come from a separate
    zero-shuffle scalar aggregate over the per-doc token counts — that pass
    re-tokenizes the corpus, which costs one more scan but removes the
    full-vocabulary postings shuffle AND the postings persist entirely; at
    100 TB a full-corpus (id, term, tf) exchange dwarfs a second columnar
    scan.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("ts")
    )

    # Corpus stats: one map-side pass, single-row result — no (id, dl)
    # distinct shuffle (ids are unique upstream, so per-doc rows are
    # already distinct; dl per id is constant by construction).  The
    # size > 0 filter preserves the original explode semantics exactly:
    # a token-less document produced no posting row, so it never entered
    # n_docs/avgdl.
    stats = (
        toks.filter(F.size("ts") > 0)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg(F.size("ts")).alias("avgdl"),
        )
    )

    qterms = queries.select(
        F.col(qid_col).alias("query_id"),
        F.explode(F.array_distinct(tokenize(F.col(qtext_col)))).alias("term"),
    )

    # Inverted-index prune on the raw token stream (broadcast semi-join on
    # the distinct query vocabulary), THEN the tf groupBy over survivors:
    # df(t) only matters for query terms, and the pruned per-(id, term)
    # count IS the full-corpus tf.  dfreq is ≤ |query vocab| rows →
    # broadcast, not a shuffle join.
    qp = (
        toks.select("id", F.size("ts").alias("dl"), F.explode("ts").alias("term"))
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = qp.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        qp.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "id",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part_score"),
        )
        .groupBy("query_id", "id")
        .agg(F.round(F.sum("part_score"), 6).alias("score"))
    )

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("doc_id"), "score", "rank")
    )
