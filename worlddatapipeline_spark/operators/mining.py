"""Pattern-mining operators: market-basket association rules and
item-item co-occurrence similarity.

Both are co-occurrence counting problems shaped for the 100 TB case:

- The only quadratic term — pairs of items sharing one basket/context —
  is bounded by ``max_items`` (baskets above the cap are EXCLUDED before
  any counting, a documented contract like dedup's ``max_df``; the cap
  applies identically in the SQL oracles, so surfaced counts stay exact).
- Pair generation is a self-equi-join on the basket key: one shuffle of
  the (basket, item) incidence frame, reused for both sides.
- Pair counts and item counts are plain partial-aggregated groupBys
  (map-side combine); the item-count frame is broadcast back (the item
  domain — brands, SKUs, vocab — is dimension-sized, not fact-sized).
- All derived metrics (support/confidence/lift/cosine²) leave the plan
  as integer parts-per-million via DECIMAL(38,0) floor division — no
  double ever reaches checked output.

Reference parity: the reference has no mining surface; these extend the
engine's LLM/analytics charter (frequent co-occurrence is the same
posting-list shape as `dedup.py`'s n-gram pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def basket_incidence(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_items: int = 1024,
) -> DataFrame:
    """Distinct (basket, item) incidence with oversized baskets dropped.

    ``max_items`` bounds the downstream pair fan-out per basket at
    O(max_items²).  A basket with more distinct items than the cap is
    excluded ENTIRELY (from item counts, basket counts, and pairs) so
    every downstream ratio refers to one consistent population — the
    alternative (capping pairs only) silently skews confidence.
    """
    # Window count instead of groupBy+join-back (r11): the size filter
    # rides the SAME basket-keyed exchange the distinct already paid for
    # partially, and the incidence source is derived ONCE — the join-back
    # form re-derived the (possibly fact-fact-join) source a second time
    # for the sizes branch (guide §2.4: share one exchange, drop a scan).
    inc = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    w = Window.partitionBy("basket")
    return (
        inc.withColumn("sz", F.count(F.lit(1)).over(w))
        .filter(F.col("sz") <= max_items)
        .select("basket", "item")
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support_ppm: int = 1000,
    max_items: int = 1024,
) -> DataFrame:
    """Directed association rules ante -> conseq over item baskets.

    Returns (ante, conseq, n_ab, support_ppm, confidence_ppm, lift_ppm)
    for every ordered pair whose joint support clears ``min_support_ppm``
    (parts-per-million of kept baskets).  Metrics are exact integer
    floor-divisions:

        support_ppm    = n_ab * 1e6 div n_baskets
        confidence_ppm = n_ab * 1e6 div n_ante
        lift_ppm       = n_ab * n_baskets * 1e6 div (n_ante * n_conseq)

    The lift numerator is computed in DECIMAL(38,0) — at n_baskets ~1e10
    the product passes int64 while the quotient (≤ n * 1e6 only in the
    degenerate single-occurrence case) still fits BIGINT.
    """
    # Barrier: the incidence frame is read by the basket-keyed pair
    # self-join and by the item counts and basket total, which share no
    # exchange with it, so the lazy plan re-runs the upstream fact-fact
    # join (0 ReusedExchange, ~5 scans; A/B: lazy 1.50×).  Persist +
    # eager-checkpoint the (small, item-domain-bounded) result, then release.
    inc = basket_incidence(df, basket_col, item_col, max_items).persist()
    pairs = (
        inc.alias("a")
        .join(inc.alias("b"), "basket")
        .filter(F.col("a.item") != F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("ante"), F.col("b.item").alias("conseq")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    item_counts = inc.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    totals = inc.agg(
        F.countDistinct("basket").cast("long").alias("n_baskets")
    )
    out = (
        pairs.join(
            F.broadcast(item_counts.withColumnRenamed("n_item", "n_ante")),
            F.col("ante") == F.col("item"),
        )
        .drop("item")
        .join(
            F.broadcast(item_counts.withColumnRenamed("n_item", "n_conseq")),
            F.col("conseq") == F.col("item"),
        )
        .drop("item")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "support_ppm", F.expr("(n_ab * 1000000) div n_baskets")
        )
        .filter(F.col("support_ppm") >= min_support_ppm)
        .select(
            "ante",
            "conseq",
            "n_ab",
            "support_ppm",
            F.expr("(n_ab * 1000000) div n_ante").alias("confidence_ppm"),
            F.expr(
                "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_baskets * 1000000)"
                " div (CAST(n_ante AS DECIMAL(38,0)) * n_conseq) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    from ..session import materialize_and_release  # noqa: PLC0415

    return materialize_and_release(out, inc)


def cooccurrence_cosine(
    df: DataFrame,
    context_col: str,
    item_col: str,
    max_items: int = 1024,
) -> DataFrame:
    """Undirected item-item cosine² over binary (context, item) incidence.

    cos(a, b) on 0/1 incidence vectors is n_ab / sqrt(n_a * n_b); to keep
    checked output engine-bit-identical the SQUARE is returned instead —
    cos² = n_ab² / (n_a * n_b) is a pure integer ratio, monotone in cos
    for non-negative counts, so rankings and thresholds are unaffected
    and no sqrt double ever surfaces:

        cos2_ppm = n_ab * n_ab * 1e6 div (n_a * n_b)   (DECIMAL numerator)

    Returns (item_a, item_b, n_ab, cos2_ppm) with item_a < item_b.
    """
    # Barrier, as in association_rules: the pair self-join and the item
    # counts share no exchange over inc (A/B: lazy 1.29×) — persist,
    # checkpoint the (item²-bounded) pair result, release the cache.
    inc = basket_incidence(df, context_col, item_col, max_items).persist()
    pairs = (
        inc.alias("a")
        .join(inc.alias("b"), "basket")
        .filter(F.col("a.item") < F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    item_counts = inc.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    out = (
        pairs.join(
            F.broadcast(item_counts.withColumnRenamed("n_item", "n_a")),
            F.col("item_a") == F.col("item"),
        )
        .drop("item")
        .join(
            F.broadcast(item_counts.withColumnRenamed("n_item", "n_b")),
            F.col("item_b") == F.col("item"),
        )
        .drop("item")
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.expr(
                "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_ab * 1000000)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("cos2_ppm"),
        )
    )
    from ..session import materialize_and_release  # noqa: PLC0415

    return materialize_and_release(out, inc)
