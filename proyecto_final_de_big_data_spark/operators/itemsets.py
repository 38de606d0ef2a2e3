"""Frequent-itemset mining + association rules over basket frames —
the "what sells together" upgrade of :mod:`.basket`'s pairwise
affinity to arbitrary itemset sizes, backed by MLlib's parallel
FP-Growth (Han et al. SIGMOD 2000; the distributed PFP variant, Li et
al. RecSys 2008 — public literature).

Scale shape (100 TB): PFP is genuinely distributed — transactions are
projected into per-suffix-group conditional databases that shard
across executors, so no single FP-tree must fit anywhere; shuffle
volume is bounded by (frequent items × partitions), not raw lines.
The inputs here apply the :mod:`.basket` discipline first: items
dedup per basket (support semantics), basket sizes measured in ONE
aggregation and over-cap baskets dropped (observable via
``basket_size_profile``, never silent in the mining output
cardinality), so a pathological 100k-item basket cannot explode the
conditional databases. ``min_support`` prunes at the MLlib contract
``freq >= ceil(min_support * n_baskets)`` — exact counts, no
sampling, which is what makes the output hash-comparable against a
brute-force SQL enumeration.

Extension surface — the reference has no market-basket stage
(`/root/reference` computes only descriptive marts); extension per
SURVEY §8 next to the pairwise affinity operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin


def _capped_baskets(
    df: DataFrame, basket_col: str, item_col: str, max_basket: int
) -> DataFrame:
    """``(basket, items array<string>)`` — distinct items per basket
    (support semantics), baskets over ``max_basket`` dropped (the
    :mod:`.basket` quadratic-hazard guard; here it bounds FP-Growth's
    conditional-database fan-out instead of a pair join)."""
    if max_basket < 2:
        raise ValueError("max_basket must be at least 2")
    items = df.select(
        F.col(basket_col).alias("basket"),
        F.col(item_col).cast("string").alias("item"),
    )
    # collect_set dedups INSIDE the basket aggregation — same set
    # semantics as the previous distinct() + collect_list, minus the
    # distinct's own (basket, item)-keyed Exchange: one shuffle instead
    # of two, and the map-side partial agg already collapses duplicate
    # items per basket before anything crosses the wire (guide §2.3).
    grouped = items.groupBy("basket").agg(
        F.array_sort(F.collect_set("item")).alias("items")
    )
    # Pinned: FP-Growth's fit makes THREE passes over its input
    # (minCount count, frequent-item agg, conditional-DB mining) and
    # both callers aggregate the basket total on top — unpinned, the
    # join+groupBy prep subtree re-executes per pass (4x measured at
    # sf0.1). Computed once on first use, reused from executor-local
    # blocks after; released by the caller's scope.
    return pin(grouped.where(F.size("items") <= max_basket))


def frequent_itemsets(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float,
    max_basket: int = 64,
    max_len: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """All itemsets with support >= ``min_support`` over the capped
    basket population: ``(itemset, size, freq, support)`` — ``itemset``
    is the sorted-ascending items joined with ', ' (a deterministic,
    hashable key), ``freq`` the exact basket count, ``support = freq /
    n_baskets`` rounded to ``decimals``. ``max_len`` optionally drops
    itemsets above a size (the mining itself is unbounded; the filter
    is output-side, matching a SQL oracle that enumerates sizes
    1..max_len)."""
    if not (0.0 < min_support <= 1.0):
        raise ValueError(f"min_support must be in (0, 1], got {min_support}")
    from pyspark.ml.fpm import FPGrowth

    baskets = _capped_baskets(df, basket_col, item_col, max_basket)
    model = FPGrowth(
        itemsCol="items", minSupport=min_support, minConfidence=0.0
    ).fit(baskets)
    nb = baskets.agg(F.count(F.lit(1)).cast("double").alias("__nb"))
    out = (
        model.freqItemsets.crossJoin(F.broadcast(nb))
        .select(
            F.array_join(F.array_sort("items"), ", ").alias("itemset"),
            F.size("items").alias("size"),
            F.col("freq"),
            F.round(F.col("freq") / F.col("__nb"), decimals).alias("support"),
        )
    )
    if max_len is not None:
        out = out.where(F.col("size") <= max_len)
    return out


def association_rules_1to1(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float,
    min_confidence: float = 0.0,
    max_basket: int = 64,
    decimals: int = 6,
) -> DataFrame:
    """Single-antecedent → single-consequent association rules from the
    same FP-Growth fit: ``(antecedent, consequent, freq_pair, freq_ante,
    confidence, lift, support)``.

    1→1 rules derive PURELY from the frequent singles and pairs
    (a frequent pair {a,b} yields both directions; confidence =
    freq(a,b)/freq(a), lift = confidence / (freq(b)/n)) — so this
    deliberately never touches ``model.associationRules``: MLlib's
    rule-generation pass re-enumerates every antecedent partition of
    every frequent itemset (all sizes) only for the 1→1 slice to be
    kept, and dropping it measured 8.0 → ~itemset-fit cost isolated
    warm at sf0.1. Exact integer frequencies come straight from
    ``freqItemsets``, so the ratio arithmetic restates in one shared
    operation order; multi-antecedent rules remain available via
    FP-Growth directly for callers that want them."""
    from pyspark.ml.fpm import FPGrowth

    if not (0.0 < min_support <= 1.0):
        raise ValueError(f"min_support must be in (0, 1], got {min_support}")
    if not (0.0 <= min_confidence <= 1.0):
        raise ValueError(
            f"min_confidence must be in [0, 1], got {min_confidence}"
        )
    baskets = _capped_baskets(df, basket_col, item_col, max_basket)
    model = FPGrowth(
        itemsCol="items", minSupport=min_support, minConfidence=1.0
    ).fit(baskets)
    nb = baskets.agg(F.count(F.lit(1)).cast("double").alias("__nb"))
    singles = model.freqItemsets.where(F.size("items") == 1).select(
        F.element_at("items", 1).alias("__item"),
        F.col("freq").alias("__item_freq"),
    )
    pair_freq = model.freqItemsets.where(F.size("items") == 2).select(
        F.element_at(F.array_sort("items"), 1).alias("__a"),
        F.element_at(F.array_sort("items"), 2).alias("__b"),
        F.col("freq").alias("__pair_freq"),
    )
    directed = pair_freq.select(
        F.col("__a").alias("antecedent"),
        F.col("__b").alias("consequent"),
        "__pair_freq",
    ).unionByName(
        pair_freq.select(
            F.col("__b").alias("antecedent"),
            F.col("__a").alias("consequent"),
            "__pair_freq",
        )
    )
    joined = (
        directed.join(
            F.broadcast(singles.withColumnRenamed("__item", "antecedent")),
            "antecedent",
        )
        .join(
            F.broadcast(
                singles.select(
                    F.col("__item").alias("consequent"),
                    F.col("__item_freq").alias("__cons_freq"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(nb))
    )
    return joined.where(
        F.col("__pair_freq") / F.col("__item_freq") >= F.lit(float(min_confidence))
    ).select(
        "antecedent",
        "consequent",
        F.col("__pair_freq").alias("freq_pair"),
        F.col("__item_freq").alias("freq_ante"),
        F.round(F.col("__pair_freq") / F.col("__item_freq"), decimals).alias(
            "confidence"
        ),
        F.round(
            (F.col("__pair_freq") / F.col("__item_freq"))
            / (F.col("__cons_freq") / F.col("__nb")),
            decimals,
        ).alias("lift"),
        F.round(F.col("__pair_freq") / F.col("__nb"), decimals).alias(
            "support"
        ),
    )
