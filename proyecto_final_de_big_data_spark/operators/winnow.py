"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm): local fingerprints for PARTIAL
overlap detection. Whole-document hashing (operators/text.py:
fingerprint) only catches exact duplicates; MinHash/SimHash estimate
GLOBAL similarity. Winnowing selects a position-robust subset of
k-gram hashes such that any shared substring of length >= w + k - 1
between two documents is GUARANTEED to share at least one selected
fingerprint — the plagiarism/quotation primitive.

Algorithm, per document: normalize (lowercase, strip non-alphanumerics
— the standard MOSS preprocessing), take all character k-grams, hash
each (portable md5 band; a polynomial rolling hash is the
constant-factor optimization of this step at scale — the selection
algebra below is identical), slide a window of w consecutive hashes
and keep each window's MINIMUM; the distinct selected hashes are the
document's fingerprint set.

Scale shape (100 TB): the whole computation is a map-only projection
built from higher-order functions (sequence/transform/slice/
array_min/array_distinct) — no shuffle, no UDF, no Python; per-row
cost is O(len · w). Two lazy localCheckpoint barriers pin the
normalized text and the hash array to ONE evaluation per row —
Catalyst's CollapseProject would otherwise inline them into the
consuming lambdas and re-evaluate per element (measured: 180 s -> 0.57 s
at sf0.1, SCALE.md probe table). The output explodes
to (id, fingerprint) rows ready for the standard inverted-index
self-join (the setsim/containment machinery) to find overlapping
pairs. Fingerprint density is ~2/(w+1) per k-gram (the paper's
expected density), so w directly trades index size for the guaranteed
detectable overlap length.

Extension surface — the reference has no fingerprinting
(`/root/reference` computes only descriptive marts, README.md:60-90).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin
from .mixing import _md5_fold


def _normalized(text: Column) -> Column:
    return F.regexp_replace(F.lower(text), "[^a-z0-9]", "")


def _planned_width(node, adaptive: bool) -> int:
    """Partition count of a physical plan node, read from the plan. A
    coalesce, an AQE shuffle read or an exchange sets it; an adaptive
    exchange other than an explicit ``repartition(n)`` is sized by AQE
    from its input's bytes at run time, so its input's width stands in
    for it. Any other node keeps its streamed children's width (a
    broadcast build side never sets it; a union adds its children),
    down to a leaf's split count: 0 when the leaf carries a subquery,
    which planning its RDD would run."""
    name = node.getClass().getSimpleName()
    coalescible = (
        adaptive
        and name == "ShuffleExchangeExec"
        and node.shuffleOrigin().toString() != "REPARTITION_BY_NUM"
    )
    if name in ("CoalesceExec", "AQEShuffleReadExec", "ShuffleExchangeExec") and not coalescible:
        return node.outputPartitioning().numPartitions()
    kids = node.children()
    kids = [kids.apply(i) for i in range(kids.size())]
    kids = [k for k in kids if k.getClass().getSimpleName() != "BroadcastExchangeExec"]
    if not kids:
        return 0 if node.subqueries().nonEmpty() else len(node.execute().partitions())
    widths = [_planned_width(k, adaptive) for k in kids]
    return sum(widths) if name == "UnionExec" else max(widths)


def spread_for_fanout(df: DataFrame, key: str | None = None) -> DataFrame:
    """Spread ``df`` across at least the session's cores ahead of a
    heavy fan-out stage (per-character md5 grams, position explodes,
    per-document Arrow signature passes). Scan parallelism is sized to
    INPUT bytes, but these stages do O(len) or more work per input byte,
    so a corpus that fits one scan split would run it on one core
    (guide §2.5: repartition right after a too-coarse read).

    One rule: ``n = max(defaultParallelism, width)``, so a wide input
    is never shrunk. The width is read from the physical plan Spark
    has already built, which launches no job. A non-adaptive plan (a
    scan, a pin, ``coalesce`` or narrow operators over them) gives it
    exactly. An adaptive plan is read before execution: an explicit
    ``repartition(n)`` gives ``n``; a shuffle AQE will coalesce by
    bytes (an aggregate's, a join's) gives its input's width, not
    ``spark.sql.shuffle.partitions``, which under Spark's default of
    200 would spread a fixture-sized input over 200 tasks. ``df.rdd``
    would instead run every AQE query stage of the input, and the pin
    or action after it would run them again.

    - With ``key``: always ``repartition(n, key)``. Callers key when
      they need the co-partitioning (a self-join, an aggregate on the
      key) or an explicit count AQE will not coalesce: its coalescing
      sizes on PRE-fan-out bytes and would merge a small corpus back
      to one partition.
    - Without ``key``: ``df`` unchanged when its width is exact
      (non-adaptive) and already at least ``defaultParallelism``, so
      a wide input is not shuffled again; else ``repartition(n)``.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    exact = plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec"
    width = _planned_width(plan if exact else plan.executedPlan(), not exact)
    if key is None:
        return df if exact and width >= cores else df.repartition(max(cores, width))
    return df.repartition(max(cores, width), key)


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Explodes each document into its winnowing fingerprint set:

    ``(id, fingerprint)`` — one row per distinct selected hash.

    - ``k``: character k-gram length (match granularity);
    - ``w``: winnowing window — any shared substring of length
      >= ``w + k - 1`` (on the normalized text) is guaranteed to
      produce a shared fingerprint (the paper's detection guarantee);
    - a document whose normalized text has fewer than ``k`` characters
      yields NO rows (nothing to fingerprint); one with fewer than
      ``w`` k-grams yields exactly one fingerprint (the global min —
      the whole document is one window).

    Deterministic and engine-portable: the k-gram hash is the house
    md5 band, so a DuckDB oracle reproduces the exact fingerprint
    sets. Guarantees (subset-of-hashes, every-window-covered, shared-
    substring detection) are property-tested against a pure-Python
    twin in tests/test_winnow.py.
    """
    if k < 1:
        raise ValueError(f"winnowing_fingerprints needs k >= 1; got {k}")
    if w < 1:
        raise ValueError(f"winnowing_fingerprints needs w >= 1; got {w}")
    txt = _normalized(F.col(text_col))
    # Materialization barriers (lazy localCheckpoint, the funnel.py
    # pattern): Catalyst's CollapseProject inlines a once-used column
    # INTO the consuming lambda, so without a barrier the normalized
    # text would re-run its regex per k-gram (O(m·len)) and the hash
    # array would be rebuilt per window (O(m²) md5s) — measured as an
    # 8.8x scaling ratio before the fix. Each stage below is computed
    # exactly once per row; no shuffle is introduced.
    base = pin(
        spread_for_fanout(
            df.filter(txt.isNotNull() & (F.length(txt) >= k)).select(
                F.col(id_col).alias("id"), txt.alias("__t")
            ),
            "id",
        )
    )
    t = F.col("__t")
    n_grams = F.length(t) - k + 1  # m: number of k-grams
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda p: t.substr(p, F.lit(k)),
    )
    hashed = pin(base.select("id", F.transform(grams, _md5_fold).alias("__hashes")))
    hashes = F.col("__hashes")
    m = F.size(hashes)
    mins = F.when(
        m >= w,
        F.transform(
            F.sequence(F.lit(1), m - w + 1),
            lambda i: F.array_min(F.slice(hashes, i, w)),
        ),
    ).otherwise(F.array(F.array_min(hashes)))
    return hashed.select(
        "id", F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def shared_fingerprint_pairs(
    fps: DataFrame,
    min_shared: int = 1,
) -> DataFrame:
    """Inverted-index self-join over a ``(id, fingerprint)`` frame:
    ``(id_a, id_b, n_shared)`` for pairs sharing >= ``min_shared``
    fingerprints, id_a < id_b. Pairs sharing nothing never materialize
    (the setsim/containment join shape); by the winnowing guarantee a
    returned pair shares at least one normalized substring of length
    >= w + k - 1."""
    # ONE explicit-count keyed repartition feeds BOTH self-join sides
    # (the r11 label_propagation/jaro discipline): the join's own
    # exchanges would be AQE-coalesced on INPUT bytes, but the join
    # OUTPUT explodes quadratically per fingerprint group — on a
    # duplicated corpus the r12 sf1 spot-probe measured the coalesced
    # join running 30–58 s stages on 7 tasks with the other 25 cores
    # idle. An explicit-count repartition is not coalescible, and both
    # sides sharing it means the join inserts no exchange of its own,
    # so the pair explosion runs at full width. The pin also stops the
    # fingerprint explode re-running once per join side.
    fps_p = pin(spread_for_fanout(fps, "fingerprint"))
    a = fps_p.select(F.col("id").alias("id_a"), "fingerprint")
    b = fps_p.select(F.col("id").alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
