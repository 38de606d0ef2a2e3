"""Distributed connected components over an edge list — the clustering
step that turns near-duplicate PAIRS (MinHash / SimHash / embedding LSH,
``operators/dedup.py``) into dedup CLUSTERS, so a curation pipeline can
keep one canonical document per group of mutual near-duplicates instead
of dropping both ends of every pair independently.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — public
literature; no GraphFrames dependency). Each round is two groupBy
shuffles keyed on node id; the edge set contracts toward a forest of
stars centered at each component's minimum node id in O(log n) rounds
(2-3 rounds for the clique-like clusters near-dup dedup produces).
Everything is DataFrame-native: no driver-side adjacency, no
``collect`` — the only per-round driver traffic is a 3-value
convergence aggregate.

Scale notes (100 TB posture):
- the working set is the EDGE list (near-dup pairs), orders of
  magnitude smaller than the corpus that produced it;
- each round ends in ``localCheckpoint`` to truncate lineage — without
  it the plan doubles every round and planning cost, not data, becomes
  the bottleneck (swap for ``checkpoint`` + a checkpoint dir on a real
  cluster where executor loss must be survivable);
- convergence is detected with a count + order-insensitive xxhash64
  checksum (summed as decimal(38) so it cannot overflow): one tiny
  aggregate per round instead of an ``exceptAll`` anti-join over the
  full edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils.caching import pin


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct (src>dst) orientation, self-loops dropped."""
    e = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("src"),
        F.least(F.col(src), F.col(dst)).alias("dst"),
    )
    return e.where(F.col("src") != F.col("dst")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """For every node u: attach each strictly-larger neighbor to
    min(N(u) ∪ {u}). Keeps (bigger, smaller) orientation."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = sym.groupBy("src").agg(F.min("dst").alias("__nbr_min"))
    m = m.select("src", F.least(F.col("src"), F.col("__nbr_min")).alias("__m"))
    out = (
        sym.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def _small_star(e: DataFrame) -> DataFrame:
    """For every node u: attach u and all its smaller-or-equal neighbors
    to the minimum of that set."""
    # e is (src > dst) oriented, so per src the smaller neighbors are
    # exactly its dst values.
    grouped = e.groupBy("src").agg(F.min("dst").alias("__m"))
    nbrs = e.join(grouped, "src").select(
        F.col("dst").alias("src"), F.col("__m").alias("dst")
    )
    selfs = grouped.select("src", F.col("__m").alias("dst"))
    out = nbrs.union(selfs)
    return out.where(F.col("src") != F.col("dst")).distinct()


def _checksum(e: DataFrame) -> tuple:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        F.sum(F.col("src").cast("decimal(38,0)") + F.col("dst").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return (row["n"], row["h"], row["s"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """``(node, component)`` for every node appearing in ``edges``; the
    component label is the minimum node id of the component.

    Only nodes that occur in the edge list are returned — callers
    wanting singleton rows union the untouched ids back with
    ``component = node`` (a dedup pipeline typically doesn't: untouched
    docs are kept as-is).

    Raises ``RuntimeError`` if the star-contraction hasn't converged
    after ``max_iterations`` alternating rounds. Convergence is
    OBSERVED, not predicted: a graph needing k contraction rounds needs
    ``max_iterations >= k + 1``, because the k-th round still changes
    the edge set and only the (k+1)-th no-change round proves the
    fixpoint. k is ~log₂ of the largest component's node count, so the
    default 20 leaves ≥ 2× margin for any graph that fits on hardware;
    hitting the cap means the input is pathological, and returning a
    half-contracted labeling would silently split components.
    """
    # Lazy checkpoints: the convergence checksum immediately below is
    # the action that materializes each round's frame, so an eager
    # checkpoint would run every round twice (one job to checkpoint,
    # one to aggregate). Lazy folds both into the checksum's single job
    # while still truncating lineage for the next round.
    e = pin(_canonical_edges(edges, src, dst))
    prev = _checksum(e)
    for _ in range(max_iterations):
        e = pin(_small_star(_large_star(e)))
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    # Fixpoint edges form stars (node -> center). A center's own rows
    # only appear as src on other nodes' edges, so its component is
    # itself: take min(dst) per node and union the centers back in.
    nodes_to_center = e.groupBy("src").agg(F.min("dst").alias("component"))
    centers = e.select(F.col("dst").alias("src")).distinct().join(
        nodes_to_center.select("src"), "src", "left_anti"
    ).select("src", F.col("src").alias("component"))
    return (
        nodes_to_center.select(
            F.least(F.col("src"), F.col("component")).alias("component"),
            F.col("src").alias("node"),
        )
        .select("node", "component")
        .union(centers.select(F.col("src").alias("node"), "component"))
    )


def cluster_dedup_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Fuzzy-dedup keep-list: collapse each connected component of the
    near-dup pair graph to its minimum-id member and keep every row of
    ``df`` that is either untouched by any pair or its component's
    canonical representative.

    This is the component-aware upgrade of pairwise dedup: with pairs
    A-B and B-C, pairwise keep-min drops B and C; component dedup keeps
    exactly one of {A, B, C} (A), which is the semantics an LLM-corpus
    curation pass wants.
    """
    comp = connected_components(pairs, pair_a, pair_b)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def component_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Per-component winner under a quality ordering: one row
    ``(component, kept_id, kept_score, n_docs)`` per connected component
    of the near-dup pair graph, where the winner is the member with the
    HIGHEST ``score_col`` (ties broken by lowest id — fully
    deterministic, so two engines agree on every winner).

    This is the quality-aware half of keep-best dedup
    (:func:`cluster_dedup_keep_best`); it is exposed separately because
    curation audits want to SEE the winner table (who survived, at what
    score, out of how many) before committing to the drop.

    Scale shape: the working set is component membership — edge-list
    sized, orders of magnitude below the corpus — joined once against
    the corpus's ``(id, score)`` projection (two columns, never the
    payload). The ``row_number`` window partitions BY component;
    near-dup components are small (they contract in 2-3 star rounds),
    so no single window partition can become a straggler the way an
    unpartitioned window would.
    """
    comp = connected_components(pairs, pair_a, pair_b)
    return _representatives(df, comp, id_col, score_col)


def _representatives(
    df: DataFrame, comp: DataFrame, id_col: str, score_col: str
) -> DataFrame:
    """Winner table from an already-contracted ``(node, component)``
    labeling — shared so keep-best dedup runs the star contraction
    exactly once."""
    from pyspark.sql import Window

    members = comp.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("__score")),
        "node",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc(), F.col("node").asc()
    )
    return (
        members.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .where(F.col("__rn") == 1)
        .select(
            "component",
            F.col("node").alias("kept_id"),
            F.col("__score").alias("kept_score"),
            F.col("__n").alias("n_docs"),
        )
    )


def cluster_dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Keep-BEST fuzzy dedup: collapse each near-dup component to its
    highest-``score_col`` member (ties → lowest id) instead of
    :func:`cluster_dedup_keep`'s min-id convention.

    Min-id keep is arbitrary: with a quality signal available (LM
    quality, length, classifier score), a curation pass should keep the
    best copy of each duplicated document, not whichever crawled first.
    Rows untouched by any pair are kept as-is; a component member whose
    id is missing from ``df`` simply never becomes the winner (the
    winner is picked among members present in ``df``).
    """
    comp = connected_components(pairs, pair_a, pair_b)
    winners = _representatives(df, comp, id_col, score_col)
    losers = comp.join(
        winners.select(F.col("kept_id").alias("node")),
        "node",
        "left_anti",
    ).select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
    broadcast_max_nodes: int = 1_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    PR_{k+1}(v) = (1-d)/N + d · Σ_{u→v} PR_k(u) / outdeg(u)

    The fixed iteration count (vs convergence testing) keeps the
    result DETERMINISTIC and restatable by an external engine as a
    bounded recursion, which is what lets the gate hash-match values
    instead of checking a tolerance. Dangling nodes (no out-edges)
    keep their rank mass out of circulation — the simple variant, and
    the one a recursive-SQL oracle can state in one join.

    Scale shape: per iteration ONE contribution join (rank ⋈ edges,
    both sides partitioned by the join key) + one destination-keyed
    aggregation — the classic Pregel message pattern as DataFrame ops.
    Lineage is truncated every ``checkpoint_every`` rounds with a lazy
    ``localCheckpoint`` (same discipline as
    :func:`connected_components`): without truncation the plan doubles
    per iteration and the optimizer chokes long before the data does,
    while truncating EVERY round materializes 10 intermediate rank
    frames — measured at sf0.1, every-2nd-round was the stable
    optimum (ckpt1 4.3–9.2 s vs ckpt2 4.0–5.0 s over 3 runs each) and
    bounds plan depth at two rounds. Purely physical: values are
    unchanged. Driver state is zero — ranks live in a DataFrame.
    """
    # Pin the deduped edge frame (lazy localCheckpoint, the house
    # barrier): `e` is referenced THREE times (nodes derivation, outdeg
    # aggregation, the contrib_edges join), so without the pin the
    # caller's whole edge-building subtree (often a join + distinct
    # over base tables) re-ran once per reference — measured at sf0.1
    # as 3 full base-table scans per execution (987 MB input/run for a
    # ~330 MB edge build; r12 event-log accounting, guide §5
    # recompute-less). The n_nodes count below materializes the chain.
    e = pin(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
    )
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Message edges = real edges annotated with the sender's out-degree
    # PLUS one zero-mass self-loop per node (outdeg NULL). The self-loop
    # guarantees every node receives at least one message row, so the
    # new rank frame falls straight out of the message aggregation and
    # the per-iteration `nodes LEFT JOIN contribs` dangling-node repair
    # join is gone: ONE join + ONE agg per round instead of two joins +
    # one agg (guide §2.4 — 10 data-keyed joins removed over 10 rounds;
    # plan diff: git show a266533:plans/r11/pagerank_contract_{before,after}.txt).
    # Values are untouched: rank/outdeg is NULL on the loop rows, SUM
    # skips NULLs, and an all-NULL (message-less) group coalesces to the
    # same base mass the left join produced.
    # NOTE (measured, r11 optimization round): an alternative that
    # hash-partitions + sorts this invariant frame by "src" and
    # persist()s it (so each round's sort-merge join reuses the layout
    # instead of re-shuffling the edge side) was tried and REVERTED:
    # a materialized InMemoryRelation does expose its partitioning
    # (join-side Exchange+Sort verified gone on 4.1), but the cached
    # relation drags cached-plan AQE into every round — 127 -> 224
    # stages, 8.8 s -> 13.9 s warm at sf0.1. The lazy localCheckpoint
    # fuses all rounds into one non-adaptive query instead.
    contrib_edges = pin(
        e.join(outdeg, "src")
        .unionByName(
            nodes.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(None).cast("long").alias("outdeg"),
            )
        )
    )
    base = F.lit((1.0 - damping) / n_nodes)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    # Guide §3 — broadcast the side that fits, sized on a KNOWN count:
    # real graphs have |edges| >> |nodes|, so when the rank frame is
    # bounded (n_nodes <= broadcast_max_nodes, ~24 B/row) each round's
    # join broadcasts it instead of re-shuffling + re-sorting the whole
    # message-edge frame per iteration (measured at sf0.1: ~214 MB of
    # shuffle write per run, 10 edge exchanges, for a 16k-node rank
    # frame). Map-side partial aggregation then bounds the dst shuffle
    # at (partitions x nodes) partial rows. Above the cap the classic
    # both-sides-partitioned Pregel shape is kept — the broadcast is a
    # deliberate size-gated choice, not a local-mode tune. Rank VALUES
    # are unchanged to the gate's 8-decimal rounding; summation order
    # within each destination group may differ (any shuffle does this).
    bcast = n_nodes <= broadcast_max_nodes
    for it in range(iterations):
        rank_side = ranks.withColumnRenamed("node", "src")
        if bcast:
            rank_side = F.broadcast(rank_side)
        ranks = (
            contrib_edges.join(rank_side, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    base
                    + F.lit(damping)
                    * F.coalesce(
                        F.sum(F.col("rank") / F.col("outdeg")), F.lit(0.0)
                    )
                ).alias("rank")
            )
        )
        if (it + 1) % max(1, checkpoint_every) == 0 or it == iterations - 1:
            ranks = pin(ranks)
    return ranks


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst", decimals: int = 6
) -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient over
    an UNDIRECTED graph: ``(node, degree, n_triangles, clustering)``
    with ``clustering = 2T / (d·(d−1))`` (0 when d < 2) — the
    community-density readout (how clique-like is each vertex's
    neighborhood) that complements :func:`pagerank`'s centrality and
    :func:`connected_components`'s reachability.

    Algorithm: degree-oriented wedge closing (the "compact-forward" /
    MapReduce node-iterator++ scheme — Suri & Vassilvitskii, WWW 2011;
    public literature). Edges are canonicalized (loops dropped,
    direction collapsed, dedup'd), then ORIENTED from the
    lower-(degree, id) endpoint to the higher: every triangle
    {a, b, c} has exactly one orientation a→b, a→c, b→c under that
    total order, so one self-join on the low endpoint builds each
    wedge once and one join against the oriented edge set closes it —
    no triangle is counted twice, no orientation permutations.

    Why degree orientation matters at scale: wedges are built ONLY at
    each edge's LOWER-degree endpoint, so a degree-D hub contributes
    wedges only through its (rare) neighbors of even higher degree —
    the join is O(Σ out_deg²) with out-degrees bounded by ~√m on any
    graph (the arboricity argument), instead of a star hub exploding
    into D² wedges under naive id orientation. The total-order key is
    a (degree, node) STRUCT compared lexicographically — no global
    rank window, so no single-partition vertex sort anywhere.

    Output includes every vertex (triangle-free ones at 0/0.0).
    """
    u, v = F.col("__u"), F.col("__v")
    # Pin the multi-referenced frames (lazy localCheckpoint, the house
    # barrier): without pins `oriented` is referenced three times
    # (both wedge sides + the closing join), `deg` three times and
    # `und` three more through them, so the physical plan repeated the
    # canonicalize-distinct subtree ~9x (measured 104 Exchanges /
    # 1544-line plan for the contract) and leaned on runtime exchange
    # reuse to dedup it. Values untouched — integer counts throughout.
    und = pin(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("__u"),
            F.greatest(F.col(src), F.col(dst)).alias("__v"),
        )
        .filter(u.isNotNull() & v.isNotNull() & (u != v))
        .distinct()
    )
    deg = pin(
        und.select(u.alias("node"))
        .unionAll(und.select(v.alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    keyed = und.join(
        deg.select(F.col("node").alias("__u"), F.col("degree").alias("__du")),
        "__u",
    ).join(
        deg.select(F.col("node").alias("__v"), F.col("degree").alias("__dv")),
        "__v",
    )
    ku = F.struct(F.col("__du").alias("d"), u.alias("n"))
    kv = F.struct(F.col("__dv").alias("d"), v.alias("n"))
    oriented = pin(
        keyed.select(
            F.when(ku < kv, u).otherwise(v).alias("lo"),
            F.when(ku < kv, v).otherwise(u).alias("hi"),
            F.when(ku < kv, kv).otherwise(ku).alias("k_hi"),
        )
    )
    w1 = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"), F.col("k_hi").alias("kb")
    )
    w2 = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("c"), F.col("k_hi").alias("kc")
    )
    wedges = w1.join(w2, "a").filter(F.col("kb") < F.col("kc"))
    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    triangles = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    per_vertex = (
        triangles.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    d = F.col("degree").cast("double")
    return (
        deg.join(per_vertex, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.lit(2.0)
                    * F.coalesce("n_triangles", F.lit(0))
                    / (d * (d - 1.0)),
                ).otherwise(F.lit(0.0)),
                decimals,
            ).alias("clustering"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Synchronous label-propagation community detection over an
    UNDIRECTED edge list (Raghavan, Albert & Kumara, Phys. Rev. E 76,
    2007 — public literature), made fully DETERMINISTIC: fixed
    iteration count, every node starts labeled with its own id, and
    each round EVERY node simultaneously adopts the most frequent
    label among its neighbors, ties broken by the SMALLEST label
    (classic LPA breaks ties randomly and updates asynchronously —
    both unacceptable for a hash-verifiable operator; Raghavan's own
    stability analysis covers the synchronous variant). Returns
    ``(node, label)`` — nodes sharing a label after the final round
    are one community.

    The community readout complements the rest of this module: after
    near-dup PAIRS become CLUSTERS (:func:`connected_components`), LPA
    exposes the soft sub-structure INSIDE a component — a giant dedup
    component with several dense cores usually means the similarity
    threshold merged distinct document families, and the per-community
    census is the inspection surface for that call. Synchronous LPA
    can oscillate 2-cycles on bipartite-ish structures; the fixed
    iteration count keeps even that case deterministic and
    restatable (the :func:`pagerank` posture — determinism over
    adaptive stopping).

    Scale shape (100 TB posture): the working set is the edge list.
    Per iteration: ONE join (labels onto the symmetrized edges, both
    sides keyed on node id) + ONE (node, label) count aggregation
    (map-side combined) + ONE per-node struct-min argmax — the same
    Pregel message pattern as :func:`pagerank`, with lineage truncated
    every ``checkpoint_every`` rounds (lazy localCheckpoint; swap for
    ``checkpoint`` on a real cluster). The argmax is
    ``min(struct(-count, label))`` so no per-node sort or window
    touches the data and ties resolve to the smallest label by
    construction. Driver state is zero.

    Extension surface — the reference has no graph stage
    (`/root/reference` computes only descriptive marts); extension per
    SURVEY §8 next to connected components / PageRank / triangles.
    """
    if iterations < 1:
        raise ValueError(f"label_propagation needs iterations >= 1; got {iterations}")
    e = _canonical_edges(edges, src, dst)
    sym = pin(e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))))
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for it in range(iterations):
        # One explicit src-keyed exchange feeds BOTH aggregation levels:
        # HashPartitioning(src) satisfies the clustering requirement of
        # groupBy(node=src, label) AND groupBy(node), so neither agg
        # inserts its own shuffle — 4 data Exchanges + 3 Sorts per round
        # become 3 + 2 (measured plan shape; guide §2.4). Trade-off,
        # documented: the plain two-exchange form map-side-combines
        # (node, label) rows before the wire; this form ships the raw
        # message rows once instead of combined rows twice — same-order
        # bytes unless neighbor labels collapse >2x within a map
        # partition, which dst-keyed message partitioning makes rare.
        counts = (
            sym.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .repartition("src")
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        labels = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__c")).alias("nc"), F.col("label").alias("l")
                    )
                ).alias("__b")
            )
            .select("node", F.col("__b.l").alias("label"))
        )
        if (it + 1) % max(1, checkpoint_every) == 0 or it == iterations - 1:
            labels = pin(labels)
    return labels


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    decimals: int = 6,
) -> DataFrame:
    """Newman modularity Q of a node labeling over an UNDIRECTED graph
    (Newman & Girvan, Phys. Rev. E 69, 2004 — public literature):

        Q = Σ_c ( e_c / m  −  (d_c / 2m)² )

    with m = #edges, e_c = #within-community edges, d_c = Σ degrees of
    community c — the quality score that turns
    :func:`label_propagation`'s assignment into a judgement (Q near 0:
    the partition is no better than random wiring; 0.3+: real
    community structure; compare Q across thresholds to pick a dedup
    similarity cutoff). One row: ``(n_communities, n_edges,
    modularity)``; modularity is NULL on an empty graph.

    Determinism: both Σ e_c and Σ d_c² are INTEGER sums (exact, no
    float reassociation across partitions), so Q is two exact longs
    divided once — Q = Σe_c/m − Σd_c²/(4m²) — and a SQL oracle
    restating the same two divisions matches bit-for-bit. ``labels``
    must cover every node of ``edges`` (the :func:`label_propagation`
    output does by construction); a node with no label HARD-FAILS
    in-plan (the degree path left-joins the labels and raises on a
    NULL — the series.py raise_error posture), because silently
    dropping it from Σd_c² while m still counts its edges would return
    a plausible-but-wrong Q. Edge-endpoint coverage follows from the
    degree-path check (every endpoint is a degree node).

    Scale shape (100 TB): edge-list working set; one degree
    aggregation, two label joins (node-keyed), two answer-scale
    community aggregations, one scalar crossJoin (1-row m frame, the
    house pattern). No collect, no window.

    Extension surface — the reference has no graph stage; extension
    per SURVEY §8 (see :func:`label_propagation`).
    """
    e = _canonical_edges(edges, src, dst)
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("label")
    )
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    checked_label = F.when(
        F.col("label").isNotNull(), F.col("label")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "modularity: node %s has no label — labels must cover "
                "every node of edges",
                F.col("node").cast("string"),
            )
        )
    )
    dc = (
        deg.join(lab, "node", "left")
        .select(checked_label.alias("label"), "degree")
        .groupBy("label")
        .agg(F.sum("degree").alias("d_c"))
    )
    la = lab.select(F.col("node").alias("src"), F.col("label").alias("__la"))
    lb = lab.select(F.col("node").alias("dst"), F.col("label").alias("__lb"))
    ec = (
        e.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("__la") == F.col("__lb"))
        .groupBy(F.col("__la").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    m_frame = e.agg(F.count(F.lit(1)).alias("__m"))
    per_c = dc.join(ec, "label", "left")
    agg = per_c.crossJoin(F.broadcast(m_frame)).agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.max("__m").alias("n_edges"),
        F.sum(F.coalesce("e_c", F.lit(0))).alias("__we"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("__dsq"),
    )
    return agg.select(
        "n_communities",
        "n_edges",
        F.round(
            F.when(
                F.col("n_edges") > 0,
                F.col("__we").cast("double") / F.col("n_edges")
                - F.col("__dsq").cast("double")
                / (F.lit(4.0) * F.col("n_edges") * F.col("n_edges")),
            ),
            decimals,
        ).alias("modularity"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    checkpoint_every: int = 2,
) -> DataFrame:
    """k-core subgraph extraction by iterative peeling (Seidman,
    Social Networks 1983; the distributed fixed-round formulation
    follows the Pregel-style peeling in Montresor et al., "Distributed
    k-Core Decomposition", IEEE TPDS 2013 — public literature): each
    round drops every node whose CURRENT degree is below ``k`` (and
    its incident edges), until the survivors form the maximal subgraph
    with minimum degree >= k — the dense backbone of a near-dup pair
    graph (nodes with many mutual similarities) as opposed to
    :func:`connected_components`' mere reachability.

    Runs EXACTLY ``iterations`` peels — no convergence probe — so the
    computation is deterministic and an external oracle can replay it
    as a bounded unrolling (the :func:`pagerank` fixed-iteration
    posture). Once the peel reaches its fixed point, further rounds
    are no-ops, so any ``iterations`` >= the peel depth yields the
    true k-core; peel depth is typically a handful of rounds (each
    round removes every currently-under-k node at once), but an
    adversarial chain can need O(n) — raise ``iterations`` if the
    returned frame still contains degrees < ``k``.

    Returns ``(node, core_degree)`` — the degree table of the edge
    set remaining after the final peel (all >= k iff converged; the
    caller-visible convergence check is exactly ``min(core_degree) >=
    k``). Empty when the graph has no k-core.

    Scale shape (100 TB posture): edge-list working set; per round ONE
    degree aggregation + two semi-joins (both keyed on node id — the
    same shuffle key, so AQE coalesces), lineage truncated every
    ``checkpoint_every`` rounds (lazy localCheckpoint; swap for
    ``checkpoint`` on a real cluster). No driver state, no collect.

    Extension surface — the reference has no graph stage; extension
    per SURVEY §8 (see :func:`label_propagation`).
    """
    if k < 1:
        raise ValueError(f"k_core needs k >= 1; got {k}")
    if iterations < 1:
        raise ValueError(f"k_core needs iterations >= 1; got {iterations}")
    e = _canonical_edges(edges, src, dst)
    for it in range(iterations):
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = sym.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        if (it + 1) % max(1, checkpoint_every) == 0 or it == iterations - 1:
            e = pin(e)
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_hops: int = 6,
    directed: bool = False,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Hop distances from a SOURCE SET by fixed-round frontier
    expansion — distributed unweighted single/multi-source BFS
    (Cormen et al., "Introduction to Algorithms" §22.2; the
    fixed-round Pregel formulation follows Malewicz et al., SIGMOD
    2010 — public literature): the dedup-graph readout that completes
    this family's reachability story — :func:`connected_components`
    says WHICH cluster a document joined, ``bfs_distances`` says HOW
    FAR it sits from the cluster representatives (a 1-hop near-dup of
    a kept canonical is a different curation decision than a 5-hop
    chain neighbor).

    Runs EXACTLY ``max_hops`` expansion rounds — no convergence probe
    — so the computation is deterministic and an external oracle can
    replay it as a bounded unrolling (the :func:`k_core` /
    :func:`pagerank` posture). Returns ``(node, dist)`` for every
    node REACHED within ``max_hops`` hops (sources at dist 0, even
    sources absent from the edge list — a lone document is trivially
    at distance 0 from itself); unreached nodes are absent (left-join
    the node universe and treat NULL as unreachable-within-budget).
    Rounds past the true eccentricity are no-ops, so any ``max_hops``
    >= the reachable radius yields exact distances. ``sources`` is a
    DataFrame with column ``node`` (node-id typed like the edge
    endpoints), deduplicated defensively.

    ``directed=False`` (default) expands across both edge
    orientations after canonicalizing (self-loops dropped, the house
    edge discipline); ``directed=True`` follows ``src -> dst`` arcs
    as given (self-loops dropped, duplicates collapsed).

    Scale shape (100 TB posture): edge-list working set; per round
    ONE frontier-to-edges equi-join + one distinct + one left-anti
    join against the settled-distance frame (all keyed on node id —
    the same shuffle key, so AQE coalesces), lineage truncated every
    ``checkpoint_every`` rounds (lazy localCheckpoint; swap for
    ``checkpoint`` on a real cluster). The settled frame only ever
    GROWS by the new frontier (BFS settles each node once — no
    re-relaxation), no driver state, no collect.

    Extension surface — the reference has no graph stage; extension
    per SURVEY §8 (see :func:`label_propagation`).
    """
    if max_hops < 1:
        raise ValueError(f"bfs_distances needs max_hops >= 1; got {max_hops}")
    if directed:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        sym = e.where(F.col("src") != F.col("dst")).distinct()
    else:
        e = _canonical_edges(edges, src, dst)
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # The edge frame is INVARIANT across rounds (unlike k_core's
    # shrinking peel) but referenced by every round's expansion join —
    # pin it once so the base scans/joins that build it run once, not
    # max_hops times (lazy localCheckpoint, the winnow.py barrier
    # discipline; swap for checkpoint/cache on a real cluster).
    # Pin it PRE-PARTITIONED AND SORTED on the join key: a
    # localCheckpoint's LogicalRDD keeps the physical plan's
    # outputPartitioning/outputOrdering, so every round's expansion
    # join finds the big side already hash(src)-clustered and sorted —
    # the edge list crosses the wire once total instead of once per
    # hop (guide §2.4; unlike the persist() route this adds no
    # cached-plan AQE re-planning — see the pagerank NOTE).
    sym = pin(sym.repartition("src").sortWithinPartitions("src"))
    settled = (
        sources.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    frontier = settled.select("node")
    for hop in range(1, max_hops + 1):
        nbrs = (
            sym.join(
                frontier.withColumnRenamed("node", "src"), "src", "left_semi"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nbrs.join(settled, "node", "left_anti").withColumn(
            "dist", F.lit(hop)
        )
        settled = settled.unionByName(new)
        if hop % max(1, checkpoint_every) == 0 or hop == max_hops:
            settled = pin(settled)
            # Re-derive the frontier from the PINNED settled frame
            # (rows with dist == hop are exactly `new`): the next
            # round reads the materialized RDD instead of re-running
            # this round's anti-join subtree a second time, and the
            # final hop pays no frontier materialization at all.
            frontier = settled.filter(F.col("dist") == hop).select("node")
        else:
            frontier = new.select("node")
    return settled


def adamic_adar_topk(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 20,
    max_degree: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Top-``k`` predicted links by Adamic–Adar score over an
    UNDIRECTED graph (Adamic & Adar, Social Networks 2003; RA index
    from Zhou, Lü & Zhang, EPJ B 2009 — public literature):
    ``(u, w, common, aa_score, ra_score, rank)`` for node pairs that
    are NOT edges, scored over their common neighbors v —

        aa(u, w) = Σ_v 1 / ln(deg(v))      (hub neighbors discounted)
        ra(u, w) = Σ_v 1 / deg(v)          (resource allocation twin)

    — the "which near-dup pair is the graph about to close" readout a
    dedup-cluster curator uses to pre-merge likely duplicates, and the
    classic link-prediction baseline. Every common neighbor has degree
    >= 2 by construction (it is adjacent to both u and w), so
    ``ln(deg)`` is never 0 and no guard is needed. Ties order
    (u, w) ascending; ranking compares the ROUNDED score (both
    engines agree on rounded sums; raw float-sum accumulation order
    is partitioning-dependent), rank assigned AFTER the k-row limit.

    ``max_degree`` drops wedge CENTERS with degree above the cap
    BEFORE pair generation — the standard wedge bound (a degree-D hub
    contributes D² candidate pairs each worth only 1/ln(D) ≈ 0: at
    scale the cap removes the quadratic blowup while changing scores
    only by the hubs' near-zero terms). The capped variant is a
    DIFFERENT statistic — callers comparing against uncapped scores
    must say so; the cap is applied identically by the oracle.

    Scale shape (100 TB): canonicalize + dedup edges (one shuffle),
    ONE degree aggregation, adjacency as a map-only union of both
    orientations, the wedge self-join keyed on the center (bounded by
    ``max_degree``: O(Σ min(deg, cap)²) pairs), one anti-join against
    the edge set, ONE (u, w)-keyed aggregation, and
    TakeOrderedAndProject top-k — rank after the limit, never a
    pair-scale window. No collect, no crossJoin, no driver state.

    Extension surface — the reference has no graph stage; extension
    per SURVEY §8, the link-prediction sibling of
    :func:`triangle_stats`'s wedge machinery (triangles close wedges
    that ARE edges; Adamic–Adar scores wedges that are NOT).
    """
    if k < 1:
        raise ValueError(f"adamic_adar_topk needs k >= 1; got {k}")
    if max_degree is not None and max_degree < 2:
        raise ValueError(
            f"max_degree must be >= 2 (a wedge center has degree >= 2); "
            f"got {max_degree}"
        )
    u, v = F.col("__u"), F.col("__v")
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("__u"),
            F.greatest(F.col(src), F.col(dst)).alias("__v"),
        )
        .filter(u.isNotNull() & v.isNotNull() & (u != v))
        .distinct()
    )
    deg = (
        und.select(u.alias("node"))
        .unionAll(und.select(v.alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    adj = und.select(u.alias("__c"), v.alias("__n")).unionAll(
        und.select(v.alias("__c"), u.alias("__n"))
    )
    adjd = adj.join(
        deg.select(F.col("node").alias("__c"), F.col("__d")), "__c"
    )
    if max_degree is not None:
        adjd = adjd.filter(F.col("__d") <= max_degree)
    a1 = adjd.select("__c", F.col("__n").alias("u"), "__d")
    a2 = adjd.select("__c", F.col("__n").alias("w"))
    wedges = a1.join(a2, "__c").filter(F.col("u") < F.col("w"))
    cand = wedges.join(
        und.select(u.alias("u"), v.alias("w")), ["u", "w"], "left_anti"
    )
    dd = F.col("__d").cast("double")
    scored = cand.groupBy("u", "w").agg(
        F.count(F.lit(1)).alias("common"),
        F.round(F.sum(F.lit(1.0) / F.log(dd)), decimals).alias("aa_score"),
        F.round(F.sum(F.lit(1.0) / dd), decimals).alias("ra_score"),
    )
    order = [F.desc("aa_score"), F.asc("u"), F.asc("w")]
    top = scored.orderBy(*order).limit(k)
    w_rank = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w_rank)).select(
        "u", "w", "common", "aa_score", "ra_score", "rank"
    )
