"""Connected-components (operators/graph.py): correctness against a
driver-side union-find on deterministic and randomized graphs, plus the
component-aware dedup keep-list semantics."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.graph import (
    cluster_dedup_keep,
    connected_components,
)


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_dict(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["component"] for r in connected_components(df).collect()}


def test_cc_chain_and_separate_component(spark):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    assert _cc_dict(spark, edges) == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_duplicate_reversed_and_self_edges(spark):
    edges = [(2, 1), (1, 2), (1, 1), (2, 3), (3, 1)]
    assert _cc_dict(spark, edges) == {1: 1, 2: 1, 3: 1}


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_matches_union_find_randomized(spark):
    rng = random.Random(7)
    nodes = list(range(60))
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(80)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    assert _cc_dict(spark, edges) == _uf_components(edges)


def test_cc_nonconvergence_raises(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=0)


def test_cluster_dedup_keep_transitive(spark):
    # Pairs A-B and B-C: pairwise keep-min would drop B and C; the
    # component-aware keep-list keeps exactly one of {A,B,C} plus the
    # untouched doc.
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "solo")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"] for r in cluster_dedup_keep(df, pairs, "doc_id").collect()
    )
    assert kept == [1, 9]


def test_component_representatives_picks_highest_score_then_lowest_id(spark):
    from proyecto_final_de_big_data_spark.operators.graph import (
        component_representatives,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (10, 1), (11, 2), (99, 7)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    reps = {
        r["component"]: (r["kept_id"], r["kept_score"], r["n_docs"])
        for r in component_representatives(df, pairs, "doc_id", "score").collect()
    }
    # component 1 = {1,2,3,4}: top score 30 shared by 2 and 3 -> lowest id 2
    # component 10 = {10,11}: 11 wins on score
    assert reps == {1: (2, 30, 4), 10: (11, 2, 2)}


def test_cluster_dedup_keep_best_vs_keep_min(spark):
    from proyecto_final_de_big_data_spark.operators.graph import (
        cluster_dedup_keep_best,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (99, 7)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in cluster_dedup_keep_best(df, pairs, "doc_id", "score").collect()
    )
    # keep-min would keep doc 1; keep-best keeps 2 (score 30, lowest id
    # among the tied); untouched doc 99 survives either way.
    assert kept == [2, 99]


def test_cluster_dedup_keep_best_no_pairs_is_identity(spark):
    from proyecto_final_de_big_data_spark.operators.graph import (
        cluster_dedup_keep_best,
    )

    df = spark.createDataFrame([(1, 10), (2, 20)], "doc_id long, score long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert cluster_dedup_keep_best(df, pairs, "doc_id", "score").count() == 2


# ---------------------------------------------------------------- split


def test_cluster_safe_split_keeps_clusters_together(spark):
    from proyecto_final_de_big_data_spark.operators.split import (
        cluster_safe_split,
        hash_split,
    )

    # 40 docs; docs (4k, 4k+1, 4k+2) form a near-dup chain, 4k+3 is a
    # singleton — every cluster must land whole in one split.
    docs = spark.createDataFrame([(i, i * 10) for i in range(40)], "doc_id long, n long")
    pairs = spark.createDataFrame(
        [(4 * k, 4 * k + 1) for k in range(10)]
        + [(4 * k + 1, 4 * k + 2) for k in range(10)],
        "id_a long, id_b long",
    )
    out = cluster_safe_split(docs, pairs, "doc_id", {"train": 0.5, "eval": 0.5})
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert set(rows) == set(range(40))  # left join keeps every doc
    for k in range(10):
        assert rows[4 * k] == rows[4 * k + 1] == rows[4 * k + 2]
    # cluster members carry the COMPONENT label's split, singletons
    # their own — i.e. member 4k+2 matches hash_split of key 4k, and
    # singleton 4k+3 matches hash_split of its own id.
    own = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", {"train": 0.5, "eval": 0.5}).collect()
    }
    for k in range(10):
        assert rows[4 * k + 2] == own[4 * k]
        assert rows[4 * k + 3] == own[4 * k + 3]


def test_cluster_safe_split_empty_pairs_degenerates_to_hash_split(spark):
    from proyecto_final_de_big_data_spark.operators.split import (
        cluster_safe_split,
        hash_split,
    )

    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    fr = {"train": 0.8, "eval": 0.2}
    a = {r["doc_id"]: r["split"] for r in cluster_safe_split(docs, pairs, "doc_id", fr).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", fr).collect()}
    assert a == b


# ------------------------------------------------------ triangle stats


def _tri(spark, edges):
    from proyecto_final_de_big_data_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in triangle_stats(df).collect()
    }


def test_triangle_k4_hand_checked(spark):
    # K4: every vertex has degree 3, sits in 3 triangles, clustering 1.
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = _tri(spark, k4)
    assert got == {i: (3, 3, 1.0) for i in range(4)}


def test_triangle_path_has_none(spark):
    got = _tri(spark, [(1, 2), (2, 3), (3, 4)])
    assert all(t == 0 and c == 0.0 for (_, t, c) in got.values())
    assert got[2][0] == 2


def test_triangle_k3_with_pendant(spark):
    # Triangle {1,2,3} + pendant 4 on 3: vertex 3 has degree 3, one
    # triangle -> clustering 2*1/(3*2) = 1/3.
    got = _tri(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    assert got[1] == (2, 1, 1.0) and got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(1 / 3, 6))
    assert got[4] == (1, 0, 0.0)


def test_triangle_dedup_loops_and_direction(spark):
    # Duplicate edges, both directions, and self-loops must not
    # inflate counts: still exactly one triangle.
    got = _tri(
        spark,
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (1, 3), (1, 1), (2, 2)],
    )
    assert got[1] == (2, 1, 1.0) and got[2] == (2, 1, 1.0) and got[3] == (2, 1, 1.0)


def test_triangle_matches_bruteforce_on_random_graph(spark):
    # Erdos-Renyi-ish deterministic graph vs an O(n^3) reference.
    import itertools

    n = 40
    edges = [
        (a, b)
        for a, b in itertools.combinations(range(n), 2)
        if (a * 7919 + b * 104729) % 5 == 0
    ]
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expect_t = {
        i: sum(
            1
            for x, y in itertools.combinations(sorted(adj[i]), 2)
            if y in adj[x]
        )
        for i in range(n)
    }
    got = _tri(spark, edges)
    for i in range(n):
        if adj[i]:
            assert got[i][1] == expect_t[i], f"vertex {i}"
            d = len(adj[i])
            want_c = round(2 * expect_t[i] / (d * (d - 1)), 6) if d >= 2 else 0.0
            assert got[i][2] == want_c


# ---------------------------------------------------------------------------
# Label propagation (deterministic synchronous LPA)
# ---------------------------------------------------------------------------


def _lpa(spark, edges, iterations):
    from proyecto_final_de_big_data_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    out = label_propagation(df, iterations=iterations)
    return {r["node"]: r["label"] for r in out.collect()}


def _lpa_python(edges, iterations):
    """Pure-Python synchronous LPA twin: most frequent neighbor label,
    ties to the smallest label (different implementation, same rule)."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(iterations):
        nxt = {}
        for n, nbrs in adj.items():
            counts: dict[int, int] = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            nxt[n] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    return labels


def test_lpa_two_triangles_bridge_hand_worked(spark):
    # Hand-worked (the mandatory fixture discipline): triangles
    # {1,2,3} and {4,5,6} joined by bridge 3-4. Iteration by hand:
    #   init  {1:1, 2:2, 3:3, 4:4, 5:5, 6:6}
    #   it1   1<-min(2,3)=2; 2<-min(1,3)=1; 3<-min(1,2,4)=1;
    #         4<-min(3,5,6)=3; 5<-min(4,6)=4; 6<-min(4,5)=4
    #   it2   1<-{1,1}=1; 2<-{2,1}tie=1; 3<-{2,1,3}tie=1;
    #         4<-{1,4,4}=4; 5<-{3,4}tie=3; 6<-{3,4}tie=3
    #   it3   1<-1; 2<-1; 3<-{1,1,4}=1; 4<-{1,3,3}=3; 5<-{4,3}tie=3;
    #         6<-{4,3}tie=3
    # -> communities {1,2,3}=1 and {4,5,6}=3, stable from iteration 3.
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    assert _lpa(spark, edges, 1) == {1: 2, 2: 1, 3: 1, 4: 3, 5: 4, 6: 4}
    assert _lpa(spark, edges, 2) == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}
    got3 = _lpa(spark, edges, 3)
    assert got3 == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    assert _lpa(spark, edges, 5) == got3  # stable


def test_lpa_matches_python_twin_on_random_graph(spark):
    rng = random.Random(23)
    n = 40
    edges = sorted(
        {
            (a, b)
            for _ in range(120)
            for a, b in [sorted(rng.sample(range(n), 2))]
        }
    )
    for iters in (1, 3, 6):
        assert _lpa(spark, edges, iters) == _lpa_python(edges, iters)


def test_lpa_dedup_direction_loops_and_validation(spark):
    from proyecto_final_de_big_data_spark.operators.graph import (
        label_propagation,
    )

    # Duplicate / reversed / self edges collapse to one undirected
    # edge. A lone pair is the canonical 2-cycle: each round the two
    # nodes swap labels (synchronous LPA's documented oscillation —
    # deterministic under the fixed iteration count).
    edges = [(2, 1), (1, 2), (1, 1), (2, 1)]
    assert _lpa(spark, edges, 1) == {1: 2, 2: 1}
    assert _lpa(spark, edges, 2) == {1: 1, 2: 2}
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        label_propagation(df, iterations=0)


def test_modularity_hand_worked_two_triangles_bridge(spark):
    # Hand-worked: triangles {1,2,3} / {4,5,6} + bridge 3-4, labels =
    # the converged LPA communities. m=7; within edges = 6 (the bridge
    # crosses); degrees (2,2,3,3,2,2) -> d_c = 7 per community,
    # sum d_c^2 = 98. Q = 6/7 - 98/196 = 0.357143 (rounded).
    from proyecto_final_de_big_data_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 3), (5, 3), (6, 3)],
        "node long, label long",
    )
    row = modularity(edges, labels).collect()[0]
    assert (row["n_communities"], row["n_edges"]) == (2, 7)
    assert row["modularity"] == round(6 / 7 - 98 / 196, 6)


def test_modularity_known_values(spark):
    from proyecto_final_de_big_data_spark.operators.graph import modularity

    # Two disjoint triangles, perfect partition: the textbook Q = 0.5.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(i, 1 if i <= 3 else 2) for i in range(1, 7)], "node long, label long"
    )
    row = modularity(edges, labels).collect()[0]
    assert row["modularity"] == 0.5
    # Everything in ONE community: Q = m/m - (2m/2m)^2 = 0 exactly.
    one = spark.createDataFrame(
        [(i, 9) for i in range(1, 7)], "node long, label long"
    )
    assert modularity(edges, one).collect()[0]["modularity"] == 0.0
    # Singleton communities (every node its own): Q = 0 - sum(d^2)/4m^2
    # = -(6*4)/144 = -1/6.
    solo = spark.createDataFrame(
        [(i, i) for i in range(1, 7)], "node long, label long"
    )
    assert modularity(edges, solo).collect()[0]["modularity"] == round(
        -24 / 144, 6
    )


def _kcore(spark, edges, k, iterations=10):
    from proyecto_final_de_big_data_spark.operators.graph import k_core

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["core_degree"]
        for r in k_core(df, k, iterations=iterations).collect()
    }


def test_kcore_hand_worked_k4_with_tail(spark):
    # Hand-worked: K4 {1,2,3,4} + path tail 4-5-6. k=2 peel:
    #   round 1: deg(6)=1 -> drop 6 (edge 5-6 goes);
    #   round 2: deg(5)=1 -> drop 5 (edge 4-5 goes);
    #   round 3: all of K4 at degree 3 -> fixed point.
    # 2-core = K4, every member at degree 3.
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(4, 5), (5, 6)]
    assert _kcore(spark, edges, 2) == {1: 3, 2: 3, 3: 3, 4: 3}
    # 3-core is still K4; 4-core is empty (needs degree >= 4).
    assert _kcore(spark, edges, 3) == {1: 3, 2: 3, 3: 3, 4: 3}
    assert _kcore(spark, edges, 4) == {}
    # k=1 keeps everything (no isolated nodes in an edge list).
    assert _kcore(spark, edges, 1) == {1: 3, 2: 3, 3: 3, 4: 4, 5: 2, 6: 1}


def test_kcore_matches_python_peel_on_random_graph(spark):
    def py_kcore(edges, k):
        es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        while True:
            deg: dict[int, int] = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            bad = {n for n, d in deg.items() if d < k}
            if not bad:
                return deg
            es = {e for e in es if e[0] not in bad and e[1] not in bad}

    rng = random.Random(41)
    n = 30
    edges = sorted(
        {
            (a, b)
            for _ in range(90)
            for a, b in [sorted(rng.sample(range(n), 2))]
        }
    )
    for k in (2, 3, 4):
        assert _kcore(spark, edges, k, iterations=15) == py_kcore(edges, k)


def test_kcore_validation(spark):
    from proyecto_final_de_big_data_spark.operators.graph import k_core

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="k >= 1"):
        k_core(df, 0)
    with pytest.raises(ValueError, match="iterations"):
        k_core(df, 2, iterations=0)


def test_modularity_unlabeled_node_hard_fails(spark):
    from proyecto_final_de_big_data_spark.operators.graph import modularity

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    labels = spark.createDataFrame([(1, 1), (2, 1)], "node long, label long")
    with pytest.raises(Exception, match="has no label"):
        modularity(edges, labels).collect()


# ---------------------------------------------------------------- BFS


def _bfs_dict(spark, edges, sources, **kw):
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in sources], "node long")
    from proyecto_final_de_big_data_spark.operators.graph import bfs_distances

    return {r["node"]: r["dist"] for r in bfs_distances(e, s, **kw).collect()}


def test_bfs_hand_worked_chain_with_branch(spark):
    # Hand-worked fixture (mandatory discipline):
    #
    #   1 - 2 - 3 - 4          source {1}:
    #       |                    1:0, 2:1, 3:2, 5:2, 4:3
    #       5       9 - 10      9/10 unreachable -> absent
    edges = [(1, 2), (2, 3), (3, 4), (2, 5), (9, 10)]
    got = _bfs_dict(spark, edges, [1], max_hops=6)
    assert got == {1: 0, 2: 1, 3: 2, 5: 2, 4: 3}


def test_bfs_multi_source_takes_min_and_budget_truncates(spark):
    edges = [(1, 2), (2, 3), (3, 4), (2, 5), (9, 10)]
    # Sources {1, 4}: node 3 is 1 hop from 4 (not 2 from 1).
    got = _bfs_dict(spark, edges, [1, 4], max_hops=6)
    assert got == {1: 0, 4: 0, 2: 1, 3: 1, 5: 2}
    # max_hops=1 truncates honestly; isolated source 42 is dist 0.
    got = _bfs_dict(spark, edges, [1, 42], max_hops=1)
    assert got == {1: 0, 42: 0, 2: 1}


def test_bfs_directed_follows_arcs_only(spark):
    edges = [(1, 2), (2, 3), (4, 1)]
    got = _bfs_dict(spark, edges, [1], max_hops=4, directed=True)
    assert got == {1: 0, 2: 1, 3: 2}  # 4 only reaches INTO 1


def test_bfs_matches_python_twin_on_random_graph(spark):
    import collections
    import random

    rng = random.Random(11)
    nodes = list(range(40))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)]
    sources = [0, 7]
    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for h in range(1, 7):
        nxt = set()
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = h
                    nxt.add(v)
        frontier = nxt
    assert _bfs_dict(spark, edges, sources, max_hops=6) == dist


def test_bfs_validation(spark):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    s = spark.createDataFrame([(1,)], "node long")
    from proyecto_final_de_big_data_spark.operators.graph import bfs_distances

    with pytest.raises(ValueError, match="max_hops"):
        bfs_distances(e, s, max_hops=0)


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_triangle_count_invariants(spark, edges):
    # Sum of per-vertex triangle counts is divisible by 3 (each
    # triangle counted at all three corners), and clustering stays in
    # [0, 1] — for ANY multigraph with loops and repeats.
    from proyecto_final_de_big_data_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(edges, "src long, dst long")
    rows = triangle_stats(df).collect()
    total = sum(r["n_triangles"] for r in rows)
    assert total % 3 == 0
    for r in rows:
        assert 0.0 <= r["clustering"] <= 1.0
        assert r["n_triangles"] >= 0 and r["degree"] >= 1
