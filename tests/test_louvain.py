"""Louvain correctness: golden fixtures + invariants (SURVEY.md §5.2,
mirroring the reference suite's idioms in
NX/algorithms/community/tests/test_louvain.py / test_quality.py).
"""

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR

from louvain_modularity_spark.graph import vertices_of
from louvain_modularity_spark.louvain import (
    _sequential_louvain,
    connected_components,
    label_propagation,
    louvain_communities,
)
from louvain_modularity_spark.metrics import (
    KARATE_GOLDEN_Q,
    karate_golden_assignment,
    modularity,
)
from louvain_modularity_spark.sources import copurchase_edges, karate_edges


def _is_partition(assignment, vertices):
    dup = assignment.groupBy("id").count().filter(F.col("count") > 1).count()
    uncovered = vertices.join(assignment, "id", "left_anti").count()
    return dup == 0 and uncovered == 0


def test_karate_golden_modularity(spark):
    """Exact golden: Q of the seed=2 sequential-reference partition
    (FIXTURES.md §3.1) = 0.41880341880341876."""
    q = modularity(karate_edges(spark), karate_golden_assignment(spark))
    assert q == pytest.approx(KARATE_GOLDEN_Q, abs=1e-12)


def test_barbell_exact_modularity(spark):
    """Exact golden (FIXTURES.md §3.2): barbell(3,0) partitions."""
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0),
         (3, 5, 1.0), (4, 5, 1.0)],
        "src LONG, dst LONG, weight DOUBLE",
    )
    good = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)], "id LONG, community LONG"
    )
    bad = spark.createDataFrame(
        [(0, 0), (1, 0), (4, 0), (2, 1), (3, 1), (5, 1)], "id LONG, community LONG"
    )
    assert modularity(edges, good) == pytest.approx(70 / 196, abs=1e-12)
    assert modularity(edges, bad) == pytest.approx(-16 / 196, abs=1e-12)


def test_karate_louvain_quality(spark):
    """Parallel/hybrid result must be a valid partition with Q within
    ±0.05 of the sequential golden (SURVEY.md §7.5)."""
    edges = karate_edges(spark)
    res = louvain_communities(spark, edges, seed=2)
    assert _is_partition(res.assignment, vertices_of(edges))
    assert res.modularities[-1] >= KARATE_GOLDEN_Q - 0.05
    # modularity non-decreasing across dendrogram levels
    assert all(
        b >= a - 1e-9 for a, b in zip(res.modularities, res.modularities[1:])
    )
    # improves on the singleton partition
    singleton = vertices_of(edges).select("id", F.col("id").alias("community"))
    assert res.modularities[-1] > modularity(edges, singleton)


def test_resolution_monotonicity(spark):
    """|P(γ=0.5)| ≤ |P(1)| ≤ |P(2)| (reference test_louvain.py:218-227)."""
    edges = karate_edges(spark)
    sizes = []
    for g in (0.5, 1.0, 2.0):
        res = louvain_communities(spark, edges, gamma=g, seed=2)
        sizes.append(res.assignment.select("community").distinct().count())
    assert sizes[0] <= sizes[1] <= sizes[2]


def test_empty_graph_singletons(spark):
    """5 isolated nodes → 5 singleton communities
    (reference test_louvain.py:242-246)."""
    empty = spark.createDataFrame([], "src LONG, dst LONG, weight DOUBLE")
    verts = spark.createDataFrame([(i,) for i in range(5)], "id LONG")
    res = louvain_communities(spark, empty, vertices=verts)
    rows = {(r["id"], r["community"]) for r in res.assignment.collect()}
    assert rows == {(i, i) for i in range(5)}


def test_selfloop_sensitivity(spark):
    """Self-loop weights must influence the weighted partition
    (reference test_louvain.py:54-72): karate + huge self-loops on
    nodes 0-8 changes the result vs unweighted."""
    edges = karate_edges(spark)
    loops = spark.createDataFrame(
        [(i, i, float(i * 1000)) for i in range(9)], "src LONG, dst LONG, weight DOUBLE"
    )
    res_plain = louvain_communities(spark, edges, seed=2)
    res_loops = louvain_communities(spark, edges.unionByName(loops), seed=2)
    # with w(i,i)=1000i the m and degrees explode; partitions differ
    plain = {(r["id"], r["community"]) for r in res_plain.assignment.collect()}
    loops_p = {(r["id"], r["community"]) for r in res_loops.assignment.collect()}
    assert plain != loops_p


def test_parallel_edges_sum(spark):
    """Multigraph parallel edges sum before Louvain
    (reference test_louvain.py:203-215): duplicated edge list gives the
    same partition as doubled weights."""
    edges = karate_edges(spark)
    doubled = edges.unionByName(edges)
    res_a = louvain_communities(spark, doubled, seed=2)
    res_b = louvain_communities(
        spark, edges.withColumn("weight", F.col("weight") * 2), seed=2
    )
    a = {(r["id"], r["community"]) for r in res_a.assignment.collect()}
    b = {(r["id"], r["community"]) for r in res_b.assignment.collect()}
    assert a == b


def test_directed_toys_terminate():
    """Directed Louvain terminates on the regression toys from
    reference issues #5175/#5704 (FIXTURES.md §3.3) and groups the
    strongly-connected blocks."""
    g = [(0, 2), (0, 1), (1, 0), (2, 1), (2, 0), (3, 4), (4, 3),
         (7, 8), (8, 7), (9, 10), (10, 9)]
    maps, mods = _sequential_louvain(
        [(u, v, 1.0) for u, v in g], 1.0, 1e-7, 123, directed=True
    )
    assert maps  # terminated and produced at least one level
    com = maps[-1]
    # expected blocks (FIXTURES.md §3.3): {0,1,2} {3,4} {7,8} {9,10}
    for block in [(0, 1, 2), (3, 4), (7, 8), (9, 10)]:
        assert len({com[b] for b in block}) == 1, (block, com)
    h = [(1, 2), (1, 6), (1, 9), (2, 3), (2, 4), (2, 5), (3, 4), (4, 3),
         (4, 5), (5, 4), (6, 7), (6, 8), (9, 10), (9, 11), (10, 11), (11, 10)]
    maps2, _ = _sequential_louvain(
        [(u, v, 1.0) for u, v in h], 1.0, 1e-7, 123, directed=True
    )
    assert maps2


def test_directed_louvain_g1(spark):
    """Directed Louvain on the customer→supplier graph: valid
    partition, positive final Q — both execution paths."""
    edges = copurchase_edges(spark, SF_DIR)
    res = louvain_communities(spark, edges, directed=True)
    assert _is_partition(res.assignment, vertices_of(edges))
    assert res.modularities[-1] > 0
    res_dist = louvain_communities(
        spark, edges, directed=True, inline_threshold=100, max_sweeps=4
    )
    assert _is_partition(res_dist.assignment, vertices_of(edges))
    assert res_dist.modularities[-1] >= res.modularities[-1] - 0.05


def test_distributed_level_path(spark):
    """Force the distributed synchronized-round path (inline_threshold
    below the edge count) and check it reaches the same quality class
    as the inline path."""
    edges = copurchase_edges(spark, SF_DIR)
    res_dist = louvain_communities(
        spark, edges, inline_threshold=100, max_sweeps=4, seed=1
    )
    res_inline = louvain_communities(spark, edges, seed=1)
    assert _is_partition(res_dist.assignment, vertices_of(edges))
    assert res_dist.modularities[-1] >= res_inline.modularities[-1] - 0.05


def test_connected_components(spark):
    edges = karate_edges(spark).unionByName(
        spark.createDataFrame([(100, 101, 1.0)], "src LONG, dst LONG, weight DOUBLE")
    )
    comp = connected_components(spark, edges)
    groups = {}
    for r in comp.collect():
        groups.setdefault(r["component"], set()).add(r["id"])
    assert set(groups[0]) == set(range(34))
    assert groups[100] == {100, 101}


def test_label_propagation_partition(spark):
    edges = karate_edges(spark)
    lp = label_propagation(spark, edges, max_iter=8)
    assert _is_partition(
        lp.withColumnRenamed("label", "community"), vertices_of(edges)
    )


def test_hub_salting_identical_results(spark):
    """On a star/power-law graph, hub-salted w2c and _one_level must be
    bit-identical to the unsalted versions — salting only changes WHERE
    rows meet, never what is aggregated."""
    import pyspark.sql.functions as F

    from louvain_modularity_spark.louvain import _one_level, neighbor_com_weights

    # hub 0 with 400 spokes + a chain through the spokes for structure
    rows = [(0, i, 1.0) for i in range(1, 401)]
    rows += [(i, i + 1, 2.0) for i in range(1, 400, 3)]
    edges = spark.createDataFrame(rows, "src LONG, dst LONG, weight DOUBLE")
    assign = edges.select(F.col("src").alias("id")).union(
        edges.select("dst")
    ).distinct().select("id", F.pmod("id", F.lit(7)).alias("community"))

    plain = {
        (r["id"], r["community"]): r["w2c"]
        for r in neighbor_com_weights(edges, assign).collect()
    }
    salted = {
        (r["id"], r["community"]): r["w2c"]
        for r in neighbor_com_weights(
            edges, assign, salt_hubs=4, hub_min_neighbors=50
        ).collect()
    }
    assert plain == salted

    # 3 sweeps: the salted/unsalted EQUALITY holds sweep-by-sweep, so
    # the assertion is as binding at 3 as at 4 — one sweep less of
    # Spark rounds per variant against the 10-minute suite budget
    a_plain, m_plain = _one_level(spark, edges, gamma=1.0, seed=1, max_sweeps=3)
    a_salt, m_salt = _one_level(
        spark, edges, gamma=1.0, seed=1, max_sweeps=3,
        salt_hubs=4, hub_min_neighbors=50,
    )
    assert m_plain == m_salt
    assert sorted(map(tuple, a_plain.collect())) == sorted(map(tuple, a_salt.collect()))


def _union_find_components(edge_list):
    """Pure-Python min-id components — the independent golden both
    Spark implementations are checked against."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_list:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_min_id_components_matches_union_find_golden():
    """The shared in-driver union-find (every hybrid tail's closer) vs
    the independent golden: empty input, a self-loop, duplicate and
    reversed pairs, ids above 2^40 and a random multi-component graph."""
    import random

    from louvain_modularity_spark.graph import min_id_components

    big = 1 << 41
    rng = random.Random(11)
    cases = {
        "empty": [],
        "self_loop": [(5, 5)],
        "dup_reversed": [(3, 1), (1, 3), (3, 1), (2, 3), (9, 8), (8, 9)],
        "big_ids": [(big + 7, big + 2), (big + 2, 3), (big + 9, big + 8)],
        "random": [(rng.randrange(0, 300), rng.randrange(0, 300)) for _ in range(200)],
    }
    for name, pairs in cases.items():
        got = min_id_components([u for u, _ in pairs], [v for _, v in pairs])
        assert got == _union_find_components(pairs), name
    assert min_id_components([], []) == {}
    assert min_id_components([5], [5]) == {5: 5}
    assert min_id_components([big + 7, big + 2], [big + 2, 3]) == {
        big + 7: 3,
        big + 2: 3,
        3: 3,
    }


def test_connected_components_match_union_find_golden(spark, monkeypatch):
    """Both CC implementations vs a pure-Python union-find golden,
    each exercised in the regime it exists for: min-id propagation
    (O(diameter) rounds) on karate+extras, a short path and a random
    multi-component graph; large-/small-star (O(log n) rounds) on the
    same THREE plus the 60-node path — the high-diameter case where
    running the propagation oracle would cost 60 Spark rounds for no
    extra semantic coverage (the golden already pins the answer).
    CC_INLINE_EDGES is monkeypatched to 0 so the star arm runs the
    DISTRIBUTED rounds (the r7 hybrid tail would otherwise shortcut
    every fixture-sized graph); the inline union-find branch is pinned
    separately below on the same graphs at the default threshold."""
    import random

    import louvain_modularity_spark.louvain as L
    from louvain_modularity_spark.louvain import connected_components_star

    monkeypatch.setattr(L, "CC_INLINE_EDGES", 0)

    def comp_map(df):
        return {r["id"]: r["component"] for r in df.collect()}

    karate_plus = [
        (r["src"], r["dst"]) for r in karate_edges(spark).collect()
    ] + [(100, 101), (102, 103), (103, 104)]
    short_path = [(i, i + 1) for i in range(12)]
    long_path = [(i, i + 1) for i in range(60)]
    rng = random.Random(7)
    rand = [(rng.randrange(0, 200), rng.randrange(0, 200)) for _ in range(150)]

    def df_of(pairs):
        return spark.createDataFrame(
            [(u, v, 1.0) for u, v in pairs], "src LONG, dst LONG, weight DOUBLE"
        )

    for pairs in (karate_plus, short_path, rand):
        want = _union_find_components(pairs)
        assert comp_map(connected_components(spark, df_of(pairs))) == want
        assert comp_map(connected_components_star(spark, df_of(pairs))) == want
    assert comp_map(
        connected_components_star(spark, df_of(long_path))
    ) == _union_find_components(long_path)
    # the r7 inline union-find tail (default threshold) must produce
    # the identical labels the distributed rounds just did
    monkeypatch.setattr(L, "CC_INLINE_EDGES", 2_000_000)
    for pairs in (karate_plus, rand, long_path):
        assert comp_map(
            connected_components_star(spark, df_of(pairs))
        ) == _union_find_components(pairs)


def test_pagerank_matches_reference_power_iteration(spark):
    """PageRank golden: the distributed job after 50 supersteps must
    match an independent in-memory power iteration on the same graph
    (same damping, same uniform-dangling handling, ranks summing to n)
    to 1e-9. (networkx's pagerank needs scipy, absent here; karate has
    no dangling nodes so the dense reference below is the same math.)"""
    from louvain_modularity_spark.graph import pagerank, symmetrize

    edges = [(r["src"], r["dst"]) for r in karate_edges(spark).collect()]
    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, []).append(v)
        nbrs.setdefault(v, []).append(u)
    n = len(nbrs)
    ranks = {u: 1.0 for u in nbrs}
    for _ in range(50):  # same superstep count as the job under test
        flow = {u: 0.0 for u in nbrs}
        for u, vs in nbrs.items():
            share = ranks[u] / len(vs)
            for v in vs:
                flow[v] += share
        ranks = {u: 0.15 + 0.85 * flow[u] for u in nbrs}

    got = {
        r["id"]: r["rank"]
        for r in pagerank(spark, symmetrize(karate_edges(spark)), iters=50).collect()
    }
    assert len(got) == n
    for node, want in ranks.items():
        assert abs(got[node] - want) < 1e-9, (node, got[node], want)


def test_triangle_count_known_graphs(spark):
    """Degree-oriented triangle counting: karate has 45 triangles, a
    4-clique has 4, the bipartite co-purchase graph has 0."""
    from louvain_modularity_spark.graph import triangle_count

    assert triangle_count(karate_edges(spark)).collect()[0]["n_triangles"] == 45
    clique = spark.createDataFrame(
        [(a, b, 1.0) for a in range(4) for b in range(a + 1, 4)],
        "src LONG, dst LONG, weight DOUBLE",
    )
    assert triangle_count(clique).collect()[0]["n_triangles"] == 4
    bip = copurchase_edges(spark, SF_DIR)
    assert triangle_count(bip).collect()[0]["n_triangles"] == 0


def test_leiden_refine_invariants(spark):
    """Leiden-style refinement: (a) sub-partition of the input
    partition, (b) every refined community induces a connected
    subgraph (networkx check), (c) modularity never decreases, and a
    planted disconnected community is actually split."""
    import networkx as nx

    from louvain_modularity_spark.louvain import leiden_refine
    from louvain_modularity_spark.metrics import modularity
    from louvain_modularity_spark.sources import karate_edges

    edges = karate_edges(spark)
    # planted partition: community 0 = {0,1} ∪ {32,33} is
    # internally disconnected in karate (0-1 and 32-33 are edges, but
    # no edge crosses between the pairs inside the community)
    planted = {0, 1, 32, 33}
    assign = spark.createDataFrame(
        [(i, 0 if i in planted else 1) for i in range(34)],
        "id LONG, community LONG",
    )
    out = leiden_refine(spark, edges, assign).collect()
    assert len(out) == 34
    orig = {r["id"]: r["community"] for r in out}
    ref = {r["id"]: r["refined_community"] for r in out}
    # (a) sub-partition: equal refined label => equal original label
    by_ref = {}
    for i in ref:
        by_ref.setdefault(ref[i], set()).add(i)
    for members in by_ref.values():
        assert len({orig[i] for i in members}) == 1
    # (b) connectivity of every refined community
    g = nx.Graph()
    for r in edges.collect():
        g.add_edge(int(r["src"]), int(r["dst"]))
    for members in by_ref.values():
        if len(members) > 1:
            assert nx.is_connected(g.subgraph(members)), members
    # (c) the planted disconnected community split, and Q didn't drop
    assert len({ref[i] for i in planted}) >= 2
    ref_df = spark.createDataFrame(
        [(i, c) for i, c in ref.items()], "id LONG, community LONG"
    )
    orig_df = spark.createDataFrame(
        [(i, 0 if i in planted else 1) for i in range(34)],
        "id LONG, community LONG",
    )
    assert modularity(edges, ref_df) >= modularity(edges, orig_df) - 1e-9


def test_prepass_dense_sparse_branches_agree(monkeypatch):
    """The r6 advice: _numpy_prepass's sparse grouping branch (the one
    that actually runs on large first levels where n*C exceeds the
    dense budget) must produce the exact assignment of the dense
    bincount branch. Forced via the module-level budget constant, like
    MST_INLINE_MERGE_EDGES. The graph includes zero-weight edges to pin
    the candidate-set alignment (zero-weight slots are filtered from
    BOTH branches, not silently dropped by flatnonzero in one)."""
    import random

    import louvain_modularity_spark.louvain as L

    rng = random.Random(7)
    n = 400
    edges = [
        (rng.randrange(n), rng.randrange(n), float(rng.randint(0, 3)))
        for _ in range(3000)
    ]  # weight 0 edges included on purpose
    edges += [(i, (i + 1) % n, 2.0) for i in range(n)]  # keep it connected
    dense = L._numpy_prepass(edges, 1.0, 42)
    monkeypatch.setattr(L, "_PREPASS_DENSE_BUDGET", 0)
    sparse = L._numpy_prepass(edges, 1.0, 42)
    assert dense == sparse
    assert len({c for c in dense.values()}) < n  # it actually moved nodes
