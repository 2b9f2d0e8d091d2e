"""Louvain community detection, Spark-first (SURVEY.md §2.4–2.6).

Phase-1 building blocks (neighbor→community weights, community Σ_tot,
ΔQ, best move) are pure relational operators — given a deterministic
assignment they hash-match a SQL oracle. The full algorithm wraps them
in a driver-side convergence loop (Catalyst has no fixpoint operator).

ΔQ formula (reference: NX/algorithms/community/louvain.py:283-311,
docstring :30-49), undirected, relative to removing u from its own
community:

    remove_cost = −w2c(u, com_u)/m + γ·(Σ_tot(com_u) − k_u)·k_u/(2m²)
    gain(u→C)   = remove_cost + w2c(u, C)/m − γ·Σ_tot(C)·k_u/(2m²)

Parallel semantics (SURVEY.md §7.5): the reference moves nodes one at
a time in seeded-shuffle order (louvain.py:268-274); a distributed
engine moves many nodes per synchronized round, so partitions can
legitimately differ. Correctness contract = partition invariants +
modularity parity (±0.05 of the sequential golden), not membership
equality. Oscillation (two adjacent nodes endlessly swapping) is
prevented by only applying moves from one hash-parity class per
sub-round — a standard parallel-Louvain trick.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .session import collect_if_small, lineage_cut

from .graph import (
    BROADCAST_STATE_ROWS,
    _sql_layers_to_ctes,
    _sql_signed64,
    _xxh64_int_sql_layers,
    _xxh64_int_unsigned,
    _xxh64_long_sql_layers,
    aggregate_parallel_edges,
    coarsen_edges,
    degree_weighted,
    maybe_broadcast,
    min_id_components,
    mod10_assignment,
    symmetrize,
    vertices_of,
)
from .metrics import modularity
from .sources import COPURCHASE_EDGES_SQL, copurchase_edges, karate_edges

#: driver-side round/level progress, at DEBUG level
_log = logging.getLogger("louvain_modularity_spark")

# ---------------------------------------------------------------------------
# phase-1 building blocks (relational, oracle-checkable)
# ---------------------------------------------------------------------------


def _w2c_from_sym(
    sym: DataFrame,
    a_dst: DataFrame,
    salt_hubs: int = 0,
    hub_min_neighbors: int = 10_000,
    a_rows: int | None = None,
) -> DataFrame:
    """w2c over an already-symmetrized self-loop-free edge view.

    Hub salting (``salt_hubs`` = s > 1): on a power-law graph the join
    ``sym ⋈ a_dst`` hashes every one of a hub's deg(hub) incident rows
    to the single partition owning that dst — the straggler that kills
    the first Louvain level at 100 TB (AQE's skew-join split covers
    sort-merge plans only, and only after the fact). With salting, rows
    whose dst is a hub (≥ ``hub_min_neighbors`` incident rows in sym)
    get a ``hash(src) % s`` salt and the hub's assignment rows are
    replicated across all s salt values, so the join key (dst, salt)
    spreads each hub over s partitions. The downstream groupBy re-
    aggregates across salts for free since salt is not in the group key,
    and the map-side partial aggregation already bounds the groupBy
    shuffle itself. Identical output with and without salting is
    asserted on a synthetic star graph in tests/test_louvain.py."""
    if salt_hubs <= 1:
        # ``a_rows``: driver-known assignment row count (the loop's
        # n_nodes) — when it fits the broadcast envelope the static sym
        # side never reshuffles per round (maybe_broadcast, guide §3.1)
        return (
            sym.join(maybe_broadcast(a_dst, a_rows), "dst")
            .groupBy(F.col("src").alias("id"), "community")
            .agg(F.sum("weight").alias("w2c"))
        )
    hubs = (
        sym.groupBy("dst")
        .agg(F.count("*").alias("n_nbr"))
        .filter(F.col("n_nbr") >= hub_min_neighbors)
        .select("dst")
    )
    # few hubs by power-law assumption → broadcast both uses
    sym_s = sym.join(
        F.broadcast(hubs).withColumn("is_hub", F.lit(True)), "dst", "left"
    ).withColumn(
        "salt",
        F.when(
            F.col("is_hub").isNotNull(),
            F.pmod(F.xxhash64("src"), F.lit(salt_hubs)).cast("int"),
        ).otherwise(F.lit(0)),
    )
    a_hub = (
        a_dst.join(F.broadcast(hubs), "dst")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(salt_hubs)])))
    )
    a_rest = a_dst.join(F.broadcast(hubs), "dst", "left_anti").withColumn(
        "salt", F.lit(0)
    )
    return (
        sym_s.join(a_rest.unionByName(a_hub), ["dst", "salt"])
        .groupBy(F.col("src").alias("id"), "community")
        .agg(F.sum("weight").alias("w2c"))
    )


def neighbor_com_weights(
    edges: DataFrame,
    assignment: DataFrame,
    salt_hubs: int = 0,
    hub_min_neighbors: int = 10_000,
) -> DataFrame:
    """w2c: for each node u, Σ weight of u's edges into each adjacent
    community (reference: _neighbor_weights, louvain.py:335-349).
    Self-loops excluded (louvain.py:267). See _w2c_from_sym for the
    hub-salting skew bound."""
    sym = symmetrize(edges).filter(F.col("src") != F.col("dst"))
    a_dst = assignment.select(
        F.col("id").alias("dst"), F.col("community").alias("community")
    )
    return _w2c_from_sym(sym, a_dst, salt_hubs, hub_min_neighbors)


def community_totals(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Σ_tot per community: sum of weighted degrees of its members
    (reference: louvain.py:252-253, maintained incrementally there;
    recomputed as a 2-shuffle aggregate here)."""
    return (
        degree_weighted(edges)
        .join(assignment, "id")
        .groupBy("community")
        .agg(F.sum("degree").alias("sigma_tot"))
    )


def delta_q(
    edges: DataFrame, assignment: DataFrame, gamma: float = 1.0
) -> DataFrame:
    """ΔQ for every candidate move (u → adjacent community C ≠ com_u).

    All inputs (w2c, Σ_tot, k, m) are exact sums; the arithmetic
    expression is spelled identically in the SQL oracle so evaluation
    is bit-identical (see metrics.py module note).
    """
    w2c = neighbor_com_weights(edges, assignment)
    sigma = community_totals(edges, assignment)
    deg = degree_weighted(edges)
    m = edges.agg(F.sum("weight").alias("m"))

    node = (
        assignment.join(deg, "id")
        .withColumnRenamed("community", "own_com")
        .withColumnRenamed("degree", "k")
    )
    own_w2c = w2c.select("id", F.col("community"), F.col("w2c").alias("w2c_own"))
    node = (
        node.join(
            own_w2c,
            (node.id == own_w2c.id) & (node.own_com == own_w2c.community),
            "left",
        )
        .select(
            node["id"],
            "own_com",
            "k",
            F.coalesce("w2c_own", F.lit(0.0)).alias("w2c_own"),
        )
    )
    sigma_own = sigma.select(
        F.col("community").alias("own_com"), F.col("sigma_tot").alias("sigma_own")
    )
    sigma_cand = sigma.select(
        F.col("community"), F.col("sigma_tot").alias("sigma_cand")
    )
    cand = (
        w2c.withColumnRenamed("w2c", "w2c_cand")
        .join(node, "id")
        .filter(F.col("community") != F.col("own_com"))
        .join(sigma_own, "own_com")
        .join(sigma_cand, "community")
        .crossJoin(m)
    )
    expr = (
        f"-(w2c_own) / m + {gamma!r} * (sigma_own - k) * k / (2.0 * m * m)"
        f" + w2c_cand / m - {gamma!r} * sigma_cand * k / (2.0 * m * m)"
    )
    return cand.select("id", "community", F.expr(expr).alias("delta"))


def best_move(
    edges: DataFrame, assignment: DataFrame, gamma: float = 1.0
) -> DataFrame:
    """Per node: the strictly-positive-gain argmax move, ties broken by
    lowest community id (reference: `gain > best_mod` with best_mod
    initialized 0, louvain.py:313-315,321-329).

    The argmax is a max-of-struct hash aggregate — map-side combinable,
    one row per node leaves each partition — NOT a row_number window,
    which would shuffle and SORT the full candidate set (same plan rule
    as the internal one_level rounds; guarded in tests)."""
    dq = delta_q(edges, assignment, gamma)
    best = (
        dq.filter(F.col("delta") > 0)
        .groupBy("id")
        .agg(
            F.max(
                F.struct(F.col("delta"), (-F.col("community")).alias("nc"))
            ).alias("best")
        )
    )
    return best.select(
        "id",
        (-F.col("best.nc")).alias("new_community"),
        F.col("best.delta").alias("delta"),
    )


# ---------------------------------------------------------------------------
# iterative engine
# ---------------------------------------------------------------------------


@dataclass
class LouvainResult:
    assignment: DataFrame  # (id LONG, community LONG) on original node ids
    dendrogram: list[DataFrame] = field(default_factory=list)  # per-level (id, community)
    modularities: list[float] = field(default_factory=list)  # Q after each level
    n_levels: int = 0


#: grouping budget for _numpy_prepass: below this many
#: (node × live-community) slots the per-(u,c) sums come from ONE dense
#: bincount + nonzero scan, O(E+nC) — communities collapse fast, so
#: every round after the first is far cheaper than the O(E log E) sort
#: it replaces (measured 6.7 s → ~2 s on the 587k-edge sf0.1
#: co-purchase level, bit-identical trajectory). Module-level (r6
#: advice) so tests can monkeypatch it to force the sparse branch and
#: pin dense/sparse parity, like MST_INLINE_MERGE_EDGES.
#: r19 re-tune, measured on the same level: mid-size rounds (n·C just
#: under the old 40M budget) paid a ~320 MB bincount alloc+scan per
#: round where the sparse radix path handles the same round in the
#: stable argsort of 1.2M keys — prepass min 2.80 s (40M) → 2.27 s
#: (5M) → 6.69 s (always-dense), outputs dict-identical at every
#: budget (the dense/sparse parity the tests pin).
_PREPASS_DENSE_BUDGET = 5_000_000


def _numpy_prepass(
    cur_edges: list[tuple[int, int, float]], gamma: float, seed: int
) -> dict[int, int]:
    """Vectorized synchronous local-move rounds (numpy segment sums) —
    the in-memory mirror of the distributed rounds, used to bulk-move
    the easy 95% of nodes on large first levels before the exact
    sequential polish. Parity-guarded like the distributed path.
    Returns node → community (community labels are node ids).
    """
    import numpy as np

    e = len(cur_edges)
    src = np.fromiter((t[0] for t in cur_edges), dtype=np.int64, count=e)
    dst = np.fromiter((t[1] for t in cur_edges), dtype=np.int64, count=e)
    w = np.fromiter((t[2] for t in cur_edges), dtype=np.float64, count=e)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    s, d = inv[:e], inv[e:]
    m = float(w.sum())
    if m <= 0 or n == 0:
        return {}
    deg = np.zeros(n)
    np.add.at(deg, s, w)
    np.add.at(deg, d, w)  # self-loop rows (s==d) land twice, matching NX degree
    # zero-weight edges are filtered from the CANDIDATE set (not the
    # degree sums, where they add 0) so the dense branch's flatnonzero
    # scan and the sparse branch's key grouping see the exact same
    # (node, community) slots — the r6 advice's divergence. Weights are
    # non-negative by the Louvain contract, so w > 0 is exhaustive.
    cand_mask = (s != d) & (w > 0)
    u = np.concatenate([s[cand_mask], d[cand_mask]])
    v = np.concatenate([d[cand_mask], s[cand_mask]])
    ww = np.concatenate([w[cand_mask], w[cand_mask]])
    com = np.arange(n, dtype=np.int64)
    eps = 1.0 / (4.0 * m * m)
    two_m2 = 2.0 * m * m
    for rnd in range(16):
        # dense-rank the live communities: C shrinks every round, so the
        # composite key (u, rank) spans n*C ≪ n² and usually fits int32
        coms, cr = np.unique(com, return_inverse=True)
        C = len(coms)
        if n * C <= _PREPASS_DENSE_BUDGET:
            w2c_dense = np.bincount(u * C + cr[v], weights=ww, minlength=n * C)
            uk = np.flatnonzero(w2c_dense)  # ascending = pu-major, rank-asc
            w2c = w2c_dense[uk]
        else:
            key = u * C + cr[v]
            if n * C < 2**31:
                key = key.astype(np.int32)
            order = np.argsort(key, kind="stable")
            ks, ws_ = key[order], ww[order]
            bounds = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
            uk = ks[bounds].astype(np.int64)
            w2c = np.add.reduceat(ws_, bounds)
        pu = uk // C
        pc_r = uk % C
        sigma = np.bincount(cr, weights=deg, minlength=C)  # per rank
        ku = deg[pu]
        own_mask = pc_r == cr[pu]
        w2c_own = np.zeros(n)
        w2c_own[pu[own_mask]] = w2c[own_mask]
        gain = (
            -w2c_own[pu] / m
            + gamma * (sigma[cr[pu]] - ku) * ku / two_m2
            + w2c / m
            - gamma * sigma[pc_r] * ku / two_m2
        )
        gain[own_mask] = -np.inf
        # argmax per node, ties → smallest candidate community id:
        # candidate blocks are pu-major with pc ascending inside, so the
        # block max's FIRST position is the tie-winner — two reduceats,
        # no lexsort
        ub = np.flatnonzero(np.r_[True, pu[1:] != pu[:-1]])
        bid = np.cumsum(np.r_[0, (pu[1:] != pu[:-1]).astype(np.int64)])
        bmax = np.maximum.reduceat(gain, ub)
        idx = np.where(gain == bmax[bid], np.arange(len(gain)), len(gain))
        best = np.minimum.reduceat(idx, ub)
        bu, bc, bg = pu[best], coms[pc_r[best]], gain[best]
        sel = (bg > eps) & (((bu + rnd + seed) % 2) == 0)  # parity guard
        moved = int(np.count_nonzero(sel & (com[bu] != bc)))
        com[bu[sel]] = bc[sel]
        if rnd >= 3 and moved * 50 < n:
            break
    return {int(nodes[i]): int(nodes[com[i]]) for i in range(n)}


#: edge count above which the sequential tail bulk-moves with the
#: vectorized prepass before exact polishing
_PREPASS_EDGES = 150_000


def _sequential_louvain(
    edge_list: list[tuple[int, int, float]],
    gamma: float,
    threshold: float,
    seed: int,
    max_level: int | None = None,
    directed: bool = False,
) -> tuple[list[dict[int, int]], list[float]]:
    """Exact sequential Louvain on an in-driver edge list — the tail of
    the hybrid plan (see louvain_communities). Implements the published
    algorithm (Blondel, Guillaume, Lambiotte, Lefebvre, *Fast unfolding
    of communities in large networks*, J. Stat. Mech. 2008, P10008):
    seeded-order local moves to the max-positive-ΔQ neighbor community
    until no move improves, then coarsen and repeat until the level's
    modularity gain ≤ threshold.

    Returns (per-level mapping of ORIGINAL node → community, Q per
    level). Mappings are cumulative (level k maps original ids).

    ``directed=True`` switches to directed semantics (reference:
    louvain.py:249-306): neighbor weights combine in- and out-edges,
    Σ_tot splits into in/out, ΔQ uses
    (out_deg·Σ_in[C] + in_deg·Σ_out[C])/m², and
    Q = Σ_c [L_c/m − γ·k_c^in·k_c^out/m²].
    """
    import random
    from collections import defaultdict

    rng = random.Random(seed)
    cur_edges = [(int(u), int(v), float(w)) for u, v, w in edge_list]
    orig_map: dict[int, int] | None = None  # original id -> current node
    level_maps: list[dict[int, int]] = []
    level_mods: list[float] = []

    def _q(edges_now, com, m, deg=None, deg_in=None, deg_out=None):
        # L_c counts each stored edge once (self-loops once)
        intra = defaultdict(float)
        for u, v, w in edges_now:
            cu = com[u]
            if cu == com[v]:
                intra[cu] += w
        if directed:
            # Q = Σ_c [L_c/m − γ·k_c^in·k_c^out/m²] (Leicht–Newman)
            kin = defaultdict(float)
            kout = defaultdict(float)
            for u, k in deg_in.items():
                kin[com[u]] += k
            for u, k in deg_out.items():
                kout[com[u]] += k
            coms = set(kin) | set(kout)
            return sum(
                intra[c] / m - gamma * kin[c] * kout[c] / (m * m) for c in coms
            )
        # Q = Σ_c [L_c/m − γ (k_c/2m)²]
        k_c = defaultdict(float)
        for u, k in deg.items():
            k_c[com[u]] += k
        return sum(intra[c] / m - gamma * (k_c[c] / (2.0 * m)) ** 2 for c in k_c)

    prev_q: float | None = None
    while True:
        adj: dict[int, dict[int, float]] = defaultdict(dict)
        deg: dict[int, float] = defaultdict(float)
        deg_in: dict[int, float] = defaultdict(float)
        deg_out: dict[int, float] = defaultdict(float)
        m = 0.0
        if directed:
            # neighbor weights combine in- and out-edges, self-loops
            # excluded from neighbor maps (reference: louvain.py:254-262)
            for u, v, w in cur_edges:
                m += w
                deg_out[u] += w
                deg_in[v] += w
                if u != v:
                    adj[u][v] = adj[u].get(v, 0.0) + w
                    adj[v][u] = adj[v].get(u, 0.0) + w
            nodes = sorted(set(deg_in) | set(deg_out))
        else:
            for u, v, w in cur_edges:
                m += w
                if u == v:
                    deg[u] += 2.0 * w
                else:
                    adj[u][v] = adj[u].get(v, 0.0) + w
                    adj[v][u] = adj[v].get(u, 0.0) + w
                    deg[u] += w
                    deg[v] += w
            nodes = sorted(set(deg))
        if m <= 0 or not nodes:
            break
        if not directed and len(cur_edges) > _PREPASS_EDGES:
            # bulk-move via vectorized synchronous rounds, then let the
            # exact sequential passes below polish from that state
            com = _numpy_prepass(cur_edges, gamma, seed)
            sigma = defaultdict(float)
            for uu in nodes:
                sigma[com[uu]] += deg[uu]
            sigma = dict(sigma)
        else:
            com = {u: u for u in nodes}
            sigma = dict(deg)
        sigma_in = {u: deg_in.get(u, 0.0) for u in nodes}
        sigma_out = {u: deg_out.get(u, 0.0) for u in nodes}
        m2 = m * m
        # real ΔQ values are rationals with denominator 2m² — any "gain"
        # below 1/(4m²) is floating-point noise; accepting it causes
        # infinite move cycles (the reference's issues #5175/#5704 are
        # this same failure class)
        eps = 1.0 / (4.0 * m * m)
        two_m2 = 2.0 * m * m
        # active-set pruning: after the first full pass, only nodes
        # adjacent to a move need re-evaluation — a node whose
        # neighborhood didn't change re-derives the same decision
        active = set(nodes)
        n_pass = 0
        while active and n_pass < 100:
            n_pass += 1
            order = [u for u in nodes if u in active] if len(active) < len(nodes) else nodes[:]
            rng.shuffle(order)
            next_active: set[int] = set()
            sigma_get = sigma.get
            com_get = com.__getitem__
            moved = 0
            for u in order:
                cu = com[u]
                nbrs = adj.get(u)
                if not nbrs:
                    continue
                w2c: dict[int, float] = {}
                for v, w in nbrs.items():
                    c = com_get(v)
                    w2c[c] = w2c.get(c, 0.0) + w
                if directed:
                    kin = deg_in.get(u, 0.0)
                    kout = deg_out.get(u, 0.0)
                    sigma_in[cu] -= kin
                    sigma_out[cu] -= kout
                    remove_cost = (
                        -w2c.get(cu, 0.0) / m
                        + gamma * (kout * sigma_in[cu] + kin * sigma_out[cu]) / m2
                    )
                    best, best_gain = cu, eps
                    for c, wuc in w2c.items():
                        if c == cu:
                            continue
                        g = (
                            remove_cost
                            + wuc / m
                            - gamma
                            * (
                                kout * sigma_in.get(c, 0.0)
                                + kin * sigma_out.get(c, 0.0)
                            )
                            / m2
                        )
                        if g > best_gain:
                            best_gain, best = g, c
                    sigma_in[best] = sigma_in.get(best, 0.0) + kin
                    sigma_out[best] = sigma_out.get(best, 0.0) + kout
                else:
                    ku = deg[u]
                    sigma[cu] -= ku
                    remove_cost = (
                        -w2c.get(cu, 0.0) / m + gamma * sigma[cu] * ku / two_m2
                    )
                    best, best_gain = cu, eps
                    for c, wuc in w2c.items():
                        if c == cu:
                            continue
                        g = (
                            remove_cost
                            + wuc / m
                            - gamma * sigma_get(c, 0.0) * ku / two_m2
                        )
                        if g > best_gain:
                            best_gain, best = g, c
                    sigma[best] = sigma_get(best, 0.0) + ku
                if best != cu:
                    com[u] = best
                    moved += 1
                    next_active.update(nbrs)
                    next_active.add(u)
            active = next_active
            # diminishing returns: when under 0.2% of nodes still move,
            # further passes trade seconds for ~1e-4 of Q — coarsening
            # (which follows) recovers the remainder
            if n_pass >= 3 and moved * 500 < len(nodes):
                break
        q = _q(cur_edges, com, m, deg=deg, deg_in=deg_in, deg_out=deg_out)
        if orig_map is None:
            orig_map = dict(com)
        else:
            orig_map = {o: com[c] for o, c in orig_map.items()}
        level_maps.append(dict(orig_map))
        level_mods.append(q)
        if prev_q is not None and q - prev_q <= threshold:
            break
        if max_level is not None and len(level_maps) >= max_level:
            break
        prev_q = q
        # coarsen: supernode per community; undirected edges canonical
        # (min,max), directed edges keep their orientation
        agg: dict[tuple[int, int], float] = defaultdict(float)
        for u, v, w in cur_edges:
            cu, cv = com[u], com[v]
            key = (cu, cv) if (directed or cu <= cv) else (cv, cu)
            agg[key] += w
        new_edges = [(a, b, w) for (a, b), w in agg.items()]
        if len(new_edges) == len(cur_edges):
            break  # no contraction happened; avoid spinning
        cur_edges = new_edges
    return level_maps, level_mods


def _one_level(
    spark: SparkSession,
    edges: DataFrame,
    gamma: float,
    seed: int,
    max_sweeps: int,
    directed: bool = False,
    salt_hubs: int = 0,
    hub_min_neighbors: int = 10_000,
) -> tuple[DataFrame, int]:
    """One Louvain level (reference: _one_level, louvain.py:227-332) as
    synchronized parity-alternating rounds. Returns (assignment on this
    level's node ids, total moves applied).

    Per round: 3 aggregate shuffles over E (w2c) / n (Σ_tot, degree) —
    the static symmetrized edge list and degree table are cached, so a
    round only reshuffles the small per-node state. lineage_cut
    truncates lineage each round (plan depth would otherwise grow
    linearly and analysis time dominate).
    """
    sym = symmetrize(edges).filter(F.col("src") != F.col("dst")).persist()
    if directed:
        # directed degrees split into in/out; the message graph (sym)
        # is the same combined both-directions view
        out_deg = edges.groupBy(F.col("src").alias("id")).agg(
            F.sum("weight").alias("k_out")
        )
        in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
            F.sum("weight").alias("k_in")
        )
        deg = (
            out_deg.join(in_deg, "id", "full")
            .select(
                "id",
                F.coalesce("k_in", F.lit(0.0)).alias("k_in"),
                F.coalesce("k_out", F.lit(0.0)).alias("k_out"),
            )
            .persist()
        )
    else:
        deg = degree_weighted(edges).persist()
    m = float(edges.agg(F.sum("weight")).collect()[0][0] or 0.0)
    if m <= 0:
        return vertices_of(edges).select("id", F.col("id").alias("community")), 0

    # singleton start: community = node id (louvain.py:194)
    if directed:
        state = deg.select(
            "id", F.col("id").alias("community"), "k_in", "k_out"
        )
    else:
        state = deg.select(
            "id", F.col("id").alias("community"), F.col("degree").alias("k")
        )
    state = state.transform(lineage_cut)
    n_nodes = state.count()
    # symmetrized-edge count: a driver-known upper bound on the
    # per-round w2c table's rows (one row per (active node, adjacent
    # community) ≤ active sym rows), gating the own-w2c broadcast and
    # the once-per-round w2c materialization below. Counting here also
    # materializes the sym cache before the round loop.
    n_sym = sym.count()
    # fused round shape (r20): below the broadcast envelope the whole
    # round runs as ONE driver call — the moves table and the updated
    # state are lazy cuts materialized by the round's single
    # moved-count aggregate, and the own-community w2c lookup is an
    # n-row inner join instead of a broadcast of the FULL E'-row w2c
    # table (guide §2.3 "shuffle fewer bytes" applied to the broadcast:
    # the old plan shipped ~E' rows per round to every executor where
    # n rows suffice). Above the envelope every join keeps the r19
    # shuffle shape untouched — the 100 TB plan is unchanged.
    fused = n_sym <= BROADCAST_STATE_ROWS and n_nodes <= BROADCAST_STATE_ROWS

    total_moves = 0
    idle_rounds = 0
    low_move_rounds = 0
    for rnd in range(max_sweeps):
        t_round = time.time()
        a_dst = state.select(F.col("id").alias("dst"), "community")
        # oscillation guard, pushed to the source: only one hash-parity
        # class of nodes may move this round, so only their incident
        # edges need to flow through the w2c join+aggregate at all —
        # a map-side filter on the cached sym halves the dominant
        # per-round shuffle instead of discarding half the aggregated
        # candidates afterwards. w2c groups by src, so filtering src
        # parity keeps every (dst → community) edge of each active node.
        sym_active = sym.filter(
            F.pmod(F.xxhash64(F.col("src"), F.lit(seed)), F.lit(2)) == F.lit(rnd % 2)
        )
        w2c = _w2c_from_sym(
            sym_active, a_dst, salt_hubs, hub_min_neighbors, a_rows=n_nodes
        )
        # w2c is consumed twice (own-community lookup + candidate set).
        # When the broadcast gate can bound it (w2c rows ≤ sym rows),
        # materialize it ONCE per round with a lazy cut — the first
        # consumer materializes the checkpoint, the cand path rescans
        # the blocks — instead of evaluating the edge-scale
        # join+aggregate twice. Above the gate (cluster-scale levels)
        # the plan is left intact: a per-round edge-scale checkpoint
        # would cost more than the exchange reuse it replaces.
        #
        # own-community lookup (r20): the r19 plan broadcast the FULL
        # E'-row w2c table just so each node could read its own row.
        # Derive the n-row (id → w2c_own) table first — an inner join
        # of the w2c checkpoint against the n-row (id, community) state
        # projection — and broadcast THAT: per-round broadcast bytes
        # drop from O(E') to O(n) (guide §2.3 applied to the broadcast
        # build; exactness: w2c holds ≤1 row per (id, community) and
        # state exactly one community per id, so the inner join emits
        # precisely the old left-join's matched rows, and the node join
        # below coalesces the misses to 0.0 as before).
        if fused:
            w2c = lineage_cut(w2c, eager=False)
            own_tbl = (
                w2c.join(
                    F.broadcast(state.select("id", "community")),
                    ["id", "community"],
                )
                .select("id", F.col("w2c").alias("w2c_own"))
            )

            def _with_own(st_sel):
                return st_sel.join(F.broadcast(own_tbl), "id", "left")

        else:
            own_w2c = w2c.withColumnRenamed("w2c", "w2c_own")

            def _with_own(st_sel):
                return st_sel.join(own_w2c, ["id", "community"], "left")
        if directed:
            sigma = state.groupBy("community").agg(
                F.sum("k_in").alias("sigma_in"), F.sum("k_out").alias("sigma_out")
            )
            node = (
                _with_own(state)
                .select(
                    "id",
                    F.col("community").alias("own_com"),
                    "k_in",
                    "k_out",
                    F.coalesce("w2c_own", F.lit(0.0)).alias("w2c_own"),
                )
                .join(
                    maybe_broadcast(
                        sigma.select(
                            F.col("community").alias("own_com"),
                            F.col("sigma_in").alias("sigma_in_own"),
                            F.col("sigma_out").alias("sigma_out_own"),
                        ),
                        n_nodes,
                    ),
                    "own_com",
                )
            )
            cand = (
                w2c.withColumnRenamed("w2c", "w2c_cand")
                .join(maybe_broadcast(node, n_nodes), "id")
                .filter(F.col("community") != F.col("own_com"))
                .join(
                    maybe_broadcast(
                        sigma.select(
                            "community",
                            F.col("sigma_in").alias("sigma_in_cand"),
                            F.col("sigma_out").alias("sigma_out_cand"),
                        ),
                        n_nodes,
                    ),
                    "community",
                )
            )
            gain = (
                F.lit(-1.0) * F.col("w2c_own") / m
                + gamma
                * (
                    F.col("k_out") * (F.col("sigma_in_own") - F.col("k_in"))
                    + F.col("k_in") * (F.col("sigma_out_own") - F.col("k_out"))
                )
                / (m * m)
                + F.col("w2c_cand") / m
                - gamma
                * (
                    F.col("k_out") * F.col("sigma_in_cand")
                    + F.col("k_in") * F.col("sigma_out_cand")
                )
                / (m * m)
            )
        else:
            sigma = state.groupBy("community").agg(F.sum("k").alias("sigma_tot"))
            node = (
                _with_own(state.select("id", "community", "k"))
                .select(
                    "id",
                    F.col("community").alias("own_com"),
                    "k",
                    F.coalesce("w2c_own", F.lit(0.0)).alias("w2c_own"),
                )
                .join(
                    maybe_broadcast(
                        sigma.select(
                            F.col("community").alias("own_com"),
                            F.col("sigma_tot").alias("sigma_own"),
                        ),
                        n_nodes,
                    ),
                    "own_com",
                )
            )
            cand = (
                w2c.withColumnRenamed("w2c", "w2c_cand")
                .join(maybe_broadcast(node, n_nodes), "id")
                .filter(F.col("community") != F.col("own_com"))
                .join(
                    maybe_broadcast(
                        sigma.select(
                            "community", F.col("sigma_tot").alias("sigma_cand")
                        ),
                        n_nodes,
                    ),
                    "community",
                )
            )
            gain = (
                F.lit(-1.0) * F.col("w2c_own") / m
                + gamma * (F.col("sigma_own") - F.col("k")) * F.col("k") / (2.0 * m * m)
                + F.col("w2c_cand") / m
                - gamma * F.col("sigma_cand") * F.col("k") / (2.0 * m * m)
            )
        # same noise floor as the sequential tail: true gains are
        # multiples of ~1/(2m²); below 1/(4m²) is float noise.
        # Argmax over candidates is a map-side-combinable max_by hash
        # aggregate, NOT a row_number window — the window shuffles and
        # SORTS the full ~E-row candidate set, while max_by reduces it
        # to one row per node per map partition before the shuffle.
        # Tie order matches the window it replaced: highest delta, then
        # smallest community (via -community in the comparison struct).
        # The parity oscillation guard already ran at the source (the
        # sym_active filter above), so cand holds active-class nodes only.
        moves = (
            cand.withColumn("delta", gain)
            .filter(F.col("delta") > 1.0 / (4.0 * m * m))
            .groupBy("id")
            .agg(
                F.max_by(
                    "community",
                    F.struct(F.col("delta"), (-F.col("community")).alias("nc")),
                ).alias("new_community")
            )
            # lazy cut (r19): the round's first consumer materializes
            # the moves checkpoint. The r7 objection to fusing — "the
            # unmaterialized moves side loses its broadcast sizing" —
            # no longer applies: the state update broadcast-gates moves
            # EXPLICITLY on a driver-known bound, so the planner never
            # needs a size estimate for it
            .transform(lambda df: lineage_cut(df, eager=False))
        )
        carry = ["k_in", "k_out"] if directed else ["k"]
        if fused:
            # fused round tail (r20): the state update carries a
            # `moved` flag and is itself a lazy cut; ONE aggregate
            # call materializes the new state checkpoint (building the
            # nested moves checkpoint on the way) AND returns the
            # round's move count — the r19 shape paid a separate
            # moves-count execution plus a separate eager state cut
            # (2 driver calls / 3 SQL executions per round → 1 / 2).
            # Values: moves ids ⊆ state ids, so sum(moved) == the old
            # count of moves rows, and on an idle round the rewritten
            # state is row-identical to the old untouched state.
            # moves ≤ n_nodes ≤ the gate here, so the unconditional
            # broadcast is the same decision maybe_broadcast(n_moves)
            # made in r19.
            flagged = (
                state.join(F.broadcast(moves), "id", "left")
                .select(
                    "id",
                    F.coalesce("new_community", "community").alias("community"),
                    *carry,
                    F.col("new_community").isNotNull().alias("moved"),
                )
                .transform(lambda df: lineage_cut(df, eager=False))
            )
            n_moves = int(
                flagged.agg(
                    F.sum(F.col("moved").cast("long")).alias("nm")
                ).collect()[0][0]
                or 0
            )
            state = flagged.select("id", "community", *carry)
        else:
            # above the broadcast envelope: the r19 count-then-update
            # shape, untouched — the 100 TB plan (shuffle joins, moves
            # counted before the update so its broadcast gate sees the
            # true n_moves, no extra n-scale flag pass over state)
            n_moves = moves.count()
            if n_moves > 0:
                state = (
                    state.join(maybe_broadcast(moves, n_moves), "id", "left")
                    .select(
                        "id",
                        F.coalesce("new_community", "community").alias("community"),
                        *carry,
                    )
                    .transform(lineage_cut)
                    # a lazy (eager=False) cut here — deferring state
                    # materialization into the next round's moves job —
                    # measured a wash at sf0.1 (warm same-boot
                    # alternating A/B, r11: eager min 20.06 s vs lazy
                    # 20.92 s, identical outputs; RE-MEASURED r19 on
                    # the gated plans: eager 18.6 s vs lazy 19.7 s —
                    # eager re-holds); kept eager for the bounded-plan
                    # guarantee on the break-without-idle-round exit
                )
        total_moves += n_moves
        _log.debug("round %d: moves=%d [%.1fs]", rnd, n_moves, time.time() - t_round)
        if n_moves == 0:
            idle_rounds += 1
            if idle_rounds >= 2:  # both parity classes idle → fixpoint
                break
        else:
            idle_rounds = 0
        # diminishing returns: when almost no node wants to move, an
        # extra synchronized sweep costs more than coarsening + the
        # exact in-driver tail that follows. Each round evaluates one
        # hash-parity class only, so require the low-movement signal
        # from BOTH classes (two consecutive rounds) before cutting —
        # one quiet class does not prove the other has no pending moves
        if n_moves < max(1, n_nodes // 50):
            low_move_rounds += 1
            if rnd >= 1 and low_move_rounds >= 2:
                break
        else:
            low_move_rounds = 0
    sym.unpersist()
    deg.unpersist()
    return state.select("id", "community"), total_moves


def louvain_communities(
    spark: SparkSession,
    edges: DataFrame,
    gamma: float = 1.0,
    threshold: float = 1e-07,
    max_level: int | None = None,
    seed: int = 1,
    max_sweeps: int = 10,
    inline_threshold: int = 1_000_000,
    vertices: DataFrame | None = None,
    directed: bool = False,
    salt_hubs: int = 0,
    hub_min_neighbors: int = 10_000,
) -> LouvainResult:
    """Full Louvain (reference: louvain_partitions, louvain.py:135-224):
    alternate local-move and coarsen until the level's modularity gain
    ≤ threshold (louvain.py:218-219) or max_level is reached.

    Hybrid execution plan (the 100 TB design): while the current-level
    graph is large, run distributed synchronized-round local moves
    (_one_level) and coarsen — each level shrinks the graph to
    ~#communities. As soon as the level graph fits ``inline_threshold``
    edges it is collected to the driver and finished with the *exact*
    sequential algorithm (_sequential_louvain) — a coarse graph of even
    a trillion-edge input is a few hundred thousand supernodes, so the
    tail always fits, avoids tens of near-empty Spark jobs, and matches
    the reference's move-at-a-time semantics on the part of the
    dendrogram where sequential order actually changes the outcome.

    The cumulative original-id → community mapping is maintained by
    chaining each level's assignment through a join (replacing the
    reference's set-valued supernode attribute, louvain.py:356-361).

    ``vertices``: optional (id) DataFrame; isolated vertices (no edges)
    become singleton communities (reference: louvain.py:194-197).

    ``salt_hubs`` / ``hub_min_neighbors``: skew control for the per-round
    w2c join on power-law graphs — see _w2c_from_sym. Off by default
    (salting costs an extra degree count + broadcast per round and only
    pays off when real hubs exist).
    """
    edges = aggregate_parallel_edges(edges)  # multigraph → simple (louvain.py:372-384)
    result = LouvainResult(assignment=None)  # type: ignore[arg-type]
    global_assign = None  # orig id -> current-level community
    mod_prev: float | None = None
    level = 0
    while True:
        pdf = collect_if_small(edges, inline_threshold)
        if pdf is not None:
            # ---- in-driver exact tail (Arrow transfer, not Row objects) ----
            n_edges = len(pdf)
            import numpy as np

            src_a = pdf["src"].to_numpy()
            dst_a = pdf["dst"].to_numpy()
            w_a = pdf["weight"].to_numpy()
            # Canonical (src, dst, weight) sort BEFORE the sequential
            # pass (r14): toPandas() returns rows in partition order,
            # and the tail's float accumulations (deg sums, w2c) and
            # dict-insertion iteration orders all inherit it — so the
            # greedy trajectory used to depend on the PHYSICAL LAYOUT
            # of the level graph (the sf0.01 determinism sweep caught
            # all five louvain-family queries flipping under the
            # partition perturbation). Sorting makes the inline tail a
            # pure function of the edge MULTISET — same communities
            # under repartition, speculative re-execution, or an AQE
            # plan change. O(E log E) driver-side via 3-key lexsort:
            # ~0.26 s at the 587k-edge flagship scale (measured), ~3%
            # of the flagship's end-to-end cost, A/B'd same-boot
            # before keeping (SCALE §7 r14).
            order = np.lexsort((w_a, dst_a, src_a))
            rows = list(
                zip(
                    src_a[order].tolist(),
                    dst_a[order].tolist(),
                    w_a[order].tolist(),
                )
            )
            _log.debug("level %d: inline tail (%d edges)", level, n_edges)
            remaining = None if max_level is None else max_level - level
            if rows and (remaining is None or remaining > 0):
                maps, mods = _sequential_louvain(
                    rows, gamma, threshold, seed + level, remaining, directed=directed
                )
                for lmap, q in zip(maps, mods):
                    # createDataFrame over local data is already concrete
                    # — no lineage to truncate, no checkpoint needed.
                    # Arrow path via pandas (guide §6): an order of
                    # magnitude faster than pickled Row conversion for
                    # the 10k+-row level maps; LONG columns are
                    # value-exact either way
                    import pandas as pd

                    lvl_df = spark.createDataFrame(
                        pd.DataFrame(
                            {"id": list(lmap.keys()), "community": list(lmap.values())}
                        ),
                        "id LONG, community LONG",
                    )
                    if global_assign is None:
                        cum = lvl_df
                    else:
                        cum = (
                            global_assign.withColumnRenamed("community", "prev")
                            .join(lvl_df.withColumnRenamed("id", "prev"), "prev")
                            .select("id", "community")
                        )
                    result.dendrogram.append(cum)
                    result.modularities.append(q)
                    level += 1
                if result.dendrogram:
                    global_assign = result.dendrogram[-1]
            break
        # ---- distributed level ----
        # persist for the level's many consumers (sym, deg, m,
        # modularity, coarsen), exactly as the pre-probe code did
        edges = edges.persist()
        _log.debug("level %d: distributed (>%d edges)", level, inline_threshold)
        level_assign, n_moves = _one_level(
            spark,
            edges,
            gamma,
            seed + level,
            max_sweeps,
            directed=directed,
            salt_hubs=salt_hubs,
            hub_min_neighbors=hub_min_neighbors,
        )
        # lazy cut (r20): _one_level returns a projection over its
        # final round's state checkpoint, so the eager re-persist paid
        # one execution per level for blocks that already exist — the
        # first consumer (the global-chain cut, or at level 0 the
        # modularity aggregate) materializes the cut instead
        level_assign = level_assign.transform(lambda df: lineage_cut(df, eager=False))
        if global_assign is None:
            global_assign = level_assign
        else:
            global_assign = (
                global_assign.withColumnRenamed("community", "prev")
                .join(level_assign.withColumnRenamed("id", "prev"), "prev")
                .select("id", "community")
                .transform(lineage_cut)
            )
        if directed:
            from .metrics import modularity_directed_df

            mod_new = float(
                modularity_directed_df(edges, level_assign, gamma).collect()[0]["q"]
            )
        else:
            mod_new = modularity(edges, level_assign, gamma)
        _log.debug("level %d: moves=%d Q=%.6f", level, n_moves, mod_new)
        result.dendrogram.append(global_assign)
        result.modularities.append(mod_new)
        level += 1
        if (
            n_moves == 0
            or (mod_prev is not None and mod_new - mod_prev <= threshold)
            or (max_level is not None and level >= max_level)
        ):
            edges.unpersist()
            break
        mod_prev = mod_new
        # lazy cut (r20): the next iteration's inline probe (the
        # limit-bounded toPandas above) is the coarse graph's first
        # consumer and materializes the checkpoint in the same job the
        # eager cut paid separately
        coarse = coarsen_edges(edges, level_assign, directed=directed).transform(
            lambda df: lineage_cut(df, eager=False)
        )
        edges.unpersist()
        edges = coarse
    if global_assign is None:
        # graph had no edges at all → every (optional) vertex a singleton
        base = vertices if vertices is not None else spark.createDataFrame([], "id LONG")
        global_assign = base.select("id", F.col("id").alias("community"))
        result.dendrogram.append(global_assign)
        result.modularities.append(0.0)
        level = 1
    elif vertices is not None:
        # isolated vertices → singleton communities appended to the result
        global_assign = (
            vertices.select("id")
            .join(global_assign, "id", "left")
            .select("id", F.coalesce("community", F.col("id")).alias("community"))
        )
    result.assignment = global_assign
    result.n_levels = level
    return result


def _singleton(edges: DataFrame) -> DataFrame:
    return vertices_of(edges).select("id", F.col("id").alias("community"))


# ---------------------------------------------------------------------------
# companion algorithms: label propagation, connected components
# ---------------------------------------------------------------------------


def label_propagation(
    spark: SparkSession, edges: DataFrame, max_iter: int = 10, seed: int = 1
) -> DataFrame:
    """Synchronous weighted label propagation (reference:
    NX/algorithms/community/label_propagation.py:238 sync variant):
    each round every node adopts the label with max incident weight,
    ties broken by smallest label; same parity guard as Louvain."""
    sym = symmetrize(edges).filter(F.col("src") != F.col("dst")).persist()
    state = vertices_of(edges).select("id", F.col("id").alias("label"))
    state = state.transform(lineage_cut)
    # vertex count, known once: the label/vote tables hold ≤ n rows in
    # every round — the broadcast gate for all per-round joins (r19)
    n = state.count()
    idle_rounds = 0
    for rnd in range(max_iter):
        lbl = state.select(F.col("id").alias("dst"), "label")
        votes = (
            sym.join(maybe_broadcast(lbl, n), "dst")
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.sum("weight").alias("w"))
        )
        # per-node winning label as a map-side-combinable max_by
        # (r11): same tie order the row_number window had — highest
        # vote weight, then smallest label
        best = (
            votes.groupBy("id")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("w"), (-F.col("label")).alias("nl"))
                ).alias("new_label")
            )
            .filter(
                F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(2))
                == F.lit(rnd % 2)
            )
            .select("id", "new_label")
        )
        # lazy cut + inline changed flag (r20): the new state carries
        # `changed` = (a parity-gated winner exists AND differs from the
        # current label), so ONE aggregate materializes the round's
        # checkpoint and returns the changed count — the r19 shape
        # re-joined the OLD state (one more broadcast build + join per
        # round) to compute the same per-row comparison. Strictly fewer
        # joins at every scale; the flag column is projected away below.
        flagged = (
            state.join(maybe_broadcast(best, n), "id", "left")
            .select(
                "id",
                F.coalesce("new_label", "label").alias("label"),
                (
                    F.col("new_label").isNotNull()
                    & (F.col("new_label") != F.col("label"))
                ).alias("changed"),
            )
            .transform(lambda df: lineage_cut(df, eager=False))
        )
        changed = int(
            flagged.agg(F.sum(F.col("changed").cast("long"))).collect()[0][0] or 0
        )
        state = flagged.select("id", "label")
        # each round moves a single hash-parity class, so one idle round
        # does not prove the other class is at fixpoint — require both
        # classes (two consecutive rounds) idle, mirroring _one_level
        if changed == 0:
            idle_rounds += 1
            if idle_rounds >= 2:
                break
        else:
            idle_rounds = 0
    sym.unpersist()
    return state


#: undirected-edge count at or below which connected_components_star
#: closes with an in-driver union-find — same hybrid-tail rule (and
#: size rationale: ≤ ~24 MB of long pairs) as graph.py's
#: MST_INLINE_MERGE_EDGES; module-level so tests can monkeypatch it to
#: force the distributed branch
CC_INLINE_EDGES = 2_000_000


def connected_components_star(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contractions (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014): O(log n) rounds instead of O(diameter),
    the right algorithm for high-diameter graphs (paths, meshes, road
    networks) at 100 TB where min-id propagation needs thousands of
    supersteps.

    Each round rewrites the edge set:
      large-star: for every neighbor v of u with v > u, link v to
        m(u) = min(u, min-neighbor of u) — strictly decreasing links
        from larger ids;
      small-star: for every neighbor v ≤ u, link v to m(u).
    Fixpoint: every node points directly at its component's min id.
    Implemented as two aggregate-join passes per round over a
    deduplicated parent edge list; converges when the parent mapping
    stops changing. Returns (id, component) like connected_components,
    against which it is equivalence-tested.

    Hybrid tail (r7, the MST_INLINE_MERGE_EDGES rule): edge sets at or
    below CC_INLINE_EDGES close with an in-driver min-root union-find
    — identical labels (min id per component) for a couple of driver
    round-trips instead of 2 synchronized star passes per round. At
    scale only sub-threshold graphs (e.g. q_dbscan's core-cell graph,
    component-merge residues) take this branch; everything larger
    keeps the published O(log n) distributed rounds. Both branches are
    pinned equal by the monkeypatched golden in tests/test_louvain.py."""
    # edges kept in point-to-smaller form: (u, v) with v < u, distinct;
    # both cuts are lazy: the probe below materializes e, and the final
    # assembly join materializes verts
    e = lineage_cut(
        symmetrize(edges)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct(),
        eager=False,
    )
    verts = lineage_cut(vertices_of(edges), eager=False)
    pdf = collect_if_small(e, CC_INLINE_EDGES)
    if pdf is not None:
        lbl = spark.createDataFrame(
            list(min_id_components(pdf["u"].tolist(), pdf["v"].tolist()).items()),
            "id LONG, component LONG",
        )
        return verts.join(lbl, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    while True:
        # ---- large-star: every v ∈ N(u) with v > u links to
        #      m(u) = min(N(u) ∪ {u}); output stays point-to-smaller
        #      since m(u) ≤ u < v ----
        adj = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = adj.groupBy("u").agg(F.min("v").alias("mn"))
        m_large = F.least("u", "mn")
        e1 = (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m_large.alias("v"))
            .distinct()
            .transform(lineage_cut)
        )
        # ---- small-star: group the (already point-to-smaller) edges
        #      by u; every v ∈ N_small(u) ∪ {u} links to
        #      m = min(N_small(u)) (< u by construction) ----
        mins1 = e1.groupBy("u").agg(F.min("v").alias("mn"))
        nbr_links = (
            e1.join(mins1, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        self_links = mins1.select("u", F.col("mn").alias("v"))
        e2 = (
            nbr_links.unionByName(self_links)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(lineage_cut)
        )
        # one fixpoint probe per round (r20): the union of both
        # exceptAll directions is empty ⟺ both are empty — the r19
        # shape paid two isEmpty driver calls per round
        if e2.exceptAll(e).unionAll(e.exceptAll(e2)).isEmpty():
            break
        e = e2
    # at fixpoint e2 is a star forest: u → component minimum (min-agg is
    # a no-op safety net against a non-star row surviving)
    parent = e2.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("id"), "component"
    )
    return verts.join(parent, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def connected_components(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Connected components by iterative min-id propagation (the
    DataFrame rendition of Pregel supersteps; SURVEY.md §7.3): each
    round every node takes the min of its own and its neighbors'
    component ids, until fixpoint. O(diameter) rounds — for graphs with
    large diameter at scale, use connected_components_star (large-/
    small-star, O(log n) rounds); both are pinned to the same
    pure-Python union-find golden in tests/test_louvain.py.
    """
    sym = symmetrize(edges).persist()
    state = vertices_of(edges).select("id", F.col("id").alias("component"))
    state = state.transform(lineage_cut)
    # vertex count (constant across rounds) gates the per-round
    # state-side broadcasts; the lazy cut + changed-count fusion below
    # mirrors label_propagation's (r19)
    n = state.count()
    while True:
        comp = state.select(F.col("id").alias("dst"), "component")
        msgs = (
            sym.join(maybe_broadcast(comp, n), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # inline changed flag (r20, the LPA fusion): component shrinks
        # exactly when a neighbor min undercuts it, so the flag is
        # nbr_min < component — no re-join of the old state needed
        flagged = (
            state.join(maybe_broadcast(msgs, n), "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                F.coalesce(
                    F.col("nbr_min") < F.col("component"), F.lit(False)
                ).alias("changed"),
            )
            .transform(lambda df: lineage_cut(df, eager=False))
        )
        changed = int(
            flagged.agg(F.sum(F.col("changed").cast("long"))).collect()[0][0] or 0
        )
        state = flagged.select("id", "component")
        if changed == 0:
            break
    sym.unpersist()
    return state


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------

_G1_W2C_SQL = f"""
WITH e AS ({COPURCHASE_EDGES_SQL}),
sym AS (
  SELECT src, dst, weight FROM e WHERE src <> dst
  UNION ALL
  SELECT dst AS src, src AS dst, weight FROM e WHERE src <> dst
)
SELECT src AS id, dst % 10 AS community, SUM(weight) AS w2c
FROM sym GROUP BY 1, 2
"""


def q_neighbor_com_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return neighbor_com_weights(edges, mod10_assignment(edges))


def q_com_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return community_totals(edges, mod10_assignment(edges))


ORACLE_COM_TOTALS = f"""
WITH e AS ({COPURCHASE_EDGES_SQL}),
deg AS (
  SELECT id, SUM(weight) AS degree
  FROM (SELECT src AS id, weight FROM e UNION ALL SELECT dst AS id, weight FROM e)
  GROUP BY id
)
SELECT id % 10 AS community, SUM(degree) AS sigma_tot FROM deg GROUP BY 1
"""


def q_delta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return delta_q(edges, mod10_assignment(edges), gamma=1.0)


ORACLE_DELTA_Q = f"""
WITH e AS ({COPURCHASE_EDGES_SQL}),
sym AS (
  SELECT src, dst, weight FROM e WHERE src <> dst
  UNION ALL
  SELECT dst AS src, src AS dst, weight FROM e WHERE src <> dst
),
w2c AS (
  SELECT src AS id, dst % 10 AS community, SUM(weight) AS w2c
  FROM sym GROUP BY 1, 2
),
deg AS (
  SELECT id, SUM(weight) AS degree
  FROM (SELECT src AS id, weight FROM e UNION ALL SELECT dst AS id, weight FROM e)
  GROUP BY id
),
sigma AS (
  SELECT id % 10 AS community, SUM(degree) AS sigma_tot FROM deg GROUP BY 1
),
mm AS (SELECT SUM(weight) AS m FROM e),
node AS (
  SELECT deg.id, deg.id % 10 AS own_com, deg.degree AS k,
         COALESCE(w.w2c, 0.0) AS w2c_own
  FROM deg LEFT JOIN w2c w ON w.id = deg.id AND w.community = deg.id % 10
)
SELECT c.id, c.community,
       -(n.w2c_own) / m + 1.0 * (so.sigma_tot - n.k) * n.k / (2.0 * m * m)
         + c.w2c / m - 1.0 * sc.sigma_tot * n.k / (2.0 * m * m) AS delta
FROM w2c c
JOIN node n ON c.id = n.id
JOIN sigma so ON so.community = n.own_com
JOIN sigma sc ON sc.community = c.community
CROSS JOIN mm
WHERE c.community <> n.own_com
"""


def q_delta_q_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed ΔQ (reference: louvain.py:278-306 directed branch) on
    the directed co-purchase graph with the id%10 assignment: neighbor
    weights combine in- and out-edges; the null-model term uses
    out_deg·Σ_in + in_deg·Σ_out over m²."""
    edges = copurchase_edges(spark, sf_dir)
    assignment = mod10_assignment(edges)
    nonloop = edges.filter(F.col("src") != F.col("dst"))
    combined = nonloop.select("src", "dst", "weight").unionByName(
        nonloop.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    w2c = (
        combined.join(assignment.select(F.col("id").alias("dst"), "community"), "dst")
        .groupBy(F.col("src").alias("id"), "community")
        .agg(F.sum("weight").alias("w2c"))
    )
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("weight").alias("k_out")
    )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(F.sum("weight").alias("k_in"))
    node = (
        assignment.withColumnRenamed("community", "own_com")
        .join(out_deg, "id", "left")
        .join(in_deg, "id", "left")
        .select(
            "id",
            "own_com",
            F.coalesce("k_out", F.lit(0.0)).alias("k_out"),
            F.coalesce("k_in", F.lit(0.0)).alias("k_in"),
        )
    )
    sigma = (
        node.groupBy(F.col("own_com").alias("community"))
        .agg(
            F.sum("k_in").alias("sigma_in"), F.sum("k_out").alias("sigma_out")
        )
    )
    own_w2c = w2c.select("id", F.col("community"), F.col("w2c").alias("w2c_own"))
    node2 = (
        node.join(
            own_w2c,
            (node.id == own_w2c.id) & (node.own_com == own_w2c.community),
            "left",
        )
        .select(
            node["id"],
            "own_com",
            "k_in",
            "k_out",
            F.coalesce("w2c_own", F.lit(0.0)).alias("w2c_own"),
        )
        .join(
            sigma.select(
                F.col("community").alias("own_com"),
                F.col("sigma_in").alias("sigma_in_own"),
                F.col("sigma_out").alias("sigma_out_own"),
            ),
            "own_com",
        )
    )
    m = edges.agg(F.sum("weight").alias("m"))
    cand = (
        w2c.withColumnRenamed("w2c", "w2c_cand")
        .join(node2, "id")
        .filter(F.col("community") != F.col("own_com"))
        .join(
            sigma.select(
                "community",
                F.col("sigma_in").alias("sigma_in_cand"),
                F.col("sigma_out").alias("sigma_out_cand"),
            ),
            "community",
        )
        .crossJoin(m)
    )
    expr = (
        "-(w2c_own) / m"
        " + 1.0 * (k_out * (sigma_in_own - k_in) + k_in * (sigma_out_own - k_out)) / (m * m)"
        " + w2c_cand / m"
        " - 1.0 * (k_out * sigma_in_cand + k_in * sigma_out_cand) / (m * m)"
    )
    return cand.select("id", "community", F.expr(expr).alias("delta"))


ORACLE_DELTA_Q_DIRECTED = f"""
WITH e AS ({COPURCHASE_EDGES_SQL}),
nonloop AS (SELECT * FROM e WHERE src <> dst),
combined AS (
  SELECT src, dst, weight FROM nonloop
  UNION ALL
  SELECT dst AS src, src AS dst, weight FROM nonloop
),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
a AS (SELECT id, id % 10 AS community FROM v),
w2c AS (
  SELECT src AS id, dst % 10 AS community, SUM(weight) AS w2c
  FROM combined GROUP BY 1, 2
),
od AS (SELECT src AS id, SUM(weight) AS k_out FROM e GROUP BY 1),
idg AS (SELECT dst AS id, SUM(weight) AS k_in FROM e GROUP BY 1),
node AS (
  SELECT a.id, a.community AS own_com,
         COALESCE(od.k_out, 0.0) AS k_out,
         COALESCE(idg.k_in, 0.0) AS k_in
  FROM a LEFT JOIN od ON a.id = od.id LEFT JOIN idg ON a.id = idg.id
),
sigma AS (
  SELECT own_com AS community, SUM(k_in) AS sigma_in, SUM(k_out) AS sigma_out
  FROM node GROUP BY 1
),
mm AS (SELECT SUM(weight) AS m FROM e),
node2 AS (
  SELECT n.id, n.own_com, n.k_in, n.k_out,
         COALESCE(w.w2c, 0.0) AS w2c_own,
         s.sigma_in AS sigma_in_own, s.sigma_out AS sigma_out_own
  FROM node n
  LEFT JOIN w2c w ON w.id = n.id AND w.community = n.own_com
  JOIN sigma s ON s.community = n.own_com
)
SELECT c.id, c.community,
       -(n.w2c_own) / m
       + 1.0 * (n.k_out * (n.sigma_in_own - n.k_in) + n.k_in * (n.sigma_out_own - n.k_out)) / (m * m)
       + c.w2c / m
       - 1.0 * (n.k_out * sc.sigma_in + n.k_in * sc.sigma_out) / (m * m) AS delta
FROM w2c c
JOIN node2 n ON c.id = n.id
JOIN sigma sc ON sc.community = c.community
CROSS JOIN mm
WHERE c.community <> n.own_com
"""


def q_louvain_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end directed Louvain on the customer→supplier graph
    (rows-only; invariants + termination pinned in tests)."""
    edges = copurchase_edges(spark, sf_dir)
    res = louvain_communities(spark, edges, directed=True)
    return res.assignment.select(
        "id",
        "community",
        F.lit(res.n_levels).alias("n_levels"),
        F.lit(round(res.modularities[-1], 9)).alias("final_q"),
    )


def q_best_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return best_move(edges, mod10_assignment(edges), gamma=1.0)


ORACLE_BEST_MOVE = f"""
WITH dq AS ({ORACLE_DELTA_Q})
SELECT id, community AS new_community, delta
FROM (
  SELECT id, community, delta,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY delta DESC, community ASC) AS rn
  FROM dq WHERE delta > 0
) t WHERE rn = 1
"""


def q_louvain_one_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full phase-1 sweep on G1 (oracle:
    _oracle_louvain_one_level — the synchronized parity-alternating
    rounds ARE deterministic, so they unroll; invariants asserted in
    tests)."""
    edges = copurchase_edges(spark, sf_dir)
    assignment, _ = _one_level(spark, edges, gamma=1.0, seed=1, max_sweeps=6)
    return assignment


#: q_louvain_one_level's fixed budget — the oracle unrolls exactly
#: this many rounds, gating each behind the engine's two break rules
ONE_LEVEL_ORACLE_SWEEPS = 6


def _oracle_louvain_one_level() -> str:
    """Unrolled-CTE oracle for the distributed Louvain level. The old
    'parallel move order is engine-defined' justification was wrong
    for THIS query: _one_level is synchronized (each round moves one
    xxhash64-parity class, argmax with a total tie order), so round r
    is a deterministic function of round r−1 and the fixed max_sweeps
    budget unrolls like LPA's. The two early breaks (two idle rounds;
    two consecutive low-move rounds — which can exit with PENDING
    moves, so a naive full unroll would diverge) are replicated as
    single-row flag CTEs that gate each round's move application.

    Float story: weights are integer-valued doubles, so every SUM
    (w2c, k, Σ_tot, m) is exact; the ΔQ expression then mirrors the
    engine's literal-m operator tree term for term, making each
    candidate's gain bit-identical, and the argmax tie order
    (delta DESC, community ASC) matches the max_by struct."""
    parts = [
        f"e AS MATERIALIZED ({COPURCHASE_EDGES_SQL})",
        "sym AS MATERIALIZED (SELECT src, dst, weight FROM e"
        " WHERE src <> dst"
        " UNION ALL SELECT dst AS src, src AS dst, weight FROM e"
        " WHERE src <> dst)",
        "mm AS (SELECT CAST(SUM(weight) AS DOUBLE) AS m FROM e)",
        # degree_weighted: both endpoints of every edge row
        "deg AS MATERIALIZED (SELECT id, SUM(weight) AS k FROM ("
        "SELECT src AS id, weight FROM e"
        " UNION ALL SELECT dst AS id, weight FROM e) GROUP BY id)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        "st0 AS MATERIALIZED (SELECT id, id AS community, k FROM deg)",
        "fl0 AS (SELECT TRUE AS alive, 0 AS idle, 0 AS low)",
    ]
    # per-node parity: the shared engine-twin chain (_parity_sql_ctes)
    hctes, par_cte = _parity_sql_ctes("deg", "px")
    parts.extend(hctes)
    parts.append(f"par AS (SELECT id, p FROM {par_cte})")
    m = "(SELECT m FROM mm)"
    for r in range(ONE_LEVEL_ORACLE_SWEEPS):
        parts.append(
            f"sa{r} AS (SELECT s.* FROM sym s"
            f" JOIN par ON par.id = s.src AND par.p = {r % 2})"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT s.src AS id, t.community,"
            f" SUM(s.weight) AS w2c FROM sa{r} s"
            f" JOIN st{r} t ON t.id = s.dst GROUP BY s.src, t.community)"
        )
        parts.append(
            f"sg{r} AS (SELECT community, SUM(k) AS sigma_tot"
            f" FROM st{r} GROUP BY community)"
        )
        parts.append(
            f"nd{r} AS (SELECT t.id, t.community AS own_com, t.k,"
            f" COALESCE(w.w2c, 0.0) AS w2c_own,"
            f" sg.sigma_tot AS sigma_own"
            f" FROM st{r} t"
            f" LEFT JOIN w{r} w ON w.id = t.id AND w.community = t.community"
            f" JOIN sg{r} sg ON sg.community = t.community)"
        )
        gain = (
            f"-1.0 * n.w2c_own / {m}"
            f" + 1.0 * (n.sigma_own - n.k) * n.k / (2.0 * {m} * {m})"
            f" + w.w2c / {m}"
            f" - 1.0 * sg.sigma_tot * n.k / (2.0 * {m} * {m})"
        )
        parts.append(
            f"mv{r} AS MATERIALIZED ("
            f"SELECT id, community AS new_community FROM ("
            f"SELECT w.id, w.community, {gain} AS delta"
            f" FROM w{r} w"
            f" JOIN nd{r} n ON n.id = w.id AND w.community <> n.own_com"
            f" JOIN sg{r} sg ON sg.community = w.community)"
            f" WHERE delta > 1.0 / (4.0 * {m} * {m})"
            f" QUALIFY ROW_NUMBER() OVER"
            f" (PARTITION BY id ORDER BY delta DESC, community ASC) = 1)"
        )
        parts.append(
            f"st{r + 1} AS MATERIALIZED (SELECT t.id,"
            f" COALESCE(g.new_community, t.community) AS community, t.k"
            f" FROM st{r} t LEFT JOIN ("
            f"SELECT * FROM mv{r} WHERE (SELECT alive FROM fl{r})) g"
            f" ON g.id = t.id)"
        )
        low_cond = f"nm < GREATEST(1, (SELECT n FROM nn) // 50)"
        parts.append(
            f"fl{r + 1} AS (SELECT"
            f" CASE WHEN NOT alive THEN FALSE ELSE NOT ("
            f" (CASE WHEN nm = 0 THEN idle + 1 ELSE 0 END) >= 2"
            f" OR ({r} >= 1 AND"
            f" (CASE WHEN {low_cond} THEN low + 1 ELSE 0 END) >= 2)"
            f" ) END AS alive,"
            f" CASE WHEN NOT alive THEN idle"
            f" WHEN nm = 0 THEN idle + 1 ELSE 0 END AS idle,"
            f" CASE WHEN NOT alive THEN low"
            f" WHEN {low_cond} THEN low + 1 ELSE 0 END AS low"
            f" FROM fl{r}, (SELECT COUNT(*) AS nm FROM mv{r}) x)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, community FROM st{ONE_LEVEL_ORACLE_SWEEPS}"
    )


def q_louvain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Louvain on G1 with self-verifying invariant columns:
    (id, community) plus per-run n_levels and final Q."""
    edges = copurchase_edges(spark, sf_dir)
    res = louvain_communities(spark, edges, max_sweeps=8)
    return res.assignment.select(
        "id",
        "community",
        F.lit(res.n_levels).alias("n_levels"),
        F.lit(round(res.modularities[-1], 9)).alias("final_q"),
    )


def q_louvain_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship with the distributed path FORCED: inline_threshold=50k
    makes the sf0.1 co-purchase graph (~587k edges) run ≥1 real
    synchronized-round _one_level level before the in-driver tail, so
    the distributed per-round cost — the part that dominates a 100 TB
    first level — is measured by bench.py every round instead of only
    being correctness-tested. rows-only (parallel move order is
    engine-defined); quality-vs-inline parity asserted in
    tests/test_louvain.py::test_distributed_level_path."""
    edges = copurchase_edges(spark, sf_dir)
    res = louvain_communities(spark, edges, inline_threshold=50_000, max_sweeps=4)
    return res.assignment.select(
        "id",
        "community",
        F.lit(res.n_levels).alias("n_levels"),
        F.lit(round(res.modularities[-1], 9)).alias("final_q"),
    )


def q_louvain_dendrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-level partitions in long format (level, id, community)."""
    edges = copurchase_edges(spark, sf_dir)
    res = louvain_communities(spark, edges, max_sweeps=8)
    out = None
    for lvl, df in enumerate(res.dendrogram):
        row = df.select(F.lit(lvl).alias("level"), "id", "community")
        out = row if out is None else out.unionByName(row)
    return out


def q_seeded_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic visit order (substitute for the reference's
    seed.shuffle, louvain.py:268-269): rank nodes by xxhash64(seed, id)
    via the distributed-rank kernel (r7 — the old global row_number
    window put every vertex in one sorted partition; the hash column
    is materialized first so the chunk assignment and the local sort
    rank the identical values). Oracle: _oracle_seeded_order — the
    'xxhash64 has no DuckDB twin' claim fell in r12 to the
    HUGEINT-arithmetic XXH64 expression chain (graph.py)."""
    from .kernels import chunked_global_rank

    edges = copurchase_edges(spark, sf_dir)
    hashed = vertices_of(edges).select(
        "id", F.xxhash64(F.lit(42), F.col("id")).alias("h")
    )
    return chunked_global_rank(
        hashed, [F.asc("h"), F.asc("id")], "visit_rank"
    ).select("id", "visit_rank")


#: Spark evaluates ``xxhash64(lit(42) INT, id LONG)`` as
#: hashInt(42, seed=42) → that hash seeds hashLong(id, ·); the first
#: step is input-independent, so it folds to one Python constant
_SEEDED_ORDER_INNER_SEED = _xxh64_int_unsigned(42, 42)


def _parity_sql_ctes(base_cte: str, prefix: str) -> tuple[list, str]:
    """CTE fragments computing the engine's per-node move-parity
    class — ``pmod(xxhash64(id LONG, lit(1) INT), 2)`` = hashLong(id,
    42) seeding hashInt(1, ·), low bit — over ``base_cte``'s ``id``
    column. ONE definition shared by the LPA and louvain-one-level
    oracles so the two can never silently disagree on which nodes
    move each round; returns (cte_fragments, final_cte) with the
    parity in column ``p`` of the returned ``{prefix}par`` CTE."""
    layers = _xxh64_long_sql_layers("hl", "id", "42")
    layers += _xxh64_int_sql_layers("hp", 1, "hl")
    hctes, last = _sql_layers_to_ctes(base_cte, layers, prefix)
    hctes.append(
        f"{prefix}par AS MATERIALIZED"
        f" (SELECT id, CAST(hp % 2 AS INTEGER) AS p FROM {last})"
    )
    return hctes, f"{prefix}par"


def _oracle_seeded_order() -> str:
    """xxhash64(42, id) re-expressed as the HUGEINT XXH64 chain, then
    the same total order (h signed, id) ranked by ROW_NUMBER — the
    chunked-rank kernel's prefix-stitch equals a global row_number by
    construction, so one window IS the oracle twin."""
    layers = _xxh64_long_sql_layers(
        "h", "id", str(_SEEDED_ORDER_INNER_SEED)
    )
    hctes, last = _sql_layers_to_ctes("verts", layers, "x")
    joined = ",\n".join(hctes)
    return f"""
WITH e AS ({COPURCHASE_EDGES_SQL}),
verts AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
{joined}
SELECT id, ROW_NUMBER() OVER (ORDER BY {_sql_signed64("h")}, id)
       AS visit_rank
FROM {last}
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation communities on G1 (oracle:
    _oracle_label_propagation — all 8 synchronized rounds unrolled;
    invariant tests unchanged)."""
    return label_propagation(spark, copurchase_edges(spark, sf_dir), max_iter=8)


#: q_label_propagation's fixed budget — the oracle unrolls exactly
#: this many synchronized rounds. The engine's early break (two
#: consecutive idle rounds) only skips PROVABLY idle rounds: once both
#: hash-parity classes pass unchanged on the same state, every later
#: round recomputes identical votes, so running all rounds is
#: value-identical by induction.
LPA_ORACLE_ROUNDS = 8


def _oracle_label_propagation() -> str:
    """Unrolled-CTE synchronous LPA oracle: per round, per-node
    argmax-vote (highest summed incident weight, then smallest label —
    the max_by struct order as ROW_NUMBER QUALIFY), gated to the
    round's xxhash64 parity class, computed by the same HUGEINT XXH64
    chain the seeded-order oracle uses (hashLong(id, 42) seeding
    hashInt(1, ·), low bit). Unlike the karate unrolls this needs NO
    fixture calibration: the round count is the query's own fixed
    max_iter."""
    hctes, par_cte = _parity_sql_ctes("verts", "px")
    parts = [
        f"e AS MATERIALIZED ({COPURCHASE_EDGES_SQL})",
        "sym AS MATERIALIZED ("
        "SELECT src, dst, weight FROM e WHERE src <> dst"
        " UNION ALL SELECT dst AS src, src AS dst, weight FROM e"
        " WHERE src <> dst)",
        "verts AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)",
        *hctes,
        f"par AS (SELECT id, p FROM {par_cte})",
        "st0 AS (SELECT id, id AS label FROM verts)",
    ]
    for r in range(1, LPA_ORACLE_ROUNDS + 1):
        gate = (r - 1) % 2
        parts.append(
            f"v{r} AS (SELECT s.src AS id, t.label, SUM(s.weight) AS w"
            f" FROM sym s JOIN st{r - 1} t ON t.id = s.dst"
            f" GROUP BY s.src, t.label)"
        )
        parts.append(
            f"b{r} AS (SELECT id, label AS nl FROM v{r}"
            f" QUALIFY ROW_NUMBER() OVER"
            f" (PARTITION BY id ORDER BY w DESC, label ASC) = 1)"
        )
        parts.append(
            f"st{r} AS MATERIALIZED (SELECT t.id,"
            f" COALESCE(g.nl, t.label) AS label"
            f" FROM st{r - 1} t LEFT JOIN ("
            f"SELECT b.id, b.nl FROM b{r} b"
            f" JOIN par ON par.id = b.id AND par.p = {gate}) g"
            f" ON g.id = t.id)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, label FROM st{LPA_ORACLE_ROUNDS}"
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on karate ∪ two disjoint extra edges
    (oracle: DuckDB recursive CTE computing min reachable id)."""
    extra = spark.createDataFrame(
        [(100, 101, 1.0), (102, 103, 1.0), (103, 104, 1.0)],
        "src LONG, dst LONG, weight DOUBLE",
    )
    edges = karate_edges(spark).unionByName(extra)
    return connected_components(spark, edges)


def leiden_refine(
    spark: SparkSession, edges: DataFrame, assignment: DataFrame
) -> DataFrame:
    """Leiden-style refinement of a community assignment (Traag,
    Waltman & van Eck 2019, *From Louvain to Leiden*, §"guaranteeing
    well-connected communities"): split every community into its
    connected components, fixing Louvain's known defect that a
    community can become internally DISCONNECTED when its bridge node
    is moved away. Splitting a disconnected community along its
    components never decreases modularity (intra-weight is preserved
    while Σtot² strictly shrinks), so this is a pure quality repair.

    Dataflow: label both endpoints with their community (two joins
    against the assignment), keep INTRA-community edges only, run
    min-id connected components over that subgraph (isolated members
    stay singletons via the left join), and emit
    (id, community, refined_community) with refined ids = min member
    id of the component — deterministic, engine-independent.

    100 TB shape: the CC loop runs on the intra-community EDGE SUBSET
    (strictly smaller than the graph), each round one join + one
    map-side-combined min aggregate, lineage_cut-truncated —
    identical machinery to connected_components. No collect of data;
    the assignment table is the only extra join input.
    """
    from .graph import symmetrize

    sym = symmetrize(edges)
    a_src = assignment.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    a_dst = assignment.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    intra = (
        sym.join(a_src, "src")
        .join(a_dst, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .select("src", "dst", "weight")
    )
    comp = connected_components(spark, intra)
    refined = assignment.join(comp, "id", "left").select(
        "id",
        "community",
        F.coalesce("component", F.col("id")).alias("refined_community"),
    )
    # canonicalize the ORIGINAL labels to min-member-id too, so
    # community == refined_community exactly when the community
    # survived refinement intact (labels live in the same id space)
    canon = refined.groupBy("community").agg(F.min("id").alias("community_canon"))
    return (
        refined.join(F.broadcast(canon), "community")
        .select(
            "id",
            F.col("community_canon").alias("community"),
            "refined_community",
        )
    )


def q_leiden_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain on G1 followed by Leiden-style connectivity refinement
    (rows-only; sub-partition / connectivity / modularity-non-decrease
    invariants pinned in tests/test_louvain.py)."""
    edges = copurchase_edges(spark, sf_dir)
    res = louvain_communities(spark, edges, max_sweeps=8)
    return leiden_refine(spark, edges, res.assignment)


def _oracle_connected_components() -> str:
    from .graph import _KARATE_SQL

    return f"""
WITH RECURSIVE e AS (
  {_KARATE_SQL}
  UNION ALL
  SELECT * FROM (VALUES (100, 101, 1.0), (102, 103, 1.0), (103, 104, 1.0)) t(src, dst, weight)
),
sym AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
),
v AS (SELECT DISTINCT src AS id FROM sym),
reach(id, comp) AS (
  SELECT id, id FROM v
  UNION
  SELECT sym.dst AS id, reach.comp
  FROM reach JOIN sym ON sym.src = reach.id
)
SELECT id, MIN(comp) AS component FROM reach GROUP BY id
"""


QUERIES = {
    "q_neighbor_com_weights": q_neighbor_com_weights,
    "q_com_totals": q_com_totals,
    "q_delta_q": q_delta_q,
    "q_delta_q_directed": q_delta_q_directed,
    "q_louvain_directed": q_louvain_directed,
    "q_best_move": q_best_move,
    "q_louvain_one_level": q_louvain_one_level,
    "q_louvain_communities": q_louvain_communities,
    "q_louvain_distributed": q_louvain_distributed,
    "q_louvain_dendrogram": q_louvain_dendrogram,
    "q_seeded_order": q_seeded_order,
    "q_label_propagation": q_label_propagation,
    "q_connected_components": q_connected_components,
    "q_leiden_refine": q_leiden_refine,
}

ORACLES = {
    "q_neighbor_com_weights": _G1_W2C_SQL,
    "q_com_totals": ORACLE_COM_TOTALS,
    "q_delta_q": ORACLE_DELTA_Q,
    "q_delta_q_directed": ORACLE_DELTA_Q_DIRECTED,
    "q_best_move": ORACLE_BEST_MOVE,
    "q_connected_components": _oracle_connected_components(),
    # rows-only: q_louvain_one_level / q_louvain_communities /
    # q_louvain_dendrogram (parallel move order is engine-defined).
    # q_seeded_order and q_label_propagation left this list in r12:
    # xxhash64 gained a DuckDB twin (graph.py's HUGEINT XXH64 chain),
    # and sync-LPA's round budget is the query's own fixed max_iter.
    "q_seeded_order": _oracle_seeded_order(),
    "q_label_propagation": _oracle_label_propagation(),
    "q_louvain_one_level": _oracle_louvain_one_level(),
}
