"""Output checks, each built on an oracle that shares no code with the
package: pandas re-derivations of the inputs, networkx modularity and
a pure-Python near-duplicate clustering.

A check returns ``(ok, quality, reason)``: ``quality`` is the
modularity of the returned partition on the graph the workload
partitions (the ``modularity_q`` metric), ``reason`` says why a
rejected output failed.
"""

from __future__ import annotations

import os
from collections import defaultdict
from itertools import combinations

import networkx as nx
import pandas as pd

#: a Louvain Q must equal the oracle's Q to this absolute tolerance
Q_TOL = 1e-9


def _communities(ids, labels) -> list[set]:
    groups: dict[int, set] = defaultdict(set)
    for v, c in zip(ids, labels):
        groups[int(c)].add(int(v))
    return list(groups.values())


def copurchase_graph(tables_dir: str, supplier_offset: int) -> nx.Graph:
    """The co-purchase graph (customer -- supplier + offset, weight =
    number of lineitems) derived from the generated tables with pandas."""
    li = pd.read_parquet(os.path.join(tables_dir, "lineitem.parquet"))
    orders = pd.read_parquet(os.path.join(tables_dir, "orders.parquet"))
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    w = (
        j.assign(dst=j["l_suppkey"] + supplier_offset)
        .groupby(["o_custkey", "dst"])
        .size()
    )
    g = nx.Graph()
    g.add_weighted_edges_from(
        (int(a), int(b), float(c)) for (a, b), c in w.items()
    )
    return g


class PartitionCheck:
    """Louvain output: the assignment (id, community) covers every
    vertex exactly once, and the engine's Q equals networkx's Q of the
    same partition on the same graph within Q_TOL."""

    def __init__(self, graph: nx.Graph):
        self.graph = graph

    def __call__(self, assignment: pd.DataFrame, engine_q: float):
        ids = assignment["id"].to_numpy()
        if len(set(ids.tolist())) != len(ids):
            return False, float("nan"), "a vertex is assigned more than once"
        if set(ids.tolist()) != set(self.graph.nodes):
            return False, float("nan"), "assignment does not cover the vertex set"
        q = nx.community.modularity(
            self.graph, _communities(ids, assignment["community"]), weight="weight"
        )
        if abs(q - engine_q) > Q_TOL:
            return False, q, f"engine Q {engine_q!r} != oracle Q {q!r}"
        return True, q, ""


def _shingles(text: str, k: int = 3) -> set[str]:
    """Distinct k-token shingles, split on single spaces (a document
    shorter than k tokens is one shingle)."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))} - {""}


def near_dup_pairs(docs: pd.DataFrame, threshold: float) -> list[tuple[int, int]]:
    """Document pairs whose 3-shingle Jaccard is >= threshold."""
    sets = {int(d): _shingles(t) for d, t in zip(docs["doc_id"], docs["text"])}
    index: dict[str, list[int]] = defaultdict(list)
    for d, sh in sets.items():
        for s in sh:
            index[s].append(d)
    common: dict[tuple[int, int], int] = defaultdict(int)
    for members in index.values():
        for a, b in combinations(sorted(members), 2):
            common[(a, b)] += 1
    return [
        (a, b)
        for (a, b), c in common.items()
        if c / (len(sets[a]) + len(sets[b]) - c) >= threshold
    ]


class DupClusterCheck:
    """Dedup output: every document appears once with ``cluster`` = the
    minimum doc_id of its near-duplicate component and ``keep`` true
    exactly for that minimum."""

    def __init__(self, docs: pd.DataFrame, threshold: float):
        pairs = near_dup_pairs(docs, threshold)
        parent = {int(d): int(d) for d in docs["doc_id"]}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        self.expected = {d: find(d) for d in parent}
        self.graph = nx.Graph(pairs)

    def __call__(self, out: pd.DataFrame):
        ids = out["doc_id"].tolist()
        if len(ids) != len(set(ids)) or set(ids) != set(self.expected):
            return False, float("nan"), "output rows are not one per document"
        got = dict(zip(ids, out["cluster"].tolist()))
        keep = dict(zip(ids, out["keep"].tolist()))
        bad = [d for d, c in self.expected.items() if got[d] != c or keep[d] != (c == d)]
        nodes = set(self.graph.nodes)
        q = nx.community.modularity(
            self.graph, _communities([d for d in ids if d in nodes],
                                     [got[d] for d in ids if d in nodes])
        ) if nodes else float("nan")
        if bad:
            return False, q, f"{len(bad)} documents in the wrong cluster (first {bad[0]})"
        return True, q, ""
