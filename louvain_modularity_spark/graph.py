"""Graph sources, normalization, degrees, coarsening (SURVEY.md §2.1–2.3, §2.5).

Graph model (SURVEY.md §1.2): ``edges(src LONG, dst LONG, weight
DOUBLE)`` stored ONCE per undirected pair (self-loops allowed, stored
once); assignment tables ``(id LONG, community LONG)``.

Degree semantics match the reference (networkx ``G.degree(weight=...)``,
NX/classes/graph.py:1511): an edge contributes its weight at both
endpoints, so a self-loop counts twice; graph size ``m`` counts every
stored edge once (NX/classes/graph.py:1918).
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .session import collect_if_small, env_int, lineage_cut

from .sources import (
    COPURCHASE_EDGES_SQL,
    KARATE_EDGELIST,
    KARATE_WEIGHTED_EDGELIST,
    SUPPLIER_OFFSET,
    copurchase_edges,
    karate_edges,
    load,
)

# ---------------------------------------------------------------------------
# core graph algebra (operators)
# ---------------------------------------------------------------------------

#: per-vertex state tables at or below this many rows get an explicit
#: broadcast hint in the iterative engines' edge⋈state joins (r19,
#: guide §3.1): iterative state is a localCheckpoint RDD whose size
#: estimate is the planner default (huge), so Spark re-shuffles the
#: STATIC edge table every superstep unless told the state side fits.
#: 8M rows of (long, long/double) builds a ~300 MB hash relation —
#: inside the "few hundred MB is usually fine" broadcast envelope and
#: far under the 8 GB / 512M-row hard cap; above the threshold the
#: callers keep the shuffle join (the 100 TB shape, where per-vertex
#: state outgrows every executor). SPARK_GRAFT_BROADCAST_STATE_ROWS
#: lowers it for small executors.
BROADCAST_STATE_ROWS = env_int("SPARK_GRAFT_BROADCAST_STATE_ROWS", 8_000_000)


def maybe_broadcast(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Explicit broadcast hint when a DRIVER-KNOWN row count (or a safe
    upper bound — the gate is a memory bound, so any over-estimate is
    conservative) fits BROADCAST_STATE_ROWS; the caller's shuffle plan
    otherwise. Values are unaffected: a broadcast hash join emits the
    same multiset as the sort-merge/shuffled-hash join it replaces."""
    if n_rows is not None and n_rows <= BROADCAST_STATE_ROWS:
        return F.broadcast(df)
    return df


def min_id_components(a, b) -> dict[int, int]:
    """In-driver union-find over the pairs ``zip(a, b)``: maps every
    endpoint to the minimum id of its connected component — the labels
    the distributed min-propagation engines converge to, so each hybrid
    tail closes with it. Union by min root with path halving; the
    result does not depend on pair order (a root is always its
    component's minimum id)."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(a, b):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected expansion: every non-loop edge visible from both
    endpoints (the relational analogue of the adjacency view
    NX/classes/graph.py:410). Self-loops stay single so neighbor
    aggregations exclude them naturally via src != dst filters."""
    swapped = edges.filter(F.col("src") != F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    return edges.unionByName(swapped)


def degree_weighted(edges: DataFrame) -> DataFrame:
    """Weighted degree (strength): Σ incident weights per node; a
    self-loop row (src==dst) contributes at both endpoints → ×2,
    matching NX degree semantics."""
    endpoints = edges.select(F.col("src").alias("id"), "weight").unionByName(
        edges.select(F.col("dst").alias("id"), "weight")
    )
    return endpoints.groupBy("id").agg(F.sum("weight").alias("degree"))


def graph_size_m(edges: DataFrame) -> DataFrame:
    """Total edge weight m (each stored edge once) + edge/vertex counts."""
    counts = edges.agg(
        F.sum("weight").alias("m"), F.count("*").alias("n_edges")
    )
    n_vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .agg(F.countDistinct("id").alias("n_vertices"))
    )
    return counts.crossJoin(n_vertices)


def aggregate_parallel_edges(multi_edges: DataFrame) -> DataFrame:
    """Multigraph → simple graph, parallel edge weights summed
    (reference semantics: _convert_multigraph,
    NX/algorithms/community/louvain.py:372-384)."""
    return multi_edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))


def coarsen_edges(
    edges: DataFrame, assignment: DataFrame, directed: bool = False
) -> DataFrame:
    """Phase-2 graph aggregation (reference: _gen_graph,
    NX/algorithms/community/louvain.py:352-369): one supernode per
    community; edge weights between/within communities summed. For
    undirected graphs the coarse edge is canonicalized (least,
    greatest); directed edges keep their orientation."""
    a_src = assignment.select(
        F.col("id").alias("src"), F.col("community").alias("com_src")
    )
    a_dst = assignment.select(
        F.col("id").alias("dst"), F.col("community").alias("com_dst")
    )
    joined = edges.join(a_src, "src").join(a_dst, "dst")
    if directed:
        keys = [F.col("com_src").alias("src"), F.col("com_dst").alias("dst")]
    else:
        keys = [
            F.least("com_src", "com_dst").alias("src"),
            F.greatest("com_src", "com_dst").alias("dst"),
        ]
    return joined.groupBy(*keys).agg(F.sum("weight").alias("weight"))


def vertices_of(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def mod10_assignment(edges: DataFrame) -> DataFrame:
    """G2 synthetic deterministic assignment (FIXTURES.md §2):
    community := id % 10 — makes every Louvain building block
    oracle-checkable without running the nondeterministic loop."""
    return vertices_of(edges).select("id", F.pmod("id", F.lit(10)).alias("community"))


# ---------------------------------------------------------------------------
# declared queries (SURVEY.md §2.1–2.3, §2.5)
# ---------------------------------------------------------------------------

_KARATE_SQL = f"""
SELECT TRY_CAST(src AS BIGINT) AS src, TRY_CAST(dst AS BIGINT) AS dst, 1.0 AS weight
FROM read_csv('{KARATE_EDGELIST}', delim=' ', header=false, null_padding=true, auto_detect=false,
              columns={{'src':'VARCHAR','dst':'VARCHAR'}})
WHERE src NOT LIKE '#%'
"""

_KARATE_W_SQL = f"""
SELECT TRY_CAST(src AS BIGINT) AS src, TRY_CAST(dst AS BIGINT) AS dst,
       TRY_CAST(weight AS DOUBLE) AS weight
FROM read_csv('{KARATE_WEIGHTED_EDGELIST}', delim=' ', header=false, null_padding=true, auto_detect=false,
              columns={{'src':'VARCHAR','dst':'VARCHAR','weight':'VARCHAR'}})
WHERE src NOT LIKE '#%'
"""


def q_edges_from_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 weighted edge-list derivation from relational tables."""
    return copurchase_edges(spark, sf_dir)


def q_read_edgelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited edge-list scan: `u v w` lines, '#' comments, typed cast
    (reference: read_weighted_edgelist, NX/readwrite/edgelist.py:429)."""
    return karate_edges(spark, weighted=True)


def q_default_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing weight column → default 1.0 (reference: louvain.py:205
    `data=weight, default=1`). The unweighted fixture is read with a
    3-column schema so weight comes back NULL, then coalesced."""
    df = spark.read.csv(
        KARATE_EDGELIST,
        sep=" ",
        comment="#",
        schema="src LONG, dst LONG, weight DOUBLE",
    )
    return df.select(
        "src", "dst", F.coalesce("weight", F.lit(1.0)).alias("weight")
    )


ORACLE_DEFAULT_WEIGHT = f"""
SELECT TRY_CAST(src AS BIGINT) AS src, TRY_CAST(dst AS BIGINT) AS dst,
       COALESCE(TRY_CAST(weight AS DOUBLE), 1.0) AS weight
FROM read_csv('{KARATE_EDGELIST}', delim=' ', header=false, null_padding=true, auto_detect=false,
              columns={{'src':'VARCHAR','dst':'VARCHAR','weight':'VARCHAR'}})
WHERE src NOT LIKE '#%'
"""


def q_write_edgelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-list sink + round-trip: write the derived G1 edges as csv,
    json and parquet, read each back, report counts and total weight.
    The oracle recomputes both numbers straight from the relational
    source per format row, so every round trip must be lossless
    (weights are integer-valued doubles — text formats round-trip them
    exactly)."""
    edges = copurchase_edges(spark, sf_dir)
    out_root = os.path.join("/root/repo/.tmp", f"edgelist_{uuid.uuid4().hex[:8]}")
    results = []
    for fmt in ("csv", "parquet", "json"):
        path = os.path.join(out_root, fmt)
        if fmt == "csv":
            edges.write.mode("overwrite").option("header", True).csv(path)
            back = spark.read.option("header", True).csv(
                path, schema="src LONG, dst LONG, weight DOUBLE"
            )
        elif fmt == "json":
            edges.write.mode("overwrite").json(path)
            back = spark.read.json(path, schema="src LONG, dst LONG, weight DOUBLE")
        else:
            edges.write.mode("overwrite").parquet(path)
            back = spark.read.parquet(path)
        row = back.agg(
            F.count("*").alias("n_edges"), F.sum("weight").alias("total_weight")
        ).collect()[0]
        results.append((fmt, row["n_edges"], float(row["total_weight"])))
    return spark.createDataFrame(
        results, "format STRING, n_edges LONG, total_weight DOUBLE"
    )


def q_adjacency_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list → dense adjacency matrix via pivot, 0-filled
    (reference: to_pandas_adjacency, NX/convert_matrix.py:46).

    Deliberately small-n only: a dense n×n pivot is the canonical
    100 TB anti-pattern — at scale keep the edge list sparse; this
    operator exists for small-graph export parity. The fixture's fixed
    node ids make the dynamic pivot oracle-able as 34 generated
    conditional sums (_oracle_adjacency_pivot)."""
    edges = symmetrize(karate_edges(spark))
    node_ids = [str(i) for i in range(34)]
    return (
        edges.groupBy("src")
        .pivot("dst", node_ids)
        .sum("weight")
        .na.fill(0.0)
        .orderBy("src")
    )


def _oracle_adjacency_pivot() -> str:
    """The fixed 34-node fixture turns Spark's dynamic pivot into a
    static column list: one 0-filled conditional SUM per node id,
    matching pivot(dst, values).sum(weight).na.fill(0)."""
    cols = ",\n       ".join(
        f'SUM(CASE WHEN dst = {j} THEN weight ELSE 0.0 END) AS "{j}"'
        for j in range(34)
    )
    return f"""
WITH e AS ({_KARATE_SQL}),
sym AS (
  SELECT src, dst, CAST(weight AS DOUBLE) AS weight FROM e
  UNION ALL
  SELECT dst, src, CAST(weight AS DOUBLE) AS weight FROM e WHERE src <> dst
)
SELECT src,
       {cols}
FROM sym GROUP BY src
"""


def q_edge_agg_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-edge aggregation: the raw lineitem⋈orders rows form a
    multigraph (one edge per lineitem, weight 1); summing collapses it
    to the simple weighted graph."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    multi = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + F.lit(SUPPLIER_OFFSET)).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    return aggregate_parallel_edges(multi)


ORACLE_EDGE_AGG_PARALLEL = f"""
WITH multi AS (
  SELECT o_custkey AS src, l_suppkey + {SUPPLIER_OFFSET} AS dst,
         CAST(1.0 AS DOUBLE) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT src, dst, SUM(weight) AS weight FROM multi GROUP BY src, dst
"""


def q_symmetrize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return symmetrize(karate_edges(spark, weighted=True))


ORACLE_SYMMETRIZE = f"""
WITH e AS ({_KARATE_W_SQL})
SELECT src, dst, weight FROM e
UNION ALL
SELECT dst AS src, src AS dst, weight FROM e WHERE src <> dst
"""


def q_selfloop_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor maps exclude u==v (reference: louvain.py:267); self-loops
    still exist in the graph for degree/m purposes."""
    loops = spark.range(9).select(
        F.col("id").alias("src"),
        F.col("id").alias("dst"),
        (F.col("id") * 1000.0).alias("weight"),
    )
    edges = karate_edges(spark, weighted=True).unionByName(loops)
    return edges.filter(F.col("src") != F.col("dst"))


ORACLE_SELFLOOP_FILTER = f"""
WITH e AS (
  {_KARATE_W_SQL}
  UNION ALL
  SELECT i AS src, i AS dst, i * 1000.0 AS weight FROM range(9) t(i)
)
SELECT src, dst, weight FROM e WHERE src <> dst
"""


def q_degree_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted degree on karate + self-loops fixture (FIXTURES.md §3.4):
    self-loop weight counts twice, matching NX degree."""
    loops = spark.range(9).select(
        F.col("id").alias("src"),
        F.col("id").alias("dst"),
        (F.col("id") * 1000.0).alias("weight"),
    )
    edges = karate_edges(spark, weighted=True).unionByName(loops)
    return degree_weighted(edges)


ORACLE_DEGREE_WEIGHTED = f"""
WITH e AS (
  {_KARATE_W_SQL}
  UNION ALL
  SELECT i AS src, i AS dst, i * 1000.0 AS weight FROM range(9) t(i)
),
endpoints AS (
  SELECT src AS id, weight FROM e
  UNION ALL
  SELECT dst AS id, weight FROM e
)
SELECT id, SUM(weight) AS degree FROM endpoints GROUP BY id
"""


def q_degree_inout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed in/out weighted degree on the (directed) co-purchase
    graph customer → supplier."""
    edges = copurchase_edges(spark, sf_dir)
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("weight").alias("out_degree")
    )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.sum("weight").alias("in_degree")
    )
    return out_deg.join(in_deg, "id", "full").select(
        "id",
        F.coalesce("out_degree", F.lit(0.0)).alias("out_degree"),
        F.coalesce("in_degree", F.lit(0.0)).alias("in_degree"),
    )


ORACLE_DEGREE_INOUT = f"""
WITH e AS ({COPURCHASE_EDGES_SQL}),
o AS (SELECT src AS id, SUM(weight) AS out_degree FROM e GROUP BY 1),
i AS (SELECT dst AS id, SUM(weight) AS in_degree  FROM e GROUP BY 1)
SELECT COALESCE(o.id, i.id) AS id,
       COALESCE(out_degree, 0.0) AS out_degree,
       COALESCE(in_degree, 0.0)  AS in_degree
FROM o FULL OUTER JOIN i ON o.id = i.id
"""


def q_graph_size_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_size_m(copurchase_edges(spark, sf_dir))


ORACLE_GRAPH_SIZE_M = f"""
WITH e AS ({COPURCHASE_EDGES_SQL})
SELECT (SELECT SUM(weight) FROM e)   AS m,
       (SELECT COUNT(*) FROM e)     AS n_edges,
       (SELECT COUNT(DISTINCT id) FROM (
          SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)) AS n_vertices
"""


def q_coarsen_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return coarsen_edges(edges, mod10_assignment(edges))


ORACLE_COARSEN_EDGES = f"""
WITH e AS ({COPURCHASE_EDGES_SQL})
SELECT LEAST(src % 10, dst % 10)    AS src,
       GREATEST(src % 10, dst % 10) AS dst,
       SUM(weight)                  AS weight
FROM e GROUP BY 1, 2
"""


def q_membership_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supernode membership across two levels: original node → level-0
    community (id % 10) → level-1 community (community % 3), chained by
    join (replaces the reference's set-valued supernode attr,
    NX/algorithms/community/louvain.py:356-361)."""
    edges = copurchase_edges(spark, sf_dir)
    level0 = mod10_assignment(edges)
    level1 = (
        level0.select("community")
        .distinct()
        .select(
            F.col("community").alias("id"),
            F.pmod("community", F.lit(3)).alias("community"),
        )
    )
    return (
        level0.alias("l0")
        .join(level1.alias("l1"), F.col("l0.community") == F.col("l1.id"))
        .select(
            F.col("l0.id").alias("id"),
            F.col("l0.community").alias("community_l0"),
            F.col("l1.community").alias("community_final"),
        )
    )


ORACLE_MEMBERSHIP_ROLLUP = f"""
WITH e AS ({COPURCHASE_EDGES_SQL}),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e))
SELECT id, id % 10 AS community_l0, (id % 10) % 3 AS community_final FROM v
"""


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count by DEGREE-ORIENTED wedge closing — the
    scale-correct formulation: orient every undirected edge from the
    lower-(degree, id) endpoint to the higher one, form wedges at the
    low-degree apex, and close them against the oriented edge list.
    Orientation bounds wedge fan-out by O(m^1.5) total (a hub only
    fans out to its few HIGHER-degree neighbors), where id-orientation
    would explode on power-law graphs. The count is
    orientation-invariant, so the SQL oracle can use plain
    id-orientation and still match."""
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    # Total order WITHOUT ranking: (deg, id) is already a total order
    # over vertices, so orient each edge by the composite struct
    # comparison directly — two partitioned degree joins, no
    # row_number(), no single-partition global Window (the r6 verdict's
    # one scale-killer: one task sorting 10^9 vertices). The oriented
    # edge keeps its head's (deg, id) so downstream comparisons stay in
    # the same order.
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    a_first = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    o = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("hd"),
        )
    )
    wedges = (
        o.alias("x")
        .join(o.alias("y"), "lo")
        .filter(
            F.struct(F.col("x.hd"), F.col("x.hi"))
            < F.struct(F.col("y.hd"), F.col("y.hi"))
        )
        .select(F.col("x.hi").alias("lo"), F.col("y.hi").alias("hi"))
    )
    return wedges.join(o.select("lo", "hi"), ["lo", "hi"]).agg(
        F.count("*").alias("n_triangles")
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of karate ∪ a disjoint 4-clique (45 + 4 = 49;
    the co-purchase graph is bipartite, hence triangle-free — dull)."""
    extra = spark.createDataFrame(
        [(100, 101, 1.0), (100, 102, 1.0), (100, 103, 1.0),
         (101, 102, 1.0), (101, 103, 1.0), (102, 103, 1.0)],
        "src LONG, dst LONG, weight DOUBLE",
    )
    return triangle_count(karate_edges(spark).unionByName(extra))


def _oracle_triangle_count() -> str:
    return f"""
WITH e AS (
  {_KARATE_SQL}
  UNION ALL
  SELECT * FROM (VALUES (100, 101, 1.0), (100, 102, 1.0), (100, 103, 1.0),
                        (101, 102, 1.0), (101, 103, 1.0), (102, 103, 1.0)) t(src, dst, weight)
),
o AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM e WHERE src <> dst
)
SELECT COUNT(*) AS n_triangles
FROM o e1 JOIN o e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN o e3 ON e3.a = e1.b AND e3.b = e2.b
"""


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    iters: int = 20,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank by power iteration over the edge DataFrame
    (Pregel-style superstep = one join + one aggregate per iteration;
    same execution model as connected_components/label_propagation).
    Dangling-node mass is redistributed uniformly each step (the
    standard stochastic-matrix fix), so total rank stays n.

    Scale: per iteration one shuffle of E contributions (map-side
    combined) + one of n ranks; static out-degree table cached;
    lineage truncated per iteration. The dangling-node mass is a
    1-row aggregate folded into the rank update as a broadcast
    crossJoin — no per-superstep driver collect, so each superstep
    is one job. Graphs with NO dangling nodes (every symmetrized /
    undirected input, detected once up front) skip the per-step
    scalar entirely — its mass is identically 0 — which both removes
    an aggregate per superstep and makes eigenvector-cadence
    checkpoint batching safe (with the scalar present, batching
    re-evaluates the un-truncated chain under each step's aggregate —
    the quadratic A/B recorded below). Returns (id, rank) with
    Σ rank = n (networkx-convention × n)."""
    verts = vertices_of(edges).transform(lineage_cut)
    n = verts.count()
    if n == 0:
        return verts.select("id", F.lit(1.0).alias("rank"))
    wout = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("weight").alias("wout")
    )
    base = verts.join(wout, "id", "left").transform(lineage_cut)
    has_dangling = not base.filter(F.col("wout").isNull()).isEmpty()
    if not has_dangling:
        ranks = base.select("id", "wout", F.lit(1.0).alias("rank"))
        # NOT broadcast-gated (r19 A/B): with the batched 5-step
        # lineage cadence, every per-step broadcast build re-executes
        # the uncut chain below it — quadratic in the batch length,
        # measured 11.9 s → 44.3 s. The eager-cut-per-round engines
        # (LPA/CC/HITS/betweenness) broadcast cheaply because their
        # build side is always a materialized checkpoint; this loop's
        # is not, by its own A/B'd design.
        for it in range(iters):
            contribs = (
                edges.join(
                    ranks.select(
                        F.col("id").alias("src"),
                        "rank",
                        F.col("wout").alias("w_src"),
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(
                    F.sum(
                        F.col("rank") * F.col("weight") / F.col("w_src")
                    ).alias("flow")
                )
            )
            ranks = base.join(contribs, "id", "left").select(
                "id",
                "wout",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("flow", F.lit(0.0))
                ).alias("rank"),
            )
            if (it + 1) % 5 == 0 or it == iters - 1:
                ranks = ranks.transform(lineage_cut)
        return ranks.select("id", "rank")
    ranks = base.select("id", "wout", F.lit(1.0).alias("rank"))
    for _ in range(iters):
        contribs = (
            edges.join(
                ranks.select(
                    F.col("id").alias("src"), "rank", F.col("wout").alias("w_src")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("weight") / F.col("w_src")).alias("flow"))
        )
        dangling = ranks.filter(F.col("wout").isNull()).agg(
            (F.coalesce(F.sum("rank"), F.lit(0.0)) / F.lit(float(n))).alias(
                "dm_per_node"
            )
        )
        ranks = (
            base.join(contribs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                "wout",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce("flow", F.lit(0.0)) + F.col("dm_per_node"))
                ).alias("rank"),
            )
        )
        # Per-iteration checkpoint is DELIBERATE (r7 A/B): batching to
        # the eigenvector cadence (every 5) measured 14.1 s vs 12.7 s
        # on the 50-step fixture — each iteration's dangling-mass
        # broadcast aggregates over the un-truncated ranks chain, so
        # within a batch every broadcast re-evaluates all iterations
        # below it (quadratic in the batch length). Eigenvector can
        # batch because its recurrence has no per-step scalar
        # aggregate; PageRank's dangling term is exactly such a
        # scalar, so the lineage must be cut where it is computed.
        ranks = ranks.transform(lineage_cut)
    return ranks.select("id", "rank")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on symmetrized karate, PAGERANK_ITERS iterations
    (oracle: the recurrence unrolled as MATERIALIZED CTEs —
    _oracle_pagerank; networkx power-iteration golden in tests)."""
    sym = symmetrize(karate_edges(spark))
    return pagerank(spark, sym, iters=PAGERANK_ITERS).select(
        "id", F.round("rank", 6).alias("rank")
    )


#: q_pagerank's fixed budget — the oracle unrolls exactly this many steps
PAGERANK_ITERS = 50
PAGERANK_DAMPING = 0.85


def _oracle_pagerank() -> str:
    """Unrolled-CTE PageRank oracle (the eigenvector-oracle pattern):
    symmetrized karate has no dangling vertices, so the recurrence is
    r ← (1−d) + d·Σ_in r·w/wout with no dangling term. The (1−d)
    constant is emitted with PYTHON float repr — Spark computes
    ``F.lit(1.0 - 0.85)`` = 0.15000000000000002, one ulp off the SQL
    literal 0.15, which would drift over 50 iterations."""
    base = 1.0 - PAGERANK_DAMPING
    parts = [
        f"e AS MATERIALIZED ({_KARATE_SQL})",
        "sym AS MATERIALIZED (SELECT src, dst, CAST(weight AS DOUBLE) AS weight FROM e"
        " WHERE src <> dst"
        " UNION ALL SELECT dst, src, CAST(weight AS DOUBLE) AS weight FROM e"
        " WHERE src <> dst)",
        "wo AS MATERIALIZED (SELECT src AS id, SUM(weight) AS wout FROM sym GROUP BY 1)",
        "r0 AS MATERIALIZED (SELECT id, wout, CAST(1.0 AS DOUBLE) AS rank FROM wo)",
    ]
    for k in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f"r{k} AS MATERIALIZED ("
            f"SELECT w.id, w.wout, {base!r} + {PAGERANK_DAMPING!r} *"
            f" COALESCE(f.flow, CAST(0.0 AS DOUBLE)) AS rank"
            f" FROM wo w LEFT JOIN ("
            f"SELECT sym.dst AS id, SUM(p.rank * sym.weight / p.wout) AS flow"
            f" FROM r{k-1} p JOIN sym ON sym.src = p.id GROUP BY sym.dst"
            f") f ON f.id = w.id)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, ROUND(rank, 6) AS rank FROM r{PAGERANK_ITERS}"
    )


def core_numbers(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """k-core decomposition by distributed peeling (Batagelj–Zaveršnik
    order, synchronized): for k = 1, 2, … repeatedly delete all nodes
    of remaining degree < k; a node deleted while peeling at level k
    has core number k−1. Output: (id, core).

    100 TB shape: each peel is one map-side-combined degree aggregate
    + one broadcast anti-join of the (small) victim set against the
    remaining edge list, with lineage_cut truncation per
    peel; the surviving graph only shrinks, so late iterations are
    cheap. O(Σ per-level peels) rounds — the same superstep budget as
    the Pregel formulations of this algorithm."""
    sym = symmetrize(edges).filter(F.col("src") != F.col("dst"))
    alive = sym.transform(lineage_cut)
    assigned: list[DataFrame] = []
    k = 1
    while True:
        if alive.isEmpty():
            break
        while True:
            deg = alive.groupBy("src").agg(F.count("*").alias("deg"))
            victims = deg.filter(F.col("deg") < k).select("src")
            if victims.isEmpty():
                break
            assigned.append(
                victims.select(
                    F.col("src").alias("id"), F.lit(k - 1).alias("core")
                ).transform(lineage_cut)
            )
            v = F.broadcast(victims)
            alive = (
                alive.join(v, "src", "left_anti")
                .join(v.withColumnRenamed("src", "dst"), "dst", "left_anti")
                .select("src", "dst", "weight")
                .transform(lineage_cut)
            )
        survivors = alive.select(F.col("src").alias("id")).distinct()
        if survivors.isEmpty():
            break
        assigned.append(
            survivors.select("id", F.lit(k).alias("core")).transform(lineage_cut)
        )
        k += 1
    if not assigned:
        return vertices_of(edges).select("id", F.lit(0).alias("core"))
    out = assigned[0]
    for extra in assigned[1:]:
        out = out.unionByName(extra)
    # a node is re-assigned at every k it survives; its core number is
    # the max level reached
    return out.groupBy("id").agg(F.max("core").alias("core"))


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core numbers of the karate fixture (oracle: the peel unrolled
    as MATERIALIZED CTEs — _oracle_kcore; networkx core_number golden
    in tests/test_coverage.py::test_kcore_golden)."""
    return core_numbers(spark, karate_edges(spark))


#: unroll budget for _oracle_kcore — karate's max core is 4 (networkx
#: golden), so level 5 peels to empty; the deepest measured inner
#: fixpoint is 3 steps (level 5), and the peel operator is idempotent
#: at fixpoint, so the +2 margin can only re-produce the same set
KCORE_LEVELS = 5
KCORE_STEPS = 5


def _oracle_kcore() -> str:
    """Unrolled-CTE k-core oracle (the q_pagerank unrolling pattern
    applied to a peel): the level-k core is the UNIQUE maximal
    subgraph of minimum degree k, and one peel step — keep edges whose
    both endpoints currently have degree ≥ k — is exactly
    core_numbers' inner iteration, idempotent once the fixpoint is
    reached. So a FIXED fixture makes the 'data-dependent fixpoint'
    fixed-step unrollable: KCORE_STEPS peels per level over-cover the
    measured depth, levels chain (level k starts from level k−1's
    fixpoint, as the DataFrame loop's carried `alive` does), and
    core(v) = max k among the levels v survives."""
    parts = [
        f"e AS MATERIALIZED ({_KARATE_SQL})",
        "a1_0 AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst"
        " UNION ALL SELECT dst, src FROM e WHERE src <> dst)",
    ]
    survivors = []
    for k in range(1, KCORE_LEVELS + 1):
        for i in range(1, KCORE_STEPS + 1):
            prev = f"a{k}_{i - 1}"
            parts.append(
                f"a{k}_{i} AS MATERIALIZED ("
                f"SELECT src, dst FROM {prev}"
                f" WHERE src IN (SELECT src FROM {prev}"
                f" GROUP BY src HAVING COUNT(*) >= {k})"
                f" AND dst IN (SELECT src FROM {prev}"
                f" GROUP BY src HAVING COUNT(*) >= {k}))"
            )
        if k < KCORE_LEVELS:
            parts.append(
                f"a{k + 1}_0 AS MATERIALIZED"
                f" (SELECT src, dst FROM a{k}_{KCORE_STEPS})"
            )
        survivors.append(
            f"SELECT DISTINCT src AS id, {k} AS core FROM a{k}_{KCORE_STEPS}"
        )
    # core-0 floor: every vertex of the loop-free graph appears with
    # core 0, so a vertex that survives NO level (impossible while the
    # fixture's min degree is >= 1, but latent if it ever gains a
    # degree-0-after-loop-removal vertex) still gets a row — matching
    # core_numbers' "peeled at level k -> core k-1" floor instead of
    # silently dropping it (r12 ADVICE)
    survivors.append("SELECT DISTINCT src AS id, 0 AS core FROM a1_0")
    union = " UNION ALL ".join(survivors)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, CAST(MAX(core) AS INTEGER) AS core"
        f" FROM ({union}) GROUP BY id"
    )


def jaccard_node_pairs(edges: DataFrame, max_deg: int = 1000) -> DataFrame:
    """Neighborhood Jaccard similarity for node pairs sharing ≥1
    neighbor — the graph twin of n-gram document Jaccard, via the same
    inverted-index join: index nodes by neighbor, self-join the index.

    Skew bound (same policy as ngram_jaccard_pairs): a hub with d
    incident nodes fans out d² candidate pairs through the index, so
    neighbors with degree > ``max_deg`` are dropped from the *index*
    (pairs whose only common neighbor is an ultra-hub are not
    similar); union sizes keep FULL degrees, so surviving pairs stay
    exact."""
    sym = symmetrize(edges).filter(F.col("src") != F.col("dst"))
    nbrs = sym.select(F.col("src").alias("id"), F.col("dst").alias("nbr")).distinct()
    sizes = nbrs.groupBy("id").agg(F.count("*").alias("n_nbr"))
    hot = (
        nbrs.groupBy("nbr")
        .agg(F.count("*").alias("d"))
        .filter(F.col("d") > max_deg)
        .select("nbr")
    )
    cold = nbrs.join(F.broadcast(hot), "nbr", "left_anti")
    common = (
        cold.select(F.col("id").alias("id_a"), "nbr")
        .join(cold.select(F.col("id").alias("id_b"), "nbr"), "nbr")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_nbr").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_nbr").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def q_jaccard_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard over the karate fixture (link prediction /
    role similarity)."""
    return jaccard_node_pairs(karate_edges(spark))


def bfs_hops(spark: SparkSession, edges: DataFrame, source: int = 0) -> DataFrame:
    """Unweighted single-source shortest hops by frontier expansion —
    the canonical Pregel superstep rendered as DataFrame rounds: each
    round joins the current frontier against the cached adjacency and
    labels previously-unseen neighbors with hop+1. Output: (id, hops)
    for reachable nodes.

    100 TB shape: per round, only the FRONTIER (not the full vertex
    set) drives the join; visited state is the small (id, hops) table,
    checkpointed per round. O(diameter) rounds — small-world graphs
    finish in single digits."""
    sym = symmetrize(edges).filter(F.col("src") != F.col("dst")).persist()
    state = spark.createDataFrame(
        [(source, 0)], "id LONG, hops INT"
    ).transform(lineage_cut)
    frontier = state
    n_state = n_frontier = 1
    h = 0
    while True:
        h += 1
        reached = (
            sym.join(
                maybe_broadcast(frontier.select(F.col("id").alias("src")), n_frontier),
                "src",
            )
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        # lazy cut + count: one job materializes the level and answers
        # the old isEmpty probe; counts feed the broadcast gates
        newly = reached.join(maybe_broadcast(state, n_state), "id", "left_anti").select(
            "id", F.lit(h).cast("int").alias("hops")
        ).transform(lambda df: lineage_cut(df, eager=False))
        # fused level probe (r20, the betweenness-forward fusion): ONE
        # count over the lazily-cut union materializes the frontier AND
        # the unioned state checkpoints and yields the frontier size as
        # a delta — was a separate count + eager union cut. The
        # checkpointed union itself stays (r7 A/B: a lazy multi-frame
        # union makes the anti-join re-scan every level frame).
        new_state = state.unionByName(newly).transform(
            lambda df: lineage_cut(df, eager=False)
        )
        n_new_state = new_state.count()
        n_frontier = n_new_state - n_state
        state = new_state
        if n_frontier == 0:
            break
        n_state = n_new_state
        frontier = newly
    sym.unpersist()
    return state


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop counts from node 0 on the karate fixture."""
    return bfs_hops(spark, karate_edges(spark), source=0)


def _oracle_bfs_hops() -> str:
    return f"""
WITH RECURSIVE e AS ({_KARATE_SQL}),
sym AS (
  SELECT src, dst FROM e WHERE src <> dst
  UNION SELECT dst, src FROM e WHERE src <> dst
),
walk(id, d) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT sym.dst, walk.d + 1
  FROM walk JOIN sym ON sym.src = walk.id
  WHERE walk.d < 40
)
SELECT id, CAST(MIN(d) AS INTEGER) AS hops FROM walk GROUP BY id
"""


ORACLE_JACCARD_NODES = f"""
WITH e AS ({_KARATE_SQL}),
sym AS (
  SELECT src, dst FROM e WHERE src <> dst
  UNION SELECT dst, src FROM e WHERE src <> dst
),
nbrs AS (SELECT DISTINCT src AS id, dst AS nbr FROM sym),
sizes AS (SELECT id, COUNT(*) AS n_nbr FROM nbrs GROUP BY 1),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM nbrs a JOIN nbrs b ON a.nbr = b.nbr AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       CAST(n_common AS DOUBLE) / (sa.n_nbr + sb.n_nbr - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
"""


# ---------------------------------------------------------------------------
# directed SCC (coloring algorithm) and all-pairs closeness
# ---------------------------------------------------------------------------

#: deterministic directed karate variant: every stored edge keeps its
#: src→dst orientation, and edges with (src+dst) % 3 == 0 also get the
#: reverse arc — yields SCC sizes [15, 13, 1×6], a nontrivial fixture
KARATE_DIRECTED_SQL_MOD = 3

_KARATE_DIRECTED_SQL = f"""
WITH ke AS ({_KARATE_SQL})
SELECT src, dst FROM ke
UNION ALL
SELECT dst AS src, src AS dst FROM ke WHERE (src + dst) % {KARATE_DIRECTED_SQL_MOD} = 0
"""


def karate_directed(spark: SparkSession) -> DataFrame:
    """Directed karate fixture matching _KARATE_DIRECTED_SQL."""
    e = karate_edges(spark).select("src", "dst")
    back = e.filter(
        (F.col("src") + F.col("dst")) % KARATE_DIRECTED_SQL_MOD == 0
    ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return e.unionByName(back)


def strongly_connected_components(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Strongly connected components of a directed graph by the
    coloring algorithm (Orzan 2004; the standard distributed SCC):
    repeat until no vertices remain —

    1. *Color*: propagate max vertex id FORWARD to fixpoint; color[v] =
       max id that can reach v within the remaining subgraph.
    2. *Collect*: each color class has exactly one root (id == color,
       proof: reachers-of-v ⊇ reachers-of-u for any u→…→v). Grow the
       root's SCC BACKWARD along edges whose both endpoints share the
       color — exactly the vertices that reach the root and are reached
       by it.
    3. Remove the found SCCs and repeat on the remainder.

    Returns (id, scc) with scc = min member id (canonical labeling).

    100 TB shape: both fixpoints are the Pregel message pattern (edge
    join + max/exists aggregate, lineage truncated per round); each
    outer round removes every color root's SCC at once, so round count
    is small for the power-law graphs this runs on (worst case — a
    directed path — degrades to O(n), the algorithm's known bound).
    Convergence checks are 1-row counts, constant bytes to the driver.
    """
    E = edges.select("src", "dst").distinct().transform(lineage_cut)
    remaining = vertices_of(E).transform(lineage_cut)
    done: DataFrame | None = None
    while not remaining.isEmpty():
        ids = remaining.select("id")
        er = (
            E.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .transform(lineage_cut)
        )
        # 1. forward max-color fixpoint
        color = remaining.select("id", F.col("id").alias("color"))
        while True:
            msgs = er.join(
                color.select(F.col("id").alias("src"), "color"), "src"
            ).select(F.col("dst").alias("id"), "color")
            new = (
                color.unionByName(msgs)
                .groupBy("id")
                .agg(F.max("color").alias("color"))
                .transform(lineage_cut)
            )
            changed = (
                new.join(color.withColumnRenamed("color", "old"), "id")
                .filter(F.col("color") != F.col("old"))
                .limit(1)
                .count()
            )
            color = new
            if changed == 0:
                break
        # 2. backward growth from roots within equal color
        marked = color.filter(F.col("id") == F.col("color")).transform(lineage_cut)
        n_marked = marked.count()
        while True:
            msgs = er.join(
                marked.select(F.col("id").alias("dst"), F.col("color").alias("mcolor")),
                "dst",
            ).select(F.col("src").alias("id"), "mcolor")
            grow = (
                msgs.join(color, "id")
                .filter(F.col("color") == F.col("mcolor"))
                .select("id", "color")
            )
            new_marked = (
                marked.unionByName(grow).distinct().transform(lineage_cut)
            )
            n_new = new_marked.count()
            if n_new == n_marked:
                break
            marked, n_marked = new_marked, n_new
        comp = marked.select("id", F.col("color").alias("scc"))
        done = comp if done is None else done.unionByName(comp)
        done = done.transform(lineage_cut)
        remaining = remaining.join(marked.select("id"), "id", "left_anti").transform(lineage_cut)
    # canonical labels: scc = min member id
    relabel = done.groupBy("scc").agg(F.min("id").alias("scc_min"))
    return done.join(relabel, "scc").select("id", F.col("scc_min").alias("scc"))


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCCs of the directed karate fixture (8 components, sizes 15/13
    and 6 singletons). Oracle: mutual-reachability transitive closure
    via recursive CTE — exact ground truth at fixture scale; the
    engine ships the coloring algorithm, which never materializes the
    closure."""
    return strongly_connected_components(spark, karate_directed(spark))


# NOTE: ke is a sibling CTE (not nested inside e) — DuckDB's RECURSIVE
# binder does not resolve a WITH nested inside another CTE body here
ORACLE_SCC = f"""
WITH RECURSIVE ke AS ({_KARATE_SQL}),
e AS (
  SELECT src, dst FROM ke
  UNION ALL
  SELECT dst AS src, src AS dst FROM ke
  WHERE (src + dst) % {KARATE_DIRECTED_SQL_MOD} = 0
),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
r(a, b) AS (
  SELECT id, id FROM v
  UNION
  SELECT r.a, e.dst FROM r JOIN e ON e.src = r.b
)
SELECT r1.a AS id, MIN(r1.b) AS scc
FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a
GROUP BY r1.a
"""


#: BFS round budget for all-pairs hop distances on the karate fixture
#: (diameter 5; asserted against networkx eccentricity in tests)
CLOSENESS_MAX_HOPS = 6


def all_pairs_hops(
    spark: SparkSession,
    edges: DataFrame,
    max_hops: int,
    sources: list | None = None,
) -> DataFrame:
    """Shortest hop counts by MULTI-source BFS: the state is
    (source, id, dist) and every source's frontier advances in the same
    superstep — one edge join + one min-aggregate per round for ALL
    sources, instead of |sources| sequential BFS runs. Rounds = diameter.

    ``sources=None`` runs exact all-pairs — state O(V²), only for
    bounded vertex sets (the closeness fixture query). The 100 TB path
    passes a sampled source list: state O(samples·V), cost
    O(samples·E) per round — the standard approximation. The per-round
    plan (join on src, min-agg on (source, id)) is identical either
    way."""
    sym = (
        symmetrize(edges)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .transform(lineage_cut)
    )
    verts = vertices_of(edges)
    seeds = (
        verts
        if sources is None
        else verts.filter(F.col("id").isin([int(s) for s in sources]))
    )
    dist = seeds.select(
        F.col("id").alias("source"), "id", F.lit(0).cast("int").alias("dist")
    )
    for _ in range(max_hops):
        contrib = dist.join(
            sym.withColumnRenamed("src", "id"), "id"
        ).select("source", F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionByName(contrib)
            .groupBy("source", "id")
            .agg(F.min("dist").alias("dist"))
            .transform(lineage_cut)
        )
    return dist


def closeness(
    spark: SparkSession,
    edges: DataFrame,
    max_hops: int,
    sources: list | None = None,
) -> DataFrame:
    """Closeness centrality. ``sources=None``: exact (n−1)/Σd per node
    from all-pairs BFS — O(V²) state, fixture-bounded. With a sampled
    source list: the Eppstein–Wang (2001) estimator
    ĉ(v) = k·(n−1) / (n·Σ_{s∈S} d(s,v)) for EVERY node v (distances
    from sampled sources, symmetric graph) — state O(samples·V), the
    100 TB path. Output: (source, closeness) exact / (id, closeness)
    sampled."""
    d = all_pairs_hops(spark, edges, max_hops, sources=sources)
    if sources is None:
        return d.groupBy("source").agg(
            F.round((F.count("*") - F.lit(1)) / F.sum("dist"), 6).alias("closeness")
        )
    n = vertices_of(edges).count()
    k = float(len(sources))
    return d.groupBy("id").agg(
        F.round(
            F.lit(k * (n - 1)) / (F.lit(float(n)) * F.sum("dist")), 6
        ).alias("closeness")
    )


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality (n−1)/Σd per node on the karate fixture via
    multi-source BFS (6 rounds ≥ diameter 5 — true distances, golden
    vs networkx closeness_centrality in tests)."""
    return closeness(spark, karate_edges(spark), CLOSENESS_MAX_HOPS)


ORACLE_CLOSENESS = f"""
WITH RECURSIVE e AS ({_KARATE_SQL}),
sym AS (
  SELECT src, dst FROM e WHERE src <> dst
  UNION SELECT dst, src FROM e WHERE src <> dst
),
v AS (SELECT DISTINCT src AS id FROM sym),
walk(source, id, d) AS (
  SELECT id, id, 0 FROM v
  UNION
  SELECT walk.source, sym.dst, walk.d + 1
  FROM walk JOIN sym ON sym.src = walk.id
  WHERE walk.d < {CLOSENESS_MAX_HOPS}
),
dist AS (SELECT source, id, MIN(d) AS d FROM walk GROUP BY source, id)
SELECT source, ROUND((COUNT(*) - 1.0) / SUM(d), 6) AS closeness
FROM dist GROUP BY source
"""


# ---------------------------------------------------------------------------
# betweenness centrality (Brandes)
# ---------------------------------------------------------------------------


def betweenness(
    spark: SparkSession,
    edges: DataFrame,
    max_hops: int,
    sources: list | None = None,
) -> DataFrame:
    """Betweenness centrality by Brandes' algorithm (Brandes 2001),
    all sources advanced simultaneously. ``sources=None`` is exact
    (every vertex a source); a sampled source list gives the
    Brandes–Pich (2007) estimator B̂(v) = (n/k)·Σ_{s∈S} δ_s(v)/2 —
    state O(samples·V) instead of O(V²), identical per-level plans.

    Forward: level-synchronous multi-source BFS carrying σ (number of
    shortest paths): a node first reached at level h gets
    σ = Σ σ(predecessors at level h−1). One edge join + one sum
    aggregate per level, for every source at once.

    Backward: dependency accumulation δ(v) = Σ_{w: d(w)=d(v)+1}
    σ(v)/σ(w) · (1+δ(w)), processed one level at a time from the
    deepest frontier inward — again one edge join + one aggregate per
    level. B(v) = Σ_sources δ(source, v) / 2 (undirected halving).

    No stage ever materializes paths; σ and δ are the only state."""
    sym = (
        symmetrize(edges)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .transform(lineage_cut)
    )
    verts = vertices_of(edges)
    # one count up front serves double duty (r19): the Brandes–Pich
    # scale denominator AND the broadcast gate for every per-level
    # state join below — σ/δ state is O(sources·V) rows, so when V (an
    # upper bound via the running n_state counter) fits the broadcast
    # envelope the static edge table never reshuffles per level.
    n_verts = verts.count()
    seeds = (
        verts
        if sources is None
        else verts.filter(F.col("id").isin([int(s) for s in sources]))
    )
    # forward: dist + sigma, level by level
    state = seeds.select(
        F.col("id").alias("source"),
        "id",
        F.lit(0).cast("int").alias("dist"),
        F.lit(1.0).alias("sigma"),
    ).transform(lineage_cut)
    frontier = state
    n_state = n_frontier = n_verts if sources is None else len(sources)
    for h in range(1, max_hops + 1):
        msgs = maybe_broadcast(frontier, n_frontier).join(
            sym.withColumnRenamed("src", "id"), "id"
        ).select("source", F.col("dst").alias("id"), "sigma")
        # lazy cut on the level frontier; its checkpoint materializes
        # inside the unioned-state count below
        newly = (
            msgs.join(
                maybe_broadcast(state.select("source", "id"), n_state),
                ["source", "id"],
                "left_anti",
            )
            .groupBy("source", "id")
            .agg(F.sum("sigma").alias("sigma"))
            .select("source", "id", F.lit(h).cast("int").alias("dist"), "sigma")
            .transform(lambda df: lineage_cut(df, eager=False))
        )
        # fused level probe (r20): ONE count over the lazily-cut union
        # materializes the level's frontier checkpoint AND the unioned
        # state checkpoint AND yields the frontier size as the delta
        # against the running total — the r19 shape paid a separate
        # frontier count before the eager union cut (2 driver calls /
        # 3 SQL executions per level → 1 / 2). The checkpointed union
        # itself stays (the r7 A/B against a lazy multi-frame union
        # still holds: the anti-join must not re-scan every level
        # frame). On the final level the union rewrite is computed for
        # rows identical to the old state — one extra n_state-scan once
        # per query, bought back by the per-level savings.
        new_state = state.unionByName(newly).transform(
            lambda df: lineage_cut(df, eager=False)
        )
        n_new_state = new_state.count()
        n_frontier = n_new_state - n_state
        state = new_state
        if n_frontier == 0:
            break
        n_state = n_new_state
        frontier = newly
    max_level = state.agg(F.max("dist")).collect()[0][0]
    # backward: per-level dependency accumulation. Brandes' δ(v) takes
    # contributions ONLY from nodes one level deeper, so each level's
    # delta rows are final the moment they're computed — keep one small
    # frame per level instead of rewriting (and re-checkpointing) the
    # whole O(sources·V) state every level: total checkpoint volume is
    # one pass over the state, not diameter passes over it.
    # backward levels are lazy cuts (r20): no loop decision reads them,
    # so the whole dependency accumulation materializes bottom-up in
    # the ONE execution that consumes the final union — max_level
    # driver calls and SQL executions collapse into one, while each
    # level still checkpoints (localCheckpoint persists its blocks on
    # first computation, so the two consumers — the next level's
    # `deeper` side and the final union — share one evaluation).
    by_level: dict[int, DataFrame] = {
        max_level: state.filter(F.col("dist") == max_level)
        .select("source", "id", "sigma", F.lit(0.0).alias("delta"))
        .transform(lambda df: lineage_cut(df, eager=False))
    }
    for level in range(max_level, 0, -1):
        # per-level σ/δ frames are all ≤ n_state rows — the same
        # driver-known broadcast bound as the forward pass
        deeper = by_level[level].select(
            F.col("id").alias("dst"),
            F.col("source").alias("w_source"),
            F.col("sigma").alias("sigma_w"),
            F.col("delta").alias("delta_w"),
        )
        up = state.filter(F.col("dist") == level - 1).select(
            "source", "id", F.col("sigma").alias("sigma_v")
        )
        contrib = (
            sym.join(maybe_broadcast(deeper, n_state), "dst")
            .select(
                F.col("src").alias("id"),
                F.col("w_source").alias("source"),
                "sigma_w",
                "delta_w",
            )
            .join(maybe_broadcast(up, n_state), ["source", "id"])
            .groupBy("source", "id")
            .agg(
                F.sum(
                    F.col("sigma_v") / F.col("sigma_w") * (1.0 + F.col("delta_w"))
                ).alias("d_new")
            )
        )
        by_level[level - 1] = (
            up.join(maybe_broadcast(contrib, n_state), ["source", "id"], "left")
            .select(
                "source",
                "id",
                F.col("sigma_v").alias("sigma"),
                F.coalesce("d_new", F.lit(0.0)).alias("delta"),
            )
            .transform(lambda df: lineage_cut(df, eager=False))
        )
    delta = by_level[0]
    for level in range(1, max_level + 1):
        delta = delta.unionByName(by_level[level])
    # Brandes–Pich extrapolation: sampled sums estimate k/n of the total
    scale = 1.0 if sources is None else n_verts / float(len(sources))
    return (
        delta.filter(F.col("source") != F.col("id"))
        .groupBy("id")
        .agg(F.round(F.sum("delta") * scale / 2.0, 6).alias("betweenness"))
    )


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact betweenness on the karate fixture (Brandes forward σ +
    backward δ passes). The oracle is an INDEPENDENT formulation — the
    pair-dependency identity B(v) = Σ_{s<t} σ(s,v)·σ(v,t)/σ(s,t) over
    [d(s,v)+d(v,t)=d(s,t)], with σ taken as shortest-walk counts from
    a bounded UNION ALL walk enumeration — so engine and oracle share
    no algorithmic structure; networkx golden in tests as a third
    witness."""
    return betweenness(spark, karate_edges(spark), CLOSENESS_MAX_HOPS)


ORACLE_BETWEENNESS = f"""
WITH RECURSIVE e AS ({_KARATE_SQL}),
sym AS (
  SELECT src, dst FROM e WHERE src <> dst
  UNION SELECT dst, src FROM e WHERE src <> dst
),
v AS (SELECT DISTINCT src AS id FROM sym),
walk(source, id, d) AS (
  SELECT id, id, 0 FROM v
  UNION ALL
  SELECT walk.source, sym.dst, walk.d + 1
  FROM walk JOIN sym ON sym.src = walk.id
  WHERE walk.d < {CLOSENESS_MAX_HOPS}
),
-- σ(s,t): number of shortest walks (shortest walks are simple paths)
sp AS (
  SELECT source, id, MIN(d) AS dist FROM walk GROUP BY source, id
),
sigma AS (
  SELECT w.source, w.id, sp.dist, CAST(COUNT(*) AS DOUBLE) AS sigma
  FROM walk w JOIN sp ON sp.source = w.source AND sp.id = w.id AND sp.dist = w.d
  GROUP BY w.source, w.id, sp.dist
),
pair_dep AS (
  SELECT sv.id AS v,
         SUM(sv.sigma * vt.sigma / st.sigma) AS dep
  FROM sigma sv
  JOIN sigma vt ON vt.source = sv.id
  JOIN sigma st ON st.source = sv.source AND st.id = vt.id
  WHERE sv.source <> sv.id AND vt.id <> sv.id AND st.source <> st.id
    AND sv.dist + vt.dist = st.dist
  GROUP BY sv.id
)
SELECT v.id, ROUND(COALESCE(dep, 0.0) / 2.0, 6) AS betweenness
FROM v LEFT JOIN pair_dep ON pair_dep.v = v.id
"""


# ---------------------------------------------------------------------------
# eigenvector centrality
# ---------------------------------------------------------------------------

#: power-iteration budget: (λ2/λ1)^60 ≈ 1.4e-8 on karate — converged
#: far below the 6-dp emission rounding
EIGEN_ITERS = 60


def eigenvector_centrality(
    spark: SparkSession, edges: DataFrame, iters: int = EIGEN_ITERS
) -> DataFrame:
    """Eigenvector centrality by UNNORMALIZED power iteration
    r ← A·r from the all-ones vector, normalized to unit L2 once at
    the end. Skipping per-step normalization keeps each superstep one
    edge join + one map-side-combined aggregate (no per-iteration
    scalar collect) and makes the recurrence exactly SQL-unrollable
    for the oracle; double range absorbs the λ₁^iters growth
    (λ₁≈6.7 on karate ⇒ ~1e49 at 60 iters, squared still ≪ 1e308).

    Scale shape: identical to pagerank/personalized_pagerank — cached
    static adjacency, per-round lineage truncation, state is one row
    per vertex."""
    sym = symmetrize(edges).transform(lineage_cut)
    verts = vertices_of(edges)
    # NOT broadcast-gated (r19 A/B): same quadratic-rebuild hazard as
    # pagerank — the 6-step batched lineage means each step's
    # broadcast build would re-execute the chain below it (measured
    # 5.7 s → 15.0 s with gates)
    r = verts.select("id", F.lit(1.0).alias("r"))
    for i in range(iters):
        r = (
            sym.join(r.select(F.col("id").alias("src"), "r"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("r") * F.col("weight")).alias("r"))
        )
        # truncate lineage only every few supersteps: an eager
        # checkpoint is a full job, and per-iteration checkpointing
        # makes the wall-clock all scheduling floor; a 6-deep
        # join/agg lineage is still far below planner limits
        if (i + 1) % 6 == 0 or i == iters - 1:
            r = r.transform(lineage_cut)
    norm = r.agg(F.sqrt(F.sum(F.col("r") * F.col("r"))).alias("nrm"))
    return r.crossJoin(norm).select("id", (F.col("r") / F.col("nrm")).alias("ev"))


def q_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality on karate, 60 power iterations, unit-L2
    normalized, 6 dp (oracle: the same recurrence unrolled as
    MATERIALIZED CTEs; networkx eigenvector_centrality golden in
    tests)."""
    return eigenvector_centrality(spark, karate_edges(spark)).select(
        "id", F.round("ev", 6).alias("ev")
    )


def _oracle_eigenvector() -> str:
    # DOUBLE casts everywhere: DuckDB infers 1.0 literals as DECIMAL and
    # 60 chained multiplications overflow the max DECIMAL scale
    parts = [
        f"e AS MATERIALIZED ({_KARATE_SQL})",
        "sym AS MATERIALIZED (SELECT src, dst, CAST(weight AS DOUBLE) AS weight FROM e"
        " UNION ALL SELECT dst, src, CAST(weight AS DOUBLE) AS weight FROM e"
        " WHERE src <> dst)",
        "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)",
        "r0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM v)",
    ]
    for k in range(1, EIGEN_ITERS + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT sym.dst AS id,"
            f" SUM(p.r * sym.weight) AS r"
            f" FROM r{k-1} p JOIN sym ON sym.src = p.id GROUP BY sym.dst)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, ROUND(r / (SELECT SQRT(SUM(r*r)) FROM r{EIGEN_ITERS}), 6)"
        f" AS ev FROM r{EIGEN_ITERS}"
    )


#: sampled-source budget for the co-purchase betweenness estimator
BETWEENNESS_SAMPLE_K = 8
#: BFS round budget on the co-purchase graph (bipartite, small diameter)
COPURCHASE_MAX_HOPS = 8


def q_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes–Pich sampled-source betweenness on the ~16k-vertex
    co-purchase graph — the SCALE path of q_betweenness (which stays
    exact on the 34-node fixture for the oracle): k=8 deterministic
    sources (smallest vertex ids), state O(k·V) instead of O(V²),
    estimator B̂(v) = (n/k)·Σ_s δ_s(v)/2. Estimator quality is pinned
    by the rank-correlation test on a known graph
    (tests/test_graph_algs.py::test_sampled_betweenness_rank_correlates);
    this query exists so the BENCH headline times the plan a 100 TB
    run would execute, not 34-node job-launch overhead. Oracle:
    _oracle_betweenness_sampled (r12) — the engine's own
    level-synchronous σ/δ shape unrolled over the fixed hop budget."""
    # checkpoint the derived edge list once (r19): the seed collect,
    # the symmetrized message graph and the vertex count inside
    # betweenness() all consume it — without the cut each re-ran the
    # lineitem⋈orders derivation from the parquet scans
    edges = copurchase_edges(spark, sf_dir).transform(lineage_cut)
    srcs = [
        r["id"]
        for r in vertices_of(edges)
        .orderBy("id")
        .limit(BETWEENNESS_SAMPLE_K)
        .collect()
    ]
    return betweenness(spark, edges, COPURCHASE_MAX_HOPS, sources=srcs)


def _oracle_betweenness_sampled() -> str:
    """Unrolled level-synchronous Brandes oracle for the SAMPLED
    estimator (r12): unlike ORACLE_BETWEENNESS's walk-enumeration
    identity — exponential off the 34-node fixture — this mirrors the
    engine's own polynomial two-pass shape: COPURCHASE_MAX_HOPS
    forward σ levels (anti-joined against the cumulative reached set,
    so over-unrolling past the true eccentricity yields empty levels),
    then the δ recurrence δ(v) = Σ_w σ_v/σ_w·(1+δ_w) unrolled from the
    deepest level inward (an empty level contributes nothing, exactly
    like the engine's max_level cut). Same per-row arithmetic and the
    same 6-dp emission rounding; the Brandes–Pich n/k scale is the
    same scalar expression."""
    K = BETWEENNESS_SAMPLE_K
    H = COPURCHASE_MAX_HOPS
    parts = [
        f"e AS MATERIALIZED ({COPURCHASE_EDGES_SQL})",
        # copurchase edges are canonical customer→supplier rows, so
        # symmetrize = both directions once (matches the engine's
        # non-deduplicating symmetrize on this input)
        "sym AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst"
        " UNION ALL SELECT dst AS src, src AS dst FROM e WHERE src <> dst)",
        "verts AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)",
        f"seeds AS (SELECT id FROM verts ORDER BY id LIMIT {K})",
        "st0 AS MATERIALIZED (SELECT id AS source, id, 0 AS dist,"
        " CAST(1.0 AS DOUBLE) AS sigma FROM seeds)",
        "f0 AS (SELECT * FROM st0)",
    ]
    for h in range(1, H + 1):
        parts.append(
            f"n{h} AS MATERIALIZED ("
            f"SELECT m.source, m.id, {h} AS dist, SUM(m.sigma) AS sigma"
            f" FROM (SELECT f.source, s.dst AS id, f.sigma"
            f" FROM f{h - 1} f JOIN sym s ON s.src = f.id) m"
            f" LEFT JOIN st{h - 1} st ON st.source = m.source"
            f" AND st.id = m.id"
            f" WHERE st.id IS NULL GROUP BY m.source, m.id)"
        )
        parts.append(
            f"st{h} AS MATERIALIZED (SELECT * FROM st{h - 1}"
            f" UNION ALL SELECT * FROM n{h})"
        )
        parts.append(f"f{h} AS (SELECT * FROM n{h})")
    parts.append(
        f"d{H} AS (SELECT source, id, sigma, CAST(0.0 AS DOUBLE) AS delta"
        f" FROM st{H} WHERE dist = {H})"
    )
    for lvl in range(H - 1, -1, -1):
        parts.append(
            f"c{lvl} AS (SELECT u.source, u.id,"
            f" SUM(u.sigma / w.sigma_w * (1.0 + w.delta_w)) AS d_new"
            f" FROM (SELECT source, id, sigma FROM st{H}"
            f" WHERE dist = {lvl}) u"
            f" JOIN (SELECT d.source, s.src AS id, d.sigma AS sigma_w,"
            f" d.delta AS delta_w"
            f" FROM d{lvl + 1} d JOIN sym s ON s.dst = d.id) w"
            f" ON w.source = u.source AND w.id = u.id"
            f" GROUP BY u.source, u.id)"
        )
        parts.append(
            f"d{lvl} AS MATERIALIZED (SELECT u.source, u.id, u.sigma,"
            f" COALESCE(c.d_new, 0.0) AS delta"
            f" FROM (SELECT source, id, sigma FROM st{H}"
            f" WHERE dist = {lvl}) u"
            f" LEFT JOIN c{lvl} c ON c.source = u.source AND c.id = u.id)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM d{lvl}" for lvl in range(H + 1))
    # the engine divides by len(srcs) = min(K, n) — on a graph with
    # fewer than K vertices the seed list is every vertex and the
    # scale is exactly 1.0, so the divisor must shrink with it
    k_actual = f"CAST(LEAST({K}, (SELECT COUNT(*) FROM verts)) AS DOUBLE)"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT id, ROUND(SUM(delta)
       * ((SELECT CAST(COUNT(*) AS DOUBLE) FROM verts) / {k_actual})
       / 2.0, 6) AS betweenness
FROM ({union}) WHERE source <> id GROUP BY id
"""
    )


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    max_hops: int,
    sources: list | None = None,
) -> DataFrame:
    """Harmonic centrality H(v) = Σ_{u≠v} 1/d(u,v) — closeness'
    disconnection-robust sibling (unreachable pairs contribute 0
    instead of poisoning the sum, so it needs no connectivity
    assumption). Exact from all-pairs BFS, or the sampled-source
    estimator Ĥ(v) = (n/k)·Σ_{s∈S} 1/d(s,v) (Eppstein–Wang scaling,
    matching the code below) — the same O(samples·V) state bound as
    closeness/betweenness sampling."""
    d = all_pairs_hops(spark, edges, max_hops, sources=sources).filter(
        F.col("source") != F.col("id")
    )
    if sources is None:
        return d.groupBy("source").agg(
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("harmonic")
        )
    n = vertices_of(edges).count()
    k = float(len(sources))
    # Ĥ(v) = (n/k)·Σ_{s∈S, s≠v} 1/d(s,v): sampled sum extrapolated to
    # the full vertex set (same Eppstein–Wang scaling as closeness)
    return d.groupBy("id").agg(
        F.round(F.sum(F.lit(1.0) / F.col("dist")) * F.lit(n / k), 6).alias("harmonic")
    )


def q_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node eccentricity (max BFS distance) plus the graph's
    radius and diameter as an appended summary row (id = −1) — the
    connectivity profile built from the same all-pairs multi-source
    BFS state as closeness/harmonic. 100 TB shape: exact all-pairs is
    fixture-bounded; at scale run the same plan from sampled sources
    (eccentricity lower bounds, the iFUB seed step)."""
    d = all_pairs_hops(spark, karate_edges(spark), CLOSENESS_MAX_HOPS)
    ecc = d.groupBy("source").agg(F.max("dist").alias("ecc"))
    summary = ecc.agg(
        F.lit(-1).cast("long").alias("source"),
        F.min("ecc").alias("radius"),
        F.max("ecc").alias("diameter"),
    )
    return ecc.select(
        "source", "ecc", F.lit(None).cast("int").alias("radius"),
        F.lit(None).cast("int").alias("diameter"),
    ).unionByName(
        summary.select(
            "source",
            F.lit(None).cast("int").alias("ecc"),
            "radius",
            "diameter",
        )
    )


ORACLE_ECCENTRICITY = f"""
WITH RECURSIVE e AS ({_KARATE_SQL}),
sym AS (
  SELECT src, dst FROM e WHERE src <> dst
  UNION SELECT dst, src FROM e WHERE src <> dst
),
v AS (SELECT DISTINCT src AS id FROM sym),
walk(source, id, d) AS (
  SELECT id, id, 0 FROM v
  UNION
  SELECT walk.source, sym.dst, walk.d + 1
  FROM walk JOIN sym ON sym.src = walk.id
  WHERE walk.d < {CLOSENESS_MAX_HOPS}
),
dist AS (SELECT source, id, MIN(d) AS d FROM walk GROUP BY source, id),
ecc AS (SELECT source, CAST(MAX(d) AS INTEGER) AS ecc FROM dist GROUP BY source)
SELECT source, ecc, CAST(NULL AS INTEGER) AS radius, CAST(NULL AS INTEGER) AS diameter
FROM ecc
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(NULL AS INTEGER),
       CAST(MIN(ecc) AS INTEGER), CAST(MAX(ecc) AS INTEGER)
FROM ecc
"""


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact harmonic centrality on the karate fixture (multi-source
    BFS, 6 rounds ≥ diameter). Oracle: recursive-CTE BFS with
    SUM(1/d) — same walk pattern as ORACLE_CLOSENESS."""
    return harmonic_centrality(spark, karate_edges(spark), CLOSENESS_MAX_HOPS)


ORACLE_HARMONIC = f"""
WITH RECURSIVE e AS ({_KARATE_SQL}),
sym AS (
  SELECT src, dst FROM e WHERE src <> dst
  UNION SELECT dst, src FROM e WHERE src <> dst
),
v AS (SELECT DISTINCT src AS id FROM sym),
walk(source, id, d) AS (
  SELECT id, id, 0 FROM v
  UNION
  SELECT walk.source, sym.dst, walk.d + 1
  FROM walk JOIN sym ON sym.src = walk.id
  WHERE walk.d < {CLOSENESS_MAX_HOPS}
),
dist AS (SELECT source, id, MIN(d) AS d FROM walk GROUP BY source, id)
SELECT source, ROUND(SUM(1.0 / d), 6) AS harmonic
FROM dist WHERE source <> id GROUP BY source
"""


def q_bipartite_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the customer–supplier co-purchase graph
    onto its SMALL side: supplier pairs weighted by shared-customer
    count and Jaccard over customer sets — the 'related vendors'
    (or co-citation / shared-audience) derivation.

    100 TB shape: projecting the small side keeps the wedge join
    bounded — pairs explode per CUSTOMER as deg², and customer degree
    is capped by the small side's size (|suppliers|), never by corpus
    size. The self-join shuffles once on custkey; pair counts and
    degrees are map-side-combined aggregates; degrees broadcast back.
    Projecting the LARGE side instead would need the hot-key capping
    q_pmi_cooccur / minhash max_df use."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    deg = cs.groupBy("supp").agg(F.count("*").alias("deg"))
    a = cs.select("cust", F.col("supp").alias("supp_a"))
    b = cs.select("cust", F.col("supp").alias("supp_b"))
    shared = (
        a.join(b, "cust")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(deg.select(F.col("supp").alias("supp_a"), F.col("deg").alias("deg_a"))),
            "supp_a",
        )
        .join(
            F.broadcast(deg.select(F.col("supp").alias("supp_b"), F.col("deg").alias("deg_b"))),
            "supp_b",
        )
        .select(
            "supp_a",
            "supp_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


ORACLE_BIPARTITE_PROJECT = """
WITH cs AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deg AS (SELECT supp, COUNT(*) AS deg FROM cs GROUP BY supp),
shared AS (
  SELECT a.supp AS supp_a, b.supp AS supp_b, COUNT(*) AS n_shared
  FROM cs a JOIN cs b ON a.cust = b.cust AND a.supp < b.supp
  GROUP BY 1, 2
)
SELECT supp_a, supp_b, CAST(n_shared AS BIGINT) AS n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (da.deg + db.deg - n_shared), 6) AS jaccard
FROM shared
JOIN deg da ON da.supp = supp_a
JOIN deg db ON db.supp = supp_b
"""


#: fixed walk length for the deterministic node2vec-style sampler
WALK_STEPS = 4
#: modulus of the pure-arithmetic pseudo-random neighbor choice
_WALK_MOD = 101


def q_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random walks from every vertex — the
    sampling primitive behind DeepWalk/node2vec graph-embedding
    training data (Perozzi 2014; Grover & Leskovec 2016). The
    'random' choice is a pure hash of (current node, neighbor, step),
    so Spark and the SQL oracle replay identical walks:
    next(v, i) = argmin over neighbors u of
    (((v·31 + u·17 + i·7) mod 101)·100 + u).

    Spark-first shape: a FIXED-length walk is not a driver loop — it
    is WALK_STEPS declarative equi-joins against a precomputed
    next-step table (one map-side-combined ``min_by`` aggregate over
    the symmetrized edges per step id; Catalyst sees the whole chain).
    At 100 TB the next table is hash-partitioned by node, every hop is
    a co-partitioned join, and walk state is one row per
    (start, step) — neighbor lists are never materialized per walker."""
    sym = symmetrize(karate_edges(spark)).filter(F.col("src") != F.col("dst"))
    steps = spark.range(1, WALK_STEPS + 1).select(F.col("id").alias("step"))
    choice_key = (
        (F.col("src") * 31 + F.col("dst") * 17 + F.col("step") * 7) % _WALK_MOD
    ) * 100 + F.col("dst")
    nxt = (
        sym.crossJoin(F.broadcast(steps))
        .groupBy(F.col("src").alias("node"), "step")
        .agg(F.min_by("dst", choice_key).alias("next_node"))
    )
    cur = vertices_of(sym).select(
        F.col("id").alias("start"),
        F.lit(0).cast("long").alias("step"),
        F.col("id").alias("node"),
    )
    out = cur
    for i in range(1, WALK_STEPS + 1):
        cur = cur.join(
            nxt.filter(F.col("step") == i).select("node", "next_node"), "node"
        ).select(
            "start",
            F.lit(i).cast("long").alias("step"),
            F.col("next_node").alias("node"),
        )
        out = out.unionByName(cur)
    return out


def _oracle_random_walk() -> str:
    hops = "\n".join(
        f"UNION ALL SELECT w.start, CAST({i} AS BIGINT) AS step, n.next_node AS node"
        f" FROM w{i - 1} w JOIN nxt n ON n.node = w.node AND n.step = {i}"
        for i in range(1, WALK_STEPS + 1)
    )
    # unrolled fixed-depth chain: w{i} = one hop from w{i-1}
    parts = [f"WITH e AS ({_KARATE_SQL}),"]
    parts.append(
        "sym AS (SELECT src, dst FROM e WHERE src <> dst"
        " UNION SELECT dst, src FROM e WHERE src <> dst),"
    )
    parts.append(
        f"steps AS (SELECT CAST(unnest(range(1, {WALK_STEPS + 1})) AS BIGINT) AS step),"
    )
    parts.append(
        "nxt AS (SELECT src AS node, step,"
        f" arg_min(dst, ((src*31 + dst*17 + step*7) % {_WALK_MOD}) * 100 + dst)"
        " AS next_node FROM sym CROSS JOIN steps GROUP BY src, step),"
    )
    parts.append(
        "w0 AS (SELECT DISTINCT src AS start, CAST(0 AS BIGINT) AS step,"
        " src AS node FROM sym)"
    )
    for i in range(1, WALK_STEPS + 1):
        parts.append(
            f", w{i} AS (SELECT w.start, CAST({i} AS BIGINT) AS step,"
            f" n.next_node AS node FROM w{i - 1} w"
            f" JOIN nxt n ON n.node = w.node AND n.step = {i})"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM w{i}" for i in range(WALK_STEPS + 1)
    )
    return "\n".join(parts) + "\n" + union


def graph_coloring(
    spark: SparkSession, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Distributed greedy vertex coloring, Jones–Plassmann style
    (Jones & Plassmann 1993): each round, every uncolored vertex whose
    hash priority beats all its uncolored neighbors' takes the
    smallest color absent among its already-colored neighbors. The
    priority is ``xxhash64(id)`` — deterministic, yet free of the
    sequential dependency chains an id-order priority would build, so
    rounds are O(log n) expected. Per round: one join of the cached
    symmetrized edges against the small uncolored state + one
    grouped aggregate; colored vertices leave the frontier, lineage is
    checkpointed per round. Colors used ≤ Δ+1."""
    sym = (
        symmetrize(edges)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .persist()
    )
    prio = F.xxhash64(F.col("id"))
    state = vertices_of(sym).select(
        "id", F.lit(None).cast("int").alias("color")
    ).transform(lineage_cut)
    for _ in range(max_rounds):
        if state.filter(F.col("color").isNull()).limit(1).count() == 0:
            break
        nbr2 = sym.join(
            state.select(F.col("id").alias("dst"), F.col("color").alias("nbr_color")),
            "dst",
        ).select(
            F.col("src").alias("id"),
            "nbr_color",
            F.xxhash64(F.col("dst")).alias("nbr_prio"),
        )
        info = nbr2.groupBy("id").agg(
            F.max(F.when(F.col("nbr_color").isNull(), F.col("nbr_prio"))).alias(
                "max_uncolored_nbr_prio"
            ),
            F.collect_set("nbr_color").alias("used"),
        )
        smallest_absent = F.expr(
            "array_min(filter(sequence(0, size(used)), x -> NOT array_contains(used, x)))"
        )
        state = (
            state.join(info, "id", "left")
            .select(
                "id",
                F.when(F.col("color").isNotNull(), F.col("color"))
                .when(
                    F.col("max_uncolored_nbr_prio").isNull()
                    | (prio > F.col("max_uncolored_nbr_prio")),
                    smallest_absent,
                )
                .alias("color"),
            )
            .transform(lineage_cut)
        )
    sym.unpersist()
    return state


def q_graph_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy coloring of karate (oracle: the Jones–Plassmann rounds
    unrolled as CTEs over a pure-Python XXH64 priority table —
    _oracle_graph_coloring; properness + determinism + Δ+1 bound
    asserted in tests/test_graph_algs.py)."""
    return graph_coloring(spark, karate_edges(spark)).orderBy("id")


# XXH64 primes (Yann Collet's public xxHash spec,
# github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md)
_XXH64_P1 = 11400714785074694791
_XXH64_P2 = 14029467366897019727
_XXH64_P3 = 1609587929392839161
_XXH64_P4 = 9650029242287828579
_XXH64_P5 = 2870177450012600261
_U64 = (1 << 64) - 1


def _xxh64_long(v: int, seed: int = 42) -> int:
    """XXH64 of ONE 64-bit integer, per the published spec's short-
    input path (len=8: no stripe loop, one 8-byte lane, avalanche) —
    exactly what Spark's ``F.xxhash64(longCol)`` computes with its
    default seed 42 (catalyst XxHash64 → hashLong). Pinned equal to
    the engine for the whole fixture id range in
    tests/test_graph_algs.py::test_python_xxh64_matches_spark."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _U64

    h = (seed + _XXH64_P5 + 8) & _U64
    k1 = rotl((v & _U64) * _XXH64_P2 & _U64, 31) * _XXH64_P1 & _U64
    h = (rotl(h ^ k1, 27) * _XXH64_P1 + _XXH64_P4) & _U64
    h ^= h >> 33
    h = (h * _XXH64_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH64_P3) & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _xxh64_int_unsigned(i: int, seed: int) -> int:
    """XXH64 of ONE 32-bit int (the spec's 4-byte tail lane), UNSIGNED
    result — the hashInt step Spark chains for multi-column
    ``xxhash64(a, b, …)``, where each column's hash seeds the next.
    Unsigned so it composes as a seed without sign juggling."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _U64

    h = (seed + _XXH64_P5 + 4) & _U64
    h ^= ((i & 0xFFFFFFFF) * _XXH64_P1) & _U64
    h = (rotl(h, 23) * _XXH64_P2 + _XXH64_P3) & _U64
    h ^= h >> 33
    h = (h * _XXH64_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH64_P3) & _U64
    h ^= h >> 32
    return h


# --- XXH64 as a DuckDB SQL expression chain ---------------------------------
# DuckDB BIGINT/UBIGINT multiplication raises on overflow instead of
# wrapping, so every mod-2^64 product runs in HUGEINT with an explicit
# 32-bit split (keeping intermediates < 2^97, inside HUGEINT range);
# XOR hops through UBIGINT (native 64-bit bit ops); rotation exploits
# that the two shifted halves are bit-disjoint, so | becomes +. Layers
# are emitted as chained CTE columns, not one unreadable mega-expr.

_M64 = 1 << 64


def _sql_mul64(a: str, b: int) -> str:
    """(a * b) mod 2^64 for a HUGEINT-domain expr and a constant."""
    return (
        f"(((({a}) % 4294967296) * {b}"
        f" + (((({a}) // 4294967296) * {b}) % 4294967296) * 4294967296)"
        f" % {_M64})"
    )


def _sql_rotl64(a: str, r: int) -> str:
    return f"(((({a}) * {1 << r}) % {_M64}) + (({a}) // {1 << (64 - r)}))"


def _sql_xor64(a: str, b: str) -> str:
    return (
        f"CAST(xor(CAST(({a}) AS UBIGINT), CAST(({b}) AS UBIGINT)) AS HUGEINT)"
    )


def _sql_shr64(a: str, n: int) -> str:
    return f"(({a}) // {1 << n})"


def _sql_signed64(a: str) -> str:
    """Reinterpret an unsigned [0, 2^64) expr as Spark's signed long."""
    return (
        f"CAST(CASE WHEN ({a}) >= {1 << 63} THEN ({a}) - {_M64}"
        f" ELSE ({a}) END AS BIGINT)"
    )


def _xxh64_fmix_layers(tag: str, h: str):
    yield f"{tag}_f0", _sql_xor64(h, _sql_shr64(h, 33))
    yield f"{tag}_f1", _sql_mul64(f"{tag}_f0", _XXH64_P2)
    yield f"{tag}_f2", _sql_xor64(f"{tag}_f1", _sql_shr64(f"{tag}_f1", 29))
    yield f"{tag}_f3", _sql_mul64(f"{tag}_f2", _XXH64_P3)
    yield tag, _sql_xor64(f"{tag}_f3", _sql_shr64(f"{tag}_f3", 32))


def _xxh64_long_sql_layers(tag: str, v_col: str, seed_expr: str) -> list:
    """(column, expr) layers computing _xxh64_long(v_col, seed_expr)
    UNSIGNED; v_col is a signed BIGINT column, seed_expr an unsigned
    HUGEINT-domain expr (a constant or an earlier hash column)."""
    u = f"((CAST({v_col} AS HUGEINT) % {_M64} + {_M64}) % {_M64})"
    layers = [
        (f"{tag}_k0", _sql_mul64(u, _XXH64_P2)),
        (f"{tag}_k1", _sql_mul64(_sql_rotl64(f"{tag}_k0", 31), _XXH64_P1)),
        # explicit HUGEINT on the seed: a plain int literal in
        # [2^62, 2^63) parses as INT64 and the +P5 addition would
        # overflow BEFORE the mod (found by the hypothesis sweep in
        # tests/test_property.py; the shipped constants happened to
        # dodge it)
        (
            f"{tag}_h0",
            f"((CAST({seed_expr} AS HUGEINT) + {_XXH64_P5 + 8}) % {_M64})",
        ),
        (
            f"{tag}_h1",
            f"((({_sql_mul64(_sql_rotl64(_sql_xor64(f'{tag}_h0', f'{tag}_k1'), 27), _XXH64_P1)})"
            f" + {_XXH64_P4}) % {_M64})",
        ),
    ]
    layers.extend(_xxh64_fmix_layers(tag, f"{tag}_h1"))
    return layers


def _xxh64_int_sql_layers(tag: str, i_const: int, seed_expr: str) -> list:
    """(column, expr) layers for the 4-byte lane with a CONSTANT input
    and a per-row seed (the multi-column chaining step)."""
    k = ((i_const & 0xFFFFFFFF) * _XXH64_P1) % _M64
    layers = [
        (
            f"{tag}_h0",
            f"((CAST({seed_expr} AS HUGEINT) + {_XXH64_P5 + 4}) % {_M64})",
        ),
        (
            f"{tag}_h1",
            f"((({_sql_mul64(_sql_rotl64(_sql_xor64(f'{tag}_h0', str(k)), 23), _XXH64_P2)})"
            f" + {_XXH64_P3}) % {_M64})",
        ),
    ]
    layers.extend(_xxh64_fmix_layers(tag, f"{tag}_h1"))
    return layers


def _sql_layers_to_ctes(base_cte: str, layers: list, prefix: str):
    """Chain (column, expr) layers into CTE strings; returns
    (cte_sql_fragments, final_cte_name)."""
    ctes, prev = [], base_cte
    for i, (name, expr) in enumerate(layers):
        nxt = f"{prefix}{i}"
        ctes.append(f"{nxt} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = nxt
    return ctes, prev


#: unroll budget for _oracle_graph_coloring — the karate fixture
#: colors in 8 synchronized Jones–Plassmann rounds under the XXH64
#: priorities (measured); a round is idempotent once every vertex is
#: colored, so the +4 margin can only re-produce the same state
COLORING_ROUNDS = 12

#: karate node-id range for the inlined priority table
_KARATE_N = 34


def _oracle_graph_coloring() -> str:
    """Unrolled-CTE Jones–Plassmann oracle: the sync round — a vertex
    whose XXH64 priority beats every uncolored neighbor's takes the
    smallest color absent among its colored neighbors — is a
    deterministic function of the previous state, so the fixed fixture
    admits a fixed COLORING_ROUNDS unroll (the _oracle_kcore
    argument). The priority table is inlined VALUES computed by the
    spec-faithful _xxh64_long, sidestepping the one engine-specific
    expression DuckDB lacks."""
    prio_rows = ", ".join(
        f"({i}, CAST({_xxh64_long(i)} AS BIGINT))" for i in range(_KARATE_N)
    )
    parts = [
        f"e AS MATERIALIZED ({_KARATE_SQL})",
        "sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        "SELECT src, dst FROM e WHERE src <> dst"
        " UNION ALL SELECT dst, src FROM e WHERE src <> dst))",
        f"pr(id, h) AS (VALUES {prio_rows})",
        "verts AS (SELECT DISTINCT src AS id FROM sym)",
        "st0 AS (SELECT id, CAST(NULL AS INTEGER) AS color FROM verts)",
    ]
    for i in range(1, COLORING_ROUNDS + 1):
        p = f"st{i - 1}"
        parts.append(
            f"mx{i} AS (SELECT s.src AS id, MAX(p.h) AS mx FROM sym s"
            f" JOIN {p} t ON t.id = s.dst AND t.color IS NULL"
            f" JOIN pr p ON p.id = s.dst GROUP BY s.src)"
        )
        parts.append(
            f"used{i} AS (SELECT DISTINCT s.src AS id, t.color AS c"
            f" FROM sym s JOIN {p} t ON t.id = s.dst"
            f" WHERE t.color IS NOT NULL)"
        )
        parts.append(
            f"nu{i} AS (SELECT v.id, COUNT(u.c) AS n FROM verts v"
            f" LEFT JOIN used{i} u ON u.id = v.id GROUP BY v.id)"
        )
        parts.append(
            f"cand{i} AS (SELECT id, UNNEST(range(0, n + 1)) AS x FROM nu{i})"
        )
        parts.append(
            f"sac{i} AS (SELECT c.id, MIN(c.x) AS c FROM cand{i} c"
            f" LEFT JOIN used{i} u ON u.id = c.id AND u.c = c.x"
            f" WHERE u.id IS NULL GROUP BY c.id)"
        )
        parts.append(
            f"st{i} AS MATERIALIZED (SELECT t.id,"
            f" CASE WHEN t.color IS NOT NULL THEN t.color"
            f" WHEN m.id IS NULL OR p.h > m.mx THEN CAST(s.c AS INTEGER)"
            f" END AS color"
            f" FROM {p} t JOIN pr p ON p.id = t.id"
            f" LEFT JOIN mx{i} m ON m.id = t.id"
            f" LEFT JOIN sac{i} s ON s.id = t.id)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, color FROM st{COLORING_ROUNDS}"
    )


#: truss order for the karate-fixture k-truss query
KTRUSS_K = 4


def k_truss(spark: SparkSession, edges: DataFrame, k: int) -> DataFrame:
    """k-truss subgraph: iteratively delete edges supported by fewer
    than k−2 triangles until fixpoint (Cohen 2008) — the
    community-core primitive one notch stronger than k-core. Each peel
    round is the standard edge-iterator triangle join (two hash joins
    on the canonical a<b edge set), a map-side-combined support count,
    and a filter; rounds are O(peel depth) with lineage truncated per
    round and a 1-row count collect deciding convergence. At 100 TB
    the edge set is hash-partitioned on `a` and the same plan holds;
    triangle enumeration cost is the usual O(m^1.5) bound."""
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        .transform(lineage_cut)
    )
    n = und.count()
    while n > 0:
        tri = (
            und.alias("e1")
            .join(und.alias("e2"), F.col("e1.a") == F.col("e2.a"))
            .filter(F.col("e2.b") > F.col("e1.b"))
            .join(
                und.alias("e3"),
                (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")),
            )
            .select(
                F.col("e1.a").alias("x"),
                F.col("e1.b").alias("y"),
                F.col("e2.b").alias("z"),
            )
        )
        support = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
            .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .groupBy("a", "b")
            .agg(F.count("*").alias("support"))
        )
        kept = (
            und.join(support, ["a", "b"], "left")
            .filter(F.coalesce("support", F.lit(0)) >= k - 2)
            .select("a", "b")
            .transform(lineage_cut)
        )
        n_kept = kept.count()
        if n_kept == n:
            break
        und, n = kept, n_kept
    return und


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the karate graph (oracle: the peel unrolled as
    MATERIALIZED CTEs — _oracle_ktruss; networkx ``k_truss`` golden
    pins the exact edge set in tests/test_graph_algs.py)."""
    return k_truss(spark, karate_edges(spark), KTRUSS_K).orderBy("a", "b")


#: unroll budget for _oracle_ktruss — karate's 4-truss peel reaches
#: its fixpoint in 3 rounds (measured, incl. the confirming round);
#: the peel operator is idempotent at fixpoint, so the +2 margin can
#: only re-produce the same edge set
KTRUSS_ROUNDS = 5


def _oracle_ktruss() -> str:
    """Unrolled-CTE k-truss oracle (the _oracle_kcore argument, one
    notch up): the k-truss is the UNIQUE maximal subgraph where every
    edge closes ≥ k−2 triangles, and one peel round — recount support
    on the surviving canonical a<b edge set, drop edges below k−2 —
    is exactly k_truss's loop body, idempotent at fixpoint. A fixed
    fixture therefore admits a fixed KTRUSS_ROUNDS unroll; each round
    is the same edge-iterator triangle join the DataFrame plan runs."""
    parts = [
        f"e AS MATERIALIZED ({_KARATE_SQL})",
        "u0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,"
        " GREATEST(src, dst) AS b FROM e WHERE src <> dst)",
    ]
    for i in range(1, KTRUSS_ROUNDS + 1):
        prev = f"u{i - 1}"
        parts.append(
            f"tri{i} AS MATERIALIZED ("
            f"SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM {prev} e1"
            f" JOIN {prev} e2 ON e2.a = e1.a AND e2.b > e1.b"
            f" JOIN {prev} e3 ON e3.a = e1.b AND e3.b = e2.b)"
        )
        parts.append(
            f"sup{i} AS MATERIALIZED ("
            f"SELECT a, b, COUNT(*) AS s FROM ("
            f"SELECT x AS a, y AS b FROM tri{i}"
            f" UNION ALL SELECT x AS a, z AS b FROM tri{i}"
            f" UNION ALL SELECT y AS a, z AS b FROM tri{i}"
            f") GROUP BY a, b)"
        )
        parts.append(
            f"u{i} AS MATERIALIZED ("
            f"SELECT u.a, u.b FROM {prev} u"
            f" LEFT JOIN sup{i} s ON s.a = u.a AND s.b = u.b"
            f" WHERE COALESCE(s.s, 0) >= {KTRUSS_K - 2})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT a, b FROM u{KTRUSS_ROUNDS}"
    )


# ---------------------------------------------------------------------------
# round-5 second batch (SURVEY §2.19): community-quality, partition
# agreement, and minimum spanning forest
# ---------------------------------------------------------------------------


def _nation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, com): every co-purchase vertex labeled by its nation key
    — a deterministic attribute partition shared by customers and
    suppliers (both sides of the bipartite graph carry a nationkey in
    the same 0–24 id space)."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node"), F.col("c_nationkey").alias("com")
    )
    supp = load(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + SUPPLIER_OFFSET).alias("node"),
        F.col("s_nationkey").alias("com"),
    )
    return cust.unionByName(supp)


_NATION_COM_SQL = f"""
SELECT c_custkey AS node, c_nationkey AS com FROM customer
UNION ALL
SELECT s_suppkey + {SUPPLIER_OFFSET} AS node, s_nationkey AS com FROM supplier
"""


def q_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance φ(S) = cut(S)/min(vol(S), 2m−vol(S))
    of the nation partition over the co-purchase graph — the standard
    community-quality score complementary to modularity (low φ = few
    escaping edges relative to internal volume). Two dimension joins
    label edge endpoints, then volume and cut are ONE
    map-side-combined aggregate each over the (community, weight)
    pairs; 2m rides in as a broadcast 1-row scalar. Weights are
    integral co-purchase counts summed as LONG, so every number is
    exact; only the final ratio is double. Nothing here is
    quadratic — at 100 TB this is two shuffles on the community key."""
    edges = copurchase_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    nodecom = _nation_communities(spark, sf_dir).transform(lineage_cut)
    e2 = (
        edges.select("src", "dst", F.col("weight").cast("long").alias("w"))
        .join(
            nodecom.select(
                F.col("node").alias("src"), F.col("com").alias("com_src")
            ),
            "src",
        )
        .join(
            nodecom.select(
                F.col("node").alias("dst"), F.col("com").alias("com_dst")
            ),
            "dst",
        )
        # four consumers (volume, cut, 2m, and the union's second leg)
        # — checkpoint so the co-purchase derivation joins run once
        .transform(lineage_cut)
    )
    both_ends = e2.select(F.col("com_src").alias("com"), "w").unionByName(
        e2.select(F.col("com_dst").alias("com"), "w")
    )
    vol = both_ends.groupBy("com").agg(F.sum("w").alias("vol"))
    cut_ends = e2.filter(F.col("com_src") != F.col("com_dst"))
    cut = (
        cut_ends.select(F.col("com_src").alias("com"), "w")
        .unionByName(cut_ends.select(F.col("com_dst").alias("com"), "w"))
        .groupBy("com")
        .agg(F.sum("w").alias("cut_w"))
    )
    two_m = e2.agg((F.lit(2) * F.sum("w")).alias("two_m"))
    nodes = nodecom.groupBy("com").agg(F.count("*").alias("n_nodes"))
    denom = F.least(F.col("vol"), F.col("two_m") - F.col("vol"))
    phi = F.when(denom <= 0, F.lit(0.0)).otherwise(
        F.col("cut_w") / denom.cast("double")
    )
    return (
        nodes.join(vol, "com", "left")
        .join(cut, "com", "left")
        .crossJoin(F.broadcast(two_m))
        .select(
            F.col("com").alias("community"),
            "n_nodes",
            F.coalesce("vol", F.lit(0)).alias("vol"),
            F.coalesce("cut_w", F.lit(0)).alias("cut_w"),
            F.round(
                F.coalesce(phi, F.lit(0.0)), 6
            ).alias("phi"),
        )
    )


ORACLE_CONDUCTANCE = f"""
WITH e AS ({COPURCHASE_EDGES_SQL}),
nodecom AS ({_NATION_COM_SQL}),
e2 AS (
  SELECT e.src, e.dst, CAST(e.weight AS BIGINT) AS w,
         cs.com AS com_src, cd.com AS com_dst
  FROM e
  JOIN nodecom cs ON e.src = cs.node
  JOIN nodecom cd ON e.dst = cd.node
  WHERE e.src <> e.dst
),
vol AS (
  SELECT com, SUM(w) AS vol FROM (
    SELECT com_src AS com, w FROM e2
    UNION ALL SELECT com_dst AS com, w FROM e2
  ) GROUP BY com
),
cut AS (
  SELECT com, SUM(w) AS cut_w FROM (
    SELECT com_src AS com, w FROM e2 WHERE com_src <> com_dst
    UNION ALL SELECT com_dst AS com, w FROM e2 WHERE com_src <> com_dst
  ) GROUP BY com
),
m2 AS (SELECT 2 * SUM(w) AS two_m FROM e2),
nodes AS (SELECT com, COUNT(*) AS n_nodes FROM nodecom GROUP BY com)
SELECT n.com AS community, n.n_nodes,
       CAST(COALESCE(v.vol, 0) AS BIGINT) AS vol,
       CAST(COALESCE(c.cut_w, 0) AS BIGINT) AS cut_w,
       ROUND(COALESCE(CASE WHEN LEAST(v.vol, m2.two_m - v.vol) <= 0 THEN 0.0
                           ELSE c.cut_w / CAST(LEAST(v.vol, m2.two_m - v.vol)
                                               AS DOUBLE) END, 0.0), 6) AS phi
FROM nodes n
LEFT JOIN vol v ON n.com = v.com
LEFT JOIN cut c ON n.com = c.com
CROSS JOIN m2
"""


def q_partition_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-agreement scores between two labelings of the same
    node set (customers by nation vs by market segment): normalized
    mutual information and adjusted Rand index — the standard yardsticks
    for comparing a computed community structure against ground truth.
    The contingency table is ONE groupBy over the node set; marginals
    and entropies are vocabulary-sized rollups broadcast into a single
    scalar row. Pair counts use exact LONG binomials; only the final
    normalizations are double. Scale: the node scan is the only big
    input; everything after is |P1|×|P2| rows."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("pa"), F.col("c_mktsegment").alias("pb")
    )
    # |P1|×|P2| rows; checkpointed so the three downstream rollups
    # (cell sums and both marginals) scan the node set exactly once
    nij = (
        c.groupBy("pa", "pb")
        .agg(F.count("*").alias("n"))
        .transform(lineage_cut)
    )
    ai = nij.groupBy("pa").agg(F.sum("n").alias("a"))
    bj = nij.groupBy("pb").agg(F.sum("n").alias("b"))
    tot = nij.agg(F.sum("n").alias("nt"))
    # integer `div` keeps the per-row pair count exact past 2^53 (the
    # same butterfly-class fix from the r5 ADVICE): x*(x-1) is even, so
    # the halving never truncates
    pairs2 = lambda col: F.expr(f"{col} * ({col} - 1) div 2")  # noqa: E731
    joined = (
        nij.join(F.broadcast(ai), "pa")
        .join(F.broadcast(bj), "pb")
        .crossJoin(F.broadcast(tot))
    )
    mi_term = (F.col("n") / F.col("nt")) * F.log(
        (F.col("nt") * F.col("n")) / (F.col("a") * F.col("b"))
    )
    cell = joined.agg(
        F.sum(mi_term).alias("mi"),
        F.sum(pairs2("n")).alias("sij"),
    )
    ha = (
        ai.crossJoin(F.broadcast(tot))
        .agg(
            (-F.sum((F.col("a") / F.col("nt")) * F.log(F.col("a") / F.col("nt")))).alias("ha"),
            F.sum(pairs2("a")).alias("sa"),
            F.count("*").alias("n_parts_a"),
        )
    )
    hb = (
        bj.crossJoin(F.broadcast(tot))
        .agg(
            (-F.sum((F.col("b") / F.col("nt")) * F.log(F.col("b") / F.col("nt")))).alias("hb"),
            F.sum(pairs2("b")).alias("sb"),
            F.count("*").alias("n_parts_b"),
        )
    )
    tp = F.expr("nt * (nt - 1) div 2")
    exp = F.col("sa").cast("double") * F.col("sb") / tp
    mx = (F.col("sa") + F.col("sb")) / 2.0
    return (
        cell.crossJoin(ha)
        .crossJoin(hb)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("nt").alias("n_nodes"),
            "n_parts_a",
            "n_parts_b",
            F.round("mi", 6).alias("mi"),
            F.round(F.col("mi") / F.sqrt(F.col("ha") * F.col("hb")), 6).alias("nmi"),
            F.round((F.col("sij") - exp) / (mx - exp), 6).alias("ari"),
        )
    )


ORACLE_PARTITION_NMI = """
WITH c AS (
  SELECT c_nationkey AS pa, c_mktsegment AS pb FROM customer
),
nij AS (SELECT pa, pb, COUNT(*) AS n FROM c GROUP BY pa, pb),
ai AS (SELECT pa, SUM(n) AS a FROM nij GROUP BY pa),
bj AS (SELECT pb, SUM(n) AS b FROM nij GROUP BY pb),
tot AS (SELECT COUNT(*) AS nt FROM c),
cell AS (
  SELECT SUM((n / CAST(nt AS DOUBLE)) * LN((nt * n) / CAST(a * b AS DOUBLE)))
           AS mi,
         SUM(n * (n - 1) // 2) AS sij
  FROM nij JOIN ai USING (pa) JOIN bj USING (pb) CROSS JOIN tot
),
ha AS (
  SELECT -SUM((a / CAST(nt AS DOUBLE)) * LN(a / CAST(nt AS DOUBLE))) AS ha,
         SUM(a * (a - 1) // 2) AS sa,
         COUNT(*) AS n_parts_a
  FROM ai CROSS JOIN tot
),
hb AS (
  SELECT -SUM((b / CAST(nt AS DOUBLE)) * LN(b / CAST(nt AS DOUBLE))) AS hb,
         SUM(b * (b - 1) // 2) AS sb,
         COUNT(*) AS n_parts_b
  FROM bj CROSS JOIN tot
)
SELECT nt AS n_nodes, n_parts_a, n_parts_b,
       ROUND(mi, 6) AS mi,
       ROUND(mi / SQRT(ha * hb), 6) AS nmi,
       ROUND((sij - CAST(sa AS DOUBLE) * sb / (nt * (nt - 1) // 2))
             / ((sa + sb) / 2.0
                - CAST(sa AS DOUBLE) * sb / (nt * (nt - 1) // 2)),
             6) AS ari
FROM cell CROSS JOIN ha CROSS JOIN hb CROSS JOIN tot
"""


#: recursive-CTE BFS source vertex and hop bound
RCTE_SOURCE = 0
RCTE_MAX_HOPS = 4

_RCTE_BODY = """
WITH RECURSIVE reach(id, hops) AS (
  SELECT CAST({source} AS BIGINT) AS id, 0 AS hops
  UNION ALL
  SELECT e.dst, r.hops + 1
  FROM reach r JOIN {edges} e ON e.src = r.id
  WHERE r.hops < {max_hops}
)
SELECT id, CAST(MIN(hops) AS INT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM reach GROUP BY id
"""


def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (SQL:1999 WITH RECURSIVE, supported by Spark 4's
    parser): bounded-depth BFS from vertex 0 over symmetrized karate,
    returning each reachable vertex's hop distance AND its ≤4-hop walk
    count — the declarative sibling of the engine's iterative
    DataFrame BFS (q_bfs_hops), exercising the recursion feature
    itself. The hop bound caps the walk expansion (an unbounded
    recursive UNION ALL over a cyclic graph diverges — the reason the
    engine's O(diameter) algorithms are anti-join frontier loops, not
    recursive CTEs); both engines run the IDENTICAL recursive SQL, so
    the oracle also pins Spark's recursion semantics against an
    independent implementation."""
    sym = symmetrize(karate_edges(spark)).select("src", "dst")
    sym.createOrReplaceTempView("rcte_edges")
    return spark.sql(
        _RCTE_BODY.format(
            source=RCTE_SOURCE, edges="rcte_edges", max_hops=RCTE_MAX_HOPS
        )
    )


def _oracle_recursive_cte() -> str:
    # WITH RECURSIVE heads the whole CTE list (SQL:1999); the karate
    # derivation and symmetrization ride along as plain members
    body = _RCTE_BODY.format(
        source=RCTE_SOURCE, edges="sym", max_hops=RCTE_MAX_HOPS
    ).replace("WITH RECURSIVE ", "", 1)
    return (
        f"WITH RECURSIVE e0 AS ({_KARATE_SQL}),\n"
        "sym AS (SELECT src, dst FROM e0 WHERE src <> dst"
        " UNION ALL SELECT dst, src FROM e0 WHERE src <> dst),\n" + body
    )


#: HITS fixed iteration budget — the oracle unrolls exactly this many
#: alternations (like PAGERANK_ITERS)
HITS_ITERS = 16
#: normalize + checkpoint cadence: raw alternations keep the lineage
#: LINEAR (a per-step normalize would evaluate each raw table twice —
#: once for its max, once to divide — doubling work every iteration);
#: values grow ≤ (max_w·max_deg)^cadence between rescales, far inside
#: double range, and the cadence divides HITS_ITERS so the output is
#: always max-normalized
HITS_NORM_EVERY = 4


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the DIRECTED
    customer→supplier co-purchase graph — on a bipartite graph the
    alternating power iteration converges to the top left/right
    singular vectors, scoring buyers (hubs) by the authority of the
    suppliers they reach and vice versa. Each alternation is two edge
    join+sum aggregates (the pagerank superstep shape); every
    HITS_NORM_EVERY steps both score tables are checkpointed and
    rescaled by their MAX — a commutative, order-exact reduction
    (unlike an L1 sum) computed from the checkpoint, so normalization
    never re-runs the superstep lineage. Oracle: the identical
    recurrence unrolled as materialized CTEs (_oracle_hits),
    value-exact; networkx ``hits`` golden (rescaled to max=1) in
    tests/test_graph_algs.py. State per step is one score per vertex —
    linear, shuffle count fixed, scale-ready."""
    edges = copurchase_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    e = edges.select(
        "src", "dst", F.col("weight").cast("double").alias("w")
    ).transform(lineage_cut)
    # one aggregate over the checkpointed edge list gives both score-
    # table sizes, so every superstep join below can broadcast the
    # side that provably fits (maybe_broadcast / guide §3.1) — the
    # static edge table then never reshuffles per alternation. Above
    # the threshold (real 100 TB vertex counts) the shuffle join stays.
    sizes = e.agg(
        F.countDistinct("src").alias("n_src"),
        F.countDistinct("dst").alias("n_dst"),
    ).collect()[0]
    n_src, n_dst = sizes["n_src"], sizes["n_dst"]
    hubs = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.lit(1.0).alias("hub"))
    )
    def _auth_of(h):
        return (
            e.join(maybe_broadcast(h.select(F.col("id").alias("src"), "hub"), n_src), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("hub") * F.col("w")).alias("auth"))
        )

    def _hubs_of(a):
        return (
            e.join(maybe_broadcast(a.select(F.col("id").alias("dst"), "auth"), n_dst), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.col("auth") * F.col("w")).alias("hub"))
        )

    auth = None
    for k in range(1, HITS_ITERS + 1):
        auth = _auth_of(hubs)
        if k % HITS_NORM_EVERY == 0:
            # checkpoint auth BEFORE deriving hubs from it (r7): the
            # old order built hubs on the un-checkpointed auth lineage,
            # so materializing hubs re-evaluated the whole 2·cadence-
            # deep join chain a second time — checkpoint-first makes
            # the hubs materialization a single join over the pinned
            # auth (same values: checkpointing does not change the
            # expression, only where evaluation is cut).
            # fused norm step (r20, guide §1.2): the checkpoint is a
            # lazy cut whose materializing job IS the max aggregate —
            # the r19 shape paid a separate eager-cut job per table
            # plus a crossJoin(broadcast(max)) build inside the next
            # consumer; collecting the scalar instead folds both into
            # one driver call per table and divides by a literal.
            # Values: same MAX over the same checkpointed table (a
            # commutative, order-exact reduction), and the collected
            # double crosses py4j bit-exactly, so auth/m is the
            # identical IEEE division.
            auth = lineage_cut(auth, eager=False)
            amax = auth.agg(F.max("auth")).collect()[0][0]
            hubs = lineage_cut(_hubs_of(auth), eager=False)
            hmax = hubs.agg(F.max("hub")).collect()[0][0]
            auth = auth.select("id", (F.col("auth") / F.lit(amax)).alias("auth"))
            hubs = hubs.select("id", (F.col("hub") / F.lit(hmax)).alias("hub"))
        else:
            hubs = _hubs_of(auth)
    return hubs.select(
        F.lit("hub").alias("side"), "id", F.round("hub", 6).alias("score")
    ).unionByName(
        auth.select(
            F.lit("authority").alias("side"),
            "id",
            F.round("auth", 6).alias("score"),
        )
    )


def _oracle_hits() -> str:
    """Unrolled-CTE HITS oracle: exactly HITS_ITERS raw alternations
    with max-rescale every HITS_NORM_EVERY steps — the same recurrence
    the Spark plan runs, term for term."""
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst, CAST(weight AS DOUBLE) AS w"
        f" FROM ({COPURCHASE_EDGES_SQL}) WHERE src <> dst)",
        "h0 AS MATERIALIZED (SELECT DISTINCT src AS id,"
        " CAST(1.0 AS DOUBLE) AS hub FROM e)",
    ]
    prev_h = "h0"
    for k in range(1, HITS_ITERS + 1):
        parts.append(
            f"a{k} AS MATERIALIZED ("
            f"SELECT e.dst AS id, SUM(h.hub * e.w) AS auth"
            f" FROM {prev_h} h JOIN e ON e.src = h.id GROUP BY e.dst)"
        )
        parts.append(
            f"h{k} AS MATERIALIZED ("
            f"SELECT e.src AS id, SUM(a.auth * e.w) AS hub"
            f" FROM a{k} a JOIN e ON e.dst = a.id GROUP BY e.src)"
        )
        prev_h = f"h{k}"
        if k % HITS_NORM_EVERY == 0:
            parts.append(
                f"an{k} AS MATERIALIZED ("
                f"SELECT id, auth / (SELECT MAX(auth) FROM a{k}) AS auth"
                f" FROM a{k})"
            )
            parts.append(
                f"hn{k} AS MATERIALIZED ("
                f"SELECT id, hub / (SELECT MAX(hub) FROM h{k}) AS hub"
                f" FROM h{k})"
            )
            prev_h = f"hn{k}"
    n = HITS_ITERS
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT 'hub' AS side, id, ROUND(hub, 6) AS score FROM hn{n}
UNION ALL
SELECT 'authority' AS side, id, ROUND(auth, 6) AS score FROM an{n}
"""
    )


#: Borůvka round cap — components at least halve per round, so 20
#: rounds covers graphs up to 2^20 ≈ 1M components; a backstop, not a
#: tuning knob
MST_MAX_ROUNDS = 20

#: component-merge graphs at or below this many (symmetric, distinct)
#: edges collapse with an in-driver union-find instead of distributed
#: min-label rounds — the same hybrid-tail rule as Louvain's
#: inline_threshold: the component-level pseudo-forest has ≤ 1 edge per
#: component and halves every Borůvka round, so at any scale only the
#: first round or two can exceed this, and those stay distributed
MST_INLINE_MERGE_EDGES = 2_000_000


def q_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the weighted co-purchase graph by
    distributed Borůvka (the MapReduce-friendly MST: Borůvka 1926;
    Lattanzi et al. 2011 filtering variant): each round every
    component picks its lightest outgoing edge under the total order
    (w, u, v) — ONE ``min_by`` aggregate per endpoint orientation, no
    sort — then touching components merge via min-label propagation
    on the component-level graph (pseudo-forest ⇒ converges in a few
    hops). Components at least halve per round ⇒ O(log n) rounds of
    join+aggregate; per-round state is the (node → component) map.
    The unique total order makes the forest deterministic; with all
    weight ties broken lexicographically it is THE minimum forest
    (total weight equals any MSF's — pinned against networkx in
    tests/test_graph_algs.py). Rows-only by contract: the fixpoint is
    data-dependent, not fixed-step unrollable in SQL."""
    edges = copurchase_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    e = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.col("weight").cast("long").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .transform(lineage_cut)
    )
    comp = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .transform(lineage_cut)
    )
    # comp maps every original vertex in every round — count it once so
    # the per-round e⋈comp joins can broadcast the assignment when it
    # fits (maybe_broadcast): the edge table then never reshuffles per
    # Borůvka round. Above the threshold the shuffle join stays.
    n_vertices = comp.count()
    chosen_all = e.limit(0)
    for _ in range(MST_MAX_ROUNDS):
        cu = maybe_broadcast(
            comp.select(F.col("id").alias("u"), F.col("comp").alias("cu")), n_vertices
        )
        cv = maybe_broadcast(
            comp.select(F.col("id").alias("v"), F.col("comp").alias("cv")), n_vertices
        )
        ec = e.join(cu, "u").join(cv, "v").filter(F.col("cu") != F.col("cv"))
        cand = ec.select(F.col("cu").alias("c"), "u", "v", "w").unionByName(
            ec.select(F.col("cv").alias("c"), "u", "v", "w")
        )
        # best is computed FIRST and doubles as the termination probe
        # (r19): best is empty exactly when ec is empty (min_by over an
        # empty group set), so the old separate `ec.isEmpty()` pass —
        # a full e⋈comp⋈comp join per round — is folded into the one
        # materialization. The lazy cut + isEmpty materializes the
        # checkpoint in the same job that answers the probe.
        best = (
            cand.groupBy("c")
            .agg(
                F.min_by(
                    F.struct("u", "v", "w"), F.struct("w", "u", "v")
                ).alias("e")
            )
            .select("e.u", "e.v", "e.w")
            .distinct()
            .transform(lambda df: lineage_cut(df, eager=False))
        )
        # merge touching components: min-label propagation over the
        # chosen component edges (a pseudo-forest: ≤1 chosen edge per
        # component, so this closes in O(log chain) tiny rounds)
        # ONE canonical orientation (a < b): the threshold below then
        # counts true undirected merge edges (the r6 advice: the old
        # symmetric ce made the effective cap half the constant and
        # collected every edge twice); the distributed branch
        # symmetrizes on demand since min-label propagation needs both
        # directions.
        ce = (
            best.join(cu, "u")
            .join(cv, "v")
            .select(
                F.least("cu", "cv").alias("a"), F.greatest("cu", "cv").alias("b")
            )
            .distinct()
            .transform(lambda df: lineage_cut(df, eager=False))
        )
        # the hybrid-tail probe is also the termination test: ce is
        # empty ⟺ best is empty (best's endpoints always hit the comp
        # map, and cu ≠ cv rows survive the distinct)
        pdf = collect_if_small(ce, MST_INLINE_MERGE_EDGES)
        if pdf is not None and len(pdf) == 0:
            break
        # lazy accumulation (r20): a chosen edge's two components merge
        # this round, so both its endpoints share a component forever
        # after and the edge can never re-enter ec (the cu != cv
        # filter) — rounds contribute DISJOINT edge sets, and the old
        # per-round distinct + eager checkpoint (one shuffle + one
        # execution per round) rewrote the accumulated forest for
        # nothing. The union of the per-round `best` checkpoints is the
        # same multiset; within-round duplicates are already removed by
        # best's own distinct.
        chosen_all = chosen_all.unionByName(best)
        if pdf is not None:
            lbl = spark.createDataFrame(
                list(min_id_components(pdf["a"].tolist(), pdf["b"].tolist()).items()),
                "c LONG, lbl LONG",
            )
        else:
            # lazy cut + count (r20): one driver call materializes the
            # symmetrized merge-edge checkpoint and yields the touched-
            # component bound (each a < b row contributes exactly two
            # symmetric rows, so the count equals the old 2 × ce_rows)
            ce = lineage_cut(
                ce.unionByName(
                    ce.select(F.col("b").alias("a"), F.col("a").alias("b"))
                ),
                eager=False,
            )
            lbl_bound = ce.count()
            lbl = (
                ce.select(F.col("a").alias("c"))
                .distinct()
                .select("c", F.col("c").alias("lbl"))
                .transform(lineage_cut)
            )
            while True:
                nb = (
                    ce.join(
                        maybe_broadcast(
                            lbl.select(
                                F.col("c").alias("b"), F.col("lbl").alias("nlbl")
                            ),
                            lbl_bound,
                        ),
                        "b",
                    )
                    .groupBy(F.col("a").alias("c"))
                    .agg(F.min("nlbl").alias("mn"))
                )
                new_lbl = (
                    lbl.join(maybe_broadcast(nb, lbl_bound), "c", "left")
                    .select(
                        "c",
                        F.least(
                            F.col("lbl"), F.coalesce("mn", F.col("lbl"))
                        ).alias("lbl"),
                    )
                    .transform(lineage_cut)
                )
                moved = (
                    new_lbl.select("c", F.col("lbl").alias("nl"))
                    .join(maybe_broadcast(lbl, lbl_bound), "c")
                    .filter(F.col("nl") != F.col("lbl"))
                )
                done = moved.isEmpty()
                lbl = new_lbl
                if done:
                    break
        # both branches' lbl get the explicit gate: the inline
        # createDataFrame(list, ddl) analyzes to a LogicalRDD, which
        # carries no size estimate the planner could broadcast on
        comp = (
            comp.join(
                maybe_broadcast(
                    lbl.select(
                        F.col("c").alias("comp"), F.col("lbl").alias("newc")
                    ),
                    n_vertices,
                ),
                "comp",
                "left",
            )
            .select("id", F.coalesce("newc", F.col("comp")).alias("comp"))
            # lazy cut (r20): the next round's best materialization is
            # the first (and, via its persisted blocks, only) evaluator
            # — the eager cut paid one more execution per round for a
            # table nothing reads until then
            .transform(lambda df: lineage_cut(df, eager=False))
        )
    return chosen_all.select("u", "v", "w")


def topo_layers(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Longest-path DAG layering (the critical-path / scheduling-wave
    assignment): layer(v) = 0 for sources, else 1 + max over incoming
    layer(u) — what a topological scheduler uses to group tasks into
    parallel waves. Iterative max-propagation: each round is one edge
    join + one map-side-combined max aggregate + a greatest() merge,
    converging in O(longest path) rounds with lineage truncated per
    round; state is one integer per vertex. At 100 TB the edge table
    is hash-partitioned on src and each round is the pagerank
    superstep shape — no path enumeration ever happens (the oracle's
    recursive CTE enumerates (vertex, depth) states instead, which is
    why it must dedup with UNION, not UNION ALL)."""
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    layer = nodes.select("id", F.lit(0).alias("layer")).transform(lineage_cut)
    # vertex count (constant) gates the per-round state broadcasts;
    # lazy cut + changed-count fusion as in connected_components (r19)
    n = layer.count()
    while True:
        pushed = (
            edges.join(maybe_broadcast(layer.withColumnRenamed("id", "src"), n), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("layer") + 1).alias("cand"))
        )
        # inline changed flag (r20, the LPA fusion): the layer grows
        # exactly when an incoming candidate exceeds it, so the flag is
        # cand > layer — no re-join of the old state needed
        flagged = (
            layer.join(maybe_broadcast(pushed, n), "id", "left")
            .select(
                "id",
                F.greatest("layer", F.coalesce("cand", F.lit(0))).alias("layer"),
                F.coalesce(F.col("cand") > F.col("layer"), F.lit(False)).alias(
                    "changed"
                ),
            )
            .transform(lambda df: lineage_cut(df, eager=False))
        )
        changed = int(
            flagged.agg(F.sum(F.col("changed").cast("long"))).collect()[0][0] or 0
        )
        layer = flagged.select("id", "layer")
        if changed == 0:
            return layer


def q_topo_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduling-wave layering of the karate DAG (edges oriented
    low → high id, acyclic by construction): each vertex's longest
    incoming path length. Oracle: the same DAG's (vertex, depth)
    reachability states via a deduplicating recursive CTE, MAX(depth)
    per vertex — value-exact integers."""
    dag = (
        karate_edges(spark)
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .distinct()
    )
    return topo_layers(spark, dag).orderBy("id")


ORACLE_TOPO_LAYERS = f"""
WITH RECURSIVE ke AS ({_KARATE_SQL}),
dag AS (
  SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
  FROM ke WHERE src <> dst
),
nodes AS (SELECT src AS id FROM dag UNION SELECT dst FROM dag),
reach(id, d) AS (
  SELECT id, 0 FROM nodes
  UNION
  SELECT dag.dst, r.d + 1 FROM reach r JOIN dag ON dag.src = r.id
)
SELECT id, CAST(MAX(d) AS INT) AS layer FROM reach GROUP BY id ORDER BY id
"""


# ---------------------------------------------------------------------------
# Rich-club coefficient (SURVEY §2.27)
# ---------------------------------------------------------------------------

#: degree thresholds audited by q_rich_club — spanning the co-purchase
#: graph's degree range so at least the low thresholds are non-trivial
#: at every sf (φ is reported NULL when fewer than 2 nodes qualify)
RICH_CLUB_KS = [2, 4, 8, 16]


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) (Colizza 2006, unnormalized): among
    nodes of degree > k, the realized fraction of possible edges —
    'do the hubs preferentially link to each other?'. Computed for the
    fixed threshold ladder RICH_CLUB_KS in ONE pass: degrees once,
    each edge classified against every k by conditional sums.

    100 TB shape: degree aggregate (one shuffle), one hash join per
    edge ENDPOINT to attach degrees (the same two-join shape as
    q_assortativity — no per-k rescan, the |K| thresholds ride as
    conditional-sum columns), then a |K|-row result. Exact integer
    counts; φ is one final double division per threshold row.
    """
    edges = copurchase_edges(spark, sf_dir).select("src", "dst")
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))
    with_degs = (
        edges.join(
            deg.select(F.col("id").alias("src"), F.col("degree").alias("deg_src")),
            "src",
        )
        .join(
            deg.select(F.col("id").alias("dst"), F.col("degree").alias("deg_dst")),
            "dst",
        )
    )
    e_counts = with_degs.agg(
        *[
            F.sum(
                F.when((F.col("deg_src") > k) & (F.col("deg_dst") > k), 1).otherwise(0)
            ).alias(f"e_{k}")
            for k in RICH_CLUB_KS
        ]
    )
    n_counts = deg.agg(
        *[
            F.sum(F.when(F.col("degree") > k, 1).otherwise(0)).alias(f"n_{k}")
            for k in RICH_CLUB_KS
        ]
    )
    per_k = [
        F.struct(
            F.lit(k).alias("k"),
            F.col(f"n_{k}").alias("n_k"),
            F.col(f"e_{k}").alias("e_k"),
        )
        for k in RICH_CLUB_KS
    ]
    rows = (
        e_counts.crossJoin(F.broadcast(n_counts))
        .select(F.explode(F.array(*per_k)).alias("s"))
        .select("s.k", "s.n_k", "s.e_k")
    )
    nk = F.col("n_k").cast("double")
    return rows.select(
        "k",
        "n_k",
        "e_k",
        F.when(
            F.col("n_k") >= 2,
            F.round(2.0 * F.col("e_k").cast("double") / (nk * (nk - 1.0)), 6),
        ).alias("phi"),
    ).orderBy("k")


def _oracle_rich_club() -> str:
    per_k = "\nUNION ALL\n".join(
        f"""SELECT {k} AS k,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE degree > {k}) AS n_k,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ed
        WHERE deg_src > {k} AND deg_dst > {k}) AS e_k"""
        for k in RICH_CLUB_KS
    )
    return f"""
WITH e AS ({COPURCHASE_EDGES_SQL}),
sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY 1),
ed AS (
  SELECT ds.degree AS deg_src, dd.degree AS deg_dst
  FROM e JOIN deg ds ON e.src = ds.id JOIN deg dd ON e.dst = dd.id
),
rows_k AS ({per_k})
SELECT k, n_k, e_k,
       CASE WHEN n_k >= 2 THEN ROUND(2.0 * CAST(e_k AS DOUBLE)
            / (CAST(n_k AS DOUBLE) * (CAST(n_k AS DOUBLE) - 1.0)), 6) END AS phi
FROM rows_k ORDER BY k
"""


# ---------------------------------------------------------------------------
# Butterfly (bipartite 4-cycle) counting (SURVEY §2.28)
# ---------------------------------------------------------------------------

#: wedge-join output rows per task: q_butterfly and q_butterfly_sampled
#: size their wedge self-join's hash repartition from its output volume
WEDGE_ROWS_PER_TASK = 4_000_000


def q_butterfly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly counting (Sanei-Mehri 2018): the butterfly — a 2×2
    biclique / 4-cycle — is the bipartite graph's smallest cohesion
    motif, the analogue of the triangle (which bipartite graphs cannot
    contain; q_triangle_count correctly finds 0 here). Counted from the
    customer side: every pair of customers sharing c ≥ 2 suppliers
    contributes C(c,2) butterflies; also reports the supplier-wedge
    count Σ_s C(deg_s, 2) and co-purchase pair count as the density
    denominators.

    100 TB shape: ONE self-join on the supplier key builds wedges —
    work is Σ_s deg_s², the published bound — then one pair aggregate;
    hub suppliers are the skew term, capped exactly like q_pmi_cooccur
    caps hot shingles (drop/sample suppliers over a degree cap and
    report the cap, or delta-approximate). Exact at fixture scale;
    counts BIGINT end to end.
    """
    # checkpoint ONCE (r7): three branches (wedge stats, the wedge
    # self-join, the edge count) consume e — without the cut each
    # re-evaluated the lineitem⋈orders fact join. Lazy (r20): the
    # wedge-stats collect below is the first consumer and materializes
    # the blocks in the same driver call.
    e = lineage_cut(
        copurchase_edges(spark, sf_dir).select("src", "dst").distinct(),
        eager=False,
    )
    # d*(d-1) is always even, so summing BIGINT products then halving
    # with integer `div` is exact at any scale; `/` would accumulate
    # doubles and lose exactness past 2^53 (r5 ADVICE).
    #
    # wedge-sized join parallelism (r20, guide §2.2/§2.5): the wedge
    # self-join EXPLODES its input — output rows = n_wedges·2 ≈ Σ_s d²,
    # two orders of magnitude above the edge count here — but AQE
    # sizes post-shuffle partitions from the tiny INPUT bytes, so the
    # dominant join+partial-aggregate stage ran on 12 tasks on a
    # 32-core box (57.8 s of a 78 s profile in one under-parallel
    # job). The wedge count is already part of the output: collect the
    # one-row wedge stats FIRST (a cheap aggregate over the edge
    # checkpoint), emit it as an exact BIGINT literal, and size an
    # explicit hash repartition of the join input from the OUTPUT
    # volume — WEDGE_ROWS_PER_TASK rows a task, floor at the session
    # parallelism, no cap (at 100 TB wedge counts the count grows the
    # partitioning, exactly the scale-adaptive sizing §2.2 asks for).
    # Both join sides derive from the same repartitioned frame, so the
    # plan still shuffles e once (ReusedExchange), and an explicit
    # numeric repartition is exempt from AQE input-byte coalescing.
    n_wedges = (
        e.groupBy("dst")
        .agg(F.count("*").alias("d"))
        .agg(F.expr("sum(d * (d - 1)) div 2").alias("n_wedges"))
        .collect()[0]["n_wedges"]
    )
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        -(-int(2 * (n_wedges or 0)) // WEDGE_ROWS_PER_TASK),
    )
    er = e.repartition(n_parts, "dst")
    pairs = (
        er.alias("a")
        .join(er.alias("b"), "dst")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("u"), F.col("b.src").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    pair_stats = pairs.agg(
        F.count("*").alias("n_copairs"),
        F.expr("sum(c * (c - 1)) div 2").alias("n_butterflies"),
    )
    edges_n = e.agg(F.count("*").alias("n_edges"))
    return (
        edges_n.crossJoin(F.broadcast(pair_stats))
        .select(
            "n_edges",
            F.lit(n_wedges).cast("long").alias("n_wedges"),
            "n_copairs",
            "n_butterflies",
        )
    )


ORACLE_BUTTERFLY = f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({COPURCHASE_EDGES_SQL})),
w AS (
  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM (SELECT dst, COUNT(*) AS d FROM e GROUP BY dst)
),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_copairs,
         CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_butterflies
  FROM (
    SELECT a.src AS u, b.src AS v, COUNT(*) AS c
    FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
    GROUP BY 1, 2
  )
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
SELECT n_edges, n_wedges, n_copairs, n_butterflies
FROM n CROSS JOIN w CROSS JOIN p
"""


#: q_butterfly_sampled edge-retention modulus: keep an edge iff
#: parity_hash32(src:dst) % RATE == 0 (p = 1/RATE). A butterfly has 4
#: edges, so it survives with p^4 and est = obs · RATE^4 is unbiased
#: (Doulion, Tsourakakis 2009, applied to the bipartite 4-cycle).
BUTTERFLY_SAMPLE_RATE = 4


def q_butterfly_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled butterfly estimate — the scale path for q_butterfly,
    whose exact Σ_s deg_s² wedge enumeration is the registry's one
    super-linear cost (62.5 s at sf0.1, 10× its sf0.01 reading; r11
    verdict What's-wrong #2). Doulion-style edge sparsification
    (Tsourakakis 2009; Sanei-Mehri 2018 §5 for the bipartite case):
    keep each co-purchase edge iff a deterministic 32-bit hash of the
    (src,dst) pair falls in 1/RATE of the hash space, run the exact
    wedge→pair pipeline on the kept edges, scale the observed count by
    RATE⁴ (a butterfly survives iff all 4 edges are kept, p⁴).

    Estimator choice is MEASURED, not assumed (r12 prototype, DuckDB,
    all three fixtures): center-sampling at p=1/4 read 15–111% relative
    error (hub suppliers dominate C(c,2), so few fixed-hash survivors
    carry the mass); edge sparsification at the same modulus read
    12.1% / 2.1% / 0.24% at sf0.001/0.01/0.1 — error SHRINKS as the
    graph grows, the right property for an estimator whose reason to
    exist is the scale where exact counting stops being affordable.
    tests/test_graph_algs.py hard-asserts the sf0.001 bound.

    100 TB shape: the hash filter is a map-side scan predicate, so the
    wedge self-join's input drops by p and its output by p² — at
    RATE=4 that is ~1/16 of the exact pair-aggregate work (measured
    7× wall at sf0.1 single-process) — and the estimate itself stays
    BIGINT-exact arithmetic (obs · RATE⁴, no doubles). The hash is
    parity_hash32, so the kept-edge set — hence every output value —
    is bit-identical in any engine: the sampled estimate is
    value-exact oracle-checkable, unlike seeded-RNG sparsification.
    Exact semantics of q_butterfly are untouched (r11 verdict task 6).
    """
    from .llm_ops import parity_hash32

    # lazy cut (r20): the wedge-stats collect below materializes the
    # kept-edge checkpoint in the same driver call
    e = lineage_cut(
        copurchase_edges(spark, sf_dir)
        .select("src", "dst")
        .distinct()
        .filter(
            parity_hash32(
                F.concat_ws(":", F.col("src").cast("string"), F.col("dst").cast("string"))
            )
            % F.lit(BUTTERFLY_SAMPLE_RATE)
            == 0
        ),
        eager=False,
    )
    rate4 = BUTTERFLY_SAMPLE_RATE ** 4
    # wedge-sized join parallelism (r20): same output-volume
    # repartition as q_butterfly — the sampled wedge count is the
    # join's true output size, collected once as an exact BIGINT and
    # emitted as a literal
    n_wedges = (
        e.groupBy("dst")
        .agg(F.count("*").alias("d"))
        .agg(F.expr("sum(d * (d - 1)) div 2").alias("n_wedges_sampled"))
        .collect()[0]["n_wedges_sampled"]
    )
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        -(-int(2 * (n_wedges or 0)) // WEDGE_ROWS_PER_TASK),
    )
    er = e.repartition(n_parts, "dst")
    pairs = (
        er.alias("a")
        .join(er.alias("b"), "dst")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("u"), F.col("b.src").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    pair_stats = pairs.agg(
        F.expr("sum(c * (c - 1)) div 2").alias("n_butterflies_observed"),
    )
    edges_n = e.agg(F.count("*").alias("n_edges_kept"))
    return (
        edges_n.crossJoin(F.broadcast(pair_stats))
        .select(
            F.lit(BUTTERFLY_SAMPLE_RATE).cast("int").alias("sample_rate"),
            "n_edges_kept",
            F.lit(n_wedges).cast("long").alias("n_wedges_sampled"),
            "n_butterflies_observed",
            (F.col("n_butterflies_observed") * F.lit(rate4)).alias("n_butterflies_est"),
        )
    )


ORACLE_BUTTERFLY_SAMPLED = f"""
WITH e0 AS (SELECT DISTINCT src, dst FROM ({COPURCHASE_EDGES_SQL})),
e AS (
  SELECT src, dst FROM e0
  WHERE (('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 8))::BIGINT)
        % {BUTTERFLY_SAMPLE_RATE} = 0
),
w AS (
  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges_sampled
  FROM (SELECT dst, COUNT(*) AS d FROM e GROUP BY dst)
),
p AS (
  SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_butterflies_observed
  FROM (
    SELECT a.src AS u, b.src AS v, COUNT(*) AS c
    FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
    GROUP BY 1, 2
  )
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_kept FROM e)
SELECT CAST({BUTTERFLY_SAMPLE_RATE} AS INTEGER) AS sample_rate,
       n_edges_kept, n_wedges_sampled, n_butterflies_observed,
       n_butterflies_observed * {BUTTERFLY_SAMPLE_RATE ** 4} AS n_butterflies_est
FROM n CROSS JOIN w CROSS JOIN p
"""


QUERIES = {
    "q_edges_from_relational": q_edges_from_relational,
    "q_read_edgelist": q_read_edgelist,
    "q_write_edgelist": q_write_edgelist,
    "q_adjacency_pivot": q_adjacency_pivot,
    "q_edge_agg_parallel": q_edge_agg_parallel,
    "q_symmetrize": q_symmetrize,
    "q_selfloop_filter": q_selfloop_filter,
    "q_default_weight": q_default_weight,
    "q_degree_weighted": q_degree_weighted,
    "q_degree_inout": q_degree_inout,
    "q_graph_size_m": q_graph_size_m,
    "q_coarsen_edges": q_coarsen_edges,
    "q_membership_rollup": q_membership_rollup,
    "q_triangle_count": q_triangle_count,
    "q_pagerank": q_pagerank,
    "q_kcore": q_kcore,
    "q_jaccard_nodes": q_jaccard_nodes,
    "q_bfs_hops": q_bfs_hops,
    "q_scc": q_scc,
    "q_closeness": q_closeness,
    "q_betweenness": q_betweenness,
    "q_eigenvector": q_eigenvector,
    "q_harmonic_centrality": q_harmonic_centrality,
    "q_bipartite_project": q_bipartite_project,
    "q_betweenness_sampled": q_betweenness_sampled,
    "q_eccentricity": q_eccentricity,
    "q_random_walk": q_random_walk,
    "q_ktruss": q_ktruss,
    "q_graph_coloring": q_graph_coloring,
    "q_conductance": q_conductance,
    "q_partition_nmi": q_partition_nmi,
    "q_mst_boruvka": q_mst_boruvka,
    "q_hits": q_hits,
    "q_recursive_cte": q_recursive_cte,
    "q_topo_layers": q_topo_layers,
    "q_rich_club": q_rich_club,
    "q_butterfly": q_butterfly,
    "q_butterfly_sampled": q_butterfly_sampled,
}

ORACLES = {
    "q_edges_from_relational": COPURCHASE_EDGES_SQL,
    "q_read_edgelist": _KARATE_W_SQL,
    "q_edge_agg_parallel": ORACLE_EDGE_AGG_PARALLEL,
    "q_symmetrize": ORACLE_SYMMETRIZE,
    "q_selfloop_filter": ORACLE_SELFLOOP_FILTER,
    "q_default_weight": ORACLE_DEFAULT_WEIGHT,
    "q_degree_weighted": ORACLE_DEGREE_WEIGHTED,
    "q_degree_inout": ORACLE_DEGREE_INOUT,
    "q_graph_size_m": ORACLE_GRAPH_SIZE_M,
    "q_coarsen_edges": ORACLE_COARSEN_EDGES,
    "q_membership_rollup": ORACLE_MEMBERSHIP_ROLLUP,
    "q_triangle_count": _oracle_triangle_count(),
    "q_jaccard_nodes": ORACLE_JACCARD_NODES,
    "q_bfs_hops": _oracle_bfs_hops(),
    "q_scc": ORACLE_SCC,
    "q_closeness": ORACLE_CLOSENESS,
    "q_betweenness": ORACLE_BETWEENNESS,
    "q_eigenvector": _oracle_eigenvector(),
    "q_harmonic_centrality": ORACLE_HARMONIC,
    "q_bipartite_project": ORACLE_BIPARTITE_PROJECT,
    "q_pagerank": _oracle_pagerank(),
    "q_write_edgelist": f"""
WITH agg AS (
  SELECT COUNT(*) AS n_edges, SUM(weight) AS total_weight
  FROM ({COPURCHASE_EDGES_SQL})
)
SELECT 'csv' AS format, n_edges, total_weight FROM agg
UNION ALL SELECT 'parquet', n_edges, total_weight FROM agg
UNION ALL SELECT 'json', n_edges, total_weight FROM agg
""",
    "q_adjacency_pivot": _oracle_adjacency_pivot(),
    "q_eccentricity": ORACLE_ECCENTRICITY,
    "q_random_walk": _oracle_random_walk(),
    "q_conductance": ORACLE_CONDUCTANCE,
    "q_partition_nmi": ORACLE_PARTITION_NMI,
    "q_hits": _oracle_hits(),
    "q_recursive_cte": _oracle_recursive_cte(),
    "q_topo_layers": ORACLE_TOPO_LAYERS,
    # rows-only: q_mst_boruvka (data-dependent Borůvka fixpoint;
    # networkx minimum-spanning-forest golden in tests),
    # q_betweenness_sampled (estimator; rank-correlation +
    # state-bound asserted in tests, exact twin is oracle-checked).
    # q_kcore / q_ktruss / q_graph_coloring moved OFF this list in
    # r12: the peels reach UNIQUE fixpoints (idempotent steps) and
    # the coloring rounds are deterministic functions of the prior
    # state, so the fixed fixture admits fixed-step unrolls (see
    # _oracle_kcore / _oracle_graph_coloring).
    "q_kcore": _oracle_kcore(),
    "q_ktruss": _oracle_ktruss(),
    "q_graph_coloring": _oracle_graph_coloring(),
    "q_betweenness_sampled": _oracle_betweenness_sampled(),
    "q_rich_club": _oracle_rich_club(),
    "q_butterfly": ORACLE_BUTTERFLY,
    "q_butterfly_sampled": ORACLE_BUTTERFLY_SAMPLED,
}
