"""Reference-shaped API facade behaves like the reference entry points."""

import pytest

from louvain_modularity_spark import api
from louvain_modularity_spark.metrics import KARATE_GOLDEN_Q, KARATE_GOLDEN_PARTITION
from louvain_modularity_spark.sources import karate_edges


def test_api_louvain_and_modularity(spark):
    edges = karate_edges(spark)
    assignment = api.louvain_communities(spark, edges, seed=2)
    q = api.modularity(edges, assignment)
    assert q >= KARATE_GOLDEN_Q - 0.05
    sets = api.as_partition_sets(assignment)
    assert sum(len(s) for s in sets) == 34
    assert all(a.isdisjoint(b) for i, a in enumerate(sets) for b in sets[i + 1:])


def test_api_weight_none_ignores_weights(spark):
    """weight=None ⇒ every edge counts 1 regardless of the column
    (reference test_louvain.py:157-176)."""
    import pyspark.sql.functions as F

    edges = karate_edges(spark).withColumn("weight", F.col("src") * 1000.0 + 1)
    a_weighted = api.louvain_communities(spark, edges, weight="weight", seed=2)
    a_none = api.louvain_communities(spark, edges, weight=None, seed=2)
    plain = api.louvain_communities(spark, karate_edges(spark), seed=2)
    none_sets = {frozenset(s) for s in api.as_partition_sets(a_none)}
    plain_sets = {frozenset(s) for s in api.as_partition_sets(plain)}
    assert none_sets == plain_sets
    weighted_sets = {frozenset(s) for s in api.as_partition_sets(a_weighted)}
    assert weighted_sets != none_sets  # the weights actually mattered


def test_api_golden_partition_modularity(spark):
    golden = spark.createDataFrame(
        [(n, c) for c, ns in KARATE_GOLDEN_PARTITION.items() for n in ns],
        "id LONG, community LONG",
    )
    assert api.modularity(karate_edges(spark), golden) == pytest.approx(
        KARATE_GOLDEN_Q, abs=1e-12
    )


def test_api_partitions_dendrogram(spark):
    levels = api.louvain_partitions(spark, karate_edges(spark), seed=2)
    assert len(levels) >= 1
    for lvl in levels:
        assert lvl.count() == 34


def test_api_modularity_rejects_partial_partition(spark):
    """A non-covering assignment must raise NotAPartition (reference
    behavior), not silently compute Q over a shrunken graph."""
    from louvain_modularity_spark.metrics import NotAPartition

    partial = spark.createDataFrame(
        [(i, 0) for i in range(17)], "id LONG, community LONG"
    )
    with pytest.raises(NotAPartition, match="missing"):
        api.modularity(karate_edges(spark), partial)
    dup = spark.createDataFrame(
        [(i, i % 3) for i in range(34)] + [(0, 1)], "id LONG, community LONG"
    )
    with pytest.raises(NotAPartition, match="multiple"):
        api.modularity(karate_edges(spark), dup)


def test_read_edgelist_generic(spark, tmp_path):
    """Path-parameterized edge-list reading: comments, blank weights,
    weighted and unweighted forms."""
    p = tmp_path / "my.edgelist"
    p.write_text("# a comment\n1 2 3.5\n2 3 1.5\n")
    rows = sorted(
        map(tuple, api.read_edgelist(spark, str(p), weighted=True).collect())
    )
    assert rows == [(1, 2, 3.5), (2, 3, 1.5)]
    pu = tmp_path / "unweighted.edgelist"
    pu.write_text("5 6\n6 7\n")
    rows_u = sorted(map(tuple, api.read_edgelist(spark, str(pu)).collect()))
    assert rows_u == [(5, 6, 1.0), (6, 7, 1.0)]
    # end-to-end: reader output feeds the flagship directly
    res = api.louvain_communities(spark, api.read_edgelist(spark, str(pu)))
    assert res.count() == 3


def test_lineage_cut_reliable_checkpoint_agrees(spark, tmp_path):
    """lineage_cut's cluster arm: with spark.graft.checkpointDir set,
    every cut becomes a reliable checkpoint() instead of an eager
    localCheckpoint — an iterative query (k-core: per-round anti-join
    peeling, many cuts) must produce identical rows either way, the
    same both-branches pin as Borůvka/CC/dup-embedding."""
    from conftest import SF_DIR

    from louvain_modularity_spark.graph import q_kcore

    base = sorted(map(tuple, q_kcore(spark, SF_DIR).collect()))
    spark.conf.set("spark.graft.checkpointDir", str(tmp_path / "ckpt"))
    try:
        forced = sorted(map(tuple, q_kcore(spark, SF_DIR).collect()))
    finally:
        spark.conf.unset("spark.graft.checkpointDir")
    assert forced == base and base
    # the reliable arm really ran: checkpoint files exist on disk
    assert any((tmp_path / "ckpt").rglob("*"))


def test_lineage_cut_checkpoint_retention_guard(spark, tmp_path, monkeypatch):
    """The reliable arm's retention hygiene (r7 ADVICE): sessions built
    by get_spark carry spark.cleaner.referenceTracking.cleanCheckpoints
    =true (context-start conf), so no retention warning fires; on a
    context WITHOUT it (harness-supplied sessions) lineage_cut warns
    exactly once per app that checkpoint files accumulate for the
    application lifetime."""
    import warnings

    import pyspark.sql.functions as F
    from pyspark.conf import SparkConf

    from louvain_modularity_spark import session as S

    assert (
        spark.sparkContext.getConf()
        .get("spark.cleaner.referenceTracking.cleanCheckpoints", "false")
        == "true"
    )
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    # our own factory's session: no warning
    spark.conf.set("spark.graft.checkpointDir", str(tmp_path / "a"))
    try:
        monkeypatch.setattr(S, "_CKPT_DIRS_SET", set())
        monkeypatch.setattr(S, "_CKPT_RETENTION_WARNED", set())
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            S.lineage_cut(df)
        # simulate a foreign context lacking the cleaner conf
        monkeypatch.setattr(S, "_CKPT_DIRS_SET", set())
        monkeypatch.setattr(S, "_CKPT_RETENTION_WARNED", set())
        monkeypatch.setattr(
            SparkConf, "get", lambda self, k, defaultValue=None: "false"
        )
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            S.lineage_cut(df)
            S.lineage_cut(df)  # once per app, not per cut
        hits = [x for x in w if "cleanCheckpoints" in str(x.message)]
        assert len(hits) == 1, [str(x.message) for x in w]
    finally:
        spark.conf.unset("spark.graft.checkpointDir")


def test_collect_if_small_boundary(spark):
    """The hybrid-tail probe at its threshold: exactly ``limit`` rows
    come back inline and intact, ``limit + 1`` rows send the caller
    distributed (None), and an empty frame is an empty inline result,
    not None."""
    from louvain_modularity_spark.session import collect_if_small

    df = spark.range(0, 50, 1, 4).toDF("id")
    pdf = collect_if_small(df, 50)
    assert sorted(pdf["id"].tolist()) == list(range(50))
    assert collect_if_small(df, 49) is None
    empty = collect_if_small(df.filter("id < 0"), 10)
    assert empty is not None and len(empty) == 0
    assert list(empty.columns) == ["id"]


def test_env_int_malformed_value_warns_and_defaults(monkeypatch):
    """A malformed integer knob falls back to its default with a
    warning instead of crashing; unset/empty reads the default
    silently and a valid value is used."""
    import warnings

    from louvain_modularity_spark.session import env_int

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "abc")
    with pytest.warns(UserWarning, match="SPARK_GRAFT_CPUS"):
        assert env_int("SPARK_GRAFT_CPUS", 3) == 3
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
        assert env_int("SPARK_GRAFT_CPUS", 3) == 6
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
        assert env_int("SPARK_GRAFT_CPUS", 3) == 3
        monkeypatch.delenv("SPARK_GRAFT_CPUS")
        assert env_int("SPARK_GRAFT_CPUS", 3) == 3


def test_fan_out_gate_and_row_multiset(spark):
    """fan_out (r19): below the core count it round-robins the scan up
    to defaultParallelism and preserves the row MULTISET exactly (incl.
    duplicates); at/above the target it is a plan no-op — the 100 TB
    case, where the input already has >= cores splits."""
    from louvain_modularity_spark.session import fan_out

    rows = [(i % 3, f"t{i % 5}") for i in range(100)]  # duplicates
    df = spark.createDataFrame(rows, "k int, t string").coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = fan_out(df)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    assert sorted(map(tuple, out.collect())) == sorted(rows)
    # no-op gate: already-wide input comes back unchanged (same plan)
    wide = df.repartition(target)
    assert fan_out(wide) is wide
    # explicit parts override honours the same gate
    assert fan_out(wide, parts=2) is wide
    assert fan_out(df, parts=4).rdd.getNumPartitions() == 4
    # self-enforcing contract (r20): a plan containing an Exchange is
    # returned unchanged even when its partition count is below the
    # target — fan_out must never probe (and thereby materialize query
    # stages of) an exchange-bearing plan
    narrow_exchange = df.repartition(2)
    assert narrow_exchange.rdd.getNumPartitions() < target
    assert fan_out(narrow_exchange) is narrow_exchange
    # ...and an exchange-free checkpointed frame is still fanned out
    ckpt = df.localCheckpoint(eager=True)
    assert fan_out(ckpt).rdd.getNumPartitions() == target


def test_maybe_broadcast_gate(spark):
    """maybe_broadcast (r19): a driver-known row count at or under
    BROADCAST_STATE_ROWS applies an explicit broadcast hint (the join
    plans a broadcast join even where the planner has no size
    estimate); above the gate, or with no known count, the frame is
    returned unchanged so the caller's shuffle plan survives — the
    100 TB case."""
    from louvain_modularity_spark.graph import (
        BROADCAST_STATE_ROWS,
        maybe_broadcast,
    )

    small = spark.range(10).toDF("id")
    big = spark.range(1000).toDF("id")
    hinted = maybe_broadcast(small, 10)
    plan = (
        big.join(hinted, "id")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    )
    assert "Broadcast" in plan
    # above the gate / unknown count: identity, no hint injected
    assert maybe_broadcast(small, BROADCAST_STATE_ROWS + 1) is small
    assert maybe_broadcast(small, None) is small
