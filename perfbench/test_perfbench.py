"""Self-tests of the benchmark: generators, the job-group reader and
the output checks. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from workloads import N  # noqa: E402

SMALL_COPURCHASE = dict(customers=150, suppliers=20, orders=1500)
SMALL_DOCS = dict(docs=300, dup_share=0.3, edits=6)


def _digest(d: str) -> dict:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


@pytest.fixture(scope="module")
def spark():
    from louvain_modularity_spark.session import get_spark

    s = get_spark("perfbench-selftest", master=f"local[{N}]", shuffle_partitions=N)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.parametrize(
    "make",
    [
        lambda d, s: gen.copurchase_tables(d, s, **SMALL_COPURCHASE),
        lambda d, s: gen.documents_table(d, s, **SMALL_DOCS),
    ],
    ids=["copurchase", "documents"],
)
def test_generator_is_a_function_of_the_seed(tmp_path, make):
    dirs = [tmp_path / n for n in ("a", "b", "c")]
    for d, seed in zip(dirs, (7, 7, 8)):
        d.mkdir()
        make(str(d), seed)
    a, b, c = (_digest(str(d)) for d in dirs)
    assert a == b
    assert all(a[f] != c[f] for f in a)


def test_reader_counts_a_known_plan_exactly(spark):
    sc = spark.sparkContext
    reader = layers.LayerReader(spark)
    got = [{}, {}]
    for out in got:
        with reader.phase("probe", out):
            spark.range(100_000).repartition(4).count()
    # one SQL execution; AQE runs the range scan, the repartition's
    # shuffle and the count's final stage as three jobs
    assert got[0]["sql_executions"] == 1
    assert got[0]["jobs"] == 3
    # tasks agree with the status tracker, an independent view
    tracker = sc.statusTracker()
    stages = {
        sid
        for jid in tracker.getJobIdsForGroup("perfbench-2")
        for sid in tracker.getJobInfo(jid).stageIds
    }
    tracked = sum(
        info.numCompletedTasks for info in map(tracker.getStageInfo, stages) if info
    )
    assert got[1]["tasks"] == tracked > 0
    assert got[0]["shuffle_write_mb"] > 0
    for k in ("jobs", "sql_executions", "tasks", "shuffle_write_mb"):
        assert got[0][k] == got[1][k], k
    assert 0 <= got[0]["driver_gap_s"] <= got[0]["wall_s"]


def test_partition_check_accepts_engine_output_and_rejects_corruption(spark, tmp_path):
    from louvain_modularity_spark import louvain, metrics, sources
    from louvain_modularity_spark.session import lineage_cut

    gen.copurchase_tables(str(tmp_path), 3, **SMALL_COPURCHASE)
    edges = lineage_cut(sources.copurchase_edges(spark, str(tmp_path)))
    res = louvain.louvain_communities(spark, edges, inline_threshold=500, max_sweeps=2)
    a = lineage_cut(res.assignment)
    q = metrics.modularity(edges, a)
    pdf = a.toPandas()
    check = checks.PartitionCheck(
        checks.copurchase_graph(str(tmp_path), sources.SUPPLIER_OFFSET)
    )
    assert check(pdf, q)[0]

    moved = pdf.copy()
    other = moved["community"].ne(moved.at[0, "community"]).idxmax()
    moved.at[0, "community"] = moved.at[other, "community"]
    assert not check(moved, q)[0]
    assert not check(pdf.iloc[1:], q)[0]
    assert not check(pd.concat([pdf, pdf.iloc[:1]]), q)[0]
    assert not check(pdf, q + 1e-6)[0]


def test_dup_check_matches_duckdb_and_rejects_corruption(spark, tmp_path):
    import duckdb

    from louvain_modularity_spark import pipeline
    from louvain_modularity_spark.registry import all_oracles

    gen.documents_table(str(tmp_path), 3, **SMALL_DOCS)
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    check = checks.DupClusterCheck(docs, pipeline.DUP_JACCARD)

    con = duckdb.connect()
    con.register("documents", docs)
    want = con.execute(all_oracles()["q_dup_clusters"]).df()
    assert dict(zip(want["doc_id"], want["cluster"])) == check.expected
    assert sum(d != c for d, c in check.expected.items()) > 0

    out = pipeline.q_dup_clusters(spark, str(tmp_path)).toPandas()
    ok, q, _ = check(out)
    assert ok and 0 < q < 1

    dup = out.index[out["cluster"] != out["doc_id"]][0]
    flipped = out.copy()
    flipped.at[dup, "cluster"] = flipped.at[dup, "doc_id"]
    assert not check(flipped)[0]
    kept = out.copy()
    kept.at[dup, "keep"] = True
    assert not check(kept)[0]
    assert not check(out.iloc[1:])[0]
