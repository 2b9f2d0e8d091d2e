"""Assembles the full query inventory declared in SURVEY.md §2.

Each operator module exposes ``QUERIES: dict[name, fn(spark, sf_dir)
-> DataFrame]`` and ``ORACLES: dict[name, duckdb_sql]`` (oracle absent
→ the driver runs its weaker rows-only check). This module merges
them, leading the iteration order with the driver's correctness
window; ``__spark_entry__.py`` re-exports.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def _modules():
    from . import (
        analytics,
        datasci,
        funcs,
        graph,
        llm_ops,
        louvain,
        metrics,
        multimodal,
        pipeline,
        pysource,
        relational,
        streaming,
        textprep,
        tpch,
        tsml,
    )

    return [
        louvain,
        metrics,
        llm_ops,
        multimodal,
        streaming,
        relational,
        funcs,
        graph,
        textprep,
        pipeline,
        analytics,
        tpch,
        datasci,
        tsml,
        pysource,
    ]


# Order matters: the correctness driver verifies the FIRST 50 entries of
# all_queries(), so WINDOW leads the iteration order and every other
# name follows in module order. Rotation is mechanical: re-green the 50
# names whose latest driver CORRECTNESS row is oldest (ties
# alphabetical). To rotate, run `python scripts/window_plan.py`, paste
# its 50 names into WINDOW, and set WINDOW_ROWS_ONLY to the pasted names
# that have no oracle. Past windows live in CORRECTNESS_r*.json and git.
#
# Every oracle-backed entry is local DuckDB-parity green at
# sf0.001+sf0.01 (tests/test_oracle_parity.py runs the driver's own
# comparison); rows-only entries carry golden/invariant pytest evidence
# (networkx k_truss / MSF, exact BPE merge list, numpy PCA, PQ recall
# floor, from-scratch DBSCAN, Leiden invariants).

# The active window, as scripts/window_plan.py derived it: the 50 names
# with the oldest driver rows once the previous window ran.
WINDOW = [
    # r13 remainder (last 8 of the r13 cohort, alphabetical)
    "q_tpch_q11",
    "q_tpch_q16",
    "q_tpch_q20",
    "q_tpch_q9",
    "q_union_by_name",
    "q_window_frame",
    "q_window_rank",
    "q_write_edgelist",
    # r14 greens, alphabetical, first 42 (8 + 42 = 50)
    "q_allocation",
    "q_anova",
    "q_approx_cd",
    "q_arrow_batch",
    "q_assoc_rules",
    "q_autocorr",
    "q_benford",
    "q_bin_pack",
    "q_bollinger",
    "q_bpe_encode",
    "q_butterfly",
    "q_cogroup_udf",
    "q_cohort_ltv",
    "q_collation",
    "q_crosstab_chi2",
    "q_cusum",
    "q_e2e_curation",
    "q_ewma",
    "q_gini",
    "q_graph_drift",
    "q_histogram_2d",
    "q_interval_merge",
    "q_item_cf",
    "q_kaplan_meier",
    "q_kmv_sketch",
    "q_mann_whitney",
    "q_neighbor_agg",
    "q_nested_prune",
    "q_null_imputation",
    "q_ohlc_bars",
    "q_one_hot",
    "q_pareto_abc",
    "q_pq_ann",
    "q_recursive_cte",
    "q_reservoir_group",
    "q_rfm",
    "q_running_distinct",
    "q_seasonal_baseline",
    "q_session_paths",
    "q_skew_stats",
    "q_skyline",
    "q_sorted_neighborhood",
]

# Names in WINDOW without a DuckDB oracle (rows-only check): the exact
# pure-Python BPE-encode golden over the learned merge list is a
# documented rejection (SURVEY §2.40).
WINDOW_ROWS_ONLY = ["q_bpe_encode"]


def all_queries() -> dict[str, QueryFn]:
    merged: dict[str, QueryFn] = {}
    for mod in _modules():
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names from {mod.__name__}: {overlap}")
        merged.update(mod.QUERIES)
    missing = [n for n in WINDOW if n not in merged]
    if missing:
        raise ValueError(f"window names not registered: {missing}")
    out: dict[str, QueryFn] = {n: merged[n] for n in WINDOW}
    out.update({n: fn for n, fn in merged.items() if n not in out})
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(mod.ORACLES)
    return out
