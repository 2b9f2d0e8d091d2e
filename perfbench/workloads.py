"""The benchmark workloads: inputs, one repetition, and its check.

A repetition is a sequence of phases, each one call into a module's
public function. ``phase(name)`` is the context each call runs under:
a no-op when untraced, a tagged job group when traced.
"""

from __future__ import annotations

import os

import pandas as pd

import checks
import gen

#: Spark's local[N] and shuffle partitions; job, stage and task counts
#: depend on it, so it is fixed for every workload
N = 2

#: seed of the generated inputs: fixed, so runs with different
#: ``--seed`` time the same tables and input variance does not count as
#: noise; ``--seed`` drives ``louvain_communities(seed=...)``
INPUT_SEED = 0


class LouvainDistributed:
    """Louvain with its first level forced onto the distributed path:
    co-purchase edges -> louvain_communities -> validate + modularity."""

    phases = ("sources", "louvain", "metrics")
    #: generated co-purchase tables in TPC-H proportions (10 orders per
    #: customer, 15 customers per supplier): ~29k edges, ~1.1k vertices
    size = dict(customers=1000, suppliers=67, orders=10_000)
    #: below the input's edge count, so level 0 runs distributed rounds
    #: and the coarsened levels finish in the driver
    inline_threshold = 10_000
    #: two sweeps keep one repetition near 3 s on a 4-core host, so a
    #: run fits its warm-up and a 20 s timed window in ~55 s
    max_sweeps = 2

    def __init__(self, work_dir: str, seed: int):
        self.dir, self.seed = work_dir, seed
        self.sizes = gen.copurchase_tables(work_dir, INPUT_SEED, **self.size)

    def rep(self, spark, phase):
        from louvain_modularity_spark import louvain, metrics, sources
        from louvain_modularity_spark.session import lineage_cut

        with phase("sources"):
            edges = lineage_cut(sources.copurchase_edges(spark, self.dir))
        with phase("louvain"):
            res = louvain.louvain_communities(
                spark,
                edges,
                inline_threshold=self.inline_threshold,
                max_sweeps=self.max_sweeps,
                seed=self.seed,
            )
            assignment = lineage_cut(res.assignment)
        with phase("metrics"):
            metrics.validate_partition(edges, assignment)
            q = metrics.modularity(edges, assignment)
        return assignment, q

    @staticmethod
    def collect(out):
        assignment, q = out
        return assignment.select("id", "community").toPandas(), q

    def checker(self):
        from louvain_modularity_spark.sources import SUPPLIER_OFFSET

        check = checks.PartitionCheck(checks.copurchase_graph(self.dir, SUPPLIER_OFFSET))
        return lambda got: check(*got)


class CcDedup:
    """Near-duplicate clustering: documents -> shingle/Jaccard join ->
    union-find tail, one call to pipeline.q_dup_clusters. The corpus is
    fixed, so ``seed`` has no effect here."""

    phases = ("pipeline",)
    size = dict(docs=3000, dup_share=0.3, edits=6)

    def __init__(self, work_dir: str, seed: int):
        self.dir = work_dir
        self.sizes = gen.documents_table(work_dir, INPUT_SEED, **self.size)

    def rep(self, spark, phase):
        from louvain_modularity_spark import pipeline

        with phase("pipeline"):
            return pipeline.q_dup_clusters(spark, self.dir).toPandas()

    @staticmethod
    def collect(out):
        return out

    def checker(self):
        from louvain_modularity_spark.pipeline import DUP_JACCARD

        docs = pd.read_parquet(os.path.join(self.dir, "documents.parquet"))
        return checks.DupClusterCheck(docs, DUP_JACCARD)


WORKLOADS = {"louvain_distributed": LouvainDistributed, "cc_dedup": CcDedup}
