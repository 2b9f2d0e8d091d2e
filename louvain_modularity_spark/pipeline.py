"""End-to-end training-data pipeline operators (SURVEY.md §2.15,
round-2 pack): near-duplicate clustering with canonical-keeper
selection, contiguous sequence packing, benchmark-contamination
detection, Gopher-style repetition scoring, and Lloyd k-means over
embeddings — the steps that turn a raw corpus into a training set.

These compose the engine's own primitives (n-gram Jaccard pairs,
distributed connected components) instead of re-implementing them —
the same layering a user of the engine would write.

Scale notes per operator are in each docstring; the common theme is
that every step is either a bounded inverted-index join, a per-shard
window, or an O(K·d) broadcast of driver-held centroids — no all-pairs
products and no corpus-sized driver state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .session import collect_if_small, fan_out, lineage_cut

from .graph import maybe_broadcast, min_id_components
from .llm_ops import _DOT_SQL, ngram_jaccard_pairs, shingles_of
from .louvain import connected_components
from .sources import load

#: near-dup clustering edge threshold (exact n-gram Jaccard)
DUP_JACCARD = 0.5
#: dup-pair graphs at or below this many edges are union-found in the
#: driver (q_dup_clusters' hybrid tail); module-level so tests can
#: monkeypatch it to force the distributed branch
DUP_INLINE_EDGES = 1_000_000
#: sequence-packing context window, in whitespace tokens
PACK_TOKENS = 256
#: contamination shingle width / benchmark-membership modulus
CONTAM_K = 4
CONTAM_MOD = 23
#: k-means cluster count (init = the K smallest vec_ids)
KMEANS_K = 8


# ---------------------------------------------------------------------------
# near-duplicate clustering
# ---------------------------------------------------------------------------


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering + canonical-keeper selection — the
    step AFTER pair generation that actual dedup pipelines need: build
    the dup graph from exact n-gram Jaccard pairs (≥ DUP_JACCARD),
    take connected components, and keep the min-doc_id member of each
    cluster.

    Output: (doc_id, cluster, keep) for every document; singletons are
    their own cluster and always kept.

    100 TB shape: pair generation is the skew-capped inverted-index
    join (ngram_jaccard_pairs); clustering is Pregel-style min-id
    propagation over the PAIR graph only — near-dup graphs are tiny
    relative to the corpus (most docs are singletons and never enter
    the iteration); the final join back to the corpus is a broadcast
    of the clustered minority. Like Louvain's hybrid tail, a pair
    graph under ``DUP_INLINE_EDGES`` is collected and union-found in
    the driver (identical min-id components, none of the superstep
    fixed costs); above it the distributed min-propagation runs."""
    d = load(spark, sf_dir, "documents")
    edges = (
        # fan the corpus scan out before the shingle-index build (r19):
        # the pair pipeline's lazy shingle checkpoint otherwise
        # materializes the whole explode on the scan's ONE split (a
        # measured 2.0 s single-task job at sf0.1) AND pins every
        # downstream index stage to that single partition. No-op at
        # real scale (gate in fan_out). Values: exact count aggregates
        # over an unchanged row multiset.
        ngram_jaccard_pairs(fan_out(d))
        .filter(F.col("jaccard") >= DUP_JACCARD)
        .select(
            F.col("doc_a").alias("src"),
            F.col("doc_b").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
        # the dup-pair graph is minuscule next to the corpus; pin it so
        # downstream consumers don't re-run the inverted-index join
        # (lazy cut, r20: the probe below materializes the blocks in
        # the same job that answers the branch decision)
        .transform(lambda df: lineage_cut(df, eager=False))
    )
    pdf = collect_if_small(edges.select("src", "dst"), DUP_INLINE_EDGES)
    if pdf is not None:
        # roots map to themselves, which the coalesce below supplies:
        # ship only the clustered non-root docs to the final join
        labels = min_id_components(pdf["src"].tolist(), pdf["dst"].tolist())
        comp = spark.createDataFrame(
            [(x, r) for x, r in labels.items() if x != r], "doc_id LONG, cluster LONG"
        )
    else:
        comp = connected_components(spark, edges).select(
            F.col("id").alias("doc_id"), F.col("component").alias("cluster")
        )
    return d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster", "doc_id").alias("cluster"),
        (F.coalesce("cluster", "doc_id") == F.col("doc_id")).alias("keep"),
    )


ORACLE_DUP_CLUSTERS = f"""
WITH RECURSIVE sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks,
            unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1)) AS i
          FROM documents)
  ) WHERE shingle <> ''
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= {DUP_JACCARD}
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, comp) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT sym.dst, reach.comp FROM reach JOIN sym ON sym.src = reach.id
),
cc AS (SELECT id AS doc_id, MIN(comp) AS cluster FROM reach GROUP BY 1)
SELECT d.doc_id,
       COALESCE(cc.cluster, d.doc_id) AS cluster,
       COALESCE(cc.cluster, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN cc USING (doc_id)
"""


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing (GPT-style pretraining batches):
    within each language shard, lay documents end-to-end in doc_id
    order and cut the token stream into PACK_TOKENS-sized windows; a
    document's bin is the window its first token lands in.

    Output: (doc_id, lang, n_tokens, stream_offset, bin_id).

    100 TB shape: one running-sum window per shard, no global sort —
    the shard key (here `lang` for oracle determinism; a hash-bucket
    key in production) bounds every window partition, and packing
    shards are embarrassingly parallel."""
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select(
            "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
        )
        .withColumn(
            "stream_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn(
            "bin_id",
            F.floor(F.col("stream_offset") / F.lit(PACK_TOKENS)).cast("bigint"),
        )
    )


ORACLE_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tokens
            AS BIGINT) AS stream_offset,
       CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                  / {PACK_TOKENS}) AS BIGINT) AS bin_id
FROM t
"""


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: count, per corpus document, the
    distinct CONTAM_K-token shingles it shares with a held-out
    benchmark set (docs with doc_id % CONTAM_MOD == 0 stand in for an
    eval suite). Docs with any overlap are what a decontamination pass
    would drop.

    Output: (doc_id, n_shared) for contaminated non-benchmark docs.

    100 TB shape: benchmark suites are small and fixed, so the
    benchmark shingle set is BROADCAST; the corpus side is one
    shuffle-free semi-join + one map-side-combined count — the corpus
    is never self-joined."""
    d = load(spark, sf_dir, "documents")
    sh = shingles_of(d, CONTAM_K)
    bench = (
        sh.filter(F.col("doc_id") % CONTAM_MOD == 0)
        .select("shingle")
        .distinct()
    )
    return (
        sh.filter(F.col("doc_id") % CONTAM_MOD != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


ORACLE_CONTAMINATION = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           array_to_string(list_slice(toks, i, i + {CONTAM_K} - 1), ' ') AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks,
            unnest(range(1, greatest(len(string_split(text, ' ')) - {CONTAM_K - 1}, 1) + 1)) AS i
          FROM documents)
  ) WHERE shingle <> ''
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {CONTAM_MOD} = 0)
SELECT doc_id, COUNT(*) AS n_shared
FROM sh JOIN bench USING (shingle)
WHERE doc_id % {CONTAM_MOD} <> 0
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# repetition / quality scoring
# ---------------------------------------------------------------------------


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals: distinct-token
    ratio and the fraction of all bigrams taken by the single most
    frequent bigram (high → boilerplate/spam). Ratios are exact
    integer-over-integer divisions, so both engines agree bitwise.

    Output: (doc_id, n_tokens, distinct_ratio, top_bigram_frac).

    100 TB shape: two map-side-combined per-doc aggregations; nothing
    leaves the document's rows except the final per-doc scalars."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    tok_stats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
    )
    bigrams = F.expr(
        "CASE WHEN size(split(text, ' ')) < 2 THEN array()"
        " ELSE transform(sequence(1, size(split(text, ' ')) - 1),"
        "  i -> concat(element_at(split(text, ' '), i), ' ',"
        "              element_at(split(text, ' '), i + 1))) END"
    )
    bg_top = (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_bigrams")
        )
    )
    return (
        tok_stats.join(bg_top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
                "distinct_ratio"
            ),
            F.coalesce(
                F.col("top_cnt").cast("double") / F.col("n_bigrams"), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
    )


ORACLE_REPETITION_RATIO = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tok_stats AS (
  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct
  FROM toks WHERE token <> '' GROUP BY 1
),
bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
          unnest(range(1, len(string_split(text, ' ')))) AS i
        FROM documents WHERE len(string_split(text, ' ')) >= 2)
),
bg_top AS (
  SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS n_bigrams
  FROM (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
  GROUP BY 1
)
SELECT t.doc_id, t.n_tokens,
       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
       COALESCE(CAST(top_cnt AS DOUBLE) / n_bigrams, 0.0) AS top_bigram_frac
FROM tok_stats t LEFT JOIN bg_top USING (doc_id)
"""


# ---------------------------------------------------------------------------
# k-means over embeddings
# ---------------------------------------------------------------------------


def _assign(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(vec_id, cluster): nearest centroid by squared L2, ties to the
    smallest cluster id. Centroids are driver-held literals (K·d
    doubles) broadcast into the plan — the canonical Lloyd layout: the
    corpus never shuffles, each iteration is one embarrassingly
    parallel scan."""
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"),
                        F.array(*[F.lit(float(v)) for v in vec]),
                        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(cid).alias("cid"),
            )
            for cid, vec in centroids
        ]
    )
    return emb.select(
        "vec_id", F.array_min(dists).getField("cid").alias("cluster")
    )


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means over the embeddings table (K = KMEANS_K, init =
    the K smallest vec_ids, one centroid update, two assignment
    rounds) — the training step behind the IVF ANN index's inverted
    lists. Output: final (vec_id, cluster) assignments.

    Distance and mean arithmetic are spelled identically in both
    engines (index-ordered fold, double math); the integer-valued
    output makes the comparison robust to end-of-float-sum noise.

    100 TB shape: centroids (K·d doubles) live on the driver and are
    broadcast as plan literals; each Lloyd iteration is one scan +
    one map-side-combined per-(cluster, dim) average — the classic
    distributed k-means layout. The corpus is never shuffled by
    cluster; only K·d partial sums move."""
    emb = load(spark, sf_dir, "embeddings")
    init = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < KMEANS_K)
        .select("vec_id", "embedding")
        .collect()
    ]
    init.sort()
    a1 = _assign(emb, init)
    upd = (
        a1.join(emb, "vec_id")
        .select("cluster", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.avg(F.col("val").cast("double")).alias("v"))
        .collect()
    )
    cents: dict[int, dict[int, float]] = {}
    for r in upd:
        cents.setdefault(int(r["cluster"]), {})[int(r["dim"])] = float(r["v"])
    c1 = [
        (cid, [dims[i] for i in sorted(dims)]) for cid, dims in sorted(cents.items())
    ]
    return _assign(emb, c1)


ORACLE_KMEANS = f"""
WITH c0 AS (
  SELECT vec_id AS cid, embedding AS c FROM embeddings WHERE vec_id < {KMEANS_K}
),
d1 AS (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(list_zip(e.embedding, c.c),
           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
              * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d
  FROM embeddings e CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d1
  ) WHERE rn = 1
),
cent AS (
  SELECT a1.cluster, t.i, avg(CAST(e.embedding[t.i] AS DOUBLE)) AS v
  FROM a1 JOIN embeddings e USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, len(c) + 1)) AS i
              FROM (SELECT c FROM c0 LIMIT 1)) t
  GROUP BY 1, 2
),
c1 AS (SELECT cluster AS cid, list(v ORDER BY i) AS c FROM cent GROUP BY 1),
d2 AS (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(list_zip(e.embedding, c.c),
           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
              * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d
  FROM embeddings e CROSS JOIN c1 c
)
SELECT vec_id, cid AS cluster FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM d2
) WHERE rn = 1
"""


def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 table function): tokenize each
    document via a lateral-joined UDTF emitting (doc_id, pos, token)
    rows — the §2.10 table-function analogue of q_udf_pandas.

    Like q_udf_pandas this exists to exercise and cross-check the UDF
    surface, not as the hot path: every production tokenizer here uses
    builtins (split/explode stay in whole-stage codegen; a per-row
    Python generator does not). The oracle pins the UDTF's semantics
    to the same unnest-with-ordinality SQL."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id BIGINT, pos INT, token STRING")
    class SplitTokens:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            if text is None:
                return
            for i, tok in enumerate(text.split(" ")):
                if tok:
                    yield doc_id, i, tok

    spark.udtf.register("split_tokens", SplitTokens)
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        "SELECT s.doc_id, s.pos, s.token "
        "FROM docs_for_udtf, LATERAL split_tokens(doc_id, text) s"
    )


#: e2e curation: minimum tokens to pass the gate / shard token budget
E2E_MIN_TOKENS = 5
E2E_BIN_TOKENS = 1000


def q_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline in one plan — the composition the
    individual operators exist for: quality gate (token floor + ≥50%
    alphabetic tokens, integer cross-multiplied so no float compare)
    → exact content dedup (sha256 min-keeper) → per-language sequence
    packing into E2E_BIN_TOKENS-token shards → per-(lang, shard)
    manifest stats. Every stage is an already-oracle-verified shape
    (q_gopher_quality / q_dedup_doc_exact / q_pack_sequences /
    q_bin_pack); this query proves they COMPOSE into a single lazy
    plan without materialization barriers.

    100 TB shape: gate is a codegen'd projection fused into the scan;
    dedup is one hash shuffle on the digest; packing is one running
    window per language shard; the output is manifest-sized. One scan,
    two shuffles, no Python.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_alpha = F.expr("size(filter(split(text, ' '), t -> t rlike '^[A-Za-z]+$'))")
    gated = d.select(
        "doc_id", "lang", "text", n_tokens.alias("n_tokens")
    ).filter((n_tokens >= E2E_MIN_TOKENS) & (n_alpha * 2 >= n_tokens))
    keeper_w = Window.partitionBy(F.sha2("text", 256))
    kept = (
        gated.withColumn("keep_id", F.min("doc_id").over(keeper_w))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "lang", "n_tokens")
    )
    pack_w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = kept.select(
        "doc_id",
        "lang",
        "n_tokens",
        (
            (F.sum("n_tokens").over(pack_w) - F.col("n_tokens"))
            / F.lit(E2E_BIN_TOKENS)
        )
        .cast("long")
        .alias("shard"),
    )
    return (
        packed.groupBy("lang", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "shard")
    )


ORACLE_E2E_CURATION = f"""
WITH gated AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
  FROM documents
  WHERE len(string_split(text, ' ')) >= {E2E_MIN_TOKENS}
    AND len(list_filter(string_split(text, ' '),
                        t -> regexp_full_match(t, '[A-Za-z]+'))) * 2
        >= len(string_split(text, ' '))
),
kept AS (
  SELECT doc_id, lang, n_tokens
  FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
        FROM gated)
  WHERE doc_id = keep_id
),
packed AS (
  SELECT doc_id, lang, n_tokens,
         CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens)
              // {E2E_BIN_TOKENS} AS BIGINT) AS shard
  FROM kept
)
SELECT lang, shard, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM packed GROUP BY 1, 2 ORDER BY 1, 2
"""


#: cogroup bucket cap: one bucket's pandas frame holds at most this
#: many orders (n_buckets = ⌈n_orders / cap⌉, floor 64 for
#: parallelism) — bounds the per-Python-call Arrow batch regardless of
#: corpus size, mirroring DUP_EMB_BLOCK_VECS
COGROUP_BUCKET_ORDERS = 10_000


def q_cogroup_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map Python surface (``groupBy().cogroup()
    .applyInPandas``): per-order reconciliation of the order header
    total against the sum of its line items — the two sides arrive as
    separate per-key pandas frames (the API whose point is seeing BOTH
    groups at once), keys missing on either side included. All money
    is converted to integer cents JVM-SIDE before crossing into
    Python, so the Arrow round trip carries only int64 — no float
    drift can enter.

    Like q_udf_pandas / q_udtf_tokens this exercises the API surface
    and pins its semantics to a relational oracle (a full-outer-join
    aggregate); the production reconciliation IS that full outer join
    (q_diff_snapshot) — a per-key Python callback is never the hot
    path. At scale cogroup shuffles both sides on the key once, same
    as the join it mirrors.

    The cogroup KEY is a hash bucket of the order key, not the order
    key itself (r7): keying per order invoked Python once per order —
    ~2.5 ms of pandas-frame overhead × N orders (measured 40 s at
    sf0.01, the slowest query in the registry by 3×) — where the
    bucket key gives a BOUNDED number of Python calls and a vectorized
    pandas groupby-merge over each bucket's orders inside the
    callback. Same per-order rows (outer merge keeps keys missing on
    either side), same rollup, same oracle; measured 40 → ~2 s.

    The bucket COUNT scales with the order count (r8, the r7 ADVICE
    medium: a fixed 64 made each bucket's pandas frame grow O(N/64) —
    the unbounded single-task buffer class the kernel family
    eliminates elsewhere): n_buckets = ⌈n_orders /
    COGROUP_BUCKET_ORDERS⌉ with a floor of 64 for parallelism, so one
    bucket's frame holds ≤ COGROUP_BUCKET_ORDERS orders (plus their
    ~4× line items) at ANY corpus size — one driver-side count, the
    same sizing idiom as q_dup_embedding's NB
    (scripts/stress_adaptive.py measures both across two corpus
    sizes)."""
    import pandas as pd

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.round(F.col("o_totalprice").cast("decimal(14,2)"), 2) * 100)
        .cast("long")
        .alias("o_cents"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.round(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)"))
                * (F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(4,2)")),
                2,
            )
            * 100
        )
        .cast("long")
        .alias("l_cents"),
    )

    def reconcile(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        og = odf.groupby("o_orderkey", as_index=False).agg(
            o_sum=("o_cents", "sum"), prio=("o_orderpriority", "first")
        )
        lg = ldf.groupby("l_orderkey", as_index=False).agg(
            l_sum=("l_cents", "sum")
        )
        m = og.merge(
            lg, left_on="o_orderkey", right_on="l_orderkey", how="outer"
        )
        return pd.DataFrame(
            {
                "prio": m["prio"].fillna("(no-order)"),
                "diff_cents": (
                    m["o_sum"].fillna(0) - m["l_sum"].fillna(0)
                ).astype("int64"),
                "has_lines": m["l_orderkey"].notna().astype("int32"),
            }
        )

    n_buckets = max(64, -(-o.count() // COGROUP_BUCKET_ORDERS))
    per_key = (
        o.withColumn("b", F.pmod("o_orderkey", F.lit(n_buckets)))
        .groupBy("b")
        .cogroup(
            li.withColumn("b", F.pmod("l_orderkey", F.lit(n_buckets))).groupBy("b")
        )
        .applyInPandas(reconcile, "prio string, diff_cents long, has_lines int")
    )
    return (
        per_key.groupBy("prio")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.abs(F.col("diff_cents"))).alias("total_abs_diff_cents"),
            F.sum("has_lines").alias("n_with_lines"),
        )
        .orderBy("prio")
    )


ORACLE_COGROUP_UDF = """
WITH l AS (
  SELECT l_orderkey,
         SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(14,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                        * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2))), 2)
                  * 100 AS BIGINT)) AS l_sum
  FROM lineitem GROUP BY 1
),
o AS (
  SELECT o_orderkey, o_orderpriority AS prio,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(14,2)), 2) * 100 AS BIGINT)
           AS o_cents
  FROM orders
),
per_key AS (
  SELECT COALESCE(o.prio, '(no-order)') AS prio,
         COALESCE(o.o_cents, 0) - COALESCE(l.l_sum, 0) AS diff_cents,
         CASE WHEN l.l_orderkey IS NULL THEN 0 ELSE 1 END AS has_lines
  FROM o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
)
SELECT prio, COUNT(*) AS n_orders,
       CAST(SUM(ABS(diff_cents)) AS BIGINT) AS total_abs_diff_cents,
       CAST(SUM(has_lines) AS BIGINT) AS n_with_lines
FROM per_key GROUP BY 1 ORDER BY 1
"""


ORACLE_UDTF_TOKENS = """
SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS token
FROM (SELECT doc_id, string_split(text, ' ') AS toks,
        unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
      FROM documents)
WHERE toks[i] <> ''
"""


#: SemDeDup cosine threshold — calibrated to the synthetic corpus
#: (max within-cluster cosine ≈ 0.49; 0.35 marks the ~0.5% most
#: similar pairs as duplicates). Real corpora use ~0.95+.
SEMDEDUP_TAU = 0.35
#: SemDeDup cluster count (init = the K smallest vec_ids, as q_kmeans)
SEMDEDUP_K = 8


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings and dropping near-identical vectors WITHIN
    each cluster — the technique's point is that clustering bounds the
    pairwise comparison to cluster-sized blocks instead of the corpus.
    Keep rule is the deterministic greedy: drop v iff some kept-order
    earlier vector u (u.vec_id < v.vec_id) in the same cluster has
    cos(u, v) ≥ SEMDEDUP_TAU.

    100 TB shape: centroids are K·d broadcast literals (here the K
    smallest vec_ids, the q_kmeans init convention — a trained
    codebook at scale); assignment is one broadcast argmax pass over
    the corpus; the within-cluster self-join shuffles once on the
    cluster id, and the per-pair work is bounded by the largest
    cluster (balance the codebook, or sub-split hot clusters, exactly
    as IVF does). No corpus-sized all-pairs product exists; the
    EXISTS collapses to a semi-join feeding an anti-join.

    Output: (vec_id, cluster, keep) for every vector."""
    from .llm_ops import _dot

    emb = load(spark, sf_dir, "embeddings")
    norm = _dot(F.col("embedding"), F.col("embedding"))
    base = emb.select("vec_id", "embedding", norm.alias("n2"))
    cents = base.orderBy("vec_id").limit(SEMDEDUP_K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("c_emb"),
        F.col("n2").alias("c_n2"),
    )
    cos_c = _dot(F.col("c_emb"), F.col("embedding")) / F.sqrt(
        F.col("c_n2") * F.col("n2")
    )
    # nearest-centroid assignment as a map-side-combinable max_by
    # argmax (r11, same move as q_ann_ivf): the row_number window it
    # replaces shuffled + sorted the full N·K crossJoin by vec_id;
    # the aggregate collapses each vector's K contiguous centroid
    # rows to one before any exchange. Tie order unchanged: highest
    # cosine, then smallest cent_id (via -cent_id in the struct).
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .withColumn("cos_c", cos_c)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("embedding", "n2", F.col("cent_id").alias("cluster")),
                F.struct(F.col("cos_c"), (-F.col("cent_id")).alias("nc")),
            ).alias("sel")
        )
        .select("vec_id", "sel.embedding", "sel.n2", "sel.cluster")
        # assigned feeds three plan branches (both self-join sides and
        # the final keep join); pin it so the broadcast-argmax corpus
        # pass runs once, not three times
        .transform(lineage_cut)
    )
    a = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("u_id"),
        F.col("embedding").alias("u_emb"),
        F.col("n2").alias("u_n2"),
    )
    cos_p = _dot(F.col("u_emb"), F.col("embedding")) / F.sqrt(
        F.col("u_n2") * F.col("n2")
    )
    # the cluster id has only SEMDEDUP_K distinct values, so the
    # shuffle self-join on it ran on ≤K tasks (a measured 2.1 s 2-task
    # job at sf0.1 — guide §2.5 "synthetic partitioning keys with too
    # few distinct values"). With a driver-known vector count from the
    # checkpoint, broadcast the u-side (gate: maybe_broadcast) and fan
    # the probe side out — per-pair cosine work then spreads over all
    # cores instead of ≤K. Above the gate (corpus-scale vectors) the
    # original cluster-shuffle join stays.
    # one job gives both the vector count and the embedding width; the
    # broadcast gate for the EMBEDDING-CARRYING side must be width-
    # aware (r20 ADVICE): BROADCAST_STATE_ROWS is calibrated for
    # ~16-byte (long, double) rows, while each row here hauls an
    # 8·dim-byte array — a mid-scale corpus (4M × 128-d doubles ≈ 4 GB)
    # would pass a bare row-count gate yet OOM the executors. Scale the
    # effective row count by dim/2 (8·dim bytes ≈ dim/2 rows of the
    # calibrated width) so the gate stays a ~300 MB byte budget.
    stats = assigned.agg(
        F.count("*").alias("n"), F.max(F.size("embedding")).alias("dim")
    ).collect()[0]
    n_vecs = stats["n"]
    emb_dim = int(stats["dim"] or 0)
    n_vecs_eff = n_vecs * max(1, emb_dim // 2)
    dup_of_earlier = (
        fan_out(assigned).join(maybe_broadcast(a, n_vecs_eff), "cluster")
        .filter(F.col("u_id") < F.col("vec_id"))
        .withColumn("cos_p", cos_p)
        .filter(F.col("cos_p") >= SEMDEDUP_TAU)
        .select("vec_id")
        .distinct()
    )
    return assigned.join(
        maybe_broadcast(dup_of_earlier.withColumn("dup", F.lit(True)), n_vecs),
        "vec_id",
        "left",
    ).select(
        "vec_id",
        "cluster",
        F.coalesce(~F.col("dup"), F.lit(True)).alias("keep"),
    )


ORACLE_SEMDEDUP = f"""
WITH base AS (
  SELECT vec_id, embedding,
         {_DOT_SQL.format(a='embedding', b='embedding')} AS n2
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
  FROM base ORDER BY vec_id LIMIT {SEMDEDUP_K}
),
assigned AS (
  SELECT vec_id, embedding, n2, cent_id AS cluster FROM (
    SELECT b.vec_id, b.embedding, b.n2, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY {_DOT_SQL.format(a='c.c_emb', b='b.embedding')}
                      / SQRT(c.c_n2 * b.n2) DESC,
                      c.cent_id ASC
           ) AS rn
    FROM base b CROSS JOIN cents c
  ) t WHERE rn = 1
)
SELECT v.vec_id, v.cluster,
       NOT EXISTS (
         SELECT 1 FROM assigned u
         WHERE u.cluster = v.cluster AND u.vec_id < v.vec_id
           AND {_DOT_SQL.format(a='u.embedding', b='v.embedding')}
               / SQRT(u.n2 * v.n2) >= {SEMDEDUP_TAU}
       ) AS keep
FROM assigned v
"""


#: exact-substring dedup parameters (Lee et al. 2021, "Deduplicating
#: Training Data Makes Language Models Better"): shingle width, the
#: minimum duplicated run reported, and the hot-shingle document-
#: frequency cap bounding join fan-out
SUBSTR_SHINGLE = 8
SUBSTR_MIN_RUN = 16
SUBSTR_MAX_DF = 50


def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication detection across documents (Lee et
    al. 2021): report document pairs sharing a verbatim token run of ≥
    SUBSTR_MIN_RUN tokens, with the longest shared run. The suffix-
    array formulation of the paper is replaced by a fully distributed
    identity: a shared w-token run of length L appears as L−w+1
    matching w-shingles at a CONSTANT position offset, so

      shingles (array slice, shuffle-free projection)
      → hot-shingle df gate (broadcast anti-join, same capping as
        minhash max_df — join fan-out bounded by df²)
      → pair join inside shingle buckets (never all-pairs)
      → per (pair, offset) gaps-and-islands over match positions
        (one window; consecutive positions share pa − row_number())
      → max island + SUBSTR_SHINGLE − 1 = longest duplicated run.

    Every step is a bounded inverted-index join or a keyed window; no
    corpus-sized state, no suffix array to build or hold."""
    # fan the filtered scan out before the positional-shingle explode
    # (r19, same single-task-expansion fix as shingles_of)
    d = fan_out(
        load(spark, sf_dir, "documents").filter(
            F.size(F.split("text", " ")) >= SUBSTR_SHINGLE
        )
    )
    # materialize the shingle index ONCE (same checkpoint idiom as
    # q_assoc_rules' basket table): it feeds the df gate, the anti-join
    # and BOTH sides of the pair join — left lazy, Catalyst re-ran the
    # scan+explode six times in one plan (measured, zero ReusedExchange)
    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(split(text, ' ')) - {SUBSTR_SHINGLE - 1}),"
                    f" i -> struct(i AS pos,"
                    f" array_join(slice(split(text, ' '), i, {SUBSTR_SHINGLE}), ' ')"
                    f" AS shingle))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.shingle")
        .transform(lineage_cut)
    )
    hot = (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > SUBSTR_MAX_DF)
        .select("shingle")
    )
    gated = sh.join(F.broadcast(hot), "shingle", "left_anti").transform(lineage_cut)
    a, b = gated.alias("a"), gated.alias("b")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pa"),
            (F.col("b.pos") - F.col("a.pos")).alias("delta"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pa")
    runs = pairs.withColumn("island", F.col("pa") - F.row_number().over(w))
    islands = runs.groupBy("doc_a", "doc_b", "delta", "island").agg(
        (F.count("*") + SUBSTR_SHINGLE - 1).alias("run_tokens")
    )
    return (
        islands.groupBy("doc_a", "doc_b")
        .agg(F.max("run_tokens").alias("max_run_tokens"))
        .filter(F.col("max_run_tokens") >= SUBSTR_MIN_RUN)
    )


ORACLE_SUBSTRING_DUP = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
),
sh AS (
  SELECT doc_id, pos, string_agg(token, ' ' ORDER BY pos2) AS shingle
  FROM (
    SELECT t1.doc_id, t1.pos, t2.pos AS pos2, t2.token
    FROM toks t1 JOIN toks t2
      ON t2.doc_id = t1.doc_id
     AND t2.pos BETWEEN t1.pos AND t1.pos + {SUBSTR_SHINGLE - 1}
  )
  GROUP BY doc_id, pos HAVING COUNT(*) = {SUBSTR_SHINGLE}
),
hot AS (
  SELECT shingle FROM (
    SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY shingle
  ) WHERE df > {SUBSTR_MAX_DF}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
         b.pos - a.pos AS delta
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.shingle NOT IN (SELECT shingle FROM hot)
),
runs AS (
  SELECT doc_a, doc_b, delta,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, delta
                                 ORDER BY pa) AS island
  FROM pairs
),
islands AS (
  SELECT doc_a, doc_b,
         CAST(COUNT(*) + {SUBSTR_SHINGLE - 1} AS BIGINT) AS run_tokens
  FROM runs GROUP BY doc_a, doc_b, delta, island
)
SELECT doc_a, doc_b, MAX(run_tokens) AS max_run_tokens
FROM islands GROUP BY doc_a, doc_b
HAVING MAX(run_tokens) >= {SUBSTR_MIN_RUN}
"""


QUERIES = {
    "q_dup_clusters": q_dup_clusters,
    "q_pack_sequences": q_pack_sequences,
    "q_contamination": q_contamination,
    "q_repetition_ratio": q_repetition_ratio,
    "q_kmeans": q_kmeans,
    "q_semdedup": q_semdedup,
    "q_udtf_tokens": q_udtf_tokens,
    "q_cogroup_udf": q_cogroup_udf,
    "q_e2e_curation": q_e2e_curation,
    "q_substring_dup": q_substring_dup,
}

ORACLES = {
    "q_dup_clusters": ORACLE_DUP_CLUSTERS,
    "q_pack_sequences": ORACLE_PACK_SEQUENCES,
    "q_contamination": ORACLE_CONTAMINATION,
    "q_repetition_ratio": ORACLE_REPETITION_RATIO,
    "q_kmeans": ORACLE_KMEANS,
    "q_semdedup": ORACLE_SEMDEDUP,
    "q_udtf_tokens": ORACLE_UDTF_TOKENS,
    "q_cogroup_udf": ORACLE_COGROUP_UDF,
    "q_e2e_curation": ORACLE_E2E_CURATION,
    "q_substring_dup": ORACLE_SUBSTRING_DUP,
}
