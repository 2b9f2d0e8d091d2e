"""SparkSession construction and per-session runtime configuration.

The driver harness supplies its own SparkSession to ``queries()``
callables, so anything the engine needs MUST be a *runtime-settable*
conf applied via :func:`ensure_conf` — never assumed at build time.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

def env_int(name: str, default: int) -> int:
    """Integer deployment knob from the environment: ``default`` when
    unset or empty, and — with a warning — when the value is not an
    integer, so a typo in a launch script cannot crash the import."""
    raw = os.environ.get(name, "")
    if not raw.strip():
        return default
    try:
        return int(raw)
    except ValueError:
        warnings.warn(f"{name}={raw!r} is not an integer; using {default}", stacklevel=2)
        return default

# - nanosAsLong: earlier harness vintages stored events.ts as parquet
#   TIMESTAMP(NANOS), which Spark 4 cannot map to a Catalyst type; with
#   this legacy conf such a column reads as LONG (nanoseconds since
#   epoch) and sources.ts_us_expr converts arithmetically. Harmless for
#   the current TIMESTAMP(MICROS) encoding.
# - session.timeZone=UTC: engine convention — naive (NTZ) timestamps
#   are UTC wall clocks, so NTZ→LTZ casts are identity instants and
#   every date/epoch function agrees with the DuckDB oracle, which
#   evaluates naive timestamps the same way.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # r19 (guide §2.2/§2.4): let AQE's SIZE-BASED partition coalescing
    # apply to cached/persisted plans too (off by default). Every
    # iterative engine here checkpoints or persists its per-round
    # state; without this conf those plans keep the raw
    # shuffle-partition count forever — at bench scale a 250 KB state
    # table was pinned at 32 partitions, so every superstep paid 32
    # task launches per scan of it. With it, partition counts follow
    # DATA SIZE at every scale (tiny state → 1 partition locally;
    # 100 TB state → thousands of 1 MB+ partitions), which is exactly
    # the scale-adaptive partitioning the optimization guide asks for.
    # parallelismFirst stays at its default (true), so large shuffles
    # keep their parallelism — only sub-minPartitionSize chunks merge.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # r19 (guide §6): Arrow for driver transfers — toPandas (the
    # louvain hybrid tail, PQ/kmeans codebook collects) and
    # createDataFrame(pandas) use columnar batches instead of pickled
    # rows. get_spark always set this; a harness-SUPPLIED session
    # (the driver's) did not have it, so its correctness runs paid the
    # row path on every inline-tail transfer. Values are unchanged —
    # the engine's tail columns are plain longs/doubles.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine depends on (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    return spark


#: (app id, dir) pairs already applied via setCheckpointDir — the call
#: creates the directory, so apply it once per session, not per cut
_CKPT_DIRS_SET: set[tuple[str, str]] = set()

#: app ids already warned about unbounded checkpoint retention
_CKPT_RETENTION_WARNED: set[str] = set()


def lineage_cut(df, eager: bool = True):
    """Truncate a DataFrame's lineage — the per-round/per-level cut
    every iterative algorithm here applies via ``.transform(lineage_cut)``.

    ``eager=False`` defers materialization to the first consuming job
    (no separate checkpoint job): right when the cut DataFrame's first
    consumer is ITSELF an eager cut in the same plan (the minhash
    sketch → bands chain), where an eager cut would scan the input
    twice. Storage/cleanup semantics are unchanged — ContextCleaner-
    released blocks locally, cleanable files under checkpointDir.

    Local mode (default): ``localCheckpoint(eager=True)`` — blocks live
    on the one JVM, zero I/O, exactly what a single-machine run wants.

    Cluster mode: localCheckpoint blocks die with the executor that
    stored them, and a truncated lineage cannot recompute them — on a
    1000-executor job one lost executor would fail the whole run. Set
    ``spark.graft.checkpointDir`` (runtime conf) or the
    ``SPARK_GRAFT_CHECKPOINT_DIR`` env var to a reliable store
    (HDFS/object store) and every cut becomes a fault-tolerant
    ``checkpoint(eager=True)`` instead — same values, same
    once-materialized semantics for nondeterministic plans, recoverable
    partitions. One switch, zero call-site changes.

    Checkpoint RETENTION (r7 ADVICE): with ~104 cut sites and per-round
    cuts inside iterative loops, the reliable arm writes every round's
    full dataset to the store, and Spark only deletes those files when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    context-START conf the ContextCleaner reads once — it cannot be
    flipped at runtime on an already-running session). :func:`get_spark`
    sets it; for a harness-supplied session without it this emits a
    one-time warning. Either way, point the switch at a PER-RUN
    directory and delete it after the job — GC-driven cleanup is
    best-effort (it frees nothing until the driver drops its last
    DataFrame reference), not a retention policy."""
    spark = df.sparkSession
    try:
        ckpt_dir = spark.conf.get("spark.graft.checkpointDir", None)
    except Exception:
        ckpt_dir = None
    ckpt_dir = ckpt_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "")
    if ckpt_dir:
        sc = spark.sparkContext
        key = (sc.applicationId, ckpt_dir)
        if key not in _CKPT_DIRS_SET:
            sc.setCheckpointDir(ckpt_dir)
            _CKPT_DIRS_SET.add(key)
            cleans = (
                sc.getConf()
                .get("spark.cleaner.referenceTracking.cleanCheckpoints", "false")
                .lower()
            )
            if cleans != "true" and sc.applicationId not in _CKPT_RETENTION_WARNED:
                _CKPT_RETENTION_WARNED.add(sc.applicationId)
                warnings.warn(
                    "reliable checkpointing is active but "
                    "spark.cleaner.referenceTracking.cleanCheckpoints is "
                    f"false on this context: every lineage cut retains its "
                    f"files under {ckpt_dir} for the application lifetime. "
                    "Use a per-run checkpoint dir and delete it after the "
                    "job, or start the session with the cleaner conf set "
                    "(get_spark does).",
                    stacklevel=3,
                )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def collect_if_small(df, limit: int):
    """The hybrid-tail probe: ``df`` as a pandas frame when it has at
    most ``limit`` rows, else ``None`` (the caller goes distributed).
    One limit-bounded Arrow collect is both the branch decision and the
    driver transfer. Exact: ``limit(limit + 1)`` keeps min(rows,
    limit + 1) rows, so on the inline branch nothing was truncated.
    Rows arrive in partition order, and no caller's result depends on
    it: union-find roots are order-free, the Louvain tail sorts first.
    A lazy cut that ``df`` reads is materialized by this same call (its
    doCheckpoint backfills the partitions the limit skipped)."""
    pdf = df.limit(limit + 1).toPandas()
    return pdf if len(pdf) <= limit else None


def fan_out(df, parts: int | None = None):
    """Round-robin repartition of a narrow, exchange-free frame whose
    SCAN parallelism is below the session's core count — the r19 fix
    for expensive per-row expansion (shingle explode, 16-permutation
    minhash hashing, centroid dot products) running on ONE task
    because the input parquet is a single small file/row group.

    Gate: a no-op whenever the frame already has >= cores partitions —
    which is exactly the 100 TB case (thousands of input splits), so
    no shuffle is ever added at scale; locally it costs one shuffle of
    the NARROW input (text/keys, before any expansion) and buys full
    parallelism for the expansion above it. Guide §2.5 "input skew:
    one huge unsplittable file … repartition immediately after the
    read" — the gate makes it scale-adaptive instead of a local-mode
    constant. Values are unaffected: round-robin repartition preserves
    the row multiset (and sortBeforeRepartition, on by default, keeps
    the assignment deterministic under task retry).

    Call it only on scan-only frames (``load()`` output, optionally
    filtered/projected, or a checkpointed RDD): the partition-count
    probe walks ``df.rdd``, which would materialize query stages if
    the plan held exchanges. The contract is self-enforcing (r20
    ADVICE): a plan containing an Exchange is returned unchanged —
    never probed, never repartitioned — so a future call site cannot
    silently run shuffle jobs at plan-build time."""
    target = parts or df.sparkSession.sparkContext.defaultParallelism
    if "Exchange" in df._jdf.queryExecution().sparkPlan().toString():
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: the sort-shuffle-writer setting get_spark builds every session with
#: (see the comment at its .config call)
BYPASS_MERGE_THRESHOLD = "1"


def get_spark(
    app_name: str = "louvain-modularity-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local-mode session factory used by tests and bench.py.

    Scale notes (100 TB): on a real cluster these builder confs move to
    spark-submit; the important ones are AQE (runtime re-plan, skew-join
    splitting) and a shuffle partition count sized so post-shuffle
    partitions are ~128-256 MB. Locally we default to the CPU count.
    """
    cpus = env_int("SPARK_GRAFT_CPUS", os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # reliable-checkpoint hygiene: let the ContextCleaner delete
        # checkpoint files once their RDD is GC'd (context-START conf;
        # see lineage_cut's retention note — still pair it with a
        # per-run checkpoint dir on real clusters)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # r19 (guide §2.2 "fewer, larger" shuffle files / §6): always
        # use the sort shuffle writer. The bypass-merge writer opens
        # numPartitions files PER MAP TASK and then concatenates them;
        # a thread dump showed the iterative engines' small per-round
        # shuffles latency-bound on exactly those file creates+copies
        # (32 files/map on this host's slow-syscall FS), and the A/B'd
        # win is ~3-4 s on q_hits with the rest flat. Scale-neutral:
        # the bypass path only ever activates when reduce count ≤ 200,
        # so cluster-scale shuffles (thousands of partitions) never
        # used it anyway; the sort writer writes 2 files per map task
        # at every scale. Core conf (not runtime-settable), so it is
        # parameterised here at session build.
        .config("spark.shuffle.sort.bypassMergeThreshold", BYPASS_MERGE_THRESHOLD)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # core confs are silently ignored when getOrCreate returns an
    # ALREADY-RUNNING session (r20 ADVICE): surface the one perf-
    # relevant case — the A/B'd sort-shuffle-writer setting — instead
    # of depending on it without a signal
    actual = spark.sparkContext.getConf().get(
        "spark.shuffle.sort.bypassMergeThreshold", "200"
    )
    if actual != BYPASS_MERGE_THRESHOLD:
        warnings.warn(
            "spark.shuffle.sort.bypassMergeThreshold is "
            f"{actual} (wanted {BYPASS_MERGE_THRESHOLD}): get_spark attached to an "
            "existing JVM session, so the sort-shuffle-writer setting "
            "was not applied; small-shuffle latency may regress.",
            stacklevel=2,
        )
    return ensure_conf(spark)
