"""Structured Streaming operators over the events stream (SURVEY.md §2.11).

Verification trick (SURVEY.md §2.11): each streaming query runs with
``trigger(availableNow=True)`` over the same parquet the batch oracle
reads — the streaming result must equal the batch-SQL result, so the
DuckDB hash-match still applies.

Event time: ``ts_us`` = epoch microseconds (see sources.ts_us_expr —
robust to both physical ``ts`` encodings the harness has shipped);
windows are computed on ``timestamp_micros(ts_us)`` — epoch-aligned,
so window starts are timezone-independent and expressible as pure
integer arithmetic in the oracle (``ts_us - ts_us % width``).

Scale notes: all stateful ops below keep state bounded by watermark;
at 100 TB the source is Kafka/file streams partitioned by key, state
store backed by RocksDB, and `session_window` state is per-key ordered
merges — same logical plans as written here.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .session import ensure_conf
from .sources import ts_us_expr

HOUR_US = 3_600_000_000
QUARTER_US = 900_000_000
GAP_30M_US = 1_800_000_000


def _staged_events_dir(sf_dir: str) -> tuple[str, tuple[int, int]]:
    """The streaming file source wants a *directory*; stage one under
    .tmp with a hardlink (or copy) of the single events.parquet file.
    Re-validates against the source's (size, mtime) every call, so a
    harness that regenerates events.parquet in place (e.g. the
    TIMESTAMP encoding change) is picked up instead of silently serving
    the stale inode. Returns (dir, source_signature)."""
    import hashlib
    import shutil

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    out_dir = os.path.join("/root/repo/.tmp", f"stream_events_{tag}")
    dst = os.path.join(out_dir, "events.parquet")
    src = os.path.join(sf_dir, "events.parquet")
    s = os.stat(src)
    sig = (s.st_size, s.st_mtime_ns)
    if os.path.exists(dst):
        d = os.stat(dst)
        if (d.st_size, d.st_mtime_ns) == sig:
            return out_dir, sig
        os.remove(dst)
    os.makedirs(out_dir, exist_ok=True)
    try:
        os.link(src, dst)  # shares the inode → size+mtime match exactly
    except OSError:
        shutil.copy2(src, dst)  # copy2 preserves mtime for the check above
    return out_dir, sig


# (staged_dir, source_signature) -> parquet schema; avoids a batch
# metadata read per stream_events call (it showed up as +0.5 s/query in
# the round-3 bench). Invalidated automatically: a regenerated source
# changes the signature and misses the cache.
_schema_cache: dict = {}


#: single-slot mailbox: stream_events computes the input-sized state-
#: store partition hint; the execution wrapper consumes (and clears)
#: it around query start so the session conf is always restored
_STATE_PARTS_HINT: list = [None]


def _state_parts_for(spark: SparkSession, input_bytes: int) -> int:
    """Scale-adaptive stateful-shuffle partition count (r20, guide
    §2.2): the state-store partition count is fixed at query start
    from ``spark.sql.shuffle.partitions``, so a bounded availableNow
    run over a small file paid 32 state tasks per trigger (a measured
    26–39% of the streaming lane at sf0.1 — A/B in
    OPTIMIZATION_r20.md). Size it like a scan instead: the input's
    split count (bytes / maxPartitionBytes), floored at min(8, session)
    so per-key state work stays parallel (1 partition serialized the
    flatMapGroupsWithState query 3.5×), capped at the session value —
    which is exactly what a 100 TB source resolves to (splits ≫
    session), leaving the cluster-scale plan untouched."""
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try:
        max_bytes = int(str(raw).lower().rstrip("b")) or 134217728
    except ValueError:
        max_bytes = 134217728
    splits = max(1, -(-input_bytes // max_bytes))
    floor = min(8, session)
    return min(session, max(floor, splits))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded stream (file source, explicit schema —
    streaming reads cannot infer; the schema comes from one cached
    metadata read of the staged file so both ``ts`` encodings work)."""
    ensure_conf(spark)
    staged, sig = _staged_events_dir(sf_dir)
    _STATE_PARTS_HINT[0] = _state_parts_for(spark, sig[0])
    key = (staged, sig)
    schema = _schema_cache.get(key)
    if schema is None:
        schema = spark.read.parquet(staged).schema
        _schema_cache[key] = schema
    stream = spark.readStream.schema(schema).parquet(staged)
    return stream.withColumn("ts_us", ts_us_expr(stream)).withColumn(
        "ts_ltz", F.timestamp_micros(F.col("ts_us"))
    )


from contextlib import contextmanager


@contextmanager
def _state_parts_scope(spark: SparkSession):
    """Apply (and ALWAYS restore) the stateful-shuffle partition hint
    left by stream_events. Consume-and-clear semantics: a later query
    on a different source (e.g. the pysource stream) never inherits a
    stale hint, and the shared session's batch queries always see the
    original spark.sql.shuffle.partitions again."""
    hint = _STATE_PARTS_HINT[0]
    _STATE_PARTS_HINT[0] = None
    if hint is None:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(hint))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def run_to_table(spark: SparkSession, df: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink; return the materialized table."""
    name = f"stream_{uuid.uuid4().hex[:12]}"
    with _state_parts_scope(spark):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (count + decimal-exact
    value sum)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts_ltz", "10 minutes")
        .groupBy(F.window("ts_ltz", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros("window.start").alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_table(spark, agg, "complete")


ORACLE_STREAM_TUMBLING = f"""
SELECT epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1 hour every 15 minutes (each event lands in 4
    windows)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts_ltz", "10 minutes")
        .groupBy(F.window("ts_ltz", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros("window.start").alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    return run_to_table(spark, agg, "complete")


ORACLE_STREAM_SLIDING = f"""
SELECT ((epoch_us(ts) // {QUARTER_US}) - j) * {QUARTER_US} AS window_start_us,
       event_type,
       COUNT(*) AS n_events
FROM events, (SELECT unnest(range(4)) AS j)
GROUP BY 1, 2
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (30-minute inactivity gap). Split rule
    CALIBRATED by ±1 µs probes (r15, scripts/probe_stream_boundaries.py
    P2): an event at exactly last + 30min is MERGED into the session —
    the split is STRICT (diff > gap); sessions merge while
    next_start <= prev_end = last + gap, and the emitted end is
    last + gap at full µs precision (no ms rounding anywhere in
    session assignment/merge). The pre-r15 oracle split at >= — wrong
    at exact equality, green only because no fixture user has two
    events exactly 30 min apart (0 pairs at all three scales,
    measured); pinned by
    tests/test_streaming.py::test_session_gap_boundary."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts_ltz", "10 minutes")
        .groupBy(F.session_window("ts_ltz", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
            "n_events",
        )
    )
    return run_to_table(spark, agg, "complete")


#: split is STRICT > (not >=): Spark merges an event at exactly
#: last + gap into the session — calibrated r15, see
#: q_stream_session's docstring and test_session_gap_boundary
ORACLE_STREAM_SESSION = f"""
WITH marked AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
                   > {GAP_30M_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts_us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) + {GAP_30M_US} AS session_end_us,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type) within the
    watermark; single-batch availableNow ⇒ equals batch DISTINCT.
    The single-batch scoping (staged dir = ONE parquet file ⇒ one
    availableNow batch ⇒ wm = 0 while every row is deduped) is itself
    pinned by tests/test_streaming.py::test_single_file_staging_invariant
    — under multi-batch staging a key replayed past the watermark
    re-emits and the DISTINCT oracle breaks (§2.45 P4 probe)."""
    ev = stream_events(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts_ltz", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_table(spark, deduped, "append")


ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running totals held in explicit state (the escape hatch when the
    built-in windows can't express the semantics). With a single
    availableNow batch the final state equals the batch aggregate, so
    the oracle hash-match applies."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir)

    out_schema = "user_id LONG, n_events LONG, total_value DOUBLE"
    state_schema = "n LONG, total DOUBLE"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            # value is exact 2-decimal; sum in cents to stay exact
            total += int(round(pdf["value"].mul(100).sum()))
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total / 100.0, 2)],
            }
        )

    counted = (
        ev.withWatermark("ts_ltz", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_table(spark, counted, "update")


ORACLE_STREAM_STATEFUL_COUNT = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical streaming lookup:
    the events stream joined to the static customer dimension on
    user_id, aggregated per (mktsegment, event_type). The static side
    is broadcast at scale (it is re-read per micro-batch, so dimension
    updates are picked up); availableNow ⇒ equals the batch join."""
    from .sources import load

    ev = stream_events(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("mktsegment")
    )
    agg = (
        ev.withWatermark("ts_ltz", "10 minutes")
        .join(cust, "user_id")
        .groupBy("mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    return run_to_table(spark, agg, "complete")


ORACLE_STREAM_STATIC_JOIN = """
SELECT c_mktsegment AS mktsegment, event_type, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    each click joined to the same user's purchases within the following
    hour. Both sides carry watermarks so the join state is bounded —
    the 100 TB shape (state expires once the watermark passes the range
    bound). availableNow single batch ⇒ equals the batch θ-join."""
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts_us").alias("click_us"),
            F.col("ts_ltz").alias("click_ltz"),
        )
        .withWatermark("click_ltz", "10 minutes")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts_us").alias("purchase_us"),
            F.col("ts_ltz").alias("purchase_ltz"),
        )
        .withWatermark("purchase_ltz", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "purchase_ltz >= click_ltz AND "
            "purchase_ltz <= click_ltz + INTERVAL 1 HOUR"
        ),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.col("purchase_us") - F.col("click_us")).alias("gap_us"),
    )
    return run_to_table(spark, joined, "append")


ORACLE_STREAM_STREAM_JOIN = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) >= epoch_us(c.ts)
 AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
"""


def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the abandoned-cart shape: every
    click pairs with same-user purchases in the following hour, and
    clicks that never convert are emitted with NULLs once the
    watermark proves no match can still arrive. The outer-null
    emission rule is the part an engine must get right, and the
    oracle pins the CALIBRATED rule (r14): a click emits NULL iff
    ceil_ms(click_ts) + 1 h < final_watermark, where final_watermark
    = floor_ms(least(max click ts, max purchase ts)) − 10 min — the
    global watermark is the MIN across sources of max-event-time −
    delay, tracked at ms precision (watermark side rounds down,
    state-cleanup side rounds up), and Spark's trailing no-data batch
    evicts state up to it; the ±1 µs boundary behavior is pinned by
    tests/test_streaming.py::test_stream_join_outer_eviction_boundary.
    The rule presumes ALL rows arrive in one availableNow batch (so
    both per-side maxes are final before any eviction); that staging
    invariant is pinned by
    tests/test_streaming.py::test_single_file_staging_invariant.
    Matched rows are the inner-join rows. 100 TB shape: join state is bounded by the watermark ±
    range bound exactly as in q_stream_stream_join; the outer rows
    add no state — eviction emits them as state expires."""
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts_us").alias("click_us"),
            F.col("ts_ltz").alias("click_ltz"),
        )
        .withWatermark("click_ltz", "10 minutes")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts_us").alias("purchase_us"),
            F.col("ts_ltz").alias("purchase_ltz"),
        )
        .withWatermark("purchase_ltz", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "purchase_ltz >= click_ltz AND "
            "purchase_ltz <= click_ltz + INTERVAL 1 HOUR"
        ),
        "left_outer",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.col("purchase_us") - F.col("click_us")).alias("gap_us"),
    )
    return run_to_table(spark, joined, "append")


#: Null-emission rule, CALIBRATED empirically over 10 crafted probe
#: points (r14, tests/test_streaming.py::
#: test_stream_join_outer_eviction_boundary): an unmatched click is
#: emitted iff   ceil_ms(click_ts) + 1 h  <  wm   (strict), with
#: wm = floor_ms(LEAST(max click ts, max purchase ts)) − 10 min.
#: Both ms roundings are load-bearing because the condition compares
#: RAW sub-ms event timestamps: Spark tracks event-time stats and the
#: join's state-cleanup predicate at ms precision, so the watermark
#: side rounds DOWN (floor of the max; floor is monotonic so flooring
#: the LEAST equals LEAST of the floors) while the click side rounds
#: UP (a sub-ms click is conservatively kept until the watermark
#: clears its whole next ms). An oracle using raw µs on either side
#: flips rows whose click_ts+1h lands inside the 999 µs band below
#: wm — a fixture-regeneration landmine, since fixture timestamps
#: carry sub-ms µs (r14; the r13 tumbling-window oracle's floor was
#: decision-neutral, this one is not).
ORACLE_STREAM_JOIN_OUTER = """
WITH wm AS (
  SELECT (LEAST(
    (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'click'),
    (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'purchase')
  ) // 1000) * 1000 - 600000000 AS wm
)
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) >= epoch_us(c.ts)
 AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
UNION ALL
SELECT c.user_id, c.event_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM events c CROSS JOIN wm
WHERE c.event_type = 'click'
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      AND epoch_us(p.ts) >= epoch_us(c.ts)
      AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000)
  AND ((epoch_us(c.ts) + 999) // 1000) * 1000 + 3600000000 < wm.wm
"""


def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling surface: watermarked tumbling count in APPEND
    mode — only windows the watermark has passed are emitted.

    Oracle: ORACLE_STREAM_WATERMARK (r13). The old rows-only reason
    ("emission depends on final-batch watermark advancement") was
    over-broad FOR THIS ENGINE'S STAGING: stream_events stages ONE
    parquet file, so availableNow runs a single batch — the watermark
    is 0 while every row is aggregated, no row is late-dropped, and
    the final table is the pure cut
    {windows : window_end <= max(ts) − 10min}. The oracle's validity
    is scoped to that single-file/single-batch staging (r14, ADVICE):
    in a multi-batch run the emitted WINDOW SET is still the same cut,
    but per-window n_events could undercount — rows below the
    already-advanced watermark are dropped before aggregation. If
    stream_events ever stages multiple files, re-derive (pin
    maxFilesPerTrigger or drop the oracle) — the staging invariant
    itself (one file, one data batch) is pinned by
    tests/test_streaming.py::test_single_file_staging_invariant, so
    that drift fails a test instead of silently skewing per-window
    counts. The boundary INclusive
    rule (window_end == watermark → EMITTED) was calibrated
    empirically with a crafted parquet and is pinned by
    tests/test_streaming.py::test_watermark_append_boundary so a
    Spark semantics change fails the pin loudly rather than flaking
    the oracle."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts_ltz", "10 minutes")
        .groupBy(F.window("ts_ltz", "1 hour"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros("window.start").alias("window_start_us"),
            "n_events",
        )
    )
    return run_to_table(spark, agg, "append")


#: append-mode emission = the watermark cut {window_end <= max(ts) −
#: delay}; the <= (boundary-inclusive) rule is the calibrated Spark
#: behavior, pinned by test_watermark_append_boundary. The `// 1000 *
#: 1000` mirrors Spark's per-event ms floor (EventTimeStatsAccum
#: tracks eventTime/1000; max of floors = floor of max). For THIS
#: query the floor is provably decision-neutral — window_end + delay
#: is always a whole ms (hour windows, 10-min delay), and for
#: whole-ms X: floor_ms(max) >= X  <=>  max >= X — so it exists only
#: to stay faithful to the engine if the window spec ever gains
#: sub-ms boundaries (r14, ADVICE).
ORACLE_STREAM_WATERMARK = f"""
WITH wm AS (
  SELECT (MAX(epoch_us(ts)) // 1000) * 1000 - 600000000 AS wm FROM events
),
w AS (
  SELECT epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS window_start_us,
         count(*) AS n_events
  FROM events
  GROUP BY 1
)
SELECT window_start_us, n_events
FROM w, wm
WHERE window_start_us + {HOUR_US} <= wm.wm
"""


def q_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet file sink with exactly-once checkpointing —
    the lakehouse landing path: stream the purchase events through a
    stateless filter+projection into an append-mode parquet sink, read
    the sink back with the batch reader, and aggregate per user. The
    oracle recomputes the same aggregate straight from the source
    table, so the sink round trip must be lossless.

    (Stateless ops only: an aggregate→file-sink needs watermark-closed
    windows, which a single availableNow batch never emits — the
    aggregate sinks here use memory/complete instead, q_stream_*.)

    100 TB shape: file sinks scale by partitioned append with
    per-batch transactional commit logs (the checkpoint); the filter
    and projection are pushed into the stream, so only the purchase
    slice ever lands."""
    import hashlib
    import shutil

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    out = os.path.join("/root/repo/.tmp", f"stream_sink_{tag}")
    ckpt = os.path.join("/root/repo/.tmp", f"stream_sink_ckpt_{tag}")
    for d in (out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    ev = stream_events(spark, sf_dir)
    proj = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts_us", "user_id", "value"
    )
    with _state_parts_scope(spark):
        q = (
            proj.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = spark.read.parquet(out)
    return back.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("sum_value"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


ORACLE_STREAM_FILE_SINK = """
SELECT user_id, COUNT(*) AS n_purchases,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value,
       MIN(event_id) AS first_event,
       MAX(event_id) AS last_event
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""


def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink — the production escape hatch for sinks the
    streaming engine has no native writer for (JDBC, MERGE targets,
    multi-sink fan-out): each micro-batch lands its PARTIAL per-type
    aggregate (count + decimal value sum) as one parquet append, and
    the reader re-aggregates the partials. Counts and decimal sums are
    mergeable, so the final result is exactly the batch answer no
    matter how the stream was micro-batched — the oracle recomputes it
    from the source in one shot.

    100 TB shape: the append sink alone is at-least-once — a batch
    retried after a committed write but before the checkpoint commit
    would land its partials twice. The reader restores exactly-once by
    deduplicating on the checkpointed batch_id (one row per
    (batch_id, event_type); retried appends carry identical values)
    before re-aggregating. Partial aggregates shrink each batch to
    |key-domain| rows before the sink, the same partial/final split
    Spark applies inside a shuffle."""
    import hashlib
    import shutil

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    out = os.path.join("/root/repo/.tmp", f"feb_sink_{tag}")
    ckpt = os.path.join("/root/repo/.tmp", f"feb_ckpt_{tag}")
    for d in (out, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    ev = stream_events(spark, sf_dir)

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count("*").alias("n_partial"),
                F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_partial"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    with _state_parts_scope(spark):
        q = (
            ev.select("event_type", "value")
            .writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = spark.read.parquet(out)
    # exactly-once repair: a retried micro-batch re-appends the same
    # (batch_id, event_type) partials, so keep one row per key pair
    deduped = back.groupBy("batch_id", "event_type").agg(
        F.max("n_partial").alias("n_partial"),
        F.max("sum_partial").alias("sum_partial"),
    )
    return deduped.groupBy("event_type").agg(
        F.sum("n_partial").alias("n_events"),
        F.round(F.sum("sum_partial"), 2).cast("double").alias("sum_value"),
    )


ORACLE_STREAM_FOREACH_BATCH = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


def q_stream_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability (the StreamingQueryProgress surface a
    production pipeline monitors): run the tumbling aggregation to
    completion and report the ENGINE'S OWN telemetry — rows ingested
    across all micro-batches and rows held in the state store — as a
    table. Both numbers are data-determined, not timing-determined
    (availableNow drains everything; complete-mode window state is one
    row per live (window, type) group), so a SQL oracle can recompute
    them from the batch table: ingested = COUNT(*), state rows =
    COUNT(DISTINCT (hour-window, event_type)). That the engine's
    telemetry matches first-principles SQL is exactly the check an
    on-call engineer does when a dashboard looks wrong."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts_ltz", "10 minutes")
        .groupBy(F.window("ts_ltz", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    name = f"stream_{uuid.uuid4().hex[:12]}"
    with _state_parts_scope(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    input_rows = 0
    state_rows = 0
    for p in q.recentProgress:
        input_rows += int(p["numInputRows"])
        ops = p.get("stateOperators") or []
        if ops:
            state_rows = int(ops[0]["numRowsTotal"])
    n_batches = sum(1 for p in q.recentProgress if int(p["numInputRows"]) > 0)
    return spark.createDataFrame(
        [(input_rows, state_rows, n_batches >= 1)],
        "input_rows LONG, state_rows LONG, ingested_any BOOLEAN",
    )


ORACLE_STREAM_METRICS = """
SELECT COUNT(*) AS input_rows,
       (SELECT COUNT(*) FROM (
          SELECT DISTINCT date_trunc('hour', ts), event_type FROM events
        )) AS state_rows,
       COUNT(*) > 0 AS ingested_any
FROM events
"""


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed streaming top-k: tumbling 1-hour counts per event
    type computed BY THE STREAM, then the per-window top-2 ranking
    applied to the materialized result — the standard composition for
    "trending now" dashboards (rank is not an incremental streaming
    operator, so it runs batch-side on the windowed aggregate, the
    same split a foreachBatch sink would use).

    100 TB shape: streaming state is the windowed count map (bounded
    by windows × types, watermark-expired); the ranking input is that
    aggregate, never raw events.
    """
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts_ltz", "10 minutes")
        .groupBy(F.window("ts_ltz", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros("window.start").alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    mat = run_to_table(spark, agg, "complete")
    rk = F.row_number().over(
        Window.partitionBy("window_start_us").orderBy(
            F.desc("n_events"), F.asc("event_type")
        )
    )
    return mat.select("window_start_us", "event_type", "n_events", rk.alias("rk")).filter(
        F.col("rk") <= 2
    )


ORACLE_STREAM_TOPK = f"""
WITH counts AS (
  SELECT epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS window_start_us,
         event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start_us, event_type, n_events, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY window_start_us
                 ORDER BY n_events DESC, event_type) AS INTEGER) AS rk
  FROM counts
)
WHERE rk <= 2
"""


QUERIES = {
    "q_stream_tumbling": q_stream_tumbling,
    "q_stream_sliding": q_stream_sliding,
    "q_stream_session": q_stream_session,
    "q_stream_dedup": q_stream_dedup,
    "q_stream_stateful_count": q_stream_stateful_count,
    "q_stream_static_join": q_stream_static_join,
    "q_stream_stream_join": q_stream_stream_join,
    "q_stream_join_outer": q_stream_join_outer,
    "q_stream_watermark": q_stream_watermark,
    "q_stream_file_sink": q_stream_file_sink,
    # registered last on purpose: past registry.WINDOW, queries()
    # follows this dict's order, so new names go at the end
    "q_stream_foreach_batch": q_stream_foreach_batch,
    "q_stream_metrics": q_stream_metrics,
    "q_stream_topk": q_stream_topk,
}

ORACLES = {
    "q_stream_tumbling": ORACLE_STREAM_TUMBLING,
    "q_stream_sliding": ORACLE_STREAM_SLIDING,
    "q_stream_session": ORACLE_STREAM_SESSION,
    "q_stream_dedup": ORACLE_STREAM_DEDUP,
    "q_stream_stateful_count": ORACLE_STREAM_STATEFUL_COUNT,
    "q_stream_static_join": ORACLE_STREAM_STATIC_JOIN,
    "q_stream_stream_join": ORACLE_STREAM_STREAM_JOIN,
    "q_stream_join_outer": ORACLE_STREAM_JOIN_OUTER,
    "q_stream_file_sink": ORACLE_STREAM_FILE_SINK,
    "q_stream_foreach_batch": ORACLE_STREAM_FOREACH_BATCH,
    "q_stream_metrics": ORACLE_STREAM_METRICS,
    "q_stream_topk": ORACLE_STREAM_TOPK,
    "q_stream_watermark": ORACLE_STREAM_WATERMARK,
}
