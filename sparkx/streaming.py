"""Incremental ingest via Structured Streaming.

The reference is strictly batch (SURVEY §2.9 — no streaming operators exist),
and the batch pipeline's resumability comes from the snapshot ledger.  This
module adds the *optional* incremental path a production deployment would
want: new transcript files (or Iceberg incremental reads) stream through the
SAME extraction kernel — one code path, two execution modes.

Design:

* file-source ``readStream`` with schema pinned to TRANSCRIPTS (no inference
  on executors);
* the identical ``extract_blocks`` transformation (mapInPandas is fully
  streaming-compatible: stateless per-batch);
* ``foreachBatch`` sink → the batch job's commit function
  (:func:`sparkx.pipeline.commit_slice`: survivors, metrics sidecar, then
  the ledger manifest ``_ledger/stream_batch_id_<id>.json``), so batch and
  streaming outputs are indistinguishable to readers;
* ``Trigger.AvailableNow`` for catch-up runs (used by tests), continuous
  trigger in production;
* exactly-once: Spark's streaming checkpoint (offsets) + each micro-batch
  written to its own deterministic ``batch_id=<id>`` directory with
  overwrite — a batch replayed after a mid-commit failure first removes its
  manifest, then rewrites the same directories instead of appending
  duplicates, and commits again (the batch ledger's
  overwrite-then-manifest commit);
* batch ids mean something only under ONE checkpoint, so each batch records
  its ``checkpoint_dir`` and the ledger rule (:func:`sparkx.pipeline.check_ledger`)
  refuses a restart under another checkpoint or mode.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from sparkx.pipeline import check_ledger, commit_slice, extract_blocks
from sparkx.schemas import TRANSCRIPTS
from sparkx.table_sink import DEFAULT_SINK


def stream_transcripts(spark: SparkSession, in_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger or 16)
    )
    return reader.parquet(in_dir)


def start_extraction_stream(
    spark: SparkSession,
    in_dir: str,
    out_path: str,
    checkpoint_dir: str,
    mode: str = "fastpath",
    run_id: str | None = None,
    available_now: bool = True,
):
    """Start (or resume, via checkpoint_dir) the incremental extraction
    stream.  Returns the StreamingQuery."""
    run_id = run_id or f"stream_{uuid.uuid4().hex[:8]}"
    committed = check_ledger(out_path, None, _batch_params(checkpoint_dir, mode))
    if committed and not os.path.isdir(checkpoint_dir):
        raise ValueError(
            f"stream output {out_path} has committed batches but its checkpoint "
            f"{checkpoint_dir} is gone; restarting would re-slice batch ids from "
            f"0 over committed data — use a fresh out_path"
        )
    transcripts = stream_transcripts(spark, in_dir)

    writer = (
        transcripts.writeStream.outputMode("append")
        .foreachBatch(make_batch_sink(out_path, checkpoint_dir, mode, run_id))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_params(checkpoint_dir: str, mode: str) -> dict:
    """The parameters every stream batch's manifest records."""
    return {"mode": mode, "validate": True,
            "checkpoint_dir": os.path.abspath(checkpoint_dir)}


def make_batch_sink(out_path: str, checkpoint_dir: str, mode: str = "fastpath",
                    run_id: str = "stream"):
    """foreachBatch sink: extract → :func:`commit_slice` of the
    ``stream/batch_id=<id>`` slice, which ends with the batch's manifest.

    Replay-idempotent: a micro-batch retried after the data write but before
    the streaming checkpoint commit uncommits its manifest and overwrites its
    own survivors and metrics slices, so duplicates cannot accumulate — the
    failure window parquet append could not cover.  A micro-batch of a few
    small files is under-parallel, so ``extract_blocks`` salts its kernel
    branch.  Module-level so tests can drive a replay directly."""
    params = _batch_params(checkpoint_dir, mode)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        blocks = extract_blocks(
            batch_df, mode=mode, run_id=run_id,
            src_snapshot_id=f"microbatch_{batch_id}",
        )
        commit_slice(blocks, out_path, f"stream/batch_id={batch_id}", run_id,
                     DEFAULT_SINK, params)

    return _sink


# ── custom stateful streaming operator ───────────────────────────────────────
#
# Running per-conversation extraction totals maintained across micro-batches
# with applyInPandasWithState — the pattern for any custom stateful operator
# (sessionization, dedup-within-stream, running quality stats) on top of the
# extraction stream.

CONV_STATE_SCHEMA = "n_turns long, n_chars long"
CONV_PROGRESS_SCHEMA = "conv_id string, n_turns long, n_chars long, evicted boolean"


def _set_state_timeout(state, timeout_ms, timeout_mode, max_event_ts):
    """Arm the group's eviction timer in the configured mode.

    * ``processing`` — wall-clock idle timeout.  Simple, but NOT
      replay-deterministic: a checkpoint replayed at a different speed
      evicts a different key set.
    * ``event`` — deadline = the group's max event time this batch +
      ``timeout_ms``; the timer fires when the WATERMARK (data-derived)
      passes it, so any replay of the same input evicts the same keys.
      The engine requires the timestamp to be strictly ahead of the
      current watermark — a group whose deadline is already expired is
      armed at watermark+1 ms and evicted on the next watermark advance.
    """
    if timeout_ms is None or timeout_mode == "none":
        return
    if timeout_mode == "event":
        deadline = int(max_event_ts.value // 1_000_000) + timeout_ms
        state.setTimeoutTimestamp(max(deadline, state.getCurrentWatermarkMs() + 1))
    else:
        state.setTimeoutDuration(timeout_ms)


def _conv_progress_fn(timeout_ms, timeout_mode, key, pdfs, state):
    """Accumulate (turn count, char volume) per conv_id across micro-batches.

    State EVICTION is mandatory on an unbounded stream: without a timeout,
    state for conversations that never recur is retained forever — the state
    store grows O(all conv_ids ever seen).  A group idle past ``timeout_ms``
    (processing OR event time — see ``_set_state_timeout``) emits its final
    totals with ``evicted=True`` and is removed; a late arrival after
    eviction re-keys from zero (readers treat evicted rows as closed
    segments and sum segments per conv_id)."""
    import pandas as pd

    if state.hasTimedOut:
        n_turns, n_chars = state.get  # .get is a property
        state.remove()
        yield pd.DataFrame(
            {"conv_id": [key[0]], "n_turns": [n_turns], "n_chars": [n_chars],
             "evicted": [True]}
        )
        return
    n_turns, n_chars = state.get if state.exists else (0, 0)
    max_ts = None
    for pdf in pdfs:
        n_turns += len(pdf)
        n_chars += int(pdf["text"].fillna("").str.len().sum())
        if timeout_mode == "event" and len(pdf):
            m = pdf["ts"].max()
            max_ts = m if max_ts is None else max(max_ts, m)
    state.update((n_turns, n_chars))
    _set_state_timeout(state, timeout_ms, timeout_mode, max_ts)
    yield pd.DataFrame(
        {"conv_id": [key[0]], "n_turns": [n_turns], "n_chars": [n_chars],
         "evicted": [False]}
    )


def start_conv_progress_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    idle_timeout_ms: int | None = 60_000,
    timeout_mode: str = "processing",
    watermark_delay: str = "0 seconds",
):
    """Stateful per-conversation progress tracker over the transcript stream.
    State lives in Spark's streaming state store (RocksDB/HDFS-backed on a
    real cluster), keyed by conv_id — survives restarts via the checkpoint.

    ``idle_timeout_ms`` bounds the state store: a conversation idle that long
    is evicted with a final ``evicted=True`` row.  ``None`` disables eviction
    — ONLY for bounded catch-up runs over closed inputs; never on an
    unbounded stream.

    ``timeout_mode``:

    * ``"processing"`` — wall-clock idleness (the r3 behavior).  NOT
      replay-deterministic: replaying the checkpoint slower evicts a
      different key set.
    * ``"event"`` — EVENT-time idleness: a conversation whose newest event
      is older than ``idle_timeout_ms`` behind the stream's watermark
      (``withWatermark(ts, watermark_delay)``) is evicted.  The watermark is
      derived from the DATA, so any replay of the same input at any speed
      evicts the identical key set — the mode an auditable incremental
      pipeline should use.  Late rows older than the watermark may be
      dropped by the engine before reaching the operator (standard watermark
      semantics; size ``watermark_delay`` to the expected disorder).

    ``available_now=True`` runs SYNCHRONOUSLY: processing-time timers count
    as pending work, so neither Trigger.AvailableNow (never terminates; Spark
    4's planner loop can even stack-overflow re-planning the empty timer
    batches) nor ``processAllAvailable()`` (with ProcessingTimeTimeout the
    engine fires an empty timer-check batch EVERY trigger interval, so the
    query never quiesces — status polling never sees an idle window either).
    Catch-up therefore watches PROGRESS: once the source is drained and two
    consecutive zero-input batches have completed (due timers fire inside
    those), it stops — the returned query is already terminated.  Timers not
    yet due when catch-up stops, and timers that expire BETWEEN runs, fire on
    the next run's first batches (state + deadlines live in the checkpoint),
    which is exactly the eviction contract an incremental catch-up schedule
    needs."""
    import functools

    transcripts = stream_transcripts(spark, in_dir)
    if timeout_mode == "event" and idle_timeout_ms is not None:
        transcripts = transcripts.withWatermark("ts", watermark_delay)
    progress = transcripts.groupBy("conv_id").applyInPandasWithState(
        functools.partial(_conv_progress_fn, idle_timeout_ms, timeout_mode),
        outputStructType=CONV_PROGRESS_SCHEMA,
        stateStructType=CONV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=_timeout_conf(idle_timeout_ms, timeout_mode),
    )
    from pyspark.sql import functions as F

    # parquet sinks are append-only; emit each micro-batch's updated states
    # and let readers take the latest row per conv_id
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            f"{out_dir}/batches"
        )

    writer = (
        progress.writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if not available_now:
        return writer.start()
    return run_catchup(writer)


def _timeout_conf(idle_timeout_ms, timeout_mode):
    """GroupStateTimeout for the (timeout, mode) pair — shared by the
    stateful operators so mode strings can't drift."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if idle_timeout_ms is None or timeout_mode == "none":
        return GroupStateTimeout.NoTimeout
    if timeout_mode == "event":
        return GroupStateTimeout.EventTimeTimeout
    if timeout_mode == "processing":
        return GroupStateTimeout.ProcessingTimeTimeout
    raise ValueError(f"unknown timeout_mode {timeout_mode!r}")


def run_catchup(writer, timeout_s: float = 600):
    """Run a stateful-with-timers streaming writer SYNCHRONOUSLY to drain.

    With ProcessingTimeTimeout the engine fires an empty timer-check batch
    every trigger interval, so neither Trigger.AvailableNow nor
    ``processAllAvailable()`` nor status polling can end the query (it never
    quiesces).  This helper watches batch PROGRESS instead: once the source
    is drained and two consecutive zero-input batches have completed (due
    timers fire inside those), it stops — timers not yet due fire on the
    next catch-up run's first batches.  Returns the terminated query;
    re-raises any streaming exception."""
    q = writer.trigger(processingTime="200 milliseconds").start()
    # the timeout is IDLE-based: re-armed on every completed batch, so a
    # long but steadily-draining backlog is never killed mid-drain — only a
    # query making no batch progress for timeout_s trips it
    deadline = time.time() + timeout_s
    last_batch_id = -1
    empty_after_drain = 0
    quiet_polls = 0
    drained = False
    while time.time() < deadline:
        if q.exception() is not None:
            break
        p = q.lastProgress
        if p is not None and p["batchId"] != last_batch_id:
            last_batch_id = p["batchId"]
            deadline = time.time() + timeout_s
            if p["numInputRows"] > 0:
                empty_after_drain = 0
            elif not q.status["isDataAvailable"]:
                empty_after_drain += 1
                if empty_after_drain >= 2:
                    drained = True
                    break
        # fallback for engines that stop triggering when no timers are due
        # (and for a genuinely EMPTY source, which never runs a batch at
        # all): a sustained fully-idle status also means drained.  Source
        # initialization also reports idle, so don't count polls until
        # either a batch has completed or the status message moved past
        # "Initializing..." — otherwise a slow cold start (>2 s) would stop
        # the query before it processed anything.
        s = q.status
        initializing = last_batch_id < 0 and "Initializing" in s.get("message", "")
        if not s["isDataAvailable"] and not s["isTriggerActive"] and not initializing:
            quiet_polls += 1
            if quiet_polls >= 20:
                drained = True
                break
        else:
            quiet_polls = 0
        time.sleep(0.1)
    exc = q.exception()
    q.stop()
    q.awaitTermination()
    if exc is not None:
        raise exc
    if not drained:
        raise TimeoutError(
            f"streaming catch-up made no batch progress for {timeout_s}s "
            f"(last batch id {last_batch_id}); output may be partial — rerun "
            f"with the same checkpoint to continue from the committed offset"
        )
    return q


# ── event-time windowed aggregation with a watermark ─────────────────────────

def start_turn_window_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_seconds: int = 3600,
    watermark: str = "1 hour",
):
    """Event-time tumbling-window turn volume per role, with a watermark for
    late data — the canonical Structured-Streaming rollup (the streaming twin
    of ops.corpus.time_bucket_rollup).

    Semantics (all standard append-mode watermark behavior, made explicit):

    * windows aggregate by the turn's EVENT time (``ts``), not arrival time;
    * the watermark trails the max event time seen by ``watermark``; a late
      row older than the watermark is DROPPED, one inside it is still
      counted (its window has not finalized);
    * append output: the ENGINE emits a window exactly once, when the
      watermark passes its end — so each emitted row is finalized and
      immutable, and the last open windows emit on a LATER run once newer
      events advance the watermark.  The parquet SINK, however, is
      at-least-once: a micro-batch retried after a partial write appends
      again.  Every row is therefore stamped with ``batch_id`` so readers
      deduplicate replays on (window_start, window_end, role, batch_id) —
      same recipe as the conv-progress and dedup sinks.  A tail flush at
      stream retirement would use update mode or a final marker event.

    No timers are involved, so plain ``Trigger.AvailableNow`` terminates and
    is used directly (contrast run_catchup, which exists only for
    ProcessingTimeTimeout state)."""
    from pyspark.sql import functions as F

    transcripts = stream_transcripts(spark, in_dir)
    agg = (
        transcripts.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", f"{window_seconds} seconds").alias("w"),
            F.coalesce(F.col("role"), F.lit("")).alias("role"),
        )
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("n_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
            "n_chars",
        )
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            f"{out_dir}/windows"
        )

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_events(spark: SparkSession, in_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    from sparkx.schemas import EVENTS

    reader = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger or 16)
    )
    return reader.parquet(in_dir)


def start_attribution_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    left_type: str = "view",
    right_type: str = "purchase",
    horizon_seconds: int = 3600,
    watermark: str = "1 hour",
    join_type: str = "inner",
):
    """Stream-stream INTERVAL join: attribute each ``right_type`` event
    (purchase) to every ``left_type`` event (view) by the same user within
    ``horizon_seconds`` BEFORE it — the canonical streaming attribution
    join, and the one stateful-join shape Structured Streaming supports
    with bounded state.

    State-cleanup semantics (why both watermarks AND the time-range
    predicate are required): the engine buffers unmatched rows of BOTH
    sides in the state store; the range condition lets it derive, from the
    opposite side's watermark, when a buffered row can never match again —
    a view is evicted once the purchase-side watermark passes
    ``view.ts + horizon``, a purchase once the view-side watermark passes
    ``purchase.ts``.  Without the range bound the state grows forever.
    Inner-join matches emit as they arrive (the watermark gates eviction
    and late-drop, not emission), so over a closed input every in-horizon
    pair appears exactly once in the logical stream; input rows older than
    the watermark are dropped like any late data.

    Two operational gotchas (both pytest-pinned in test_stream_join):
    the GLOBAL watermark is ``min`` over both sides' column watermarks
    (``spark.sql.streaming.multipleWatermarkPolicy``), so a side that
    stops receiving events pins it and nothing is ever evicted — at scale
    feed both sides heartbeats or configure the ``max`` policy; and
    eviction executes with the batch-START watermark, one batch behind
    the event that advanced it (AvailableNow runs the follow-up batch
    automatically when the watermark moved).

    The parquet sink is at-least-once; rows are stamped with ``batch_id``
    so readers deduplicate replays (same recipe as the window/dedup
    sinks).  No timers → plain ``Trigger.AvailableNow`` terminates.

    ``join_type="left_outer"`` additionally emits each UNattributed view
    once, with null purchase columns — but only after the watermark proves
    no match can still arrive (purchase watermark past ``view.ts +
    horizon``), i.e. null rows are delayed by horizon + watermark delay
    and need the one-batch eviction lag like everything else.  That makes
    it the streaming form of "conversion rate with a full denominator".

    Output rows: (user_id, view_id, purchase_id, lag_sec, p_value).
    """
    from pyspark.sql import functions as F

    ev = stream_events(spark, in_dir)
    views = (
        ev.where(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        ev.where(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = views.join(
        purchases,
        F.expr(
            f"v_user = p_user AND p_ts >= v_ts AND "
            f"p_ts <= v_ts + interval {int(horizon_seconds)} seconds"
        ),
        join_type,
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (F.col("p_ts").cast("long") - F.col("v_ts").cast("long")).alias(
            "lag_sec"
        ),
        "p_value",
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(f"{out_dir}/pairs")

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def start_session_window_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
):
    """Event-time SESSION windows over the events stream — the streaming
    twin of ``ops.temporal.sessionize``/``session_stats``: a per-user
    session is any run of events with gaps below ``gap_seconds``, and the
    window is DYNAMIC (it grows as events arrive and two open sessions
    MERGE when a bridging event lands between them, including across
    micro-batches — the stateful behavior ``session_window`` exists for).

    Append-mode semantics mirror the tumbling rollup
    (`start_turn_window_stream`): a session emits exactly once from the
    ENGINE when the watermark passes its end (last event + gap), so
    emitted rows are finalized and immutable; rows later than the
    watermark are dropped.  The parquet sink is at-least-once, so every
    row is stamped with ``batch_id`` for reader-side dedup — same recipe
    as the other streaming sinks.  No timers → plain
    ``Trigger.AvailableNow`` terminates and is used directly.

    Scale: state is one open session struct per (user, session) — bounded
    by the watermark horizon, keyed on user_id so it partitions with the
    shuffle; value sums ride the integer e4 grid (engine-parity rule)."""
    from pyspark.sql import functions as F

    ev = stream_events(spark, in_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_seconds} seconds").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias(
                "total_value_e4"
            ),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value_e4",
        )
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(f"{out_dir}/sessions")

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
