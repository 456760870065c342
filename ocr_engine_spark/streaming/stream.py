"""Structured Streaming wrapper (SURVEY.md §2.9 — thin v1 surface).

The extraction kernel is stateless per turn, so the SAME fused ``mapInArrow`` stage as
batch extraction (``operators/extract.extract_transcripts``) runs unchanged on a
streaming DataFrame: one kernel pass per micro-batch, with ``ts`` riding through as a
zero-copy passthrough column where a watermark needs it; no custom stateful operator
is needed.  The metrics window is a watermarked tumbling aggregation; late data
beyond the watermark drops (default semantics).  The reference engine is strictly batch (batch_size=1,
/root/reference/src/ocr.py:201-233), so streaming is engine-added surface.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from ocr_engine_spark.operators.extract import extract_transcripts

TRANSCRIPTS_DDL = ("conv_id string, turn_idx int, role string, text string, "
                   "tool string, ts timestamp")


CONV_STATE_SCHEMA = "turns bigint, spans bigint, last_turn_idx int"
CONV_PROGRESS_SCHEMA = ("conv_id string, turns bigint, spans bigint, "
                        "last_turn_idx int")


def _progress_update(timeout_ms: int | None):
    """The applyInPandasWithState update function (module-level so the timeout
    path is unit-testable without a live streaming query).  ``None`` disables
    the inactivity timeout (no timer is ever registered)."""

    def update(key, pdfs, state):
        if state.hasTimedOut:
            # Timeout invocation carries no data: drop the state (this is what
            # actually bounds it) and emit nothing — re-saving here would both
            # leak the entry forever and re-emit a stale duplicate row per
            # timeout interval.
            state.remove()
            return
        turns = spans = 0
        last = -1
        if state.exists:
            turns, spans, last = state.get
        for pdf in pdfs:
            turns += len(pdf)
            spans += int(pdf["n_spans"].sum())
            if len(pdf):
                last = max(last, int(pdf["turn_idx"].max()))
        state.update((turns, spans, last))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame({
            "conv_id": [key[0]], "turns": [turns], "spans": [spans],
            "last_turn_idx": [last],
        })

    return update


def conversation_progress_stream(extracted, timeout_ms: int = 60_000):
    """Custom stateful operator (applyInPandasWithState): per-conversation running
    totals — turns seen, spans emitted, highest turn_idx — updated incrementally
    across micro-batches and emitted on every update.

    The per-turn kernel is stateless, so this is the ONE place the streaming
    surface needs keyed state: conversation-level progress/lineage (the streaming
    analogue of the reference's per-run manifest accumulation,
    /root/reference/run.py:91-118).  State is bounded: three numbers per live
    conversation, dropped after ``timeout_ms`` of inactivity (processing time).

    ``timeout_ms=None`` disables the inactivity timeout (GroupStateTimeout.
    NoTimeout).  CAVEAT for run-to-completion replays: registered
    processing-time timers keep an ``availableNow`` query alive until they
    fire — after the data drains, the query idles for up to ``timeout_ms``
    running empty timer batches before it can terminate.  Continuous
    production streams (where the timeout is the state bound) are unaffected;
    bounded replays that want prompt termination pass ``None`` (the parity
    row does).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    update = _progress_update(timeout_ms)
    return (
        extracted.select("conv_id", "turn_idx", "n_spans")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=CONV_PROGRESS_SCHEMA,
            stateStructType=CONV_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(GroupStateTimeout.NoTimeout if timeout_ms is None
                         else GroupStateTimeout.ProcessingTimeTimeout),
        )
    )


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    """Incremental parquet-directory source (the Iceberg-incremental stand-in)."""
    return (
        spark.readStream.schema(TRANSCRIPTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(stream: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Same kernel, streaming plan: the batch operator's single ``mapInArrow``
    stage with no exchange."""
    return extract_transcripts(stream, cfg)


def metrics_window_stream(stream: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG,
                          watermark: str = "1 hour",
                          window: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling metrics (turns, spans, strip ratio) over event time."""
    return (
        # ts rides through the kernel zero-copy for the watermark
        extract_transcripts(stream, cfg, passthrough=("ts",))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum("n_spans").cast("long").alias("spans"),
            F.avg("strip_ratio").alias("strip_ratio"),
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop payload duplicates that arrive within the
    watermark horizon (``dropDuplicatesWithinWatermark`` keyed on the text
    digest).  State is bounded by the watermark — expired digests are evicted,
    so a 10^12-turn stream never accumulates unbounded dedup state; the batch
    twin is operators/dedup.q_exact_dedup."""
    return (
        stream.withColumn("text_md5", F.md5("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["text_md5"])
    )


def session_metrics_stream(stream: DataFrame,
                           cfg: EngineConfig = DEFAULT_CONFIG,
                           watermark: str = "1 hour",
                           gap: str = "30 minutes") -> DataFrame:
    """Per-conversation session windows over event time: turns that arrive
    within ``gap`` of each other merge into one session (Spark's native
    ``session_window`` — the streaming twin of the batch sessionization in
    operators/relational.q_event_sessions).  Watermarked, so session state
    closes and evicts as event time advances."""
    return (
        # ts rides through the kernel zero-copy for the watermark
        extract_transcripts(stream, cfg, passthrough=("ts",))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("session"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum("n_spans").cast("long").alias("spans"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
    )


# per-process synthesized stream sources, keyed (sf_dir, documents mtime) so a
# corpus rewrite under sf_dir invalidates the synthesized source like every
# other artifact cache (dedup._table_mtime)
_STREAM_PARITY_DIRS: dict[tuple, str] = {}


def _single_turn_shape(docs, conv_id_col, ts_col=None):
    """documents rows -> the six-column transcript shape (input_hint) as one
    single-turn conversation per document; ONE definition of the literal shape
    so base and planted branches (and any future caller) cannot drift from
    what read_transcript_stream's TRANSCRIPTS_DDL expects.  ``ts_col``
    overrides the constant event time (the window-parity source spreads
    events over hours)."""
    if ts_col is None:
        ts_col = F.expr("timestamp'2026-01-01 00:00:00'")
    return docs.select(
        conv_id_col.cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        ts_col.alias("ts"),
    )


def ensure_stream_parity_source(spark: SparkSession, sf_dir: str) -> str:
    """Synthesize (once per process per corpus mtime) the multi-file parquet
    transcripts directory the streaming-dedup parity query replays: the
    documents corpus with the same planted duplicates as ``q_exact_dedup``.
    Factored out so bench.py can charge the build as an explicit artifact row
    instead of hiding it inside a best-of-reps minimum.  The tmpdir is
    process-lifetime (atexit-removed); a corpus rewrite drops the superseded
    cache entry (the old dir survives until exit so held readers keep
    working)."""
    from ocr_engine_spark.operators.dedup import (
        PLANT_MOD, PLANT_OFFSET, PLANT_RESIDUE, _table_mtime, artifact_tmpdir,
        evict_stale_artifacts)

    cache_key = (sf_dir, _table_mtime(sf_dir, "documents"))
    if cache_key not in _STREAM_PARITY_DIRS:
        evict_stale_artifacts(_STREAM_PARITY_DIRS, cache_key)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base = _single_turn_shape(docs, F.col("doc_id"))
        planted = _single_turn_shape(
            docs.where(F.col("doc_id") % PLANT_MOD == PLANT_RESIDUE),
            F.col("doc_id") + PLANT_OFFSET)
        src = artifact_tmpdir("ocr_engine_stream_parity_") + "/transcripts"
        base.unionByName(planted).repartition(8).write.parquet(src)
        _STREAM_PARITY_DIRS[cache_key] = src
    return _STREAM_PARITY_DIRS[cache_key]


def q_stream_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup parity, batch-comparable (oracle-grade evidence for
    the streaming surface, not just unit tests).

    The synthesized corpus (ensure_stream_parity_source) is REPLAYED THROUGH
    THE REAL STREAMING PATH: incremental file source (2 files per trigger ->
    duplicates cross micro-batch boundaries), a watermark,
    ``dropDuplicatesWithinWatermark`` on the payload digest, memory sink,
    ``availableNow`` trigger (run-to-completion, deterministic).

    WHICH row survives per digest depends on arrival order, so the query
    returns the order-independent invariant the batch twin can verify: one
    output row per distinct digest with n_rows == 1.  Any dedup failure
    surfaces as n_rows > 1 (hash mismatch), any lost digest as a row-count
    mismatch vs the batch DISTINCT oracle.

    CONTRACT-SCALE EVIDENCE ONLY: the memory sink and the toPandas drain are
    both O(distinct digests) in driver memory — chosen here because the
    oracle harness compares full result sets at test scale factors anyway,
    and draining lets the sink temp view drop immediately (no accumulation
    across repeated calls).  The production streaming path is
    ``dedup_stream`` -> a real file/table sink with checkpointing
    (jobs/stream_job.py), which never funnels rows through the driver."""
    src = ensure_stream_parity_source(spark, sf_dir)
    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    deduped = dedup_stream(stream).select("text_md5")
    grouped = _replay_to_memory(
        spark, deduped, "append",
        lambda t: t.groupBy("text_md5")
        .agg(F.count(F.lit(1)).cast("int").alias("n_rows")))
    return spark.createDataFrame(grouped, "text_md5 string, n_rows int")


def _replay_to_memory(spark: SparkSession, stream_df: DataFrame,
                      output_mode: str, transform):
    """Shared availableNow memory-sink replay for the parity rows: run the
    stream to completion, apply ``transform`` to the sink table, drain via
    ``toPandas`` (bounded — see each caller's contract-scale note), and drop
    the temp view even when the drain fails."""
    import uuid

    sink = f"stream_replay_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory").queryName(sink)
        .outputMode(output_mode).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    try:
        return transform(spark.table(sink)).toPandas()
    finally:
        spark.catalog.dropTempView(sink)


_STREAM_WINDOW_DIRS: dict[tuple, str] = {}

# event-time spread for the window-parity source: doc_id % SPREAD minutes past
# a fixed origin -> 4 distinct event-time hours at any scale factor
WINDOW_SPREAD_MIN = 240
WINDOW_TS_SQL = ("timestamp'2026-01-01 00:00:00'"
                 f" + make_dt_interval(0, 0, doc_id % {WINDOW_SPREAD_MIN}, 0)")


def ensure_stream_window_source(spark: SparkSession, sf_dir: str) -> str:
    """Synthesize (once per process per corpus mtime) the multi-file
    transcripts directory the windowed-rollup parity query replays: the
    documents corpus as single-turn conversations with event times spread
    over four hours (``doc_id % 240`` minutes past the origin), so tumbling
    1-hour windows receive rows from MULTIPLE micro-batches in arbitrary
    event-time order — the state-update path, not a one-batch fold."""
    from ocr_engine_spark.operators.dedup import (
        _table_mtime, artifact_tmpdir, evict_stale_artifacts)

    cache_key = (sf_dir, _table_mtime(sf_dir, "documents"))
    if cache_key not in _STREAM_WINDOW_DIRS:
        evict_stale_artifacts(_STREAM_WINDOW_DIRS, cache_key)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        src = artifact_tmpdir("ocr_engine_stream_window_") + "/transcripts"
        (_single_turn_shape(docs, F.col("doc_id"), ts_col=F.expr(WINDOW_TS_SQL))
         .repartition(8).write.parquet(src))
        _STREAM_WINDOW_DIRS[cache_key] = src
    return _STREAM_WINDOW_DIRS[cache_key]


def q_stream_window_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowed-rollup parity, batch-comparable — the
    second oracle-grade streaming row, covering the windowed-aggregation
    surface (``metrics_window_stream``) the way ``q_stream_dedup_parity``
    covers stateful dedup.

    The synthesized spread-timestamp corpus replays THROUGH THE REAL
    STREAMING PATH: incremental file source (2 files per trigger, so every
    1-hour window accumulates across micro-batches), the extraction kernel
    as a streaming ``mapInArrow`` stage, event-time tumbling windows, memory
    sink, ``availableNow`` trigger.

    Determinism choices, pinned deliberately:
    - ``complete`` output mode + an effectively-infinite watermark: file
      arrival order is not deterministic, so append-mode window finalization
      (and late-row dropping) would make the emitted set depend on scheduling.
      Complete mode reports every window's final state regardless of arrival
      order; the late-data DROP policy is pinned separately by the streaming
      unit tests (tests/test_streaming.py).
    - the parity projection keeps the exact-integer aggregates (turns, spans)
      and leaves ``strip_ratio`` (a float mean whose accumulation order is
      engine-defined) to the row-wise extraction oracles.

    CONTRACT-SCALE EVIDENCE ONLY: complete mode + memory sink hold
    O(windows) driver state — fine for an hours-wide replay; the production
    path is append mode with finalized windows to a checkpointed file sink
    (jobs/stream_job.py), which holds only open-window state on executors."""
    src = ensure_stream_window_source(spark, sf_dir)
    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    win = metrics_window_stream(stream, watermark="30 days", window="1 hour")
    out = _replay_to_memory(
        spark, win, "complete",
        lambda t: t.select(F.col("win.start").alias("win_start"),
                           F.col("turns").cast("long").alias("turns"),
                           F.col("spans")))
    return spark.createDataFrame(
        out, "win_start timestamp, turns bigint, spans bigint")


_STREAM_PROGRESS_DIRS: dict[tuple, str] = {}


def ensure_stream_progress_source(spark: SparkSession, sf_dir: str) -> str:
    """Synthesize (once per process per corpus mtime) the MULTI-TURN
    transcripts directory the stateful-progress parity query replays: each
    document becomes one conversation whose turns are its non-overlapping
    8-word chunks (``chunk_documents`` — deterministic, SQL-replayable), so
    per-conversation state genuinely accumulates across turns AND across
    micro-batches (the single-turn parity sources cannot exercise that)."""
    from ocr_engine_spark.operators.dedup import (
        _table_mtime, artifact_tmpdir, chunk_documents,
        evict_stale_artifacts)

    cache_key = (sf_dir, _table_mtime(sf_dir, "documents"))
    if cache_key not in _STREAM_PROGRESS_DIRS:
        evict_stale_artifacts(_STREAM_PROGRESS_DIRS, cache_key)
        docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "text"))
        tx = chunk_documents(docs).select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.col("cidx").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("chunk").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.expr("timestamp'2026-01-01 00:00:00'").alias("ts"))
        src = artifact_tmpdir("ocr_engine_stream_progress_") + "/transcripts"
        tx.repartition(8).write.parquet(src)
        _STREAM_PROGRESS_DIRS[cache_key] = src
    return _STREAM_PROGRESS_DIRS[cache_key]


def q_stream_progress_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-stateful-operator parity, batch-comparable — the third
    oracle-grade streaming row, covering ``conversation_progress_stream``
    (the ``applyInPandasWithState`` keyed-state operator) the way the other
    two rows cover stateful dedup and windowed aggregation.

    The chunked multi-turn corpus replays THROUGH THE REAL STREAMING PATH:
    incremental file source (2 files per trigger, so a conversation's turns
    arrive split across micro-batches), the extraction kernel as a streaming
    stage, then the keyed state update emitting cumulative
    (turns, spans, last_turn_idx) per conversation on every micro-batch.

    WHICH intermediate rows appear depends on how files batch, but the
    cumulative counters are monotone in turns — so the per-conversation row
    with the MAXIMUM turns is the final state, and it must equal the batch
    rollup regardless of batch divisions.  The argmax is
    ``max(struct(turns, spans, last_turn_idx))`` (turns is unique per
    conversation across its emissions, so the struct order is total).  The
    inactivity timeout is DISABLED (``timeout_ms=None`` -> NoTimeout):
    registered processing-time timers keep an ``availableNow`` query alive
    until they fire (see conversation_progress_stream), and state-eviction
    timing is wall-clock-dependent anyway — the timeout path is pinned
    separately by ``test_progress_update_timeout_drops_state_and_emits_nothing``.

    CONTRACT-SCALE EVIDENCE ONLY: the memory sink holds every update row
    (O(convs x batches)); the production path emits to a checkpointed sink
    and state stays bounded by the timeout (streaming/stream.py
    conversation_progress_stream)."""
    src = ensure_stream_progress_source(spark, sf_dir)
    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    prog = conversation_progress_stream(
        extract_stream(stream), timeout_ms=None)
    out = _replay_to_memory(
        spark, prog, "update",
        lambda t: t.groupBy("conv_id")
        .agg(F.max(F.struct("turns", "spans", "last_turn_idx")).alias("m"))
        .select("conv_id", F.col("m.turns").alias("turns"),
                F.col("m.spans").alias("spans"),
                F.col("m.last_turn_idx").alias("last_turn_idx")))
    return spark.createDataFrame(
        out, "conv_id string, turns bigint, spans bigint, last_turn_idx int")
