"""Structured Streaming wrapper tests: the fused kernel on a streaming plan, with the
batch output as the oracle (same kernel -> equality by construction)."""

import pytest

from jobs.stream_job import run_stream
from ocr_engine_spark.operators.extract import (
    EXTRACTED_SCHEMA, extract_transcripts,
)
from ocr_engine_spark.sources.transcripts import generate_transcripts
from ocr_engine_spark.streaming.stream import (
    extract_stream, metrics_window_stream, read_transcript_stream,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    from ocr_engine_spark.streaming.stream import TRANSCRIPTS_DDL

    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    pdf = generate_transcripts(15, seed=5, whale_factor=2)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_DDL).repartition(4).write.parquet(path)
    return path


def test_stream_extraction_matches_batch(spark, stream_dir):
    """The full streamed row — every EXTRACTED_SCHEMA column, spans and
    strip_ratio included — equals the batch operator's row."""
    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    assert stream.isStreaming
    extracted = extract_stream(stream)
    assert extracted.schema == EXTRACTED_SCHEMA
    q = (
        extracted
        .writeStream.format("memory").queryName("ext_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    cols = EXTRACTED_SCHEMA.names
    got = (
        spark.table("ext_stream").select(*cols)
        .orderBy("conv_id", "turn_idx").collect()
    )
    batch = extract_transcripts(spark.read.parquet(stream_dir))
    want = batch.select(*cols).orderBy("conv_id", "turn_idx").collect()
    assert len(got) == spark.read.parquet(stream_dir).count()
    assert got == want


def test_metrics_window_stream(spark, stream_dir):
    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=4)
    q = (
        # watermark covers the corpus's full ~4-month event-time span so no
        # cross-batch disorder drops as late data (total-count assertion below)
        metrics_window_stream(stream, watermark="365 days", window="30 minutes")
        .writeStream.format("memory").queryName("metrics_stream")
        # complete mode: append would hold back windows the final watermark never
        # passes (availableNow ends the stream before the last windows close)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("metrics_stream").collect()
    total = sum(r.turns for r in rows)
    assert total == spark.read.parquet(stream_dir).count()
    assert all(r.spans >= 0 for r in rows)


def test_conversation_progress_stateful(spark, stream_dir):
    """applyInPandasWithState: running per-conversation totals across
    micro-batches; the final update per conversation equals the batch answer."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.streaming.stream import conversation_progress_stream

    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        conversation_progress_stream(extract_stream(stream))
        .writeStream.format("memory").queryName("conv_progress")
        .outputMode("update").trigger(availableNow=True).start()
    )
    # the production ProcessingTimeTimeout path: registered timers keep the
    # availableNow query alive well past the data (see the operator's CAVEAT),
    # so wait for the DATA to drain — the source reports no data available
    # AND the sink total stopped moving between two polls — then stop; never
    # block on termination here
    import time

    rows = -1
    for _ in range(90):
        time.sleep(2)
        n = spark.table("conv_progress").count()
        if n == rows and n > 0 and not q.status["isDataAvailable"]:
            break
        rows = n
    else:
        pytest.fail(f"stream did not quiesce: {q.status}")
    q.stop()
    # update mode emits one row per (conv, micro-batch); totals are monotonic so
    # the final state per conversation is the row-wise max
    got = {
        r["conv_id"]: (r["turns"], r["spans"], r["last_turn_idx"])
        for r in spark.table("conv_progress")
        .groupBy("conv_id")
        .agg(F.max("turns").alias("turns"), F.max("spans").alias("spans"),
             F.max("last_turn_idx").alias("last_turn_idx")).collect()
    }
    batch = extract_transcripts(spark.read.parquet(stream_dir))
    want = {
        r["conv_id"]: (r["turns"], r["spans"], r["last_turn_idx"])
        for r in batch.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("turns"),
             F.sum("n_spans").cast("long").alias("spans"),
             F.max("turn_idx").alias("last_turn_idx")).collect()
    }
    assert got == want


class _StubState:
    """Minimal GroupState stand-in for unit-testing the update function."""

    def __init__(self, value=None, has_timed_out=False):
        self._value = value
        self.hasTimedOut = has_timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None and not self.removed

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self.removed = True
        self._value = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_progress_update_timeout_drops_state_and_emits_nothing():
    """When ProcessingTimeTimeout fires, the update function is invoked with an
    empty batch iterator and hasTimedOut=True: state must be removed (bounded
    state) and NO stale row re-emitted."""
    from ocr_engine_spark.streaming.stream import _progress_update

    update = _progress_update(timeout_ms=60_000)
    state = _StubState(value=(5, 7, 4), has_timed_out=True)
    out = list(update(("conv-x",), iter([]), state))
    assert out == []                 # no duplicate stale progress row
    assert state.removed             # state actually dropped
    assert state.timeout_set is None  # timeout NOT re-armed


def test_progress_update_accumulates_and_rearms():
    import pandas as pd

    from ocr_engine_spark.streaming.stream import _progress_update

    update = _progress_update(timeout_ms=1234)
    state = _StubState(value=(2, 3, 1))
    pdf = pd.DataFrame({"turn_idx": [2, 5], "n_spans": [1, 4]})
    out = list(update(("conv-y",), iter([pdf]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert (row["turns"], row["spans"], row["last_turn_idx"]) == (4, 8, 5)
    assert state.get == (4, 8, 5)
    assert state.timeout_set == 1234


def _assert_metrics_recount(spark, out):
    """Every batch_metrics row equals a recount over the extracted rows its
    micro-batch committed (the observed metrics are the data's, not a guess)."""
    from pyspark.sql import functions as F

    recount = {
        r["batch_id"]: r for r in spark.read.parquet(str(out / "extracted"))
        .groupBy("batch_id").agg(
            F.countDistinct("conv_id").alias("conv_ids"),
            F.count(F.lit(1)).alias("turns"),
            F.sum("n_spans").alias("spans"),
            F.avg("strip_ratio").alias("strip_ratio")).collect()
    }
    m = spark.read.parquet(str(out / "batch_metrics")).collect()
    assert sorted(r["batch_id"] for r in m) == sorted(recount)
    for r in m:
        want = recount[r["batch_id"]]
        assert r["status"] == "done"
        assert (r["conv_ids"], r["turns"], r["spans"]) == (
            want["conv_ids"], want["turns"], want["spans"]), r
        assert r["strip_ratio"] == pytest.approx(want["strip_ratio"],
                                                 rel=0, abs=1e-12)
    return m


def test_stream_job_drain_and_resume(spark, tmp_path):
    """jobs/stream_job.py end-to-end: drain a directory with availableNow, then
    add more input and re-run against the SAME checkpoint — only the new files
    are processed, no duplicates (exactly-once by batch_id overwrite + WAL)."""
    from ocr_engine_spark.streaming.stream import TRANSCRIPTS_DDL

    src = tmp_path / "src"
    out = tmp_path / "out"
    pdf = generate_transcripts(8, seed=21)
    first = spark.createDataFrame(pdf, schema=TRANSCRIPTS_DDL)
    first.repartition(3).write.mode("append").parquet(str(src))
    n_first = first.count()

    q = run_stream(spark, str(src), str(out), max_files_per_trigger=1,
                   available_now=True)
    q.awaitTermination(180)
    got1 = spark.read.parquet(str(out / "extracted"))
    assert got1.count() == n_first
    n_batches1 = got1.select("batch_id").distinct().count()
    assert n_batches1 >= 2  # maxFilesPerTrigger=1 -> several micro-batches

    # metrics rows exist per batch, written after data, and recount exactly
    m = _assert_metrics_recount(spark, out)
    assert len(m) == n_batches1
    assert sum(r["turns"] for r in m) == n_first

    # "kill and resume": a fresh run against the same checkpoint with NEW
    # input — two files landing in ONE micro-batch, with conversation
    # conv-000002 split across both, so the batch's distinct-conversation
    # count must merge ids across tasks
    more = generate_transcripts(4, seed=22)
    split = (more["conv_id"] == "conv-000002") & (more["turn_idx"] % 2 == 1)
    assert split.any() and ((more["conv_id"] == "conv-000002") & ~split).any()
    for part in (more[~split], more[split]):
        (spark.createDataFrame(part, schema=TRANSCRIPTS_DDL).coalesce(1)
         .write.mode("append").parquet(str(src)))
    n_more = len(more)
    q2 = run_stream(spark, str(src), str(out), max_files_per_trigger=2,
                    available_now=True)
    q2.awaitTermination(180)
    got2 = spark.read.parquet(str(out / "extracted"))
    assert got2.count() == n_first + n_more  # old files NOT reprocessed
    m = _assert_metrics_recount(spark, out)
    last = max(m, key=lambda r: r["batch_id"])
    assert len(m) == n_batches1 + 1
    assert (last["conv_ids"], last["turns"]) == (more["conv_id"].nunique(),
                                                 n_more)
    # per-turn content equals the batch kernel on the union corpus
    want = extract_transcripts(spark.read.parquet(str(src))).select(
        "conv_id", "turn_idx", "extracted_text").orderBy("conv_id", "turn_idx")
    gotc = got2.select("conv_id", "turn_idx", "extracted_text").orderBy(
        "conv_id", "turn_idx")
    assert [tuple(r) for r in gotc.collect()] == [tuple(r) for r in want.collect()]


def test_stream_job_runs_two_single_stage_jobs_per_batch(spark, tmp_path):
    """The stream job's commit is one kernel pass plus one tiny metrics write:
    at most 2 Spark jobs per micro-batch, each a single stage — no cache
    build and no shuffle (the metrics are observed on the data write)."""
    from ocr_engine_spark.streaming.stream import TRANSCRIPTS_DDL

    src = str(tmp_path / "src")
    (spark.createDataFrame(generate_transcripts(6, seed=41),
                           schema=TRANSCRIPTS_DDL)
     .repartition(4).write.parquet(src))
    q = run_stream(spark, src, str(tmp_path / "out"), max_files_per_trigger=2,
                   available_now=True)
    assert q.awaitTermination(180), "stream did not drain"
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 2
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= 2 * len(batches), jobs
    for j in jobs:
        assert len(tracker.getJobInfo(j).stageIds) == 1, j


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """Streaming exact dedup: duplicates planted across micro-batch boundaries
    collapse to one row per distinct payload (watermark-bounded state)."""
    from ocr_engine_spark.streaming.stream import TRANSCRIPTS_DDL, dedup_stream

    import pandas as pd

    base = generate_transcripts(6, seed=33)
    dup = base.head(20).copy()
    dup["conv_id"] = dup["conv_id"] + "-dup"  # same text, different key
    src = str(tmp_path / "dsrc")
    spark.createDataFrame(base, schema=TRANSCRIPTS_DDL).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(pd.DataFrame(dup), schema=TRANSCRIPTS_DDL).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    q = (
        dedup_stream(stream, watermark="365 days")
        .writeStream.format("memory").queryName("dedup_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream_t")
    want_distinct = spark.read.parquet(src).select("text").distinct().count()
    assert got.count() == want_distinct
    assert got.select("text_md5").distinct().count() == got.count()


def test_session_metrics_stream_merges_by_gap(spark, stream_dir):
    """Native session windows: turns within the gap merge, totals equal the
    batch turn count (complete mode drains everything under availableNow)."""
    from ocr_engine_spark.streaming.stream import session_metrics_stream

    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    # the watermark must cover the corpus's FULL event-time span (~4 months):
    # rows are scattered across files, so a micro-batch can carry timestamps
    # months behind the advancing watermark, and anything beyond it drops as
    # late data (the documented default) — a shorter watermark makes the
    # exact-total assertion below file-order-dependent
    q = (
        session_metrics_stream(stream, watermark="365 days", gap="10 minutes")
        .writeStream.format("memory").queryName("sessions_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("sessions_stream").collect()
    total_turns = sum(r["turns"] for r in rows)
    assert total_turns == spark.read.parquet(stream_dir).count()
    # session windows are per conversation and non-degenerate
    assert all(r["turns"] >= 1 and r["last_turn"] >= r["first_turn"]
               for r in rows)
    assert len({r["conv_id"] for r in rows}) > 1


def test_stream_window_parity_accumulates_across_batches(spark, tmp_path):
    """q_stream_window_parity's core invariant at unit scale: every tumbling
    window's final (turns, spans) equals the batch rollup even when each
    window's rows arrive split across MULTIPLE micro-batches (files are
    written so every file carries rows of every hour; one file per
    trigger)."""
    import pandas as pd

    from ocr_engine_spark.streaming.stream import (
        TRANSCRIPTS_DDL, metrics_window_stream,
    )

    rows = []
    for f in range(3):                       # 3 files x 3 hours x 4 turns
        for h in range(3):
            for i in range(4):
                rows.append({
                    "conv_id": f"c{f}_{h}_{i}", "turn_idx": 0,
                    "role": "user", "text": f"turn {f} {h} {i}",
                    "tool": None,
                    "ts": pd.Timestamp(f"2026-01-01 {h:02d}:{f*15+i:02d}:00")})
    src = str(tmp_path / "tx")
    for f in range(3):                       # one parquet file per slice
        pdf = pd.DataFrame(rows[f * 12:(f + 1) * 12])
        (spark.createDataFrame(pdf, schema=TRANSCRIPTS_DDL)
         .coalesce(1).write.mode("append").parquet(src))

    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    win = metrics_window_stream(stream, watermark="30 days", window="1 hour")
    q = (win.writeStream.format("memory").queryName("win_parity_t")
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish within 180s"
    got = {r["win"]["start"].hour: (r["turns"], r["spans"])
           for r in spark.table("win_parity_t").collect()}
    spark.catalog.dropTempView("win_parity_t")
    # >= 3 micro-batches actually ran (one per file)
    assert len(q.recentProgress) >= 3
    assert got == {0: (12, 12), 1: (12, 12), 2: (12, 12)}


def test_progress_stream_no_timeout_terminates(spark, stream_dir):
    """timeout_ms=None (NoTimeout): an availableNow replay TERMINATES once the
    data drains — the regression guard for the timer-keeps-the-query-alive
    behavior the parity row works around (with ProcessingTimeTimeout,
    registered timers hold the query open past the data)."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.streaming.stream import conversation_progress_stream

    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    q = (
        conversation_progress_stream(extract_stream(stream), timeout_ms=None)
        .writeStream.format("memory").queryName("conv_progress_nt")
        .outputMode("update").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120), "NoTimeout replay did not terminate"
    got = {
        r["conv_id"]: (r["turns"], r["spans"], r["last_turn_idx"])
        for r in spark.table("conv_progress_nt")
        .groupBy("conv_id")
        .agg(F.max("turns").alias("turns"), F.max("spans").alias("spans"),
             F.max("last_turn_idx").alias("last_turn_idx")).collect()
    }
    batch = extract_transcripts(spark.read.parquet(stream_dir))
    want = {
        r["conv_id"]: (r["turns"], r["spans"], r["last_turn_idx"])
        for r in batch.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("turns"),
             F.sum("n_spans").cast("long").alias("spans"),
             F.max("turn_idx").alias("last_turn_idx")).collect()
    }
    assert got == want
