"""Checkpoint/resume tests (SURVEY.md §5.2 item 5): a killed run resumed with the same
run_id yields output identical to a single run, with no duplicate rows."""

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_engine_spark.operators.checkpoint import (
    _BucketTally, done_buckets, run_extraction, with_bucket,
)
from ocr_engine_spark.sources.transcripts import generate_transcripts

N_BUCKETS = 8


@pytest.fixture(scope="module")
def transcripts_df(spark):
    return spark.createDataFrame(generate_transcripts(25, seed=21, whale_factor=8))


def _read_sorted(spark, path):
    return (
        spark.read.parquet(path)
        .select("conv_id", "turn_idx", "extracted_text", "n_spans")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )


def _drop_markers(metrics_path, buckets):
    """Lose the done-markers of ``buckets``: rewrite the committed marker
    files as one file without those buckets' rows (what a crash between a
    bucket's data commit and its marker append leaves behind)."""
    files = glob.glob(f"{metrics_path}/*.parquet")
    ts = pa.timestamp("us", tz="UTC")
    kept = pq.read_table(files)
    kept = kept.filter(pc.invert(pc.is_in(
        kept["p"], value_set=pa.array(sorted(buckets), pa.int32()))))
    # pyarrow reads Spark's INT96 timestamps as tz-naive ns; write them
    # back as the UTC micros Spark reads as TimestampType
    for col in ("started", "finished"):
        kept = kept.set_column(kept.schema.get_field_index(col), col,
                               kept[col].cast(ts))
    for f in files:
        os.remove(f)
    pq.write_table(kept, f"{metrics_path}/part-rewritten.parquet")


def test_full_run_then_resume_noop(spark, transcripts_df, tmp_path):
    out = str(tmp_path / "run1")
    s1 = run_extraction(spark, transcripts_df, out, "r1", n_buckets=N_BUCKETS)
    assert s1["buckets_run"] == N_BUCKETS
    baseline = _read_sorted(spark, s1["data_path"])
    assert len(baseline) == transcripts_df.count()

    # resume over a completed run touches nothing
    s2 = run_extraction(spark, transcripts_df, out, "r1", n_buckets=N_BUCKETS)
    assert s2["buckets_run"] == 0
    assert _read_sorted(spark, s2["data_path"]) == baseline


def test_kill_and_resume_exactly_once(spark, transcripts_df, tmp_path):
    out_full = str(tmp_path / "full")
    out_killed = str(tmp_path / "killed")

    full = run_extraction(spark, transcripts_df, out_full, "rA", n_buckets=N_BUCKETS)
    want = _read_sorted(spark, full["data_path"])

    # simulate a crash: run fully, then delete markers AND data for 3 buckets
    killed = run_extraction(spark, transcripts_df, out_killed, "rA", n_buckets=N_BUCKETS)
    _drop_markers(killed["metrics_path"], (1, 4, 6))
    for p in (1, 4, 6):
        shutil.rmtree(f"{killed['data_path']}/p={p}")
    assert done_buckets(spark, killed["metrics_path"]) == set(range(N_BUCKETS)) - {1, 4, 6}

    resumed = run_extraction(spark, transcripts_df, out_killed, "rA", n_buckets=N_BUCKETS)
    assert resumed["buckets_done_before"] == N_BUCKETS - 3
    assert resumed["buckets_run"] == 3

    got = _read_sorted(spark, resumed["data_path"])
    assert got == want  # identical to the single-run output, no dupes, no gaps


def test_crash_between_data_and_metrics_reruns_bucket(spark, transcripts_df, tmp_path):
    """A bucket whose data committed but whose metrics row didn't must re-run (the
    done-marker is the metrics row, written strictly after the data)."""
    out = str(tmp_path / "partial")
    s = run_extraction(spark, transcripts_df, out, "rB", n_buckets=N_BUCKETS)
    want = _read_sorted(spark, s["data_path"])
    _drop_markers(s["metrics_path"], (2,))  # marker lost, data present
    resumed = run_extraction(spark, transcripts_df, out, "rB", n_buckets=N_BUCKETS)
    assert resumed["buckets_run"] == 1
    assert _read_sorted(spark, resumed["data_path"]) == want


def test_metrics_lineage_content(spark, transcripts_df, tmp_path):
    out = str(tmp_path / "metrics")
    s = run_extraction(spark, transcripts_df, out, "rC", n_buckets=N_BUCKETS)
    m = spark.read.parquet(s["metrics_path"])
    assert m.count() == N_BUCKETS
    total_turns = m.agg(F.sum("turns")).collect()[0][0]
    assert total_turns == transcripts_df.count()
    row = m.first()
    assert row.run_id == "rC" and row.status == "done"
    assert set(m.columns) >= {"run_id", "conv_ids", "turns", "spans",
                              "strip_ratio", "started", "finished", "status", "p"}


def test_run_never_reads_its_output(spark, transcripts_df, tmp_path,
                                    monkeypatch):
    """The done-markers come from the kernel tasks: no parquet read during
    a run touches the extracted output it writes."""
    from pyspark.sql import DataFrameReader

    out = str(tmp_path / "noread")
    read_paths = []
    real_read = DataFrameReader.parquet

    def read_spy(self, *paths, **kw):
        read_paths.extend(paths)
        return real_read(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", read_spy)
    run_extraction(spark, transcripts_df, out, "rD", n_buckets=N_BUCKETS,
                   wave_buckets=3)
    # resume-time reads of run_metrics are fine; nothing under extracted/
    assert not [p for p in read_paths if p.startswith(f"{out}/extracted")]


def test_markers_match_recount_of_committed_data(spark, transcripts_df,
                                                 tmp_path):
    """Every marker row equals a recount of its bucket's committed rows
    (whale corpus, three waves), and each wave appended one marker file."""
    out = str(tmp_path / "recount")
    s = run_extraction(spark, transcripts_df, out, "rR", n_buckets=N_BUCKETS,
                       wave_buckets=3)
    assert len(glob.glob(f"{s['metrics_path']}/*.parquet")) == 3
    markers = {r.p: r for r in spark.read.parquet(s["metrics_path"]).collect()}
    recount = {r.p: r for r in (
        spark.read.parquet(s["data_path"]).groupBy("p").agg(
            F.countDistinct("conv_id").alias("conv_ids"),
            F.count(F.lit(1)).alias("turns"),
            F.sum("n_spans").alias("spans"),
            F.avg("strip_ratio").alias("strip_ratio")).collect())}
    assert set(markers) == set(recount) == set(range(N_BUCKETS))
    for p, want in recount.items():
        got = markers[p]
        assert (got.conv_ids, got.turns, got.spans) == (
            want.conv_ids, want.turns, want.spans), p
        assert got.strip_ratio == pytest.approx(want.strip_ratio, abs=1e-12)
        assert got.status == "done" and got.run_id == "rR"
        assert got.started <= got.finished


def test_bucket_tally_merges_duplicate_report_by_replacement():
    """A retried or duplicate task re-reports its buckets' full counts; the
    merge replaces them instead of adding them twice."""
    param = _BucketTally()
    report = {3: (2, 10, 7, 1.5, 10)}
    acc = param.addInPlace(param.zero({}), report)
    acc = param.addInPlace(acc, {5: (1, 4, 0, 0.0, 4)})
    acc = param.addInPlace(acc, dict(report))
    assert acc == {3: (2, 10, 7, 1.5, 10), 5: (1, 4, 0, 0.0, 4)}


def test_resume_sees_markers_without_os_path(spark, transcripts_df, tmp_path,
                                             monkeypatch):
    """The resume checks go through the Hadoop FileSystem of the output
    path, not ``os.path``: with os.path's probes blind, a resume still sees
    every committed bucket (an hdfs/s3a output would look like this)."""
    import types

    import ocr_engine_spark.operators.checkpoint as cp

    out = str(tmp_path / "fs")
    run_extraction(spark, transcripts_df, out, "rF", n_buckets=N_BUCKETS,
                   wave_buckets=3)
    blind = types.SimpleNamespace(path=types.SimpleNamespace(
        join=os.path.join, exists=lambda p: False, isdir=lambda p: False))
    monkeypatch.setattr(cp, "os", blind)
    assert done_buckets(spark, f"{out}/run_metrics") == set(range(N_BUCKETS))
    resumed = run_extraction(spark, transcripts_df, out, "rF",
                             n_buckets=N_BUCKETS, wave_buckets=3)
    assert resumed["buckets_done_before"] == N_BUCKETS
    assert resumed["buckets_run"] == 0


def test_old_per_bucket_marker_layout_raises(spark, transcripts_df, tmp_path):
    """A run_metrics holding the earlier per-bucket ``p=*`` directories
    cannot take a root-level marker file (every later read would fail on
    conflicting directory structures): resuming it names a fresh out_dir."""
    out = str(tmp_path / "old")
    old = spark.createDataFrame(
        [("r0", 1, 2, 3, 0.5, "done", 0)],
        "run_id string, conv_ids long, turns long, spans long, "
        "strip_ratio double, status string, p int")
    old.write.partitionBy("p").parquet(f"{out}/run_metrics")
    with pytest.raises(ValueError, match="fresh out_dir"):
        run_extraction(spark, transcripts_df, out, "rO", n_buckets=N_BUCKETS)
    assert not os.path.exists(f"{out}/extracted")


def test_empty_input_and_empty_buckets(spark, transcripts_df, tmp_path):
    """A bucket with no rows writes no ``p=`` directory and gets no marker,
    and a wave with no rows at all appends no marker file."""
    empty = run_extraction(spark, transcripts_df.limit(0),
                           str(tmp_path / "empty"), "rE", n_buckets=N_BUCKETS)
    assert done_buckets(spark, empty["metrics_path"]) == set()

    keep = {1, 4}
    sparse = (with_bucket(transcripts_df, N_BUCKETS)
              .where(F.col("p").isin(*keep)).drop("p"))
    # waves [0,1,2] and [3,4,5] each hold one bucket with rows; [6,7] none
    s = run_extraction(spark, sparse, str(tmp_path / "sparse"), "rE",
                       n_buckets=N_BUCKETS, wave_buckets=3)
    assert done_buckets(spark, s["metrics_path"]) == keep
    assert {d for d in os.listdir(s["data_path"]) if d.startswith("p=")} == {
        f"p={p}" for p in keep}
    # one marker file per wave that had rows; the all-empty wave adds none
    assert len(glob.glob(f"{s['metrics_path']}/*.parquet")) == 2
    assert spark.read.parquet(s["metrics_path"]).agg(
        F.sum("turns")).first()[0] == sparse.count()


def test_kernel_tasks_follow_cores_not_buckets(spark, transcripts_df, tmp_path,
                                               monkeypatch):
    """n_buckets sets checkpoint granularity, not task count: 32 buckets run
    the Python kernel stage in at most defaultParallelism tasks, and every
    bucket still writes exactly one parquet file."""
    import ocr_engine_spark.operators.checkpoint as cp

    sc = spark.sparkContext
    group = "checkpoint-data-write"
    real_write = cp.overwrite_partitions

    def tagged_write(df, target, partition_col, flavor="auto"):
        if target == data_path:
            sc.setJobGroup(group, "checkpoint data write")
        try:
            return real_write(df, target, partition_col, flavor)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    out = str(tmp_path / "cores")
    data_path = f"{out}/extracted"
    monkeypatch.setattr(cp, "overwrite_partitions", tagged_write)
    run_extraction(spark, transcripts_df, out, "rT", n_buckets=32)

    # the write's last stage that ran is the kernel + write stage (the scan
    # before the exchange is its own, earlier stage)
    st = sc.statusTracker()
    ran = [info for j in st.getJobIdsForGroup(group)
           for info in map(st.getStageInfo, list(st.getJobInfo(j).stageIds))
           if info is not None and info.numCompletedTasks]
    kernel = max(ran, key=lambda info: info.stageId)
    assert kernel.numCompletedTasks == kernel.numTasks <= sc.defaultParallelism

    buckets = {r.p for r in with_bucket(transcripts_df, 32)
               .select("p").distinct().collect()}
    files = {p: os.listdir(f"{data_path}/p={p}") for p in buckets}
    assert all(len([f for f in fs if f.endswith(".parquet")]) == 1
               for fs in files.values()), files


def test_bucket_assignment_is_deterministic(spark, transcripts_df):
    a = with_bucket(transcripts_df, N_BUCKETS).select("conv_id", "turn_idx", "p")
    b = with_bucket(transcripts_df, N_BUCKETS).select("conv_id", "turn_idx", "p")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_wave_mode_output_identical(spark, transcripts_df, tmp_path):
    """wave_buckets changes commit granularity, never results: data and
    done-markers match the single-wave run bucket for bucket."""
    s1 = run_extraction(spark, transcripts_df, str(tmp_path / "single"), "rW",
                        n_buckets=N_BUCKETS)
    s2 = run_extraction(spark, transcripts_df, str(tmp_path / "waved"), "rW",
                        n_buckets=N_BUCKETS, wave_buckets=3)
    assert s2["buckets_run"] == N_BUCKETS
    assert _read_sorted(spark, s2["data_path"]) == _read_sorted(spark, s1["data_path"])
    assert done_buckets(spark, s2["metrics_path"]) == set(range(N_BUCKETS))


def _crash_in_wave_two(spark, transcripts_df, tmp_path, monkeypatch, name):
    """Run three waves with ``checkpoint.<name>`` dying on its second call
    (wave 2's write), then check exactly wave 1 survived and a resume
    completes the run without duplicates."""
    import ocr_engine_spark.operators.checkpoint as cp

    out = str(tmp_path / "crashy")
    want = _read_sorted(
        spark,
        run_extraction(spark, transcripts_df, str(tmp_path / "baseline"), "rC",
                       n_buckets=N_BUCKETS)["data_path"])

    real_write = getattr(cp, name)
    calls = {"n": 0}

    def dying_write(df, target, *args, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # wave 1's write passes; wave 2's dies
            raise RuntimeError("injected executor loss")
        return real_write(df, target, *args, **kw)

    monkeypatch.setattr(cp, name, dying_write)
    with pytest.raises(RuntimeError, match="injected"):
        run_extraction(spark, transcripts_df, out, "rC",
                       n_buckets=N_BUCKETS, wave_buckets=3)
    monkeypatch.setattr(cp, name, real_write)

    committed = done_buckets(spark, f"{out}/run_metrics")
    assert committed == {0, 1, 2}  # exactly wave 1 survived the crash

    resumed = run_extraction(spark, transcripts_df, out, "rC",
                             n_buckets=N_BUCKETS, wave_buckets=3)
    assert resumed["buckets_done_before"] == 3
    assert _read_sorted(spark, resumed["data_path"]) == want
    assert spark.read.parquet(f"{out}/run_metrics").agg(
        F.sum("turns")).first()[0] == transcripts_df.count()


def test_wave_mode_crash_keeps_committed_waves(spark, transcripts_df, tmp_path,
                                               monkeypatch):
    """A REAL mid-run failure (wave 2's data write dies) must durably keep
    wave 1 — resume then recomputes only what never committed."""
    _crash_in_wave_two(spark, transcripts_df, tmp_path, monkeypatch,
                       "overwrite_partitions")


def test_wave_mode_marker_crash_keeps_committed_waves(spark, transcripts_df,
                                                      tmp_path, monkeypatch):
    """Wave 2's data commits but its marker append dies: wave 2 has no
    markers, so it counts as not done and its buckets rerun on resume."""
    _crash_in_wave_two(spark, transcripts_df, tmp_path, monkeypatch,
                       "append_table")


def test_wave_buckets_below_one_raises(spark, transcripts_df, tmp_path):
    """wave_buckets < 1 would make the wave list empty and return a success
    summary with nothing written — it must raise instead (silent data loss)."""
    with pytest.raises(ValueError, match="wave_buckets"):
        run_extraction(spark, transcripts_df, str(tmp_path / "bad"), "rV",
                       n_buckets=N_BUCKETS, wave_buckets=0)


def test_checkpointed_run_with_dispatch_and_passthrough(spark, tmp_path):
    """run_extraction's declared-kind dispatch must match extract_transcripts'
    (shared declare_payload_kind), with passthrough columns surviving the
    wave commit."""
    from ocr_engine_spark.operators.extract import extract_transcripts

    pdf = generate_transcripts(20, seed=33)
    df = spark.createDataFrame(pdf).withColumn(
        "tool",
        F.when(F.crc32("conv_id") % 3 == 0, F.lit("search")))
    # declared tool turns wrap in the tool-JSON envelope so the JSON path runs
    df = df.withColumn(
        "text",
        F.when(F.col("tool").isNotNull(),
               F.concat(F.lit('{"result": "'), F.col("text"), F.lit('"}')))
        .otherwise(F.col("text")))

    out = str(tmp_path / "ck")
    run_extraction(spark, df, out, run_id="d1", n_buckets=4,
                   passthrough=("role", "tool", "ts"), dispatch_tool_json=True)
    ck = (spark.read.parquet(out + "/extracted")
          .select("conv_id", "turn_idx", "extracted_text", "fmt", "role",
                  "tool", "ts")
          .orderBy("conv_id", "turn_idx").toPandas())
    inline = (extract_transcripts(df, passthrough=("role", "tool", "ts"),
                                  dispatch_tool_json=True)
              .select("conv_id", "turn_idx", "extracted_text", "fmt", "role",
                      "tool", "ts")
              .orderBy("conv_id", "turn_idx").toPandas())
    assert ck.equals(inline)
    # declared rows take the JSON path; envelopes the corpus text breaks
    # (embedded quotes/backslashes -> invalid JSON) demote to the S4
    # permissive plain fallback — exactly the two declared outcomes
    declared = ck.loc[ck.tool.notna(), "fmt"]
    assert len(declared) > 0 and set(declared) <= {"json", "plain"}
    assert (declared == "json").sum() > 0
