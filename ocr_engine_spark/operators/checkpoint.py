"""Checkpoint/resume + per-bucket lineage & metrics (north_rule requirement).

Protocol (SURVEY.md §4.2.3):

- The corpus is bucketed into ``n_buckets`` deterministic partitions:
  p = pmod(xxhash64(conv_id, turn_idx // salt_block), n_buckets).
- Output is a parquet table partitioned by ``p`` with DYNAMIC partition
  overwrite, so re-running a bucket is idempotent (exactly-once by overwrite,
  the Iceberg overwritePartitions analogue — Parquet-local here, catalog
  pluggable).
- A bucket is DONE iff a done-marker row (status='done') for it exists in
  ``run_metrics``; markers are appended AFTER the bucket's data commits, so a
  crash between the two re-runs that bucket.
- Resume = anti-join pending buckets against the done-set — only undone
  buckets are recomputed (left_anti on p).
- Spark's job commit is all-or-nothing, so durability granularity == job
  granularity: ``wave_buckets`` splits a run into per-wave data+marker commits
  (a crash loses at most one in-flight wave; see run_extraction's docstring).

Metrics schema follows FIXTURES.md §3 run_metrics: the graft of the reference's
per-stage Timer instrumentation (/root/reference/src/utils.py:45-56) and manifest
accumulation (/root/reference/run.py:91-118) — metrics written as data, not logs.
Like the reference, which keeps its per-document stats while it processes each
document and writes the manifest once, the per-bucket counts are taken inside
the kernel tasks as the rows pass through (``_BucketTally``), never by
re-reading the output.
"""

from __future__ import annotations

import os
import time

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from ocr_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from ocr_engine_spark.operators.extract import (
    DEFAULT_SALT_BLOCK, _extract_batches_arrow, declare_payload_kind,
    EXTRACTED_SCHEMA,
)
from ocr_engine_spark.sources.io import append_table, overwrite_partitions

# run_metrics done-marker rows (FIXTURES.md §3)
MARKER_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("conv_ids", LongType()),
    StructField("turns", LongType()),
    StructField("spans", LongType()),
    StructField("strip_ratio", DoubleType()),
    StructField("started", TimestampType()),
    StructField("finished", TimestampType()),
    StructField("status", StringType()),
    StructField("dispatch", StringType()),
    StructField("p", IntegerType()),
])


def derive_output_keys(df: DataFrame, out_dir: str, ext: str = ".tsv") -> DataFrame:
    """E14 output-key construction (construct_file_path/get_name,
    /root/reference/src/utils.py:251-269): key = {out_dir}/{conv_id}/{turn_idx}{ext},
    derived as a pure column expression so the sink layer never round-trips
    through Python for naming."""
    return df.withColumn(
        "output_key",
        F.concat(
            F.concat_ws("/", F.lit(out_dir.rstrip("/")),
                        F.col("conv_id"), F.col("turn_idx").cast("string")),
            F.lit(ext),
        ),
    )


def with_bucket(df: DataFrame, n_buckets: int,
                salt_block: int = DEFAULT_SALT_BLOCK) -> DataFrame:
    return df.withColumn(
        "p",
        F.pmod(
            F.xxhash64(F.col("conv_id"),
                       F.floor(F.col("turn_idx") / F.lit(salt_block)).cast("long")),
            F.lit(n_buckets),
        ).cast("int"),
    )


def _marker_rows(spark: SparkSession, metrics_path: str) -> DataFrame | None:
    """The committed done-marker rows, or None before the first commit.

    Existence and layout are checked through the Hadoop ``FileSystem`` of
    the path, so an ``hdfs://``/``s3a://`` output resumes like a local one.
    The read schema is given, so no footer is read to infer it and a
    directory whose first marker append died before its commit (nothing but
    a ``_temporary`` dir) reads as no rows instead of failing."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(metrics_path)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None
    old = fs.globStatus(jvm.org.apache.hadoop.fs.Path(path, "p=*"))
    if old is not None and len(old):
        # appending a root-level marker file next to these directories would
        # make every later read fail on Spark's conflicting-directory check
        raise ValueError(
            f"{metrics_path} holds per-bucket p=* marker directories from an "
            "earlier checkpoint layout; this version appends one marker file "
            "per wave and cannot resume it: use a fresh out_dir")
    return (spark.read.schema(MARKER_SCHEMA).parquet(metrics_path)
            .where(F.col("status") == "done"))


def done_buckets(spark: SparkSession, metrics_path: str) -> set[int]:
    rows = _marker_rows(spark, metrics_path)
    if rows is None:
        return set()
    return {r["p"] for r in rows.select("p").distinct().collect()}


def _dispatch_desc(dispatch_tool_json: bool,
                   tool_kind_map: dict[str, str] | None) -> str:
    import json

    return json.dumps(
        {"dispatch_tool_json": dispatch_tool_json,
         "tool_kind_map": tool_kind_map},
        sort_keys=True)


def _resume_done(spark: SparkSession, metrics_path: str,
                 dispatch_desc: str) -> set[int]:
    """The done-set, read in one job together with the dispatch policy each
    committed bucket used.  A resumed run MUST extract under that policy —
    otherwise the final table silently mixes content-sniffed and
    declared-kind buckets — so a mismatch is an error, not a warning (the fix
    is a fresh out_dir or the original flags)."""
    rows = _marker_rows(spark, metrics_path)
    if rows is None:
        return set()
    stored = rows.select("p", "dispatch").distinct().collect()
    bad = [d for d in {r["dispatch"] for r in stored} if d != dispatch_desc]
    if bad:
        raise ValueError(
            "resume dispatch mismatch: committed buckets were extracted with "
            f"{bad[0]} but this run requests {dispatch_desc}; use a fresh "
            "out_dir or rerun with the original dispatch flags")
    return {r["p"] for r in stored}


def run_extraction(spark: SparkSession, transcripts: DataFrame, out_dir: str,
                   run_id: str, n_buckets: int = 32,
                   cfg: EngineConfig = DEFAULT_CONFIG,
                   salt_block: int = DEFAULT_SALT_BLOCK,
                   wave_buckets: int | None = None,
                   passthrough: tuple[str, ...] = (),
                   dispatch_tool_json: bool = False,
                   tool_kind_map: dict[str, str] | None = None) -> dict:
    """Checkpointed, resumable extraction run.

    Layout: {out_dir}/extracted/p=*/  (data, dynamic-overwrite by p)
            {out_dir}/run_metrics/*.parquet  (done-markers: one file per
                committed wave, one row per bucket with rows, ``p`` a data
                column; appended after the wave's data commits)

    The marker counts (conv_ids, turns, spans, mean strip_ratio) are taken
    in the kernel tasks as the rows are extracted, so each wave is one
    Python stage plus one small marker append and never reads
    ``extracted/`` back.  A ``run_metrics`` left by the earlier per-bucket
    ``p=*`` marker layout raises ``ValueError``: resume it with the version
    that wrote it, or start a fresh out_dir.

    ``passthrough`` columns ride through the kernel into the checkpointed
    output (e.g. ("role", "tool", "ts") so downstream conversation assembly
    can consume the committed extraction without re-joining the source);
    ``dispatch_tool_json`` / ``tool_kind_map`` enable the same S1 declared-kind
    dispatch as ``extract_transcripts`` (shared ``declare_payload_kind``).

    ``wave_buckets``: commit granularity.  Default (None) processes every
    pending bucket in one data write + one marker append — fastest, but
    Spark's job commit is all-or-nothing, so a mid-run crash durably keeps
    NOTHING and resume recomputes the whole run.  With ``wave_buckets=k`` the
    pending buckets are processed in waves of k, each wave its own
    data-then-markers commit: a crash loses at most the in-flight wave and
    resume restarts exactly there.  Each wave re-scans the input (the bucket
    id is a hash, not a pushable predicate), so at cluster scale either size
    waves to cluster capacity (few waves) or seed from a p-partitioned
    staging table (``write_bucketed``) so each wave's scan prunes.

    Returns a summary dict {run_id, buckets_total, buckets_done_before, buckets_run}.
    """
    if wave_buckets is not None and wave_buckets < 1:
        # a non-positive wave size would make `waves` empty and silently skip
        # every bucket while still returning a success summary
        raise ValueError(f"wave_buckets must be >= 1, got {wave_buckets}")
    data_path = os.path.join(out_dir, "extracted")
    metrics_path = os.path.join(out_dir, "run_metrics")

    dispatch_desc = _dispatch_desc(dispatch_tool_json, tool_kind_map)
    done = _resume_done(spark, metrics_path, dispatch_desc)
    pruned = declare_payload_kind(
        transcripts, ["conv_id", "turn_idx", "text", *passthrough],
        dispatch_tool_json, tool_kind_map)
    bucketed = with_bucket(pruned, n_buckets, salt_block)
    pending_ids = [p for p in range(n_buckets) if p not in done]
    if wave_buckets and wave_buckets < len(pending_ids):
        waves = [pending_ids[i:i + wave_buckets]
                 for i in range(0, len(pending_ids), wave_buckets)]
    else:
        waves = [pending_ids] if pending_ids else []
    for wave in waves:
        pending = bucketed
        if len(wave) < n_buckets:
            pending = bucketed.where(F.col("p").isin(wave))
        _run_wave(spark, pending, wave, run_id, cfg,
                  data_path, metrics_path, passthrough, dispatch_desc)

    ran = n_buckets - len(done)
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_done_before": len(done),
        "buckets_run": ran,
        "data_path": data_path,
        "metrics_path": metrics_path,
    }


class _BucketTally(AccumulatorParam):
    """Accumulator of ``{p: (conv_ids, turns, spans, strip_sum, strip_n)}``.

    Merged by replacement, not addition: the exchange keeps every bucket
    whole in one task, so one task's report for a bucket is already its
    total, and a retried or duplicate task reports the same values for the
    same ``p`` — Spark re-applying an update made inside a transformation
    cannot double count."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        value1.update(value2)
        return value1


def _tallied(extract, tally):
    """Wrap a ``mapInArrow`` closure whose output carries ``p``: pass its
    batches through unchanged and, at the end of the partition, add one
    count tuple per bucket to ``tally`` (Arrow group-bys, no per-row
    Python)."""

    def fn(batches):
        import pyarrow as pa

        per_batch = []
        for out in extract(batches):
            per_batch.append(
                pa.Table.from_batches(
                    [out.select(["p", "conv_id", "n_spans", "strip_ratio"])])
                .group_by(["p", "conv_id"])
                .aggregate([([], "count_all"), ("n_spans", "sum"),
                            ("strip_ratio", "sum"), ("strip_ratio", "count")]))
            yield out
        if not per_batch:
            return
        per_p = pa.concat_tables(per_batch).group_by("p").aggregate([
            ("conv_id", "count_distinct"), ("count_all", "sum"),
            ("n_spans_sum", "sum"), ("strip_ratio_sum", "sum"),
            ("strip_ratio_count", "sum")])
        tally.add({
            r["p"]: (r["conv_id_count_distinct"], r["count_all_sum"],
                     r["n_spans_sum_sum"], r["strip_ratio_sum_sum"],
                     r["strip_ratio_count_sum"])
            for r in per_p.to_pylist()})

    return fn


def _marker_table(tally: dict, run_id: str, started: float, finished: float,
                  dispatch_desc: str):
    """One done-marker row per tallied bucket, as an Arrow table."""
    from datetime import datetime, timezone

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    started_ts, finished_ts = (datetime.fromtimestamp(t, timezone.utc)
                               for t in (started, finished))
    return pa.Table.from_pylist([
        {"run_id": run_id, "conv_ids": conv_ids, "turns": turns,
         "spans": spans, "strip_ratio": strip_sum / strip_n if strip_n else None,
         "started": started_ts, "finished": finished_ts, "status": "done",
         "dispatch": dispatch_desc, "p": p}
        for p, (conv_ids, turns, spans, strip_sum, strip_n)
        in sorted(tally.items())], schema=to_arrow_schema(MARKER_SCHEMA))


def _run_wave(spark: SparkSession, pending: DataFrame, wave: list[int],
              run_id: str, cfg: EngineConfig,
              data_path: str, metrics_path: str,
              passthrough: tuple[str, ...] = (),
              dispatch_desc: str = _dispatch_desc(False, None)) -> None:
    """One durable commit unit: extract `pending` (the rows of buckets
    `wave`), write its data, then append its done-markers (strictly after
    the data).

    The exchange is sized by cores, not buckets: each bucket still lands
    whole in one task (one file per ``p=`` directory), but the kernel stage
    runs as at most ``defaultParallelism`` Python tasks, so the fixed
    per-task worker cost is paid per core instead of per bucket.  Because a
    task holds its buckets whole, it counts them completely as it extracts
    them (``_tallied`` into a per-wave ``_BucketTally``); the driver turns
    that dict into the wave's marker rows and appends them as one parquet
    file.  Nothing reads the data back.  A bucket with no rows writes no
    directory and gets no marker; a wave with no rows writes no file."""
    sc = spark.sparkContext
    started = time.time()
    # fresh StructType: .add() would mutate the shared EXTRACTED_SCHEMA
    out_schema = StructType(
        list(EXTRACTED_SCHEMA.fields)
        + [pending.schema[c] for c in passthrough]
        + [StructField("p", IntegerType())])
    n_tasks = min(len(wave), sc.defaultParallelism)
    tally = sc.accumulator({}, _BucketTally())
    overwrite_partitions(
        pending.repartition(n_tasks, "p").mapInArrow(
            _tallied(_extract_batches_arrow(cfg, (*passthrough, "p")), tally),
            schema=out_schema),
        data_path, "p")

    finished = time.time()
    if not tally.value:
        return
    markers = _marker_table(tally.value, run_id, started, finished,
                            dispatch_desc)
    # createDataFrame makes one partition per Arrow batch; coalesce keeps a
    # wave to one file when its buckets outnumber maxRecordsPerBatch
    append_table(spark.createDataFrame(markers, schema=MARKER_SCHEMA)
                 .coalesce(1), metrics_path, flavor="parquet")
