"""Checkpoint/resume + per-partition lineage & metrics (north_rule requirement).

Protocol (SURVEY.md §4.2.3):

- The corpus is bucketed into ``n_buckets`` deterministic partitions:
  p = pmod(xxhash64(conv_id, turn_idx // salt_block), n_buckets).
- Output and metrics are parquet tables partitioned by ``p`` with DYNAMIC partition
  overwrite, so re-running a bucket is idempotent (exactly-once by overwrite, the
  Iceberg overwritePartitions analogue — Parquet-local here, catalog pluggable).
- A bucket is DONE iff its metrics row (status='done') exists; metrics are written
  AFTER the bucket's data, so a crash between the two re-runs that bucket.
- Resume = anti-join pending buckets against the done-set — only undone buckets are
  recomputed (left_anti on p).
- Spark's job commit is all-or-nothing, so durability granularity == job
  granularity: ``wave_buckets`` splits a run into per-wave data+metrics commits
  (a crash loses at most one in-flight wave; see run_extraction's docstring).

Metrics schema follows FIXTURES.md §3 run_metrics: the graft of the reference's
per-stage Timer instrumentation (/root/reference/src/utils.py:45-56) and manifest
accumulation (/root/reference/run.py:91-118) — metrics written as data, not logs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from ocr_engine_spark.operators.extract import (
    DEFAULT_SALT_BLOCK, _extract_batches_arrow, declare_payload_kind,
    EXTRACTED_SCHEMA,
)
from ocr_engine_spark.sources.io import overwrite_partitions


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


def done_buckets(spark: SparkSession, metrics_path: str) -> set[int]:
    if not os.path.exists(metrics_path):
        return set()
    rows = (
        spark.read.parquet(metrics_path)
        .where(F.col("status") == "done")
        .select("p").distinct().collect()
    )
    return {r["p"] for r in rows}


def _dispatch_desc(dispatch_tool_json: bool,
                   tool_kind_map: dict[str, str] | None) -> str:
    import json

    return json.dumps(
        {"dispatch_tool_json": dispatch_tool_json,
         "tool_kind_map": tool_kind_map},
        sort_keys=True)


def _validate_resume_dispatch(spark: SparkSession, metrics_path: str,
                              dispatch_desc: str) -> None:
    """A resumed run MUST extract under the dispatch policy the committed
    buckets used — otherwise the final table silently mixes content-sniffed
    and declared-kind buckets.  Metrics rows record the policy; a mismatch is
    an error, not a warning (the fix is a fresh out_dir or the original
    flags).  Pre-dispatch metrics layouts (no ``dispatch`` column) skip the
    check rather than guess."""
    if not os.path.exists(metrics_path):
        return
    m = spark.read.parquet(metrics_path).where(F.col("status") == "done")
    if "dispatch" not in m.columns:
        return
    stored = [r["dispatch"] for r in m.select("dispatch").distinct().collect()]
    bad = [s for s in stored if s != dispatch_desc]
    if bad:
        raise ValueError(
            "resume dispatch mismatch: committed buckets were extracted with "
            f"{bad[0]} but this run requests {dispatch_desc}; use a fresh "
            "out_dir or rerun with the original dispatch flags")


def run_extraction(spark: SparkSession, transcripts: DataFrame, out_dir: str,
                   run_id: str, n_buckets: int = 32,
                   cfg: EngineConfig = DEFAULT_CONFIG,
                   salt_block: int = DEFAULT_SALT_BLOCK,
                   wave_buckets: int | None = None,
                   passthrough: tuple[str, ...] = (),
                   dispatch_tool_json: bool = False,
                   tool_kind_map: dict[str, str] | None = None) -> dict:
    """Checkpointed, resumable extraction run.

    Layout: {out_dir}/extracted/p=*/   (data, dynamic-overwrite by p)
            {out_dir}/run_metrics/p=*/ (lineage rows, written after data)

    ``passthrough`` columns ride through the kernel into the checkpointed
    output (e.g. ("role", "tool", "ts") so downstream conversation assembly
    can consume the committed extraction without re-joining the source);
    ``dispatch_tool_json`` / ``tool_kind_map`` enable the same S1 declared-kind
    dispatch as ``extract_transcripts`` (shared ``declare_payload_kind``).

    ``wave_buckets``: commit granularity.  Default (None) processes every
    pending bucket in one data write + one metrics write — fastest, but
    Spark's job commit is all-or-nothing, so a mid-run crash durably keeps
    NOTHING and resume recomputes the whole run.  With ``wave_buckets=k`` the
    pending buckets are processed in waves of k, each wave its own
    data-then-metrics commit: a crash loses at most the in-flight wave and
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
    _validate_resume_dispatch(spark, metrics_path, dispatch_desc)
    done = done_buckets(spark, metrics_path)
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


def _run_wave(spark: SparkSession, pending: DataFrame, wave: list[int],
              run_id: str, cfg: EngineConfig,
              data_path: str, metrics_path: str,
              passthrough: tuple[str, ...] = (),
              dispatch_desc: str = _dispatch_desc(False, None)) -> None:
    """One durable commit unit: extract `pending` (the rows of buckets
    `wave`), write its data, then its metrics (the done-markers, strictly
    after the data).

    The exchange is sized by cores, not buckets: each bucket still lands
    whole in one task (one file per ``p=`` directory), but the kernel stage
    runs as at most ``defaultParallelism`` Python tasks, so the fixed
    per-task worker cost is paid per core instead of per bucket.  The kernel
    output is written straight from that stage; the metrics then read back
    only this wave's ``p=`` directories, pruned to the four columns they
    aggregate.  A bucket with no rows writes no directory and gets no
    done-marker."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    started = time.time()
    # fresh StructType: .add() would mutate the shared EXTRACTED_SCHEMA
    out_schema = StructType(
        list(EXTRACTED_SCHEMA.fields)
        + [pending.schema[c] for c in passthrough]
        + [StructField("p", IntegerType())])
    n_tasks = min(len(wave), spark.sparkContext.defaultParallelism)
    overwrite_partitions(
        pending.repartition(n_tasks, "p").mapInArrow(
            _extract_batches_arrow(cfg, (*passthrough, "p")),
            schema=out_schema),
        data_path, "p")

    finished = time.time()
    written = [d for d in (os.path.join(data_path, f"p={p}") for p in wave)
               if os.path.isdir(d)]
    if not written:
        return
    metrics = (
        spark.read.schema(StructType(
            [out_schema[c] for c in ("p", "conv_id", "n_spans", "strip_ratio")]))
        .option("basePath", data_path).parquet(*written)
        .groupBy("p")
        .agg(
            F.countDistinct("conv_id").alias("conv_ids"),
            F.count(F.lit(1)).alias("turns"),
            F.sum("n_spans").cast("long").alias("spans"),
            F.avg("strip_ratio").alias("strip_ratio"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("started", F.lit(started).cast("timestamp"))
        .withColumn("finished", F.lit(finished).cast("timestamp"))
        .withColumn("status", F.lit("done"))
        .withColumn("dispatch", F.lit(dispatch_desc))
    )
    overwrite_partitions(
        metrics.select(
            "run_id", "conv_ids", "turns", "spans", "strip_ratio",
            "started", "finished", "status", "dispatch", "p",
        ), metrics_path, "p")
