"""Streaming entry point: incremental transcript extraction with exactly-once sink.

The streaming twin of jobs/extract_job.py (the reference engine is strictly batch;
this wires the §2.9 streaming surface into a runnable job the way run.py:131-149
is the reference's runnable surface):

    spark-submit --py-files engine.zip jobs/stream_job.py \
        --input warehouse/transcripts --output /data/extract_stream \
        --max-files-per-trigger 8

Local smoke run (drain everything available, then exit):

    python jobs/stream_job.py --input BENCH/transcripts_bench.parquet \
        --output /tmp/stream_out --cpus 4 --available-now

Exactly-once protocol: every micro-batch lands in an output partition keyed by its
deterministic ``batch_id`` via dynamic partition OVERWRITE inside ``foreachBatch``
— after a crash, Structured Streaming replays the uncommitted batch with the SAME
id, the overwrite makes redelivery idempotent, and the checkpointLocation WAL
guarantees no source file is consumed twice.  Kill the process at any point and
re-run the same command: it resumes from the checkpoint.  Per-batch lineage
metrics (turns, spans, strip ratio) are written AFTER the batch's data, sharing
the batch protocol with the batch job's bucket protocol.

Each micro-batch costs one kernel pass: the metrics are OBSERVED on the data
write (``DataFrame.observe``) instead of recounted from a cached copy, and the
one metrics row is built in the JVM (``spark.range(1)``), so a batch runs two
single-stage Spark jobs — the data write and the tiny metrics write — with no
cache and no shuffle.  The observed aggregates are ``count``, ``sum(n_spans)``,
``avg(strip_ratio)`` and ``size(collect_set(conv_id))``: ``observe`` rejects
DISTINCT aggregates, and ``collect_set`` is exact, at the cost of shipping one
micro-batch's distinct conversation ids to the driver (bounded by
``--max-files-per-trigger`` files' conversations).  A zero-row batch writes no
metrics row.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def write_batch(out_dir: str):
    """foreachBatch sink: data + metrics, both overwrite-keyed by batch_id."""
    from pyspark.sql import Observation, functions as F

    from ocr_engine_spark.sources.io import overwrite_partitions

    data_path = os.path.join(out_dir, "extracted")
    metrics_path = os.path.join(out_dir, "batch_metrics")

    def fn(batch_df, batch_id: int):
        obs = Observation()  # one per batch: an Observation reports one action
        batch = batch_df.withColumn("batch_id", F.lit(int(batch_id))).observe(
            obs,
            F.size(F.collect_set("conv_id")).alias("conv_ids"),
            F.count(F.lit(1)).alias("turns"),
            F.sum("n_spans").alias("spans"),
            F.avg("strip_ratio").alias("strip_ratio"),
        )
        overwrite_partitions(batch, data_path, "batch_id")
        m = obs.get
        if not m["turns"]:
            return  # empty batch: no data partition, so no metrics row
        # built in the JVM: a createDataFrame row would run a Python task on
        # every action over it
        metrics = batch_df.sparkSession.range(1, numPartitions=1).select(
            F.lit(int(batch_id)).alias("batch_id"),
            F.lit(m["conv_ids"]).cast("long").alias("conv_ids"),
            F.lit(m["turns"]).cast("long").alias("turns"),
            F.lit(m["spans"]).cast("long").alias("spans"),
            F.lit(m["strip_ratio"]).cast("double").alias("strip_ratio"),
            F.lit("done").alias("status"),
        )
        overwrite_partitions(metrics, metrics_path, "batch_id")

    return fn


def run_stream(spark, input_path: str, out_dir: str, checkpoint: str | None = None,
               max_files_per_trigger: int = 8, available_now: bool = False,
               cfg=None):
    """Build and start the streaming query; returns the StreamingQuery handle."""
    from ocr_engine_spark.config import DEFAULT_CONFIG
    from ocr_engine_spark.streaming.stream import (
        extract_stream, read_transcript_stream,
    )

    checkpoint = checkpoint or os.path.join(out_dir, "_checkpoint")
    stream = read_transcript_stream(
        spark, input_path, max_files_per_trigger=max_files_per_trigger)
    extracted = extract_stream(stream, cfg or DEFAULT_CONFIG)
    writer = (
        extracted.writeStream
        .foreachBatch(write_batch(out_dir))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="transcripts parquet dir/file")
    ap.add_argument("--output", required=True, help="output root dir")
    ap.add_argument("--checkpoint", default=None,
                    help="checkpointLocation (default {output}/_checkpoint)")
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] cores; 0 = use existing/spark-submit session")
    ap.add_argument("--available-now", action="store_true",
                    help="drain available input then exit (smoke/backfill mode)")
    ap.add_argument("--timeout-sec", type=int, default=0,
                    help="stop the query after N seconds (0 = run forever)")
    args = ap.parse_args()

    from ocr_engine_spark.session import build_session

    spark = build_session("extract-stream", cpus=args.cpus)

    q = run_stream(spark, args.input, args.output, checkpoint=args.checkpoint,
                   max_files_per_trigger=args.max_files_per_trigger,
                   available_now=args.available_now)
    if args.available_now:
        q.awaitTermination()
    elif args.timeout_sec:
        q.awaitTermination(args.timeout_sec)
        q.stop()
    else:
        q.awaitTermination()
    print(json.dumps({
        "input": args.input, "output": args.output,
        "last_progress": q.lastProgress["numInputRows"] if q.lastProgress else 0,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
