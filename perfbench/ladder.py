"""The traced run: time each layer's public functions on its own, with that
layer's input already materialized, and close the named layers against the
job's wall time with an explicit ``unattributed`` remainder.

Spans are recorded from the benchmark's side of each call (nothing inside
the program is instrumented).  A ``Tracer`` keeps them in memory; the run
prints them when it ends.  Each rung runs once.

The three ladders, and the per-layer metrics they yield:

- extract (on the ``base`` corpus, extract-job session settings):
  ``sources.scan`` (read_table + prune -> noop), ``extract.identity`` (the
  same scan through a benchmark-owned identity ``mapInArrow``),
  ``extract.extract`` (``extract_transcripts`` -> noop), ``checkpoint.run``
  (``run_extraction``), ``sources.write`` (``overwrite_partitions`` of a
  cached extracted frame).  Closure::

      checkpoint.run_s = sources.scan_s + extract.boundary_s
                         + extract.kernel_s + sources.write_s
                         + extract.unattributed_s

- kernel (one core, in this process): ``extract_frame_arrow`` over the
  corpus in 4096-row batches, the same over format-homogeneous batches (up
  to 8192 rows of each format), and the per-turn oracle ``extract_turn``
  over a fixed sample.
- pipeline (on the ``pipeline`` corpus): ``run_pipeline`` once, then each
  stage alone on its persisted input.  Closure::

      pipeline.wall_s = pipeline.extraction_s + conversations.truncate_s
                        + conversations.assemble_s + conversations.dedup_s
                        + dedup.lsh_pairs_s + dedup.canonical_drop_s
                        + text_analysis.lm_quality_s + pipeline.unattributed_s

- stream (on the ``stream`` corpus): one ``run_stream`` replay, read from
  ``recentProgress``.

The traced run takes the ladders in the order pipeline, extract, kernel,
stream: the pipeline's run is the first job of the process (cold, as a CLI
launch is), and its checkpointed extraction warms the code paths the
extract ladder then times.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

ORACLE_SAMPLE = 200
KERNEL_FORMAT_ROWS = 8192          # rows timed per format (the first ones)
KERNEL_FORMATS = ("plain", "html", "markdown", "json")
CHAR_BUDGET = 16000                # run_pipeline defaults the stages repeat
NEAR_THRESHOLD = 0.5
QUALITY_MAX_OOV = 0.98

# every span the traced run records (the smoke test checks they all appear)
SPANS = (
    "sources.scan", "extract.identity", "extract.extract", "checkpoint.run",
    "sources.write", "kernel.busy", "kernel.oracle",
    *(f"kernel.{f}" for f in KERNEL_FORMATS),
    "pipeline.run", "pipeline.extraction", "conversations.truncate",
    "conversations.assemble", "conversations.dedup", "dedup.lsh_pairs",
    "dedup.canonical_drop", "text_analysis.lm_quality", "stream.run",
)


class Tracer:
    """In-memory spans: (name, start, end, parent)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": t0, "end": t1, "parent": parent})

    def seconds(self, name: str) -> float:
        """Median duration of every span called ``name``."""
        return statistics.median(
            s["end"] - s["start"] for s in self.spans if s["name"] == name)


def identity_batches(batches):
    """Benchmark-owned ``mapInArrow`` body: crosses the Arrow boundary both
    ways and does nothing else."""
    yield from batches


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def job_counts(spark, group: str) -> dict:
    """Spark jobs, tasks and failed tasks of one job group, from the
    status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            stage = st.getStageInfo(sid)
            if stage:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ------------------------------------------------------------------ extract

def extract_ladder(spark, tr: Tracer, wl, inputs: dict, scratch: str,
                   checks) -> dict:
    from pyspark import StorageLevel

    from ocr_engine_spark.operators.extract import (
        declare_payload_kind, extract_transcripts,
    )
    from ocr_engine_spark.sources.io import overwrite_partitions, read_table

    path = inputs["path"]

    def scan():
        return declare_payload_kind(read_table(spark, path),
                                    ["conv_id", "turn_idx", "text"])

    with tr.span("sources.scan"):
        noop(scan())
    with tr.span("extract.identity"):
        s = scan()
        noop(s.mapInArrow(identity_batches, schema=s.schema))
    with tr.span("extract.extract"):
        noop(extract_transcripts(read_table(spark, path)))
    out, group = os.path.join(scratch, "extract"), "perfbench-checkpoint"

    def run():
        with job_group(spark, group), tr.span("checkpoint.run"):
            return wl.run(spark, inputs, _fresh(out), group)

    checks.run(wl, spark, inputs, out, run)
    counts = job_counts(spark, group)
    cached = (spark.read.parquet(os.path.join(out, "extracted"))
              .repartition(wl.n_buckets, "p")
              .persist(StorageLevel.MEMORY_AND_DISK))
    cached.count()
    with tr.span("sources.write"):
        overwrite_partitions(cached, _fresh(os.path.join(scratch, "write")), "p")
    cached.unpersist()

    scan_s, ident_s = tr.seconds("sources.scan"), tr.seconds("extract.identity")
    extract_s, run_s = tr.seconds("extract.extract"), tr.seconds("checkpoint.run")
    write_s = tr.seconds("sources.write")
    return {
        "sources.scan_s": scan_s,
        "extract.boundary_s": ident_s - scan_s,
        "extract.extract_s": extract_s,
        "extract.kernel_s": extract_s - ident_s,
        "checkpoint.run_s": run_s,
        "checkpoint.overhead_s": run_s - extract_s,
        "sources.write_s": write_s,
        "extract.unattributed_s": run_s - extract_s - write_s,
        "checkpoint.spark_jobs": counts["jobs"],
        "checkpoint.tasks": counts["tasks"],
        "checkpoint.failed_tasks": counts["failed_tasks"],
    }


# ------------------------------------------------------------------- kernel

def kernel_ladder(tr: Tracer, inputs: dict, seed: int) -> tuple[dict, list]:
    """The kernel's metrics, and its output batches over the whole corpus
    (the extract output check's reference)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_engine_spark.kernel.pipeline import (
        extract_frame_arrow, extract_turn,
    )
    from workloads import KERNEL_BATCH_ROWS

    src = pq.read_table(inputs["path"], columns=["conv_id", "turn_idx", "text"])

    def busy(table) -> tuple[float, list]:
        total, outs = 0.0, []
        for rb in table.to_batches(KERNEL_BATCH_ROWS):
            t0 = time.perf_counter()
            outs.append(extract_frame_arrow(rb))
            total += time.perf_counter() - t0
        return total, outs

    with tr.span("kernel.busy"):
        busy_s, outs = busy(src)
    m = {"kernel.busy_s": busy_s, "kernel.turns_per_s_core": src.num_rows / busy_s}
    fmts = np.array(pa.concat_arrays([o.column("fmt") for o in outs]).to_pylist())
    for f in KERNEL_FORMATS:
        rows = np.flatnonzero(fmts == f)[:KERNEL_FORMAT_ROWS]
        with tr.span(f"kernel.{f}"):
            s = busy(src.take(rows))[0] if len(rows) else 0.0
        m[f"kernel.{f}.turns"] = len(rows)
        m[f"kernel.{f}.turns_per_s_core"] = len(rows) / s if s else 0.0
    rng = np.random.RandomState(seed)
    texts = src.column("text").take(
        rng.choice(src.num_rows, min(ORACLE_SAMPLE, src.num_rows),
                   replace=False)).to_pylist()
    with tr.span("kernel.oracle"):
        t0 = time.perf_counter()
        for t in texts:
            extract_turn(t or "")
        m["kernel.oracle.turns_per_s"] = len(texts) / (time.perf_counter() - t0)
    return m, outs


# ----------------------------------------------------------------- pipeline

def pipeline_ladder(spark, tr: Tracer, wl, inputs: dict, scratch: str,
                    checks) -> dict:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from ocr_engine_spark.operators.checkpoint import run_extraction
    from ocr_engine_spark.operators.conversations import (
        assemble_conversations, dedup_conversations, truncate_to_budget,
    )
    from ocr_engine_spark.operators.dedup import (
        canonical_drop_ids, minhash_lsh_pairs, persisted_artifact_count,
        release_persisted_artifacts,
    )
    from ocr_engine_spark.operators.text_analysis import lm_quality_scored
    from ocr_engine_spark.sources.io import read_table

    from corpus import QUALITY_REF_MOD

    out = os.path.join(scratch, "pipeline")
    group = "perfbench-pipeline"
    summary = {}

    def run():
        nonlocal summary
        with job_group(spark, group), tr.span("pipeline.run"):
            summary = wl.run(spark, inputs, _fresh(out), group)
        return summary

    checks.run(wl, spark, inputs, out, run)
    jobs = job_counts(spark, group)["jobs"]

    with tr.span("pipeline.extraction"):
        run_extraction(spark, read_table(spark, inputs["path"]),
                       _fresh(os.path.join(scratch, "pipeline_ext")),
                       run_id="ladder", passthrough=("role", "tool", "ts"))
    held = []

    def stage(name: str, df):
        """Persist ``df`` and force it to noop inside span ``name``; later
        stages read the cached result, never recompute this one."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        with tr.span(name):
            noop(df)
        return df

    mark = persisted_artifact_count()
    try:
        ext = spark.read.parquet(summary["extraction"]["data_path"]).persist(
            StorageLevel.MEMORY_AND_DISK)
        held.append(ext)
        ext.count()
        trunc = stage("conversations.truncate",
                      truncate_to_budget(ext, CHAR_BUDGET))
        asm = stage("conversations.assemble", assemble_conversations(trunc))
        surv = stage("conversations.dedup", dedup_conversations(asm))
        docs = surv.select(F.col("conv_id").alias("doc_id"),
                           F.col("doc_text").alias("text"))
        pairs = stage("dedup.lsh_pairs", minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, k=3, jaccard_threshold=NEAR_THRESHOLD))
        lengths = surv.select(F.col("conv_id").alias("doc_id"),
                              F.length("doc_text").cast("long").alias("doc_len"))
        drop = stage("dedup.canonical_drop",
                     canonical_drop_ids(pairs, lengths=lengths))
        kept = surv.join(drop.withColumnRenamed("doc_id", "conv_id"),
                         "conv_id", "left_anti")
        is_ref = F.pmod(F.xxhash64("conv_id"), F.lit(QUALITY_REF_MOD)) == 0
        scored = stage("text_analysis.lm_quality", lm_quality_scored(kept.select(
            F.col("conv_id").alias("doc_id"), F.col("doc_text").alias("text"),
            is_ref.alias("is_ref"))))

        n_docs, n_surv = asm.count(), surv.count()
        verified, near = pairs.count(), drop.count()
        lowq = scored.where(F.col("oov_rate") > QUALITY_MAX_OOV).count()
        bucket_sizes = _band_bucket_sizes(docs)
    finally:
        for df in held:
            df.unpersist()
        release_persisted_artifacts(keep=mark)

    problems = []
    if (n_docs != summary["conversations"]
            or n_docs - n_surv != summary["dropped_duplicates"]
            or near != summary["dropped_near_duplicates"]
            or lowq != summary["dropped_low_quality"]):
        problems.append("stage-by-stage counts differ from run_pipeline's "
                        "summary")
    checks.record(problems)
    candidates = sum(b * (b - 1) // 2 for b in bucket_sizes)
    stages = ("pipeline.extraction", "conversations.truncate",
              "conversations.assemble", "conversations.dedup",
              "dedup.lsh_pairs", "dedup.canonical_drop",
              "text_analysis.lm_quality")
    wall = tr.seconds("pipeline.run")
    m = {
        "pipeline.wall_s": wall,
        "pipeline.extraction_s": tr.seconds("pipeline.extraction"),
        "conversations.truncate_s": tr.seconds("conversations.truncate"),
        "conversations.assemble_s": tr.seconds("conversations.assemble"),
        "conversations.dedup_s": tr.seconds("conversations.dedup"),
        "dedup.lsh_pairs_s": tr.seconds("dedup.lsh_pairs"),
        "dedup.canonical_drop_s": tr.seconds("dedup.canonical_drop"),
        "text_analysis.lm_quality_s": tr.seconds("text_analysis.lm_quality"),
        "pipeline.unattributed_s": wall - sum(tr.seconds(s) for s in stages),
        "pipeline.spark_jobs": jobs,
        "conversations.docs": n_docs,
        "conversations.exact_dropped": n_docs - n_surv,
        "dedup.verified_pairs": verified,
        "dedup.near_dropped": near,
        "text_analysis.lowq_dropped": lowq,
        "text_analysis.sequences": summary["sequences"],
        "dedup.max_bucket": max(bucket_sizes, default=0),
        "dedup.candidate_pairs": candidates,
        "dedup.verified_per_candidate": verified / candidates if candidates else 0.0,
    }
    return m


def _band_bucket_sizes(docs, num_hashes: int = 16, bands: int = 8) -> list[int]:
    """Member count of every LSH band bucket, with the banding
    ``minhash_lsh_pairs`` uses (xxhash64 of each band's signature slice)."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.operators.dedup import minhash_signatures

    rows = num_hashes // bands
    bucket = (f"b -> xxhash64(concat_ws(',',"
              f" slice(minhash, b * {rows} + 1, {rows})))")
    sizes = (minhash_signatures(docs, num_hashes=num_hashes, k=3)
             .select(F.posexplode(F.expr(
                 f"transform(sequence(0, {bands - 1}), {bucket})"))
                 .alias("band", "bucket"))
             .groupBy("band", "bucket").count().collect())
    return [r["count"] for r in sizes]


# ------------------------------------------------------------------- stream

def stream_ladder(spark, tr: Tracer, wl, inputs: dict, scratch: str,
                  checks) -> dict:
    out = os.path.join(scratch, "stream")
    progress = []

    def run():
        nonlocal progress
        with tr.span("stream.run"):
            progress = wl.run(spark, inputs, _fresh(out), "ladder")
        return progress

    checks.run(wl, spark, inputs, out, run)

    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in progress)

    return {
        "stream.wall_s": tr.seconds("stream.run"),
        "stream.batches": len(progress),
        "stream.rows_per_batch": statistics.median(
            p["numInputRows"] for p in progress),
        "stream.add_batch_ms": med("addBatch"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.planning_ms": med("queryPlanning"),
        "stream.trigger_ms": med("triggerExecution"),
    }
