"""The three workloads: what each runs, and how its output is checked.

Each workload drives one production entry point from outside, exactly as
its CLI would (``jobs/*.py`` defaults), on a fresh output directory:

- ``extract``: ``run_extraction`` (the body of ``jobs/extract_job.py``);
- ``pipeline``: ``run_pipeline`` with ``checkpoint_extraction``,
  ``near_dedup`` and ``quality_filter``;
- ``stream``: ``run_stream(available_now=True)`` at
  ``max_files_per_trigger=8`` with a fresh checkpoint.

A check returns a list of problems; an empty list means the run's output
is correct.  A run that raises, times out or returns problems is failed.
"""

from __future__ import annotations

import hashlib
import os
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from corpus import QUALITY_REF_MOD

JOB_TIMEOUT_S = 100
SAMPLE_ROWS = 48           # rows re-extracted through the per-turn oracle
KERNEL_BATCH_ROWS = 4096   # Arrow batch size of in-process kernel calls
TURN_COLUMNS = ["conv_id", "turn_idx", "extracted_text", "spans"]
PACKED_COLUMNS = ["shard", "conv_id", "doc_text", "n_tokens", "seq_id",
                  "seq_offset"]


# ---------------------------------------------------------------- digests

def _hash_array(h, a) -> None:
    """Feed one column's values into ``h`` in a layout-independent form:
    null mask, then list lengths / struct fields / string lengths and bytes
    / numbers widened to 64 bits."""
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    if pa.types.is_dictionary(a.type):
        a = a.cast(a.type.value_type)
    h.update(a.is_null().to_numpy(zero_copy_only=False).tobytes())
    t = a.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        h.update(pc.list_value_length(a).fill_null(0).cast(pa.int64())
                 .to_numpy().tobytes())
        _hash_array(h, a.flatten())
    elif pa.types.is_struct(t):
        for child in a.flatten():
            _hash_array(h, child)
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        a = a.fill_null("")
        h.update(pc.binary_length(a).cast(pa.int64()).to_numpy().tobytes())
        whole = pa.ListArray.from_arrays(pa.array([0, len(a)], pa.int32()), a)
        h.update(pc.binary_join(whole, "")[0].as_py().encode())
    elif pa.types.is_floating(t):
        h.update(a.cast(pa.float64()).fill_null(0).to_numpy().tobytes())
    else:
        h.update(a.cast(pa.int64()).fill_null(0).to_numpy().tobytes())


def table_digest(table: pa.Table, columns: list[str], keys: list[str]) -> str:
    """Order-independent content digest: rows sorted by ``keys``, then every
    listed column's values in that order."""
    t = table.select(columns).sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256()
    for name in columns:
        h.update(name.encode())
        _hash_array(h, t.column(name))
    return h.hexdigest()


def turn_digest(table: pa.Table) -> str:
    return table_digest(table, TURN_COLUMNS, ["conv_id", "turn_idx"])


def read_output(path: str, columns: list[str]) -> pa.Table:
    """A Spark parquet output directory (hive partitions included)."""
    return pq.read_table(path, columns=columns)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def kernel_output(path: str) -> pa.Table:
    """``extract_frame_arrow`` over one parquet input file, in
    ``KERNEL_BATCH_ROWS``-row batches, outside Spark."""
    from ocr_engine_spark.kernel.pipeline import extract_frame_arrow

    src = pq.read_table(path, columns=["conv_id", "turn_idx", "text"])
    return pa.Table.from_batches(
        [extract_frame_arrow(rb) for rb in src.to_batches(KERNEL_BATCH_ROWS)])


class KernelReference:
    """What a correct extraction of a corpus looks like, computed outside
    Spark on every run: the per-turn digest of ``extract_frame_arrow`` over
    the corpus, and the per-turn oracle ``extract_turn`` on a fixed seeded
    sample.

    The kernel runs over the input files in one spawned process per core
    (one file each at a time), or not at all when ``outputs``, kernel output
    batches already computed over the corpus, are given (the traced run's
    kernel ladder has them)."""

    def __init__(self, inputs: dict, seed: int, outputs=None):
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor
        from multiprocessing import resource_tracker

        import numpy as np

        from ocr_engine_spark.kernel.pipeline import extract_turn

        if outputs is None:
            files = sorted(os.path.join(inputs["path"], f)
                           for f in os.listdir(inputs["path"]))
            with ProcessPoolExecutor(
                    len(os.sched_getaffinity(0)),
                    mp_context=multiprocessing.get_context("spawn")) as ex:
                out = pa.concat_tables(ex.map(kernel_output, files))
            # the spawn context's helper process would otherwise outlive
            # this one by a moment, unwaited
            resource_tracker._resource_tracker._stop()
        else:
            out = pa.Table.from_batches(outputs)
        out = out.select(TURN_COLUMNS)
        self.turns, self.digest = out.num_rows, turn_digest(out)
        src = pq.read_table(inputs["path"],
                            columns=["conv_id", "turn_idx", "text"])
        idx = np.random.RandomState(seed).choice(
            src.num_rows, min(SAMPLE_ROWS, src.num_rows), replace=False)
        self.sample = {(r["conv_id"], r["turn_idx"]): extract_turn(r["text"] or "")
                       for r in src.take(sorted(idx)).to_pylist()}

    def problems(self, out: pa.Table) -> list[str]:
        found = []
        if out.num_rows != self.turns:
            found.append(f"{out.num_rows} output turns, expected {self.turns}")
        if turn_digest(out) != self.digest:
            found.append("per-turn digest differs from in-process "
                         "extract_frame_arrow")
        convs = pa.array(sorted({c for c, _ in self.sample}))
        got = {(r["conv_id"], r["turn_idx"]): r
               for r in out.filter(pc.is_in(out.column("conv_id"), convs))
               .select(TURN_COLUMNS).to_pylist()}
        for key, want in self.sample.items():
            row = got.get(key)
            if (row is None or row["extracted_text"] != want["extracted_text"]
                    or row["spans"] != want["spans"]):
                found.append(f"turn {key} differs from extract_turn")
                break
        return found


class Checks:
    """Counts checked runs and failed ones, keeping the first problems."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:4 - len(self.problems)])

    def run(self, wl: "Workload", spark, inputs: dict, out_dir: str,
            fn) -> bool:
        """Call ``fn`` (one run of ``wl`` writing ``out_dir``) and check its
        output; a run that raises counts as failed.  True if it passed."""
        try:
            result = fn()
        except Exception as e:  # a failed run is data, not a crash
            problems = [f"{wl.name} run raised {type(e).__name__}: {e}"[:300]]
        else:
            try:
                problems = wl.check(spark, inputs, out_dir, result)
            except Exception as e:  # unreadable or missing output
                problems = [f"{wl.name} check raised {type(e).__name__}: {e}"[:300]]
        self.record(problems)
        return not problems


# -------------------------------------------------------------- workloads

class Workload:
    """One production entry point run on one seeded input."""

    name = ""
    layout = ""          # corpus.ensure_inputs layout this workload reads
    format_mix = None    # share of turns per kernel output format, as run

    def note_format_mix(self, fmt) -> None:
        if self.format_mix is None:
            counts = pc.value_counts(fmt.combine_chunks()).to_pylist()
            total = sum(c["counts"] for c in counts)
            self.format_mix = {c["values"]: round(c["counts"] / total, 4)
                               for c in sorted(counts, key=lambda c: c["values"])}

    def shuffle_partitions(self, cpus: int) -> int:
        raise NotImplementedError

    def prepare(self, spark, inputs: dict, seed: int) -> None:
        """Compute what ``check`` compares against (never timed)."""

    def run(self, spark, inputs: dict, out_dir: str, tag: str):
        raise NotImplementedError

    def check(self, spark, inputs: dict, out_dir: str, result) -> list[str]:
        raise NotImplementedError


def _with_timeout(spark, fn):
    """Run ``fn``; cancel every Spark job if it outlives JOB_TIMEOUT_S, so a
    hung run raises instead of stalling the benchmark."""
    timer = threading.Timer(JOB_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        return fn()
    finally:
        timer.cancel()


class Extract(Workload):
    name, layout = "extract", "base"
    n_buckets, salt_block = 32, 64     # jobs/extract_job.py defaults

    def shuffle_partitions(self, cpus: int) -> int:
        return max(self.n_buckets, cpus)

    def prepare(self, spark, inputs, seed):
        self.reference = KernelReference(inputs, seed)

    def run(self, spark, inputs, out_dir, tag):
        from ocr_engine_spark.operators.checkpoint import run_extraction
        from ocr_engine_spark.sources.io import read_table

        return _with_timeout(spark, lambda: run_extraction(
            spark, read_table(spark, inputs["path"]), out_dir, run_id=tag,
            n_buckets=self.n_buckets, salt_block=self.salt_block))

    def check(self, spark, inputs, out_dir, result):
        out = read_output(os.path.join(out_dir, "extracted"),
                          TURN_COLUMNS + ["fmt"])
        self.note_format_mix(out.column("fmt"))
        found = self.reference.problems(out)
        done = read_output(os.path.join(out_dir, "run_metrics"),
                           ["turns", "status"])
        if (set(done.column("status").to_pylist()) != {"done"}
                or sum(done.column("turns").to_pylist()) != inputs["turns"]):
            found.append("run_metrics does not mark every bucket done with "
                         "the input's turns")
        return found


class Pipeline(Workload):
    name, layout = "pipeline", "pipeline"
    shards = 64                        # jobs/pipeline_job.py default

    def shuffle_partitions(self, cpus: int) -> int:
        return max(self.shards, cpus)

    def prepare(self, spark, inputs, seed):
        self.digest = None             # set by the first checked run

    def run(self, spark, inputs, out_dir, tag):
        from jobs.pipeline_job import run_pipeline
        from ocr_engine_spark.sources.io import read_table

        return _with_timeout(spark, lambda: run_pipeline(
            spark, read_table(spark, inputs["path"]), out_dir, run_id=tag,
            shards=self.shards, checkpoint_extraction=True, near_dedup=True,
            quality_filter=True))

    def check(self, spark, inputs, out_dir, s):
        found = []
        self.note_format_mix(read_output(
            s["extraction"]["data_path"], ["fmt"]).column("fmt"))
        packed = read_output(s["data_path"], PACKED_COLUMNS)
        ids = set(packed.column("conv_id").to_pylist())
        seqs = {(a, b) for a, b in zip(packed.column("shard").to_pylist(),
                                       packed.column("seq_id").to_pylist())}
        if s["conversations"] != inputs["conversations"]:
            found.append(f"{s['conversations']} conversations assembled, "
                         f"input has {inputs['conversations']}")
        if (s["conversations"] - s["dropped_duplicates"]
                - s["dropped_near_duplicates"] - s["dropped_low_quality"]
                != s["survivors"] or s["survivors"] != packed.num_rows
                or s["sequences"] != len(seqs)
                or s["tokens"] != sum(packed.column("n_tokens").to_pylist())):
            found.append("summary counts do not reconcile with the packed "
                         "output")
        if ids & set(inputs["gibberish"]):
            found.append("a gibberish plant survived the quality gate")
        if ids & set(inputs["reruns"]):
            found.append("a truncated re-run survived exact and near dedup")
        digest = table_digest(packed, PACKED_COLUMNS, ["conv_id"])
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            found.append("packed-output digest differs between runs")
        return found


class Stream(Workload):
    name, layout = "stream", "stream"
    max_files_per_trigger = 8          # jobs/stream_job.py default

    def shuffle_partitions(self, cpus: int) -> int:
        return cpus                    # build_session's default

    def prepare(self, spark, inputs, seed):
        self.reference = KernelReference(inputs, seed)

    def run(self, spark, inputs, out_dir, tag):
        from jobs.stream_job import run_stream

        q = run_stream(spark, inputs["path"], out_dir,
                       max_files_per_trigger=self.max_files_per_trigger,
                       available_now=True)
        try:
            if not q.awaitTermination(JOB_TIMEOUT_S):
                raise TimeoutError(f"stream did not drain in {JOB_TIMEOUT_S}s")
        finally:
            q.stop()
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def check(self, spark, inputs, out_dir, progress):
        out = read_output(os.path.join(out_dir, "extracted"),
                          TURN_COLUMNS + ["fmt"])
        self.note_format_mix(out.column("fmt"))
        found = self.reference.problems(out)
        m = read_output(os.path.join(out_dir, "batch_metrics"),
                        ["batch_id", "turns"])
        if (m.num_rows != len(progress)
                or len(set(m.column("batch_id").to_pylist())) != m.num_rows
                or sum(m.column("turns").to_pylist()) != inputs["turns"]):
            found.append(f"{m.num_rows} batch_metrics rows for "
                         f"{len(progress)} micro-batches")
        return found


WORKLOADS = {w.name: w for w in (Extract, Pipeline, Stream)}


def reference_slice(spark, ids: list[str]) -> set[str]:
    """The ids ``run_pipeline``'s quality gate puts in its LM reference slice
    (the same expression as the job: pmod(xxhash64(conv_id), ref_mod) == 0)."""
    from pyspark.sql import functions as F

    rows = (spark.createDataFrame([(i,) for i in ids], "conv_id string")
            .where(F.pmod(F.xxhash64("conv_id"), F.lit(QUALITY_REF_MOD)) == 0)
            .collect())
    return {r["conv_id"] for r in rows}
