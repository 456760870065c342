"""Layer-ladder benchmark for the extract, pipeline and stream jobs.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload extract --seed 1 --seconds 1 --trace 0

``--trace 0`` measures one workload end to end in a closed loop (one job
at a time, the next starting when the previous one ends, at least
``MIN_JOBS`` jobs and until ``--seconds`` have passed) on ``local[nproc]``
and prints the end-to-end metrics.  ``--trace 1`` runs the
layer ladder (see ladder.py) and prints the per-layer metrics.  Every job's
output is checked; a run that raises, times out or fails its check counts
in ``failed``.

Stdout ends with two JSON lines: a detail record (inputs, host canaries,
every metric with its sample count, spans when traced), then the result
``{"correct", "attempted", "failed", "metrics"}``.

Inputs are generated from ``--seed`` and cached under ``.perfbench/`` at the
checkout root, which also holds every output, temp file and Spark scratch
directory a run makes.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

MIN_JOBS = 1            # the process's first job, cold, as a CLI launch runs it
CANARY_JOBS = 7
PSS_INTERVAL_S = 1.0

# name -> (unit, better); BENCHMARK.json lists the same metrics
END_TO_END = {
    "turns_per_s": ("turns/s", "higher"),
    "setup_s": ("s", "lower"),
    "cpu_s_per_kturn": ("s/kturn", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "out_bytes_per_in_byte": ("ratio", "lower"),
}
_S, _N, _R, _TPS = ("s", "lower"), ("count", "lower"), ("ratio", "higher"), \
    ("turns/s", "higher")
PER_LAYER = {
    "sources.scan_s": _S, "extract.boundary_s": _S, "extract.extract_s": _S,
    "extract.kernel_s": _S, "extract.kernel_ideal_s": _S,
    "checkpoint.run_s": _S, "checkpoint.overhead_s": _S,
    "sources.write_s": _S, "extract.unattributed_s": _S,
    "extract.kernel_efficiency": _R,
    "checkpoint.spark_jobs": _N, "checkpoint.tasks": _N,
    "checkpoint.failed_tasks": _N,
    "kernel.busy_s": _S, "kernel.turns_per_s_core": _TPS,
    **{f"kernel.{f}.{k}": v for f in ("plain", "html", "markdown", "json")
       for k, v in (("turns_per_s_core", _TPS), ("turns", ("count", "higher")))},
    "kernel.oracle.turns_per_s": _TPS,
    "pipeline.wall_s": _S, "pipeline.extraction_s": _S,
    "conversations.truncate_s": _S, "conversations.assemble_s": _S,
    "conversations.dedup_s": _S, "dedup.lsh_pairs_s": _S,
    "dedup.canonical_drop_s": _S, "text_analysis.lm_quality_s": _S,
    "pipeline.unattributed_s": _S, "pipeline.spark_jobs": _N,
    "conversations.docs": ("count", "higher"),
    "conversations.exact_dropped": ("count", "higher"),
    "dedup.verified_pairs": ("count", "higher"),
    "dedup.near_dropped": ("count", "higher"),
    "text_analysis.lowq_dropped": ("count", "higher"),
    "text_analysis.sequences": _N,
    "dedup.max_bucket": _N, "dedup.candidate_pairs": _N,
    "dedup.verified_per_candidate": _R,
    "stream.wall_s": _S, "stream.batches": ("count", "higher"),
    "stream.rows_per_batch": ("count", "higher"),
    "stream.add_batch_ms": ("ms", "lower"), "stream.wal_commit_ms": ("ms", "lower"),
    "stream.planning_ms": ("ms", "lower"), "stream.trigger_ms": ("ms", "lower"),
    "host.cores": ("count", "higher"), "host.steal_share": ("ratio", "lower"),
    "canary.job_rtt_ms": ("ms", "lower"),
    "canary.kernel_tps_1core": _TPS,
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=("extract", "pipeline", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="how long the closed loop keeps starting jobs "
                         f"(it runs at least {MIN_JOBS})")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default",
                    help="corpus size; tiny is for the smoke test")
    return ap.parse_args(argv)


def isolate(work: str) -> str:
    """Keep every file a run writes under ``work``: temp files, Spark local
    dirs, the JVM's tmpdir, the warehouse dir and the process cwd.  Returns
    this run's temp dir."""
    import tempfile

    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts   # spark-submit's launcher JVM
    # Python workers import ladder.identity_batches by reference
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in (
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", jvm_opts,
        "pyspark-shell"))
    os.chdir(work)
    return tmp


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(wl, cpus: int):
    """One launch as a user pays it: ``build_session`` (which launches the
    JVM) to the first trivial job, plus one kernel batch per core through
    ``mapInArrow`` (worker fork and kernel import).  Returns (spark, s)."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.operators.extract import extract_transcripts
    from ocr_engine_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(f"perfbench-{wl.name}", cpus=cpus,
                          shuffle_partitions=wl.shuffle_partitions(cpus))
    spark.range(1).count()
    rows = spark.range(64 * cpus).select(
        F.concat(F.lit("setup-"), (F.col("id") % cpus).cast("string"))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("set up row "), F.col("id").cast("string")).alias("text"))
    (extract_transcripts(rows, num_partitions=cpus)
     .write.format("noop").mode("overwrite").save())
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def canaries(spark) -> dict:
    """The two machine probes of bench.py's canary: the median trivial-job
    round trip, and the best-of-3 one-core kernel rate on a fixed corpus."""
    from ocr_engine_spark.kernel.pipeline import extract_frame
    from ocr_engine_spark.sources.transcripts import generate_transcripts

    spark.range(1).count()
    rtts = []
    for _ in range(CANARY_JOBS):
        t0 = time.perf_counter()
        spark.range(1).count()
        rtts.append((time.perf_counter() - t0) * 1000)
    pdf = generate_transcripts(n_convs=200, seed=11)
    extract_frame(pdf.head(200))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        extract_frame(pdf)
        best = min(best, time.perf_counter() - t0)
    return {"canary.job_rtt_ms": statistics.median(rtts),
            "canary.kernel_tps_1core": len(pdf) / best}


def load_inputs(spark, layout: str, seed: int, size: str) -> dict:
    from corpus import ensure_inputs
    from workloads import reference_slice

    return ensure_inputs(os.path.join(WORK, "cache"), layout, seed, size,
                         is_ref=lambda ids: reference_slice(spark, ids))


def summarize(values: list[float], unit: str) -> dict:
    return {"value": statistics.median(values), "unit": unit,
            "samples": len(values), "min": min(values), "max": max(values)}


def measure(args, wl, cpus: int) -> tuple[dict, dict]:
    """The untraced run: timed launches, then the closed loop."""
    from probes import PssSampler, cpu_jiffies, steal_share, tree_cpu_s
    from workloads import Checks, dir_bytes

    t_start = time.perf_counter()
    phases = {}

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t_start - sum(phases.values())

    spark, setup_s = start_session(wl, cpus)
    try:
        phase("setup")
        inputs = load_inputs(spark, wl.layout, args.seed, args.size)
        phase("inputs")
        wl.prepare(spark, inputs, args.seed)
        phase("reference")
        host = canaries(spark)
        phase("canaries")
        run_dir = os.path.join(WORK, "runs", f"{wl.name}-{os.getpid()}")
        checks, samples = Checks(), []
        jiffies = cpu_jiffies()
        deadline = time.perf_counter() + args.seconds
        i = 0
        while i < MIN_JOBS or time.perf_counter() < deadline:
            out = os.path.join(run_dir, f"run{i}")
            sample = {}

            def timed():
                cpu0 = tree_cpu_s()
                with PssSampler(interval_s=PSS_INTERVAL_S) as pss:
                    t0 = time.perf_counter()
                    result = wl.run(spark, inputs, out, f"run{i}")
                    sample["wall_s"] = time.perf_counter() - t0
                sample.update(cpu_s=tree_cpu_s() - cpu0 - pss.cpu_s,
                              probe_cpu_s=pss.cpu_s, pss_mb=pss.peak_mb)
                return result

            if checks.run(wl, spark, inputs, out, timed):
                samples.append({**sample, "out_bytes": dir_bytes(out)})
            shutil.rmtree(out, ignore_errors=True)
            i += 1
        host["host.steal_share"] = steal_share(jiffies, cpu_jiffies())
        shutil.rmtree(run_dir, ignore_errors=True)
        phase("measure")
    finally:
        stop_session(spark)
    phase("stop")
    if not samples:
        raise SystemExit(f"perfbench: every {wl.name} run failed: "
                         f"{checks.problems}")

    kturns = inputs["turns"] / 1000.0
    values = {
        "turns_per_s": [inputs["turns"] / s["wall_s"] for s in samples],
        "setup_s": [setup_s],
        "cpu_s_per_kturn": [s["cpu_s"] / kturns for s in samples],
        "peak_rss_mb": [s["pss_mb"] for s in samples],
        "out_bytes_per_in_byte": [s["out_bytes"] / inputs["bytes"]
                                  for s in samples],
    }
    metrics = {k: summarize(v, END_TO_END[k][0]) for k, v in values.items()}
    # the peak over the whole closed loop, not a median of per-run peaks
    metrics["peak_rss_mb"]["value"] = metrics["peak_rss_mb"]["max"]
    detail = {"workload": wl.name, "seed": args.seed, "trace": 0,
              "cores": cpus, "inputs": _input_record(inputs, wl),
              "host": host, "metrics": metrics,
              "job_wall_s": [s["wall_s"] for s in samples],
              "probe_cpu_s": [s["probe_cpu_s"] for s in samples],
              "phases_s": phases,
              "problems": checks.problems}
    return detail, _result(checks, metrics)


def trace(args, wl, cpus: int) -> tuple[dict, dict]:
    """The traced run: every ladder, whatever the workload (the per-layer
    metrics are the same set on each)."""
    import ladder
    from probes import cpu_jiffies, steal_share
    from workloads import Checks, Extract, KernelReference, Pipeline, Stream

    jiffies = cpu_jiffies()
    spark, _ = start_session(wl, cpus)
    tr, checks, m = ladder.Tracer(), Checks(), {}
    scratch = os.path.join(WORK, "runs", f"trace-{os.getpid()}")
    try:
        host = canaries(spark)
        ext, pipe, st = Extract(), Pipeline(), Stream()

        def ladder_conf(w):
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(w.shuffle_partitions(cpus)))

        # the pipeline runs first: its run is cold, as a CLI launch is, and
        # its checkpointed extraction warms the code paths the extract ladder
        # then times
        ladder_conf(pipe)
        pin = load_inputs(spark, pipe.layout, args.seed, args.size)
        pipe.prepare(spark, pin, args.seed)
        m.update(ladder.pipeline_ladder(spark, tr, pipe, pin, scratch, checks))
        base = load_inputs(spark, ext.layout, args.seed, args.size)
        km, kernel_out = ladder.kernel_ladder(tr, base, args.seed)
        m.update(km)
        ext.reference = KernelReference(base, args.seed, kernel_out)
        st.reference = ext.reference          # the same rows, more files
        ladder_conf(ext)
        m.update(ladder.extract_ladder(spark, tr, ext, base, scratch, checks))
        m["extract.kernel_ideal_s"] = m["kernel.busy_s"] / cpus
        m["extract.kernel_efficiency"] = (
            base["turns"] / m["checkpoint.run_s"]
            / (m["kernel.turns_per_s_core"] * cpus))
        ladder_conf(st)
        sin = load_inputs(spark, st.layout, args.seed, args.size)
        m.update(ladder.stream_ladder(spark, tr, st, sin, scratch, checks))
        shutil.rmtree(scratch, ignore_errors=True)
    finally:
        stop_session(spark)
    m.update(host)
    m["host.cores"] = cpus
    m["host.steal_share"] = steal_share(jiffies, cpu_jiffies())
    metrics = {k: {"value": float(m[k]), "unit": PER_LAYER[k][0], "samples": 1}
               for k in PER_LAYER}
    detail = {"workload": wl.name, "seed": args.seed, "trace": 1,
              "cores": cpus,
              "inputs": {w.name: _input_record(i, w)
                         for w, i in ((ext, base), (pipe, pin), (st, sin))},
              "metrics": metrics, "spans": tr.spans,
              "problems": checks.problems}
    return detail, _result(checks, metrics)


def _input_record(meta: dict, wl) -> dict:
    rec = {k: meta[k] for k in ("seed", "conversations", "turns",
                                "bytes", "files")}
    rec["format_mix"] = wl.format_mix
    return rec


def _result(checks, metrics: dict) -> dict:
    return {"correct": checks.failed == 0 and checks.attempted > 0,
            "attempted": checks.attempted, "failed": checks.failed,
            "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not all(os.path.isdir(os.path.join(ROOT, d))
               for d in ("ocr_engine_spark", "jobs")):
        print(f"perfbench: no ocr_engine_spark/ and jobs/ under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    tmp = isolate(WORK)
    # a terminated run still stops Spark and its JVM (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    try:
        detail, result = (trace if args.trace else measure)(args, wl, cores())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
