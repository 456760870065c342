"""Kill-and-resume on a REAL spark-submit cluster (north_rule lifecycle proof).

Orchestrates the full failure story end to end, with nothing simulated:

1. start a standalone master + 4 taskset-pinned worker JVMs (the
   tools/bench_cluster.py topology), engine shipped via ``--py-files``;
2. submit ``jobs/extract_job.py --wave-buckets W`` over the 1.14M-turn bench
   corpus, then SIGKILL the ENTIRE driver process group as soon as the first
   wave's marker file lands — a hard driver loss mid-run;
3. resubmit the identical command: the run resumes from the per-wave
   checkpoint (``buckets_done_before`` > 0) instead of recomputing;
4. run the same job on a fresh output dir with no kill (the control) and
   assert the kill+resume output tree is ROW-IDENTICAL to the never-killed
   one (count + per-column md5 over the sorted frame, via duckdb).

Writes BENCH/CLUSTER_RESUME.md.  Requires the bench transcript corpus
(generated on demand, same params as tools/bench_cluster.py).

    python tools/cluster_resume_demo.py
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from tools.bench_cluster import (  # noqa: E402
    MASTER_URL, SPARK_HOME, ensure_corpora, start_master, start_workers, _stop,
)
from tools.make_pyfiles import build  # noqa: E402

N_BUCKETS = 32
WAVE_BUCKETS = 8


def _submit_cmd(input_path: str, out_dir: str, zip_path: pathlib.Path) -> list[str]:
    return [
        f"{SPARK_HOME}/bin/spark-submit", "--master", MASTER_URL,
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.executor.memory=8g",
        "--conf", "spark.locality.wait=0",
        "--conf", "spark.sql.shuffle.partitions=32",
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=4096",
        "--py-files", str(zip_path),
        str(REPO / "jobs" / "extract_job.py"),
        "--input", input_path, "--input-flavor", "parquet",
        "--output", out_dir, "--run-id", "resume-demo",
        "--n-buckets", str(N_BUCKETS), "--wave-buckets", str(WAVE_BUCKETS),
    ]


def _committed_buckets(metrics_dir: pathlib.Path) -> int:
    """Distinct ``p`` over the committed done-marker files (one per wave;
    a file appears only at its job commit)."""
    import pyarrow.parquet as pq

    files = [str(f) for f in metrics_dir.glob("part-*.parquet")]
    if not files:
        return 0
    return len(pq.read_table(files, columns=["p"]).column("p").unique())


def _summary_line(stdout: str) -> dict:
    return json.loads(
        [l for l in stdout.splitlines() if l.startswith("{")][-1])


def kill_after_first_wave(cmd: list[str], metrics_dir: pathlib.Path,
                          tmp: pathlib.Path) -> int | None:
    """Submit, SIGKILL the driver's process group once >=1 wave committed but
    before the run finishes.  Returns the POST-KILL committed bucket count
    (recounted once the driver is dead, so no mid-rename race), or None if
    the job finished before any kill could land (caller should retry)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, cwd=tmp, start_new_session=True)
    deadline = time.time() + 600
    while time.time() < deadline:
        if proc.poll() is not None:
            return None  # finished un-killed: waves too fast, retry
        n = _committed_buckets(metrics_dir)
        if 0 < n < N_BUCKETS:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait(timeout=30)
            n = _committed_buckets(metrics_dir)
            return n if n < N_BUCKETS else None
        time.sleep(0.1)
    raise RuntimeError("job neither committed a wave nor finished in 600s")


def main() -> None:
    inputs = ensure_corpora(REPO / "BENCH")
    tmp = pathlib.Path("/tmp/spark_cluster_resume")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    zip_path = tmp / "engine.zip"
    zip_sha = build(zip_path)

    subprocess.run(["pkill", "-f", "java.*deploy.master." + "Master"],
                   capture_output=True)
    subprocess.run(["pkill", "-f", "java.*deploy.worker." + "Worker"],
                   capture_output=True)
    time.sleep(2)
    master = start_master(tmp)
    workers = start_workers(4, tmp)
    try:
        killed_out = tmp / "out_killed"
        buckets_at_kill = None
        for _attempt in range(3):
            shutil.rmtree(killed_out, ignore_errors=True)
            buckets_at_kill = kill_after_first_wave(
                _submit_cmd(inputs["extract"], str(killed_out), zip_path),
                killed_out / "run_metrics", tmp)
            if buckets_at_kill is not None:
                break
        if buckets_at_kill is None:
            raise RuntimeError("could not land a mid-run kill in 3 attempts")
        print(f"killed driver pgroup with {buckets_at_kill}/{N_BUCKETS} "
              f"buckets durably committed", flush=True)

        resume = subprocess.run(
            _submit_cmd(inputs["extract"], str(killed_out), zip_path),
            capture_output=True, text=True, timeout=900, cwd=tmp)
        assert resume.returncode == 0, resume.stderr[-3000:]
        summary = _summary_line(resume.stdout)
        assert summary["buckets_done_before"] == buckets_at_kill, summary
        assert summary["buckets_run"] == N_BUCKETS - buckets_at_kill
        print(f"resume summary: {summary}", flush=True)

        control_out = tmp / "out_control"
        control = subprocess.run(
            _submit_cmd(inputs["extract"], str(control_out), zip_path),
            capture_output=True, text=True, timeout=900, cwd=tmp)
        assert control.returncode == 0, control.stdout[-3000:]

        import duckdb

        con = duckdb.connect()
        q = """
            SELECT count(*) AS rows,
                   md5(string_agg(extracted_text, chr(10) ORDER BY conv_id, turn_idx)) AS text_md5,
                   sum(n_spans) AS spans
            FROM read_parquet('{d}/extracted/p=*/*.parquet')
        """
        got = con.execute(q.format(d=killed_out)).fetchone()
        want = con.execute(q.format(d=control_out)).fetchone()
        assert got == want, (got, want)
        print(f"kill+resume output identical to control: {got[0]:,} rows, "
              f"text md5 {got[1][:16]}…", flush=True)
    finally:
        _stop(workers)
        _stop([master])

    report = f"""# REAL-cluster kill-and-resume (spark-submit, 4 executors)

The north_rule requires the run to be "resumable from checkpoint with
per-partition lineage + metrics".  This demo proves it in the literal
configuration, nothing simulated (tools/cluster_resume_demo.py):

1. standalone master + 4 taskset-pinned worker JVMs; engine shipped via
   ``--py-files engine.zip`` (sha256 {zip_sha[:16]}…);
2. ``jobs/extract_job.py --n-buckets {N_BUCKETS} --wave-buckets {WAVE_BUCKETS}``
   over the 1,140,575-turn bench corpus; the driver PROCESS GROUP was
   SIGKILLed mid-run with **{buckets_at_kill} of {N_BUCKETS} buckets durably
   committed** ({buckets_at_kill // WAVE_BUCKETS} of
   {N_BUCKETS // WAVE_BUCKETS} waves) at the moment of driver loss;
3. the identical resubmitted command reported
   ``buckets_done_before={summary['buckets_done_before']}`` /
   ``buckets_run={summary['buckets_run']}`` — it resumed from the per-wave
   checkpoint instead of recomputing;
4. the resumed output tree is **row-identical to a never-killed control
   run**: {got[0]:,} rows, equal span totals, equal md5 over all extracted
   text in (conv_id, turn_idx) order.

Wave commits are the durability mechanism (operators/checkpoint.py):
Spark's job commit is all-or-nothing, so each wave is its own
data-then-metrics commit and a crash loses at most the in-flight wave.

Generated by tools/cluster_resume_demo.py.
"""
    (REPO / "BENCH" / "CLUSTER_RESUME.md").write_text(report)
    print("wrote BENCH/CLUSTER_RESUME.md", flush=True)


if __name__ == "__main__":
    main()
