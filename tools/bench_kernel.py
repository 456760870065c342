"""Seeded single-core kernel micro-bench: one replayable JSON line per run.

Times `kernel.pipeline.extract_frame_arrow` (no Spark, one core) — the entry point
every Spark extraction path calls per Arrow batch — over the deterministic
generator corpus, so kernel-level perf claims are replayable instead of entangled
with cluster/VM drift.  Appends to BENCH/kernel_history.jsonl when run from the
repo root with --record.

    python tools/bench_kernel.py [--convs 2000] [--repeat 3] [--record]

The per-format split is reported so a regression can be localized (the plain
format takes the vectorized closed form; html/markdown/json take the per-turn
path).
"""

from __future__ import annotations

import argparse
import json
import pathlib
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--repeat", type=int, default=3,
                    help="timed repeats; the MIN is recorded (least-noise bound)")
    ap.add_argument("--record", action="store_true",
                    help="append the JSON line to BENCH/kernel_history.jsonl")
    args = ap.parse_args()

    import pyarrow as pa

    from ocr_engine_spark.kernel.pipeline import extract_frame_arrow
    from ocr_engine_spark.sources.transcripts import generate_transcripts

    pdf = generate_transcripts(n_convs=args.convs, seed=args.seed, whale_factor=100)
    rb = pa.RecordBatch.from_pandas(pdf[["conv_id", "turn_idx", "text"]],
                                    preserve_index=False)
    n = rb.num_rows
    extract_frame_arrow(rb.slice(0, 200))  # warm regex caches / imports

    best = float("inf")
    for _ in range(args.repeat):
        t0 = time.perf_counter()
        out = extract_frame_arrow(rb)
        best = min(best, time.perf_counter() - t0)
    fmt_counts = out.column("fmt").to_pandas().value_counts().to_dict()

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], capture_output=True,
            text=True, cwd=pathlib.Path(__file__).resolve().parents[1],
        ).stdout.strip()
    except OSError:
        commit = ""
    line = {
        "metric": "kernel_turns_per_sec",
        "value": round(n / best, 1),
        "unit": "turns/sec/core",
        "turns": n,
        "sec": round(best, 3),
        "convs": args.convs,
        "seed": args.seed,
        "fmt_counts": fmt_counts,
        "commit": commit,
    }
    print(json.dumps(line))
    if args.record:
        hist = pathlib.Path(__file__).resolve().parents[1] / "BENCH" / \
            "kernel_history.jsonl"
        with open(hist, "a") as fh:
            fh.write(json.dumps(line) + "\n")


if __name__ == "__main__":
    main()
