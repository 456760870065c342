"""Production entry point: checkpointed, resumable transcript extraction.

Cluster launch (north_star lifecycle — the Spark analogue of the reference CLI
``python run.py --image DIR --save_dir OUT``, /root/reference/run.py:24-45):

    zip -r engine.zip ocr_engine_spark/
    spark-submit --py-files engine.zip jobs/extract_job.py \
        --input  warehouse/transcripts \
        --output /data/extracted_run1 \
        --run-id r1 --n-buckets 4096 --salt-block 64

Local smoke run:

    python jobs/extract_job.py --input BENCH/transcripts_bench.parquet \
        --output /tmp/extract_out --run-id local --n-buckets 32 --cpus 8

Re-running the same command after a crash resumes: buckets whose ``run_metrics``
row says status='done' are skipped (anti-filter), unfinished buckets are recomputed
and idempotently overwritten (dynamic partition overwrite by bucket).  Each wave
appends its done-marker rows as one parquet file under ``run_metrics/``, counted in
the kernel tasks while they extract, after the wave's data commits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="transcripts table path (parquet dir/file) or table name")
    ap.add_argument("--input-flavor", choices=("parquet", "table", "auto"),
                    default="auto",
                    help="storage flavor of --input; pass explicitly on clusters "
                         "instead of relying on path-shape inference")
    ap.add_argument("--output", required=True, help="output root dir")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--n-buckets", type=int, default=32,
                    help="checkpoint granularity: a resume skips or reruns whole "
                         "buckets; not the task count, which follows the "
                         "cores; cluster-scale: O(10k)")
    ap.add_argument("--salt-block", type=int, default=64,
                    help="turns of one conversation per salt bucket (skew bound)")
    ap.add_argument("--wave-buckets", type=int, default=None,
                    help="commit the run in waves of this many buckets (durable "
                         "checkpoint per wave; a crash loses at most one wave). "
                         "Default: single-wave (fastest, run-level durability)")
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] cores; 0 = use existing/spark-submit session")
    ap.add_argument("--word-formation-mode", default=None,
                    choices=("word_group", "line", "tesseract", "mmocr"),
                    help="reading-order algorithm (reference selects by import, "
                         "/root/reference/src/ocr.py:19-21; here a flag)")
    args = ap.parse_args()

    from ocr_engine_spark.operators.checkpoint import run_extraction
    from ocr_engine_spark.session import build_session
    from ocr_engine_spark.sources.io import read_table

    spark = build_session(f"extract-{args.run_id}", cpus=args.cpus,
                          shuffle_partitions=max(args.n_buckets, args.cpus))

    transcripts = read_table(spark, args.input, flavor=args.input_flavor)

    from ocr_engine_spark.config import DEFAULT_CONFIG

    cfg = DEFAULT_CONFIG
    if args.word_formation_mode:
        cfg = cfg.override(word_formation_mode=args.word_formation_mode)

    summary = run_extraction(
        spark, transcripts, args.output, run_id=args.run_id,
        n_buckets=args.n_buckets, salt_block=args.salt_block, cfg=cfg,
        wave_buckets=args.wave_buckets)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
