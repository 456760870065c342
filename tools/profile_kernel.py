"""Profile the extraction kernel over a slice of the bench corpus (single core).

Usage: python tools/profile_kernel.py [n_rows]
Prints cumulative-time hotspots of extract_frame_arrow — the entry point every
Spark extraction path calls per Arrow batch — as the feedback loop for kernel
vectorization work (no Spark involved; the kernel is pure Arrow/pandas/numpy).
"""

from __future__ import annotations

import cProfile
import io
import pstats
import sys
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, ".")

from ocr_engine_spark.kernel.pipeline import extract_frame_arrow  # noqa: E402


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    tbl = pq.read_table("BENCH/transcripts_bench.parquet",
                        columns=["conv_id", "turn_idx", "text"])
    rb = tbl.slice(0, n).combine_chunks().to_batches()[0]
    chars = pc.sum(pc.utf8_length(rb.column("text"))).as_py()
    print(f"{rb.num_rows} rows, {chars} chars", flush=True)

    t0 = time.time()
    extract_frame_arrow(rb.slice(0, 100))  # warm imports/regex caches
    pr = cProfile.Profile()
    t1 = time.time()
    pr.enable()
    out = extract_frame_arrow(rb)
    pr.disable()
    dt = time.time() - t1
    print(f"extract_frame_arrow: {dt:.2f}s -> {rb.num_rows/dt:.0f} turns/sec "
          f"(warm {t1-t0:.2f}s), {pc.sum(out.column('n_spans')).as_py()} spans")
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(35)
    print(s.getvalue())


if __name__ == "__main__":
    main()
