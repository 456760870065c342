"""Production entry point: the full pretraining-data pipeline as ONE job.

Chains the stages a real training-data run chains (the composition pinned by
the ``pipeline_e2e`` contract row), over a transcript table:

    extraction (fused Arrow kernel, declared-kind dispatch, AUTO skew salt)
    -> truncate_to_budget       (context cap in chars, prefix-only)
    -> assemble_conversations   (one training document per conversation)
    -> dedup_conversations      (one survivor per exact-duplicate family)
    -> [--near-dedup]           (MinHash-LSH near-dup clusters over assembled
                                 documents; keep each cluster's LONGEST
                                 document, tie-break min conv_id — catches
                                 truncated/perturbed re-runs exact dedup
                                 cannot; the conv_neardup_canonical contract
                                 row run as a pipeline stage, with the
                                 content-aware canonical rule production needs)
    -> [--quality-filter]       (CCNet-style bigram-LM gate: a hashed held-in
                                 slice trains the min-count-pruned model;
                                 documents whose OOV-bigram rate exceeds
                                 --quality-max-oov drop — the lm_quality
                                 contract row run as a pipeline stage)
    -> pack_sequences           (greedy token packing into training sequences)

Cluster launch (the reference CLI lifecycle, /root/reference/run.py:24-45,
extended to the pipeline the extracted text feeds):

    zip -r engine.zip ocr_engine_spark/
    spark-submit --py-files engine.zip jobs/pipeline_job.py \
        --input warehouse/transcripts --output /data/pretrain_run1 \
        --run-id r1 --char-budget 16000 --seq-budget 2048 --shards 1024 \
        --checkpoint-extraction --n-buckets 4096 --wave-buckets 512

Local smoke run:

    python jobs/pipeline_job.py --input tx.parquet --output /tmp/pipe_out \
        --run-id local --cpus 8 --shards 8

Resume model: the kernel stage dominates cost, so with
``--checkpoint-extraction`` it runs through the wave-committed
``run_extraction`` checkpoint (role/tool/ts ride through as passthrough
columns) — a crashed re-run resumes extraction from the last committed wave
and recomputes only the cheap downstream stages (the committed buckets also
pin the dispatch policy — resuming with different dispatch flags is an error,
not a silent mixed corpus).  Without the flag the whole pipeline is one
lineage (fastest when restarts are acceptable).  The packed output is derived
data and is FULLY replaced on each run (a re-run with a different --shards
cannot leave stale partitions behind).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_pipeline(spark, transcripts, out_dir: str, run_id: str,
                 char_budget: int = 16000, seq_budget: int = 2048,
                 shards: int = 64, tool_kind_map: dict[str, str] | None = None,
                 dispatch_tool_json: bool = False,
                 checkpoint_extraction: bool = False, n_buckets: int = 32,
                 salt_block: int = 64, wave_buckets: int | None = None,
                 near_dedup: bool = False, near_threshold: float = 0.5,
                 quality_filter: bool = False, quality_max_oov: float = 0.98,
                 quality_ref_mod: int = 20, cfg=None) -> dict:
    """The composable core (the CLI below is a thin wrapper).  Returns a
    summary dict with per-stage counts.

    Stage counts cost one extra aggregation over the ASSEMBLED frame (one row
    per conversation — orders of magnitude smaller than the turn corpus) and
    one over the written packed manifest; the turn-level corpus is scanned
    once (plus once per resumed wave in checkpoint mode).
    """
    import pandas as pd
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from ocr_engine_spark.config import DEFAULT_CONFIG
    from ocr_engine_spark.operators.conversations import (
        assemble_conversations, dedup_conversations, truncate_to_budget,
    )
    from ocr_engine_spark.operators.extract import AUTO, extract_transcripts
    from ocr_engine_spark.operators.text_analysis import greedy_pack_assignment

    cfg = cfg or DEFAULT_CONFIG
    passthrough = ("role", "tool", "ts")
    if checkpoint_extraction:
        from ocr_engine_spark.operators.checkpoint import run_extraction

        ext_summary = run_extraction(
            spark, transcripts, os.path.join(out_dir, "extraction"),
            run_id=run_id, n_buckets=n_buckets, cfg=cfg,
            salt_block=salt_block, wave_buckets=wave_buckets,
            passthrough=passthrough, dispatch_tool_json=dispatch_tool_json,
            tool_kind_map=tool_kind_map)
        extracted = spark.read.parquet(ext_summary["data_path"])
    else:
        ext_summary = {"mode": "inline"}
        extracted = extract_transcripts(
            transcripts, cfg=cfg, num_partitions=AUTO, salt_block=salt_block,
            passthrough=passthrough, dispatch_tool_json=dispatch_tool_json,
            tool_kind_map=tool_kind_map)

    asm = assemble_conversations(truncate_to_budget(extracted, char_budget))
    # assembled = one row per conversation; persist so the dedup survivors,
    # the packed join-back, and the stage counts reuse one materialization
    asm.persist(StorageLevel.DISK_ONLY)
    if near_dedup:
        from ocr_engine_spark.operators.dedup import persisted_artifact_count

        artifact_mark = persisted_artifact_count()
    try:
        n_convs = asm.count()
        surv = dedup_conversations(asm)
        n_near = None
        if near_dedup:
            # Near-duplicate conversations (truncated/perturbed re-runs of
            # the same session) survive exact dedup; drop every LSH cluster
            # member except the canonical one = the LONGEST document,
            # tie-broken by min conv_id — a truncated re-run can never
            # displace its fuller original no matter how the ids sort.  Same
            # banded-bucket shape as the conv_neardup_canonical contract row:
            # candidate pairs come from band buckets, never an all-pairs
            # join, and clustering runs over the sparse verified-pair edge
            # set only, so the stage stays sub-linear in corpus size at real
            # duplicate rates.  The drop set is localCheckpointed (tiny), so
            # its count and the anti-join share one LSH execution.
            from ocr_engine_spark.operators.dedup import (
                canonical_drop_ids, minhash_lsh_pairs,
            )

            pairs = minhash_lsh_pairs(
                surv.select(F.col("conv_id").alias("doc_id"),
                            F.col("doc_text").alias("text")),
                num_hashes=16, bands=8, k=3,
                jaccard_threshold=near_threshold)
            lengths = surv.select(
                F.col("conv_id").alias("doc_id"),
                F.length("doc_text").cast("long").alias("doc_len"))
            drop = (canonical_drop_ids(pairs, lengths=lengths)
                    .withColumnRenamed("doc_id", "conv_id")
                    .localCheckpoint(eager=True))
            n_near = drop.count()
            surv = surv.join(drop, "conv_id", "left_anti")
        n_lowq = None
        if quality_filter:
            # CCNet-style bigram-LM quality gate over the deduped corpus
            # (dedup first, so duplicate families don't vote their own
            # bigrams into the model): a deterministic hashed held-in slice
            # (1/quality_ref_mod of conversations) trains the min-count-
            # pruned model; documents whose OOV-bigram rate exceeds
            # --quality-max-oov drop.  Reference-slice documents are not
            # scored and always survive — the slice is the model's
            # definition of typical, not a sample under test.  Cost: one
            # extra pass over the assembled frame (explode -> two map-side-
            # combinable aggs; the shuffle never carries the bigram stream).
            from ocr_engine_spark.operators.text_analysis import (
                LM_MIN_COUNT, lm_bigram_model, lm_quality_scored,
            )

            if quality_ref_mod < 2:
                # mod 1 marks EVERY document as reference (nothing scored,
                # the gate silently no-ops); mod <= 0 makes pmod() NULL
                # (is_ref NULL everywhere — no model AND no corpus)
                raise ValueError(
                    f"--quality-ref-mod must be >= 2, got {quality_ref_mod}")
            is_ref = (F.pmod(F.xxhash64("conv_id"),
                             F.lit(quality_ref_mod)) == 0)
            lm_docs = surv.select(
                F.col("conv_id").alias("doc_id"),
                F.col("doc_text").alias("text"),
                is_ref.alias("is_ref"))
            # guard the degenerate model: with no bigram kept after the
            # min-count prune, every document scores oov_rate 1.0 and the
            # gate would silently drop the ENTIRE corpus — fail loudly
            # instead.  The count is the job that materializes the model the
            # scoring join then broadcasts, so the check costs no extra pass.
            model = lm_bigram_model(lm_docs).persist()
            try:
                if model.count() == 0:
                    if surv.where(is_ref).limit(1).count() == 0:
                        raise ValueError(
                            "--quality-filter reference slice is empty (no "
                            f"conv_id hashes to 0 mod {quality_ref_mod}); "
                            "lower --quality-ref-mod so the bigram model has "
                            "training documents")
                    raise ValueError(
                        "--quality-filter bigram model is empty: no bigram "
                        "of the reference slice (conv_ids hashing to 0 mod "
                        f"{quality_ref_mod}) occurs {LM_MIN_COUNT} or more "
                        "times; lower --quality-ref-mod so the slice holds "
                        "more documents")
                scored = lm_quality_scored(lm_docs, model=model)
                lowq = (scored.where(F.col("oov_rate") > quality_max_oov)
                        .select(F.col("doc_id").alias("conv_id"))
                        .localCheckpoint(eager=True))
            finally:
                model.unpersist()
            n_lowq = lowq.count()
            surv = surv.join(lowq, "conv_id", "left_anti")
        # packing carries conv_id + doc_text THROUGH the grouped map (no
        # numeric surrogate key, no join-back): conv_id is unique, so the
        # per-shard sort is a total order and the output is deterministic
        # under any partitioning — and a hash collision cannot fan out rows
        docs = surv.select(
            "conv_id",
            F.concat(F.lit("shard_"),
                     F.pmod(F.xxhash64("conv_id"), F.lit(shards))
                     .cast("string")).alias("shard"),
            "doc_text",
            F.size(F.split(F.trim("doc_text"), " +")).cast("bigint")
            .alias("n_tokens"))
        pack_schema = StructType([
            StructField("conv_id", StringType()),
            StructField("shard", StringType()),
            StructField("doc_text", StringType()),
            StructField("n_tokens", LongType()),
            StructField("seq_id", IntegerType()),
            StructField("seq_offset", LongType()),
        ])

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("conv_id").reset_index(drop=True)
            seqs, offs = greedy_pack_assignment(pdf["n_tokens"], seq_budget)
            pdf["seq_id"] = pd.Series(seqs, dtype="int32")
            pdf["seq_offset"] = pd.Series(offs, dtype="int64")
            return pdf

        out = docs.groupBy("shard").applyInPandas(pack, schema=pack_schema)
        out.persist(StorageLevel.DISK_ONLY)
        try:
            data_path = os.path.join(out_dir, "packed")
            # FULL overwrite, not dynamic-by-shard: the job always computes
            # every shard, and a re-run with a different --shards must not
            # leave stale partitions behind (packed output is derived data —
            # the resumable stage is the extraction checkpoint upstream)
            out.write.mode("overwrite").partitionBy("shard").parquet(data_path)
            stats = out.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("shard", "seq_id").alias("n_sequences"),
                F.sum("n_tokens").alias("n_tokens")).collect()[0]
            summary = {
                "run_id": run_id, "extraction": ext_summary,
                "conversations": n_convs,
                "survivors": stats["n_docs"],
                "dropped_duplicates": (n_convs - stats["n_docs"]
                                       - (n_near or 0) - (n_lowq or 0)),
                "sequences": stats["n_sequences"],
                "tokens": int(stats["n_tokens"] or 0),
                "data_path": data_path,
            }
            if n_near is not None:
                summary["dropped_near_duplicates"] = n_near
            if n_lowq is not None:
                summary["dropped_low_quality"] = n_lowq
        finally:
            out.unpersist()
    finally:
        asm.unpersist()
        if near_dedup:
            # drop ONLY the LSH build-side caches this run created (scoped to
            # the registry depth snapshotted before the stage — a caller's own
            # artifacts are never evicted; caches only, consumers stay correct)
            from ocr_engine_spark.operators.dedup import (
                release_persisted_artifacts,
            )

            release_persisted_artifacts(keep=artifact_mark)
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-flavor", choices=("parquet", "table", "auto"),
                    default="auto")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--char-budget", type=int, default=16000)
    ap.add_argument("--seq-budget", type=int, default=2048)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--tool-kind-map", default=None,
                    help='JSON {tool value -> payload kind}, e.g. '
                         '\'{"render_html": "html"}\'')
    ap.add_argument("--dispatch-tool-json", action="store_true")
    ap.add_argument("--checkpoint-extraction", action="store_true",
                    help="run the kernel stage through the wave-committed "
                         "checkpoint (resumable); see module docstring")
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--salt-block", type=int, default=64)
    ap.add_argument("--wave-buckets", type=int, default=None)
    ap.add_argument("--near-dedup", action="store_true",
                    help="after exact dedup, drop MinHash-LSH near-duplicate "
                         "conversations (keep each cluster's longest document,"
                         " tie-break min conv_id)")
    ap.add_argument("--near-threshold", type=float, default=0.5,
                    help="verified-Jaccard threshold for --near-dedup")
    ap.add_argument("--quality-filter", action="store_true",
                    help="after dedup, drop documents whose OOV-bigram rate "
                         "against a hashed held-in LM slice exceeds "
                         "--quality-max-oov (CCNet-style quality gate)")
    ap.add_argument("--quality-max-oov", type=float, default=0.98,
                help="drop documents whose OOV-bigram rate exceeds this; the\n"
                     "default drops only near-zero-overlap garbage — calibrate\n"
                     "per corpus (measured transcript corpora score 0.5-0.96\n"
                     "against a 1/20 hashed slice; gibberish scores 1.0)")
    ap.add_argument("--quality-ref-mod", type=int, default=20,
                    help="1/N of conversations (by xxhash64) train the "
                         "bigram model")
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] cores; 0 = use existing/spark-submit session")
    args = ap.parse_args()

    from ocr_engine_spark.session import build_session
    from ocr_engine_spark.sources.io import read_table

    spark = build_session(f"pipeline-{args.run_id}", cpus=args.cpus,
                          shuffle_partitions=max(args.shards, args.cpus))

    transcripts = read_table(spark, args.input, flavor=args.input_flavor)
    summary = run_pipeline(
        spark, transcripts, args.output, run_id=args.run_id,
        char_budget=args.char_budget, seq_budget=args.seq_budget,
        shards=args.shards,
        tool_kind_map=json.loads(args.tool_kind_map) if args.tool_kind_map
        else None,
        dispatch_tool_json=args.dispatch_tool_json,
        checkpoint_extraction=args.checkpoint_extraction,
        n_buckets=args.n_buckets, salt_block=args.salt_block,
        wave_buckets=args.wave_buckets,
        near_dedup=args.near_dedup, near_threshold=args.near_threshold,
        quality_filter=args.quality_filter,
        quality_max_oov=args.quality_max_oov,
        quality_ref_mod=args.quality_ref_mod)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
