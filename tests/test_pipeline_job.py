"""jobs/pipeline_job.run_pipeline: the production composition end-to-end —
extraction -> budget truncation -> assembly -> conversation dedup -> packing
-> partitioned sink, with stage counts, duplicate drops, and resume-through-
the-extraction-checkpoint behavior."""

import os

import pytest

from pyspark.sql import functions as F

from jobs.pipeline_job import run_pipeline
from ocr_engine_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def corpus(spark):
    """Transcripts with PLANTED duplicate conversations: every conv whose
    numeric hash is even reappears under a 'dup_' id with identical turns."""
    pdf = generate_transcripts(n_convs=24, seed=77)
    base = spark.createDataFrame(pdf)
    dups = (base.where(F.crc32("conv_id") % 2 == 0)
            .withColumn("conv_id", F.concat(F.lit("dup_"), "conv_id")))
    return base.unionByName(dups), base.select("conv_id").distinct().count(), \
        dups.select("conv_id").distinct().count()


def test_pipeline_drops_planted_duplicates(spark, corpus, tmp_path):
    df, n_base, n_dup = corpus
    s = run_pipeline(spark, df, str(tmp_path / "out"), run_id="t1",
                     char_budget=100_000, seq_budget=256, shards=4)
    assert s["conversations"] == n_base + n_dup
    assert s["survivors"] == n_base
    assert s["dropped_duplicates"] == n_dup
    out = spark.read.parquet(s["data_path"])
    # 'conv_...' < 'dup_...' so every survivor is a base conversation
    assert out.where(F.col("conv_id").startswith("dup_")).count() == 0


def test_packing_respects_budget_and_orders(spark, corpus, tmp_path):
    df, n_base, _ = corpus
    s = run_pipeline(spark, df, str(tmp_path / "out"), run_id="t2",
                     char_budget=100_000, seq_budget=64, shards=4)
    out = spark.read.parquet(s["data_path"])
    assert out.count() == n_base
    # no sequence overfills unless a single doc alone exceeds the budget
    fills = (out.groupBy("shard", "seq_id")
             .agg(F.sum("n_tokens").alias("fill"), F.count("*").alias("n"))
             .where((F.col("fill") > 64) & (F.col("n") > 1)))
    assert fills.count() == 0
    assert s["sequences"] == out.select("shard", "seq_id").distinct().count()
    assert s["tokens"] == out.agg(F.sum("n_tokens")).collect()[0][0]


def test_char_budget_truncates(spark, corpus, tmp_path):
    df, _, _ = corpus
    big = run_pipeline(spark, df, str(tmp_path / "big"), run_id="t3",
                       char_budget=100_000, seq_budget=256, shards=2)
    small = run_pipeline(spark, df, str(tmp_path / "small"), run_id="t4",
                         char_budget=200, seq_budget=256, shards=2)
    assert small["tokens"] < big["tokens"]
    docs = spark.read.parquet(small["data_path"])
    assert docs.agg(F.max(F.length("doc_text"))).collect()[0][0] <= 200


def test_checkpointed_extraction_resumes(spark, corpus, tmp_path):
    """checkpoint mode: a second invocation finds every bucket committed and
    re-runs ZERO extraction while producing the identical packed output."""
    df, n_base, _ = corpus
    out = str(tmp_path / "ck")
    s1 = run_pipeline(spark, df, out, run_id="t5", char_budget=100_000,
                      seq_budget=256, shards=2, checkpoint_extraction=True,
                      n_buckets=8)
    assert s1["extraction"]["buckets_run"] == 8
    s2 = run_pipeline(spark, df, out, run_id="t5", char_budget=100_000,
                      seq_budget=256, shards=2, checkpoint_extraction=True,
                      n_buckets=8)
    assert s2["extraction"]["buckets_done_before"] == 8
    assert s2["extraction"]["buckets_run"] == 0
    assert s1["survivors"] == s2["survivors"] == n_base
    assert s1["tokens"] == s2["tokens"]
    assert os.path.isdir(os.path.join(out, "extraction", "run_metrics"))


def test_checkpoint_passthrough_matches_inline(spark, corpus, tmp_path):
    """The checkpointed extraction path (passthrough role/tool/ts through the
    wave commit) must assemble the same documents as the inline lineage."""
    df, _, _ = corpus
    a = run_pipeline(spark, df, str(tmp_path / "inl"), run_id="t6",
                     char_budget=500, seq_budget=128, shards=2)
    b = run_pipeline(spark, df, str(tmp_path / "ckp"), run_id="t7",
                     char_budget=500, seq_budget=128, shards=2,
                     checkpoint_extraction=True, n_buckets=4)
    pa = (spark.read.parquet(a["data_path"]).orderBy("conv_id")
          .select("conv_id", "doc_text", "shard", "seq_id", "seq_offset")
          .toPandas())
    pb = (spark.read.parquet(b["data_path"]).orderBy("conv_id")
          .select("conv_id", "doc_text", "shard", "seq_id", "seq_offset")
          .toPandas())
    assert pa.equals(pb)


def test_near_dedup_drops_truncated_reruns(spark, corpus, tmp_path):
    """--near-dedup: a conversation re-uploaded minus its last turn is not an
    EXACT duplicate (different assembled document), but LSH pairs it with its
    base and the stage keeps the cluster's LONGEST document.  The plants are
    named 'aaa_...' — sorting BEFORE every base conv_id — so this test fails
    under a min-conv_id canonical rule (which would keep the truncated copy
    and silently drop the fuller original): the keep-longest rule is what is
    pinned, not a lucky id ordering."""
    df, n_base, n_dup = corpus
    last = (df.groupBy("conv_id")
            .agg(F.max("turn_idx").alias("mx")))
    ndups = (df.join(last, "conv_id")
             .where((F.crc32("conv_id") % 2 == 1)
                    & ~F.col("conv_id").startswith("dup_")
                    # >=6 turns: dropping ONE turn keeps shingle Jaccard
                    # well above the 0.5 stage threshold
                    & (F.col("mx") >= 5)
                    & (F.col("turn_idx") < F.col("mx")))
             .drop("mx")
             .withColumn("conv_id", F.concat(F.lit("aaa_"), "conv_id")))
    n_near = ndups.select("conv_id").distinct().count()
    assert n_near > 0
    full = df.unionByName(ndups)

    off = run_pipeline(spark, full, str(tmp_path / "near_off"), run_id="t12",
                       char_budget=100_000, seq_budget=256, shards=4)
    # exact dedup alone cannot catch the truncated re-runs
    assert off["survivors"] == n_base + n_near
    assert off["dropped_duplicates"] == n_dup

    on = run_pipeline(spark, full, str(tmp_path / "near_on"), run_id="t13",
                      char_budget=100_000, seq_budget=256, shards=4,
                      near_dedup=True)
    assert on["dropped_duplicates"] == n_dup                 # exact stage
    assert on["dropped_near_duplicates"] == n_near           # LSH stage
    assert on["survivors"] == n_base
    out = spark.read.parquet(on["data_path"])
    # the fuller originals survive even though every plant id sorts first
    assert out.where(F.col("conv_id").startswith("aaa_")).count() == 0
    assert out.count() == n_base


def test_empty_output_returns_zero_summary(spark, corpus, tmp_path):
    """A char budget below every first turn line empties the pipeline; the
    job must return a zero-count summary, not crash reading back an empty
    directory (UNABLE_TO_INFER_SCHEMA regression)."""
    df, _, _ = corpus
    s = run_pipeline(spark, df, str(tmp_path / "empty"), run_id="t8",
                     char_budget=1, seq_budget=64, shards=2)
    assert s["survivors"] == 0 and s["sequences"] == 0 and s["tokens"] == 0
    assert s["conversations"] == 0 and s["dropped_duplicates"] == 0


def test_rerun_with_fewer_shards_leaves_no_stale_partitions(spark, corpus,
                                                            tmp_path):
    """The packed output is fully replaced per run: re-sharding must not keep
    old shard directories (the dynamic-overwrite stale-partition trap)."""
    df, n_base, _ = corpus
    out = str(tmp_path / "reshard")
    run_pipeline(spark, df, out, run_id="t9", char_budget=100_000,
                 seq_budget=256, shards=8)
    s2 = run_pipeline(spark, df, out, run_id="t10", char_budget=100_000,
                      seq_budget=256, shards=2)
    written = spark.read.parquet(s2["data_path"])
    assert written.select("shard").distinct().count() <= 2
    assert written.count() == n_base == s2["survivors"]


def test_resume_with_changed_dispatch_raises(spark, corpus, tmp_path):
    """Committed buckets pin the dispatch policy: resuming the extraction
    checkpoint with different dispatch flags must fail loudly instead of
    mixing sniffed and declared buckets in one corpus."""
    df, _, _ = corpus
    out = str(tmp_path / "disp")
    run_pipeline(spark, df, out, run_id="t11", char_budget=100_000,
                 seq_budget=256, shards=2, checkpoint_extraction=True,
                 n_buckets=4)
    with pytest.raises(ValueError, match="dispatch mismatch"):
        run_pipeline(spark, df, out, run_id="t11", char_budget=100_000,
                     seq_budget=256, shards=2, checkpoint_extraction=True,
                     n_buckets=4, dispatch_tool_json=True)

def test_quality_filter_drops_gibberish(spark, corpus, tmp_path):
    """--quality-filter: conversations whose text shares no bigrams with the
    corpus (planted gibberish with per-conv unique tokens) exceed the OOV
    threshold against the hashed held-in LM slice and drop; every normal
    conversation (generator vocabulary, shared across convs) survives.  The
    gibberish conv_ids are chosen so none lands in the reference slice — a
    reference document is the model's definition of typical and is never
    scored."""
    df, n_base, n_dup = corpus
    ref_mod = 3
    candidates = [f"garbage_{i}" for i in range(12)]
    hashes = dict(
        spark.createDataFrame([(c,) for c in candidates], "conv_id string")
        .select("conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(ref_mod))
                .alias("h")).collect())
    non_ref = [c for c in candidates if hashes[c] != 0][:3]
    assert len(non_ref) == 3
    gibberish = spark.createDataFrame(
        [(cid, t, "user",
          " ".join(f"zzq{cid[-1]}x{t}w{j}" for j in range(12)), None, None)
         for cid in non_ref for t in range(4)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    full = df.unionByName(gibberish)

    off = run_pipeline(spark, full, str(tmp_path / "q_off"), run_id="t20",
                       char_budget=100_000, seq_budget=256, shards=4)
    assert off["survivors"] == n_base + len(non_ref)
    assert "dropped_low_quality" not in off

    on = run_pipeline(spark, full, str(tmp_path / "q_on"), run_id="t21",
                      char_budget=100_000, seq_budget=256, shards=4,
                      quality_filter=True, quality_ref_mod=ref_mod)
    assert on["dropped_low_quality"] == len(non_ref)
    assert on["dropped_duplicates"] == n_dup
    assert on["survivors"] == n_base
    out = spark.read.parquet(on["data_path"])
    assert out.where(F.col("conv_id").startswith("garbage_")).count() == 0

def test_quality_filter_degenerate_slice_raises(spark, corpus, tmp_path):
    """An empty hashed reference slice would train an empty model and
    silently drop the ENTIRE corpus (every doc scores oov_rate 1.0); the
    stage must fail loudly instead.  ref_mod < 2 (gate no-ops / NULL is_ref)
    is rejected up front."""
    df, _, _ = corpus
    convs = [r[0] for r in df.select("conv_id").distinct().collect()]
    hashed = dict(
        spark.createDataFrame([(c,) for c in convs], "conv_id string")
        .select("conv_id", F.xxhash64("conv_id").alias("h")).collect())
    empty_mod = next(m for m in range(40, 200)
                     if all(h % m != 0 for h in hashed.values()))

    with pytest.raises(ValueError, match="reference slice is empty"):
        run_pipeline(spark, df, str(tmp_path / "q_empty"), run_id="t22",
                     char_budget=100_000, seq_budget=256, shards=4,
                     quality_filter=True, quality_ref_mod=empty_mod)
    with pytest.raises(ValueError, match="must be >= 2"):
        run_pipeline(spark, df, str(tmp_path / "q_mod1"), run_id="t23",
                     char_budget=100_000, seq_budget=256, shards=4,
                     quality_filter=True, quality_ref_mod=1)


def test_quality_filter_pruned_empty_model_raises(spark, tmp_path):
    """A non-empty reference slice whose bigrams all occur fewer than
    min_count times prunes to an empty model; scoring against it would give
    every document oov_rate 1.0 and drop the whole corpus, so the stage must
    raise instead."""
    convs = [f"solo_{i}" for i in range(40)]
    hashed = dict(
        spark.createDataFrame([(c,) for c in convs], "conv_id string")
        .select("conv_id", F.xxhash64("conv_id").alias("h")).collect())
    # exactly one reference document, whose tokens (hence bigrams) are all
    # unique: every bigram in the slice occurs once, below min_count=2
    ref_mod = next(m for m in range(2, 400)
                   if sum(h % m == 0 for h in hashed.values()) == 1)
    df = spark.createDataFrame(
        [(cid, t, "user", " ".join(f"tok{cid[5:]}x{t}w{j}" for j in range(8)),
          None, None)
         for cid in convs for t in range(3)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    with pytest.raises(ValueError, match="bigram model is empty"):
        run_pipeline(spark, df, str(tmp_path / "q_pruned"), run_id="t24",
                     char_budget=100_000, seq_budget=256, shards=4,
                     quality_filter=True, quality_ref_mod=ref_mod)
