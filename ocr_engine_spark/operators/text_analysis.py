"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are built-in ``pyspark.sql.functions`` (JVM-side, whole-stage codegen) —
no Python UDFs.  Each operator has a matching DuckDB-oracle SQL in __spark_entry__.py.

Operators: language-ID (stopword-vote heuristic), quality scoring, token counting,
shingle counting, document fingerprinting (rolling polynomial hash + md5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_engine_spark.operators.relational import load

# tiny per-language stopword lists for the n-gram/stopword-vote heuristic; the vote is
# deterministic with ties broken by fixed language order (like the parser vote, E4)
LANG_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "nicht"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "les", "des", "et", "un"],
    "zh": ["的", "是", "了", "在", "我"],
}
LANG_ORDER = ["en", "de", "es", "fr", "zh"]


def _tokens(col: str = "text"):
    return F.split(F.trim(F.col(col)), " +")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counting per document."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_tokens()).cast("bigint").alias("n_tokens"),
        # BPE-ish proxy: alnum runs + standalone punctuation marks
        F.size(
            F.split(F.trim(F.regexp_replace(F.col("text"), r"([^\w\s])", r" $1 ")), r"\s+")
        ).cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID: score = |tokens ∩ stopwords(lang)|, argmax with
    fixed tie order (the detection-count orientation vote A6 at the text layer)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.array_distinct(_tokens())
    scored = docs.select(
        "doc_id",
        *[
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])))
            .alias(f"score_{lang}")
            for lang in LANG_ORDER
        ],
    )
    pred = F.lit(LANG_ORDER[0])
    best = F.col(f"score_{LANG_ORDER[0]}")
    for lang in LANG_ORDER[1:]:  # strictly-greater keeps the first language on ties
        pred = F.when(F.col(f"score_{lang}") > best, F.lit(lang)).otherwise(pred)
        best = F.greatest(best, F.col(f"score_{lang}"))
    return scored.select(
        "doc_id", pred.alias("pred_lang"), best.cast("bigint").alias("best_score"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punct/stopword-ratio quality scoring (rounded for cross-engine parity)."""
    docs = load(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("double")
    n_punct = (n_chars - F.length(F.regexp_replace(F.col("text"), r"[.,;:!?]", "")))
    n_tok = F.size(_tokens()).cast("double")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(_tokens()),
            F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]]),
        )
    ).cast("double")
    mean_tok_len = (n_chars - n_tok + 1) / n_tok  # chars minus separators per token
    return docs.select(
        "doc_id",
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_tok, F.lit(1.0)), 6).alias("stop_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        (n_tok.cast("bigint")).alias("n_tokens"),
    )


def q_shingle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 8-char shingles over the first 200 chars (near-dup feature base)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        # substring(text, i, 8) == substring(substring(text,1,200), i, 8) for every
        # generated i (windows never cross position 200), and avoids re-slicing a
        # 200-char copy per lambda element (lambda bodies re-evaluate per element)
        F.expr(
            "cast(size(array_distinct(transform(sequence(1, greatest(least(length(text), 200)-7, 1)),"
            " i -> substring(text, i, 8)))) as bigint)"
        ).alias("n_shingles"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 head-fingerprint + rolling polynomial hash
    (acc*31 + code) mod 1e9+7 over the first 64 chars (overflow-free under ANSI)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.substring("text", 1, 64)).alias("md5_head"),
        F.expr(
            "aggregate(sequence(1, least(length(text), 64)), 0L,"
            " (acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 1000000007)"
        ).alias("rolling_hash"),
    )


def quality_filter(docs: DataFrame, min_tokens: int = 10,
                   max_punct_ratio: float = 0.1,
                   min_stop_ratio: float = 0.02) -> DataFrame:
    """The keep/drop decision stage of a training-data pipeline: a document
    survives iff it clears token-count, punctuation-density, and stopword-density
    thresholds (the classic Gopher/C4-style heuristics over the same ratios
    q_quality_score reports).  Pure built-in expressions — the filter pushes into
    the scan's surviving columns and pipelines with any downstream dedup stage
    without an extra pass."""
    n_chars = F.length("text").cast("double")
    n_punct = (n_chars - F.length(F.regexp_replace(F.col("text"), r"[.,;:!?]", "")))
    n_tok = F.size(_tokens()).cast("double")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(_tokens()),
            F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]]),
        )
    ).cast("double")
    return (
        docs.withColumn("n_tokens", n_tok.cast("bigint"))
        .withColumn("punct_ratio", F.round(n_punct / n_chars, 6))
        .withColumn("stop_ratio",
                    F.round(n_stop / F.greatest(n_tok, F.lit(1.0)), 6))
        .where((F.col("n_tokens") >= min_tokens)
               & (F.col("punct_ratio") <= max_punct_ratio)
               & (F.col("stop_ratio") >= min_stop_ratio))
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return quality_filter(docs).select(
        "doc_id", "source", "n_tokens", "punct_ratio", "stop_ratio")


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: document frequency + total occurrence count
    per token, top-50 by df (the table a tokenizer/stopword build reads, and the
    same df computation the prefix-filtered Jaccard join uses internally).  One
    map-side-combinable aggregation over exploded tokens; the shuffle carries one
    row per distinct token, never the corpus."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(F.array_distinct(_tokens())).alias("tok"))
    occ = docs.select("doc_id", F.explode(_tokens()).alias("tok"))
    df_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    occ_counts = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("occurrences"))
    return (
        df_counts.join(occ_counts, "tok")
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(50)
        .select("tok", "df", "occurrences")
    )


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 distinctive tokens by tf x inverse-document-frequency.

    The weight is the LOG-FREE variant tf * N / df: every operand is an exact
    integer, so the single double division is bit-identical across engines
    (ln() would risk last-ULP libm differences at the rounding boundary).
    Plan shape: one explode -> two map-side-combinable aggregations (term
    frequency, then document frequency over the tf table — the vocabulary-sized
    shuffle, not the corpus-sized one) -> broadcast-joined scalar N -> windowed
    top-3 per doc with a total tie-break order."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), " +")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfx = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    weighted = (
        tf.join(dfx, "tok").crossJoin(F.broadcast(total))
        .withColumn(
            "weight",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("tok"))
    return (
        weighted.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "tok", "tf", "df", "weight", "rank")
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass a training pipeline runs before
    tokenization.  PII is planted deterministically (the raw corpus has none):
    each doc gets a synthetic email + phone appended, then emails and
    phone-like numbers are detected (regexp_count) and replaced with typed
    placeholders.  Patterns stick to the regex subset with identical semantics
    in Java regex and RE2/DuckDB (char classes, bounded reps, \\b)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    payload = F.concat(
        F.col("text"), F.lit(" contact: user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"))
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\b555-[0-9]{4}\b"
    with_pii = docs.select("doc_id", payload.alias("payload"))
    return with_pii.select(
        "doc_id",
        F.regexp_count("payload", F.lit(email)).cast("int").alias("n_emails"),
        F.regexp_count("payload", F.lit(phone)).cast("int").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("payload", email, "<EMAIL>"),
            phone, "<PHONE>").alias("redacted"),
    )


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: corpus documents sharing any 5-token
    shingle with a held-out "benchmark" set (doc_id % 50 == 7) are flagged with
    their hit counts — the decontamination pass every serious training corpus
    runs.  The benchmark side is tiny and broadcasts; the corpus side explodes
    shingles once and aggregates map-side, so the shuffle carries per-doc hit
    counts, never the shingle stream."""
    from ocr_engine_spark.operators.dedup import _shingle_array

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    shingled = docs.withColumn("sh", _shingle_array(k=5)).select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("shingle"))
    bench = (shingled.where(F.col("doc_id") % 50 == 7)
             .select(F.col("shingle")).distinct())
    corpus = shingled.where(F.col("doc_id") % 50 != 7)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source sampling (domain mixing): keep a doc iff
    md5(doc_id) mod 100 < the source's configured rate.  Hash-based so the
    sample is reproducible across engines, partitionings, and runs — the
    data-mixing primitive (no RNG, no sort)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    bucket = (F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
        % 100)
    # rate derived from the source name: stable, engine-agnostic
    rate = (F.length("source") * 7 + F.ascii(F.substring("source", -1, 1))) % 41 + 10
    return (
        docs.withColumn("bucket", bucket.cast("int"))
        .withColumn("rate", rate.cast("int"))
        .where(F.col("bucket") < F.col("rate"))
        .select("doc_id", "source", "bucket", "rate")
    )


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data MIXING to target source weights — the step after sampling/filtering
    in a pretraining pipeline: given per-source mix weights and a total doc
    budget, keep exactly ``quota_s = floor(budget * w_s / sum(w))`` docs per
    source, choosing each source's docs deterministically (smallest
    md5(doc_id) first — reproducible across engines, partitionings, runs).

    Distinct from q_stratified_sample: that keeps a hash-rate FRACTION of each
    source (proportional thinning); this REWEIGHTS the corpus to target
    shares under a budget, which requires per-source quotas and ranks.

    Scale shape (two-phase bucketed rank — the r04 single-sort fix): a plain
    ``row_number() OVER (PARTITION BY source ORDER BY md5)`` sorts each
    source's ENTIRE doc set in ONE task, so parallelism is bounded by source
    count and a dominant source at 100 TB becomes a single-machine sort.
    Instead the md5 keyspace is split by its first two hex chars into 256
    buckets per source; the global per-source rank decomposes exactly as

        mix_rank = (#docs of this source in EARLIER buckets) + rank within
                   (source, bucket)

    because the bucket is a PREFIX of the sort key.  The pipeline is then:
    (1) ONE corpus pass counts (source, bucket) cells, map-side combined to a
    ~256 x #sources stats frame that also yields per-source totals, corpus
    totals and quotas (the ``offset == 0`` row is each source's unique first
    cell, so summing w over those rows gives wsum without a distinct-sources
    branch — no second corpus scan, no subtree re-execution); (2) windows
    over the tiny stats frame compute quotas and cumulative bucket offsets;
    (3) one broadcast join tags every doc with its cell's (offset, quota, w),
    and cells whose offset already exceeds the quota are dropped BEFORE any
    sort (~60% of the corpus is never sorted — threshold selection by
    scan-and-filter); (4) one row_number window per surviving (source,
    bucket) cell ranks in parallel tasks of ~|source|/256 rows.  Output
    (including mix_rank values) is byte-identical to the single-sort
    spelling, which is what the oracle replays.  Weights derive from the
    source name (w in 1..4) so the query is scale-factor-free."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    w_expr = (F.ascii(F.substring("source", -1, 1)) % 4 + 1).cast("bigint")
    wall = Window.partitionBy()
    woff = (Window.partitionBy("source").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1))
    cells = (
        docs.withColumn("bucket", bucket)
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_cell"))
        .withColumn("w", w_expr)
        .withColumn("offset", F.coalesce(F.sum("n_cell").over(woff),
                                         F.lit(0)).cast("bigint"))
        .withColumn("total", F.sum("n_cell").over(wall))
        .withColumn(
            "wsum",
            F.sum(F.when(F.col("offset") == 0, F.col("w"))).over(wall))
        .withColumn(
            "quota",
            F.floor(F.col("total") * 0.4 * F.col("w") / F.col("wsum"))
            .cast("bigint"))
        # threshold selection: a cell whose offset is already >= quota
        # contributes nothing — its docs are filtered before any sort
        .where(F.col("offset") < F.col("quota"))
        .select("source", "bucket", "offset", "w", "quota")
    )
    rk = Window.partitionBy("source", "bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("bucket", bucket)
        .join(F.broadcast(cells), ["source", "bucket"])
        .withColumn(
            "mix_rank",
            (F.col("offset") + F.row_number().over(rk)).cast("int"))
        .where(F.col("mix_rank") <= F.col("quota"))
        .select("doc_id", "source", "mix_rank", "w", "quota")
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics (Gopher-style repetition filter
    inputs): most-frequent-token share and distinct-token fraction.  One
    explode + per-(doc, token) count + per-doc max_by with a total tie-break
    (count desc, token asc); ratios are divisions of exact integers."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), " +")).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("tok"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max(F.when(F.col("rn") == 1, F.col("tok"))).alias("top_tok"),
            F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("top_count"),
        )
        .withColumn("top_frac",
                    F.col("top_count").cast("double") / F.col("n_tokens"))
        .withColumn("distinct_frac",
                    F.col("n_distinct").cast("double") / F.col("n_tokens"))
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: per source, take documents in (token count desc,
    doc_id) order while the running total stays within a 600-token budget —
    the per-domain cap step of corpus mixing.  One window cumsum per source
    partition; everything integer-exact."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    with_n = docs.withColumn(
        "n_tokens", F.size(F.split(F.trim("text"), " +")).cast("bigint"))
    w = (Window.partitionBy("source").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        with_n.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= 600)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


PACK_SCHEMA = ("doc_id long, source string, n_tokens bigint, "
               "seq_id int, seq_offset bigint")


def greedy_pack_assignment(n_tokens, budget: int):
    """The greedy fill itself, factored so every packing surface (the
    contract operator below, jobs/pipeline_job's text-carrying variant) runs
    the IDENTICAL loop: documents in the caller's order fill a sequence until
    the next would overflow ``budget``; oversized documents sit alone.
    Returns parallel (seq_ids, offsets) lists."""
    seqs, offs = [], []
    seq = fill = 0
    for n in n_tokens:
        if fill > 0 and fill + n > budget:
            seq += 1
            fill = 0
        offs.append(fill)
        seqs.append(seq)
        fill += n
    return seqs, offs


def pack_sequences(docs: DataFrame, budget: int = 512) -> DataFrame:
    """Greedy contiguous sequence packing per source (the training-sequence
    assembly step): documents in doc_id order fill a sequence until the next
    one would overflow ``budget`` tokens, which starts a new sequence;
    oversized documents occupy a sequence alone.

    The running (sequence, fill) state is a SEQUENTIAL scan — not expressible
    with window functions — so this is the one pipeline operator that uses the
    grouped-map Pandas surface (``groupBy(source).applyInPandas``): state
    stays per-group and bounded, groups parallelize across executors, and the
    per-group order is total (doc_id), so results are deterministic under any
    partitioning.
    """
    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seqs, offs = greedy_pack_assignment(pdf["n_tokens"], budget)
        pdf["seq_id"] = pd.Series(seqs, dtype="int32")
        pdf["seq_offset"] = pd.Series(offs, dtype="int64")
        return pdf

    with_n = docs.select(
        "doc_id", "source",
        F.size(F.split(F.trim("text"), " +")).cast("bigint").alias("n_tokens"))
    return with_n.groupBy("source").applyInPandas(pack, schema=PACK_SCHEMA)


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(load(spark, sf_dir, "documents"), budget=512)


# --- n-gram LM quality (CCNet-style) -----------------------------------------

# reference-slice selector + min-count prune for the bigram model; bucket
# cutpoints fit the synthetic corpus so all three buckets are non-empty at
# sf0.01 AND sf0.1 (the model trains on 10x data at sf0.1, so OOV rates drop)
LM_REF_MOD = 5
LM_REF_RESIDUE = 0
LM_MIN_COUNT = 2
LM_HEAD_MAX_OOV = 0.005
LM_MID_MAX_OOV = 0.03


def _lm_bigrams(docs: DataFrame) -> DataFrame:
    from ocr_engine_spark.operators.dedup import _shingle_array

    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    return docs.withColumn("sh", _shingle_array(k=2)).select(
        "doc_id", "is_ref", F.explode("sh").alias("bigram"))


def lm_bigram_model(docs: DataFrame,
                    min_count: int = LM_MIN_COUNT) -> DataFrame:
    """The ``(bigram, c)`` model ``lm_quality_scored`` trains on the
    ``is_ref`` rows of ``docs``, pruned at ``min_count`` — for callers that
    materialize it once, check it, and pass it back in as ``model``."""
    return (
        _lm_bigrams(docs).where(F.col("is_ref"))
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count))


def lm_quality_scored(docs: DataFrame,
                      min_count: int = LM_MIN_COUNT,
                      model: DataFrame | None = None) -> DataFrame:
    """CCNet-style n-gram language-model quality scoring over a frame carrying
    (doc_id, text, is_ref boolean): train a word-bigram count model on the
    ``is_ref`` rows, score every other document by how familiar its bigrams
    are to the model, and bucket into head / middle / tail.  ``lm_quality``
    (the contract row) derives ``is_ref`` from a doc_id residue; the pipeline
    job derives it from ``xxhash64(conv_id)`` — any deterministic held-in
    slice works.

    This is the LM-perplexity filter of CCNet/RefinedWeb re-expressed with
    INTEGER-EXACT arithmetic (the q_tfidf convention): instead of summed
    ``ln(p)`` — whose libm last-ULP differences would break cross-engine
    value-hashing — the score is the out-of-vocabulary bigram rate plus a
    mean-reference-count familiarity, each a SINGLE division of exact int64
    sums (bit-identical IEEE in Spark and DuckDB).  Monotone in the same
    signal a smoothed bigram perplexity orders by.

    Plan shape: one explode -> one map-side-combinable count on bigram (the
    model; ``min_count`` pruning bounds it by construction), broadcast join of
    the pruned model against the corpus bigram stream, then one
    map-side-combinable per-doc aggregation — the shuffle carries one row per
    (doc, task), never the bigram stream.  At 100 TB with an unbounded-vocab
    model the broadcast becomes a shuffle hash join on bigram followed by the
    same per-doc re-agg (the tfidf two-shuffle shape); min-count pruning keeps
    the model side orders of magnitude below the corpus either way.

    Reference stake: the E3/E4 detection + scoring composition
    (/root/reference/src/utils.py score-threshold gate) lifted to corpus
    statistics — score, then gate on the score, as a declarative plan.

    Every doc appears in the output: the ``_shingle_sql`` floor of
    ``greatest(n_tokens - 1, 1)`` gives empty/one-token docs a single
    (typically OOV) shingle, identically in both engines.  NULL text is
    coalesced to '' first — Spark's ``explode(split(NULL))`` would drop the
    row, while DuckDB's ``greatest`` skips NULLs and emits the empty shingle;
    the coalesce pins both engines to the latter.

    ``model``: ``lm_bigram_model(docs, min_count)`` already built (and, in
    the pipeline job, materialized and checked non-empty); None builds it.
    """
    from pyspark.sql.functions import broadcast

    if model is None:
        model = lm_bigram_model(docs, min_count)
    corpus = _lm_bigrams(docs).where(~F.col("is_ref"))
    per_doc = (
        corpus.join(broadcast(model), "bigram", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
             .alias("n_oov"),
             F.coalesce(F.sum("c"), F.lit(0)).alias("ref_mass")))
    oov = F.col("n_oov").cast("double") / F.col("n_bigrams").cast("double")
    fam = F.col("ref_mass").cast("double") / F.col("n_bigrams").cast("double")
    return per_doc.select(
        "doc_id", "n_bigrams", "n_oov", "ref_mass",
        oov.alias("oov_rate"), fam.alias("familiarity"),
        F.when(oov <= LM_HEAD_MAX_OOV, "head")
        .when(oov <= LM_MID_MAX_OOV, "middle")
        .otherwise("tail").alias("bucket"))


def lm_quality(docs: DataFrame, ref_residue: int = LM_REF_RESIDUE,
               modulus: int = LM_REF_MOD,
               min_count: int = LM_MIN_COUNT) -> DataFrame:
    """``lm_quality_scored`` with the contract row's reference slice:
    ``doc_id % modulus == ref_residue``."""
    return lm_quality_scored(
        docs.withColumn("is_ref",
                        F.col("doc_id") % modulus == ref_residue),
        min_count=min_count)


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_quality(load(spark, sf_dir, "documents").select("doc_id", "text"))


# --- URL/domain blocklist filter ----------------------------------------------

# deterministic URL plant (the raw corpus carries no URLs) + the blocked-domain
# list: domains d<i>.example with i % 7 == 3 for i in [0, DOMAIN_MOD)
DOMAIN_MOD = 37
BLOCKED_DOMAINS = tuple(
    f"d{i}.example" for i in range(DOMAIN_MOD) if i % 7 == 3)
_URL_RE = r"https?://([A-Za-z0-9.-]+)/"


def domain_filter(docs: DataFrame) -> DataFrame:
    """URL-blocklist filtering — the domain-level cleaning stage every web
    pretraining pipeline (C4, RefinedWeb) runs before content filters.

    URLs are planted deterministically (each doc gets
    ``http://d<doc_id % 37>.example/p/<doc_id>`` appended; the synthetic corpus
    has none), the domain is parsed back out with a regex whose semantics are
    identical in Java regex and RE2/DuckDB, and docs whose domain sits on the
    blocklist are dropped by a broadcast anti-join (blocklists are bounded:
    curated, human-size).  Survivors keep (doc_id, domain, n_chars).

    Plan shape: one scan, one regexp_extract, one broadcast anti-join — no
    shuffle of the corpus at any scale.  Reference stake: the F1
    include/exclude manifest filter (/root/reference/run.py:100-101) with the
    filter key COMPUTED from document content instead of declared.
    """
    spark = docs.sparkSession
    from pyspark.sql.functions import broadcast

    blocked = spark.createDataFrame(
        [(d,) for d in BLOCKED_DOMAINS], "domain string")
    # coalesce first: concat null-propagates in BOTH engines, and a NULL
    # payload would then diverge (Spark's anti-join keeps a NULL domain, the
    # oracle's NOT IN drops it) — with '' the planted URL is unconditional
    payload = F.concat(
        F.coalesce(F.col("text"), F.lit("")), F.lit(" http://d"),
        (F.col("doc_id") % DOMAIN_MOD).cast("string"),
        F.lit(".example/p/"), F.col("doc_id").cast("string"))
    with_domain = docs.select(
        "doc_id", "n_chars",
        F.regexp_extract(payload, _URL_RE, 1).alias("domain"))
    return (
        with_domain.join(broadcast(blocked), "domain", "left_anti")
        .select("doc_id", "domain", "n_chars"))


def q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain_filter(
        load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars"))
