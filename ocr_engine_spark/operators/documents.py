"""Flagship extraction over the driver's ``documents`` table.

Adapts documents(doc_id, text, ...) to the transcript shape (one single-turn
conversation per document) and runs the full fused extraction kernel.  On this corpus
(plain single-line prose) the pipeline provably reduces to trim+whitespace-collapse,
which is what makes the full kernel path oracle-checkable against plain SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_engine_spark.operators.checkpoint import derive_output_keys
from ocr_engine_spark.operators.extract import extract_transcripts
from ocr_engine_spark.operators.relational import load


def extract_documents(spark: SparkSession, sf_dir: str,
                      num_partitions: int | None = None) -> DataFrame:
    if num_partitions is None:
        # the documents table is one small parquet file locally -> one scan split;
        # spread the kernel across cores (at scale the scan itself is split-bounded
        # and extract_transcripts' no-shuffle default applies)
        num_partitions = spark.sparkContext.defaultParallelism * 2
    docs = load(spark, sf_dir, "documents")
    as_turns = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("text"),
    )
    out = extract_transcripts(as_turns, num_partitions=num_partitions)
    return out.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "extracted_text", "n_spans", "strip_ratio",
    )


def q_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_documents(spark, sf_dir)


_DEMO_MANIFEST_DIRS: dict[str, str] = {}  # per-process demo-manifest temp dirs


def q_manifest_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven extraction (J3/S6, /root/reference/run.py:123-128): a REAL
    CSV manifest file — header-validated, bad rows quarantined — semi-joined
    against the corpus BEFORE the kernel runs, so only selected payloads cross the
    Python boundary.

    The demo manifest is derived from the documents table itself (every doc_id with
    doc_id % 20 == 3), so query and oracle agree at EVERY scale factor — no
    hard-coded upper bound.  One malformed row is planted to exercise quarantine.

    The manifest is written DISTRIBUTED (``df.write.csv``) exactly once per
    process+sf_dir into a private ``mkdtemp`` — repeated runs reuse it (no temp
    accumulation, and no overwrite that would invalidate an earlier
    invocation's lazy result), with no O(corpus) driver-side collect and no
    predictable shared temp path another process could pre-create or race on.
    (Demo scaffolding only — a production manifest lives on shared storage; on
    a real cluster this local temp path would not be executor-visible.)
    """
    import tempfile

    from ocr_engine_spark.sources.manifest import (
        read_manifest_csv, write_manifest_distributed,
    )

    docs = load(spark, sf_dir, "documents")
    if sf_dir not in _DEMO_MANIFEST_DIRS:
        # write exactly ONCE per (process, sf_dir): the demo manifest is a
        # deterministic function of the corpus, and re-overwriting the shared
        # dir would delete the files an earlier invocation's still-lazy result
        # DataFrame captured at read time
        csv_dir = os.path.join(
            tempfile.mkdtemp(prefix="ocr_engine_manifest_"), "manifest_csv")
        write_manifest_distributed(
            docs.where(F.col("doc_id") % 20 == 3), csv_dir)
        _DEMO_MANIFEST_DIRS[sf_dir] = csv_dir
    csv_dir = _DEMO_MANIFEST_DIRS[sf_dir]

    manifest, _quarantined = read_manifest_csv(spark, csv_dir)
    picked = docs.join(manifest.select("doc_id"), "doc_id", "left_semi")
    as_turns = picked.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("text"),
    )
    out = extract_transcripts(
        as_turns, num_partitions=spark.sparkContext.defaultParallelism)
    return out.select(
        F.col("conv_id").cast("bigint").alias("doc_id"), "extracted_text", "n_spans")


_HTML_PRE = '<html><script>var x = 1;</script><p>'   # 36 chars
_HTML_MID = '</p><a href="u">'                       # 16 chars (< max_x_dist 20)
_HTML_POST = '</a></html>'                           # 11 chars


def _kernel_payload_spans(spark: SparkSession, sf_dir: str, payload) -> DataFrame:
    """Run the FULL fused kernel over an SQL-constructed payload and explode the
    resulting spans — the contract surface for the non-trivial detect -> NMS ->
    stitch path (offsets, format vote, reading order all value-checked)."""
    docs = load(spark, sf_dir, "documents")
    as_turns = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        payload.alias("text"),
    )
    out = extract_transcripts(
        as_turns, num_partitions=spark.sparkContext.defaultParallelism * 2)
    return (
        out.select(
            F.col("conv_id").cast("bigint").alias("doc_id"),
            "extracted_text", "fmt", "strip_ratio",
            F.posexplode("spans").alias("span_idx", "sp"))
        .select(
            "doc_id", "extracted_text", "fmt", "strip_ratio",
            F.col("span_idx").cast("int").alias("span_idx"),
            F.col("sp.start").alias("start"), F.col("sp.end").alias("end"),
            F.col("sp.kind").alias("kind"), F.col("sp.text").alias("span_text"),
        )
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DOM-heuristic boilerplate-strip path, oracle-checked end to end
    (reference semantics: /root/reference/src/word_formation.py:418-459 over
    detection output): each doc is wrapped into an HTML payload with a <script>
    boilerplate block (dropped wholesale), tag noise (stripped), and an <a> link
    zone (link-density confidence penalty, still above score_thr).  The format
    vote must pick the HTML parser (the plain parse scores below score_thr under
    the tag-noise penalty); the stitcher must merge the two same-row text runs
    into one line with a single space — all reproduced by the SQL oracle from
    the raw text/source columns, so offsets, kinds, reading order, and
    strip_ratio are value-checked, not just goldens."""
    payload = F.concat(
        F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_MID), F.col("source"),
        F.lit(_HTML_POST))
    return _kernel_payload_spans(spark, sf_dir, payload)


def tool_transcripts(docs: DataFrame) -> DataFrame:
    """Reshape the documents corpus into six-column dispatch transcripts
    (BASELINE.json input_hint shape): 50 turns-per-conversation layout, every
    doc_id % 3 == 2 turn a TOOL turn carrying a tool-JSON envelope and a
    non-null ``tool`` column, per-turn timestamps one second apart."""
    is_tool = F.col("doc_id") % 3 == 2
    return docs.select(
        F.concat(F.lit("conv_"), (F.col("doc_id") % 50).cast("string"))
        .alias("conv_id"),
        F.expr("cast(doc_id div 50 as int)").alias("turn_idx"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("user"))
        .when(F.col("doc_id") % 3 == 1, F.lit("assistant"))
        .otherwise(F.lit("tool")).alias("role"),
        F.when(is_tool,
               F.concat(F.lit('{"result": "'), F.col("text"), F.lit('"}')))
        .otherwise(F.col("text")).alias("text"),
        F.when(is_tool, F.lit("search")).alias("tool"),
        F.expr("timestamp'2026-01-01 00:00:00'"
               " + make_interval(0, 0, 0, 0, 0, 0, doc_id)").alias("ts"),
    )


def dispatch_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tool_transcripts run through the full fused kernel with declared-kind
    dispatch, role/tool/ts riding through — the shared upstream of the
    tool-dispatch contract query and the conversation-level operators.

    Deliberately NOT a write-once artifact (contrast dedup.
    materialized_lsh_pairs): each consumer re-running the kernel keeps the
    contract queries independently meaningful (each CORRECTNESS row verifies
    the full kernel->consumer path, and each bench row charges its own whole
    plan), and the shared subtree costs ~1s per consumer at bench scale — the
    LSH artifact existed to stop ~25s of triple work.  A production pipeline
    materializes the extraction output table once (jobs/extract_job.py) and
    assembles from it."""
    transcripts = tool_transcripts(load(spark, sf_dir, "documents"))
    return extract_transcripts(
        transcripts,
        num_partitions=spark.sparkContext.defaultParallelism * 2,
        passthrough=("role", "tool", "ts"),
        dispatch_tool_json=True,
    )


def q_tool_dispatch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 payload-kind dispatch over the FULL six-column input contract
    (BASELINE.json input_hint: conv_id, turn_idx, role, text, tool, ts).

    The documents corpus is reshaped into multi-turn transcripts (50 turns per
    conversation); every doc_id % 3 == 2 turn is a TOOL turn whose payload is a
    tool-JSON envelope and whose ``tool`` column is set.  The engine dispatches
    on the declared kind (/root/reference/src/utils.py:179-188 analogue): tool
    turns parse on the JSON path with NO content sniffing and NO E4 vote
    (kernel/detect.py declared_kind), the rest content-sniff as usual, and
    role/tool/ts pass through the kernel unchanged.  The oracle replays both
    closed forms (json-envelope strip vs plain trim/collapse) plus the
    role/ts derivations, so the whole six-column contract is value-checked."""
    out = dispatch_extracted(spark, sf_dir)
    return out.select(
        "conv_id", "turn_idx", "role", "tool", "ts",
        "extracted_text", "fmt", "n_spans", "strip_ratio")


KIND_TOOLS = {  # tool value -> declared payload kind (S1 polymorphic read)
    "render_plain": "plain",
    "render_markdown": "markdown",
    "render_html": "html",
    "tool_json": "json",
}


def kind_transcripts(docs: DataFrame) -> DataFrame:
    """Four-way declared-kind corpus: doc_id % 4 picks the payload format AND
    the ``tool`` value that declares it (KIND_TOOLS).  The k=0 branch is the
    dispatch-visibility plant: its payload carries a markdown list marker, so
    the content vote would parse it as markdown (marker stripped) — only the
    DECLARED plain kind keeps the literal '- ' prefix in the output."""
    k = F.col("doc_id") % 4
    payload = (
        F.when(k == 0, F.concat(F.lit("- "), F.col("text")))
        .when(k == 1, F.concat(F.lit("# "), F.col("source"),
                               F.lit("\n- "), F.col("text")))
        .when(k == 2, F.concat(F.lit(_HTML_PRE), F.col("text"),
                               F.lit(_HTML_MID), F.col("source"),
                               F.lit(_HTML_POST)))
        .otherwise(F.concat(F.lit('{"result": "'), F.col("text"),
                            F.lit('"}'))))
    tool = (
        F.when(k == 0, F.lit("render_plain"))
        .when(k == 1, F.lit("render_markdown"))
        .when(k == 2, F.lit("render_html"))
        .otherwise(F.lit("tool_json")))
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        payload.alias("text"),
        tool.alias("tool"),
    )


def q_kind_dispatch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 payload-kind dispatch over the FULL parser set — the polymorphic
    reader analogue (/root/reference/src/utils.py:179-188) with a
    tool-value -> kind table instead of the tool-JSON special case.

    Every doc declares one of the four kinds via its ``tool`` value
    (KIND_TOOLS); all four parsers run on their declared path with NO content
    sniff and NO E4 vote.  The k=0 rows prove the bypass is observable: their
    payload '- ' || text would VOTE markdown (marker stripped), but the
    declared plain kind keeps the literal marker and fmt='plain'.  The oracle
    replays all four closed forms (plain keep-marker, markdown two-line
    marker-strip, html boilerplate-strip + stitch, json envelope strip), so
    declared-kind routing, per-format offsets and strip ratios are all
    value-checked."""
    t = kind_transcripts(load(spark, sf_dir, "documents"))
    out = extract_transcripts(
        t, num_partitions=spark.sparkContext.defaultParallelism * 2,
        passthrough=("tool",), tool_kind_map=KIND_TOOLS)
    return out.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "tool", "extracted_text", "fmt", "n_spans", "strip_ratio")


def q_markdown_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The markdown marker-strip + multi-line reading-order path, oracle-checked:
    payload = '# ' || source || newline || '- ' || text.  The markdown parser
    must win the format vote on the TIE with the plain parser (first-parser-wins
    tie rule, the reference's first-best-rotation quirk), leading markers are
    excluded from span offsets, and the two rows stitch into two lines in
    top-y order."""
    payload = F.concat(
        F.lit("# "), F.col("source"), F.lit("\n"), F.lit("- "), F.col("text"))
    return _kernel_payload_spans(spark, sf_dir, payload)


def q_explode_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 multi-part payload explode (the PDF->pages analogue,
    /root/reference/src/utils.py:231-237): one row per sentence part, keeping
    (doc_id, part_idx) exactly like (conv_id, page_idx)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        # ' table ' occurs ~1.7x/doc in the synthetic corpus -> real multi-part rows
        F.posexplode(F.split("text", " table ")).alias("part_idx", "part_text"),
    ).select(
        "doc_id",
        F.col("part_idx").cast("int").alias("part_idx"),
        F.length("part_text").cast("bigint").alias("part_len"),
    )


def explode_parts_range(docs: DataFrame, sep: str = " table ",
                        start: int = 0, end: int | None = None) -> DataFrame:
    """S5 with the part-range slice (/root/reference/src/utils.py:231-237): keep
    parts [start .. end] inclusive, end clamped to the part count exactly like
    ``end_page = min(len(pages), end_page + 1)``; ``end=None`` reads to the end.
    part_idx stays ABSOLUTE (page numbering survives the slice)."""
    parts = F.split("text", sep)
    size = F.size(parts)
    end_excl = size if end is None else F.least(size, F.lit(end + 1))
    length = F.greatest(end_excl - F.lit(start), F.lit(0))
    return docs.select(
        "doc_id", F.posexplode(F.slice(parts, start + 1, length))
        .alias("pos", "part_text"),
    ).select(
        "doc_id",
        (F.col("pos") + start).cast("int").alias("part_idx"),
        F.length("part_text").cast("bigint").alias("part_len"),
    )


def q_explode_parts_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return explode_parts_range(docs, start=1, end=2)


def q_multi_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source ingestion (SURVEY.md §2.7): two table LAYOUTS of the same corpus
    — one carrying (source, n_chars) metadata, one carrying raw text only — merged
    with ``unionByName(allowMissingColumns=True)`` so each source contributes the
    columns it has and nulls the rest.  The union is by NAME, not position: a
    reordered or partial schema can never silently mis-map columns."""
    from ocr_engine_spark.sources.transcripts import union_sources

    docs = load(spark, sf_dir, "documents")
    layout_a = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select("doc_id", "source", "n_chars")
    )
    layout_b = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.length("text").cast("bigint").alias("text_chars"))
    )
    return union_sources([layout_a, layout_b]).select(
        "doc_id", "source", "n_chars", "text_chars")


def q_tsv_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 TSV sink contract (/root/reference/src/dto.py:464-477 format graft):
    one ``start\\tend\\tkind\\ttext`` line per extracted span, formatted by a pure
    column expression (format_string) over the kernel's span structs — the exact
    byte format kernel/tsv.py writes for golden fixtures, value-checked
    cross-engine."""
    docs = load(spark, sf_dir, "documents")
    as_turns = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("text"),
    )
    out = extract_transcripts(
        as_turns, num_partitions=spark.sparkContext.defaultParallelism * 2)
    return (
        out.select(F.col("conv_id").cast("bigint").alias("doc_id"),
                   F.explode("spans").alias("sp"))
        .select(
            "doc_id",
            F.format_string("%d\t%d\t%s\t%s", F.col("sp.start"), F.col("sp.end"),
                            F.col("sp.kind"), F.col("sp.text")).alias("tsv_line"),
        )
    )


def q_output_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 output-key derivation (/root/reference/src/utils.py:251-269) as a pure
    column expression over the corpus — the per-row output naming the reference
    does with os.path joins, with no Python in the plan."""
    docs = load(spark, sf_dir, "documents")
    as_turns = docs.select(
        F.col("doc_id"),
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
    )
    return derive_output_keys(as_turns, "out/run1").select("doc_id", "output_key")


def q_strip_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 strip-ratio aggregation: corpus-level extraction metrics per source, with the
    order-independent exact formula 1 - sum(extracted chars)/sum(raw chars).

    ``source`` and the raw char count ride through the kernel as passthrough
    columns, so the whole query is scan -> kernel -> ONE aggregation shuffle —
    no join back against the input corpus."""
    docs = load(spark, sf_dir, "documents")
    as_turns = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        "text", "source",
        F.length("text").cast("bigint").alias("raw_len"),
    )
    ext = extract_transcripts(
        as_turns, num_partitions=spark.sparkContext.defaultParallelism * 2,
        passthrough=("source", "raw_len"))
    return (
        ext.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("extracted_text")).cast("bigint").alias("extracted_chars"),
            F.sum("raw_len").cast("bigint").alias("raw_chars"),
        )
        .withColumn(
            "strip_ratio",
            F.lit(1.0) - F.col("extracted_chars").cast("double")
            / F.col("raw_chars").cast("double"),
        )
    )
