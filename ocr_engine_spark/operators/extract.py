"""Spark extraction operator: the distributed wrapper around the oracle kernel.

Design (SURVEY.md §4.2, BASELINE.json north_rule):

- The whole per-turn pipeline is ONE fused Arrow-batched stage (``mapInArrow``):
  scan -> repartition -> python eval -> sink.  This mirrors the reference's single
  batched model call per page (/root/reference/src/ocr.py:161-163) — no per-row Python
  crosses the JVM/Python boundary, and batches stay RecordBatches in both directions
  (the spans list<struct> column is built from flat arrays, never per-span dicts);
  Arrow batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``.
  Batch, checkpointed and streaming extraction all cross the boundary through
  ``_extract_batches_arrow``.
- **Salting for skewed long conversations**: partition key = (conv_id, turn_idx // salt
  block).  Extraction is stateless per turn, so a whale conversation (Zipfian corpus) can
  be split across executors without changing results.  AQE alone cannot split one fused
  Python stage's hot partition, so the salt is explicit (north_rule requirement).
- **Repartition-before-UDF** sizes partitions from the data volume so Arrow batches of
  long payloads stay within executor memory: P ~ total_bytes / target_partition_bytes.
- Column pruning happens before the UDF (select only what the kernel needs) so the
  parquet scan reads 3 of 6 columns (check ReadSchema in .explain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, StringType, StructField,
    StructType,
)

from ocr_engine_spark.config import DEFAULT_CONFIG, EngineConfig

SPAN_TYPE = StructType([
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
    StructField("kind", StringType()),
    StructField("conf", DoubleType()),
    StructField("text", StringType()),
])

EXTRACTED_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("extracted_text", StringType()),
    StructField("spans", ArrayType(SPAN_TYPE)),
    StructField("n_spans", IntegerType()),
    StructField("strip_ratio", DoubleType()),
    StructField("fmt", StringType()),
    StructField("is_blank", BooleanType()),
    StructField("angle", DoubleType()),
    StructField("page_skew", DoubleType()),
])

# defaults for partition sizing; overridable per call
TARGET_PARTITION_BYTES = 64 << 20  # uncompressed text per task
DEFAULT_SALT_BLOCK = 64  # turns of one conversation kept together per salt bucket


def _extract_batches_arrow(cfg: EngineConfig, passthrough: tuple[str, ...] = ()):
    """Arrow-boundary executor closure (``mapInArrow``): the kernel's flat-span
    variant builds the spans list<struct> column directly — no per-span dicts,
    no pandas object column, no from_pandas in the serializer.  Passthrough
    columns are appended ZERO-COPY from the input batch (the kernel emits one
    output row per input row, in order)."""

    def fn(batches):
        import pyarrow as pa

        from ocr_engine_spark.kernel.pipeline import extract_frame_arrow

        for rb in batches:
            out = extract_frame_arrow(rb, cfg)
            if passthrough:
                arrs = list(out.columns) + [rb.column(c) for c in passthrough]
                out = pa.RecordBatch.from_arrays(
                    arrs, names=list(out.schema.names) + list(passthrough))
            yield out

    return fn


def salted_key(salt_block: int = DEFAULT_SALT_BLOCK):
    """Skew-safe shuffle key: hash(conv_id, turn_idx // salt_block).

    Plain hash(conv_id) sends a 100x whale conversation to one task; blocking by
    turn ranges bounds any task's share of a conversation at ``salt_block`` turns.
    """
    return F.xxhash64(
        F.col("conv_id"),
        F.floor(F.col("turn_idx") / F.lit(salt_block)).cast("long"),
    )


AUTO = "auto"  # sentinel for extract_transcripts(num_partitions=AUTO)
AUTO_SKEW_FACTOR = 4.0    # whale file: max size > factor * median size
AUTO_TINY_FILE_BYTES = 4 << 20  # tiny-file storm: median under 4 MiB...
AUTO_TINY_FILE_COUNT = 4        # ...across > 4x parallelism files


def probe_layout_skew(df: DataFrame, target_bytes: int | None = None,
                      skew_factor: float = AUTO_SKEW_FACTOR) -> int | None:
    """Metadata-only skew probe: should this input get the salted exchange?

    Returns a salted partition count, or None for the zero-shuffle path.
    Decision table (every signal comes from ``inputFiles`` + local file
    sizes — no job runs, no RDD conversion):

    - NOT a plain scan (post-join/agg input, createDataFrame), or a local
      file that failed to stat: SALT — the docstring CAUTION case; such
      inputs have no whale bound, and callers choosing AUTO asked us to
      decide.
    - remote scan (hdfs/s3): no shuffle — the scanner byte-bounds its own
      splits, which is the production no-op case.
    - whale file (max > ``skew_factor`` x median, and big enough to matter,
      i.e. above ``target_bytes``): SALT — the Iceberg bucket(conv_id)
      layout where one bucket holds a 100x conversation; measured 3.3x win
      in BENCH/SKEW.md.
    - tiny-file storm (> 4x parallelism files of median < 4 MiB): SALT —
      compaction, or scheduling drowns the kernel.
    - balanced local files: no shuffle.

    The salted count is byte-derived: total * 2 (UTF-16-ish in-memory
    factor) / ``target_bytes``, floored at the default parallelism.
    """
    from ocr_engine_spark.sources.io import scan_file_sizes

    if target_bytes is None:  # bind at call time so tests can scale it down
        target_bytes = TARGET_PARTITION_BYTES
    par = df.sparkSession.sparkContext.defaultParallelism
    kind, sizes = scan_file_sizes(df)
    if kind == "remote":
        return None  # byte-bounded splits bound task work
    if kind != "ok":
        # non-scan input (unbounded upstream skew) or a local stat failure
        # (no whale bound either way) — salt conservatively
        return par * 2
    sizes = sorted(sizes)
    median = sizes[len(sizes) // 2]
    total = sum(sizes)
    by_bytes = max(par, int(total * 2 // target_bytes) + 1)
    if sizes[-1] > max(skew_factor * median, target_bytes):
        return by_bytes  # whale file
    if len(sizes) > AUTO_TINY_FILE_COUNT * par and median < AUTO_TINY_FILE_BYTES:
        return by_bytes  # tiny-file storm: compact through the exchange
    return None


def declare_payload_kind(df: DataFrame, cols: list[str],
                         dispatch_tool_json: bool = False,
                         tool_kind_map: dict[str, str] | None = None
                         ) -> DataFrame:
    """Prune to ``cols``, optionally deriving the declared ``payload_kind``
    column the kernel's S1 dispatch consumes (shared by the lazy
    ``extract_transcripts`` and the checkpointed ``run_extraction`` so the two
    entry points cannot drift on dispatch semantics).

    - ``tool_kind_map``: {tool value -> kind} literal map, JVM-side lookup; a
      miss yields null -> content sniff (the reference reader's
      extension->parser table, /root/reference/src/utils.py:179-188).
    - ``dispatch_tool_json``: any non-null ``tool`` declares tool-JSON.
    - neither: plain column pruning before the UDF.
    """
    if dispatch_tool_json and tool_kind_map:
        raise ValueError("dispatch_tool_json and tool_kind_map are exclusive")
    if tool_kind_map:
        mapping = F.create_map(
            *[F.lit(x) for kv in sorted(tool_kind_map.items()) for x in kv])
        return df.withColumn(
            "payload_kind", mapping[F.col("tool")]).select(*cols, "payload_kind")
    if dispatch_tool_json:
        # derive the declared kind BEFORE pruning: `tool` need not (and should
        # not have to) ride in passthrough for dispatch to work
        return df.withColumn(
            "payload_kind",
            F.when(F.col("tool").isNotNull(), F.lit("json"))
        ).select(*cols, "payload_kind")
    return df.select(*cols)


def plan_num_partitions(df: DataFrame, default_parallelism: int,
                        target_bytes: int = TARGET_PARTITION_BYTES,
                        sample_fraction: float | None = None) -> int:
    """Repartition-before-UDF sizing: estimate payload bytes, divide by target.

    Uses the cheap column-stat path (sum of text lengths); at 100 TB this is a
    metadata-cheap aggregate that Catalyst pushes to a column scan of one column.
    """
    probe = df.select(F.sum(F.length("text")).alias("b"))
    if sample_fraction:
        probe = df.sample(fraction=sample_fraction, seed=1).select(
            (F.sum(F.length("text")) / sample_fraction).alias("b"))
    total = probe.collect()[0]["b"] or 0
    by_bytes = int(total * 2 // target_bytes) + 1  # *2: UTF-16-ish in-memory factor
    return max(default_parallelism, by_bytes)


def extract_transcripts(df: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG,
                        num_partitions: int | None | str = None,
                        salt_block: int = DEFAULT_SALT_BLOCK,
                        passthrough: tuple[str, ...] = (),
                        dispatch_tool_json: bool = False,
                        tool_kind_map: dict[str, str] | None = None
                        ) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> extracted table.

    The kernel runs through ``mapInArrow``: batches stay Arrow RecordBatches
    across the Python boundary in BOTH directions and the spans column is
    built directly as list<struct> from flat arrays
    (kernel/pipeline.extract_frame_arrow) — no per-span dicts, no pandas
    nested-object conversion in the serializer.  It is value-equal row for
    row to the pandas ``extract_frame`` oracle (tests/test_extract_arrow.py).

    ``dispatch_tool_json=True`` enables the S1 payload-kind dispatch
    (/root/reference/src/utils.py:179-188 analogue): turns whose ``tool``
    column is non-null are declared tool-JSON payloads and the kernel parses
    them on the JSON path directly — no content sniffing, no E4 vote — with a
    permissive plain fallback for invalid payloads (S4).  The declared kind
    travels as a ``payload_kind`` column consumed (not emitted) by the kernel.

    ``tool_kind_map`` is the FULLY polymorphic form of the same dispatch: a
    {tool value -> payload kind} mapping (kinds: json/html/markdown/plain)
    declares each turn's parser from its ``tool`` column, covering the whole
    parser set with no sniff — the reference reader's extension->parser table
    rather than its single tool-JSON special case.  Unmapped or null tool
    values sniff as usual; unknown kind strings fall through to the content
    vote inside the kernel (S4 permissive).  Mutually exclusive with
    ``dispatch_tool_json``.

    Pure DataFrame -> DataFrame (lazy); the caller picks the action/sink.
    ``passthrough`` columns of the input ride through the kernel unchanged and are
    appended to the output schema — metadata needed downstream (source tags,
    precomputed raw sizes) flows through in the same pass instead of a join back
    against the input.

    Partitioning policy (measured in BENCH/BASELINE.md):

    - ``num_partitions=None`` (default): NO exchange — the kernel runs directly on the
      source partitions.  Extraction is stateless per turn, so when the scan already
      byte-bounds its splits (parquet/Iceberg ``files.maxPartitionBytes``), task work
      is bounded by bytes regardless of conversation skew, and the salted shuffle
      would only burn CPU moving every payload once.  This is the production path:
      one scan -> one Python stage -> sink, zero shuffles.
    - ``num_partitions=P``: explicit salted repartition — required when the SOURCE
      layout is skew-prone (e.g. Iceberg ``bucket(conv_id)`` where a whale
      conversation concentrates in one file, or tiny-file storms that need
      compaction).  Key = hash(conv_id, turn_idx // salt_block) so a whale
      conversation splits across tasks (AQE cannot split a fused Python stage's hot
      partition on its own).
    - ``num_partitions="auto"`` (the ``AUTO`` sentinel): decide from scan
      METADATA via ``probe_layout_skew`` — whale files and tiny-file storms
      get the salted exchange, balanced local and remote scans stay
      zero-shuffle, and non-scan inputs salt conservatively.  Costs no job.

    CAUTION (non-scan inputs): the no-shuffle default is byte-bounded only when the
    input IS a byte-bounded scan.  A post-join/post-aggregation DataFrame or an
    unknown source layout inherits upstream skew with no whale bound — such call
    sites should pass ``num_partitions`` explicitly (or ``AUTO``, which salts
    them) to get the salted exchange.
    """
    if num_partitions == AUTO:
        num_partitions = probe_layout_skew(df)
    cols = ["conv_id", "turn_idx", "text", *passthrough]
    pruned = declare_payload_kind(df, cols, dispatch_tool_json, tool_kind_map)
    if num_partitions:
        pruned = pruned.repartition(num_partitions, salted_key(salt_block))
    if passthrough:
        schema = StructType(
            list(EXTRACTED_SCHEMA.fields)
            + [pruned.schema[c] for c in passthrough])
    else:
        schema = EXTRACTED_SCHEMA
    return pruned.mapInArrow(
        _extract_batches_arrow(cfg, tuple(passthrough)), schema=schema)


def extracted_ordered(extracted: DataFrame) -> DataFrame:
    """Stable fixture ordering (ORDER BY conv_id, turn_idx) — comparison-time only;
    production output stays unordered with sort keys present (SURVEY.md §4.2.4)."""
    return extracted.orderBy("conv_id", "turn_idx")
