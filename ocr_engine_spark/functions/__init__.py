"""SQL-exposable per-stage scalar functions (SURVEY.md §2.10).

Each pipeline stage is also available as a named, registered, Arrow-vectorized
``pandas_udf`` so stages are independently testable and usable from ``spark.sql``:

    from ocr_engine_spark.functions import register_all
    register_all(spark)
    spark.sql("SELECT ocr_extract(text).extracted_text FROM transcripts")

These wrap the same oracle kernels as the fused ``mapInArrow`` path
(ocr_engine_spark/kernel/*) — the semantics live in exactly one place; the fused path
remains the production hot path (one Python crossing per batch instead of one per
expression).  This mirrors the reference's pluggable word-formation surface
(/root/reference/src/ocr.py:19-21) where each stage is an importable function.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from ocr_engine_spark.config import DEFAULT_CONFIG

EXTRACT_RESULT = StructType([
    StructField("extracted_text", StringType()),
    StructField("n_spans", IntegerType()),
    StructField("strip_ratio", DoubleType()),
    StructField("fmt", StringType()),
])


@pandas_udf(StringType())
def ocr_canonicalize(text: pd.Series) -> pd.Series:
    """E1/E2/S7: Unicode NFC + newline/width normalization + deskew, as one scalar."""
    from ocr_engine_spark.kernel.canonicalize import canonicalize, deskew

    cfg = DEFAULT_CONFIG
    return text.map(
        lambda t: deskew(canonicalize(t if t is not None else "", cfg.max_chars))[0])


@pandas_udf(StringType())
def ocr_detect_format(text: pd.Series) -> pd.Series:
    """E4/A6 format vote: the parser (html/markdown/json/plain) with the most
    threshold-passing spans; ties -> first in fixed parser order."""
    from ocr_engine_spark.kernel.canonicalize import canonicalize, deskew
    from ocr_engine_spark.kernel.detect import detect_spans

    cfg = DEFAULT_CONFIG

    def one(t):
        canon, _, _ = deskew(canonicalize(t if t is not None else "", cfg.max_chars))
        fmt, _ = detect_spans(canon, cfg.score_thr, cfg.iou_thr)
        return fmt

    return text.map(one)


@pandas_udf(EXTRACT_RESULT)
def ocr_extract(text: pd.Series) -> pd.DataFrame:
    """The full fused pipeline as a scalar: text -> struct(extracted_text, n_spans,
    strip_ratio, fmt)."""
    from ocr_engine_spark.kernel.pipeline import extract_turn

    rows = [extract_turn(t if t is not None else "", DEFAULT_CONFIG) for t in text]
    return pd.DataFrame({
        "extracted_text": [r["extracted_text"] for r in rows],
        "n_spans": pd.array([r["n_spans"] for r in rows], dtype="int32"),
        "strip_ratio": [r["strip_ratio"] for r in rows],
        "fmt": [r["fmt"] for r in rows],
    })


RECOGNIZE_RESULT = StructType([
    StructField("text", StringType()),
    StructField("conf", DoubleType()),
    StructField("kind", StringType()),
])


@pandas_udf(RECOGNIZE_RESULT)
def ocr_recognize(raw: pd.Series, kind: pd.Series) -> pd.DataFrame:
    """E9-E11 span normalization standalone: (raw, kind) -> struct(text, conf,
    kind) — entity decode, control strip, placeholder remap, whitespace collapse,
    token cap, min-confidence, numeric re-kinding."""
    from ocr_engine_spark.kernel.normalize import recognize_one

    cfg = DEFAULT_CONFIG
    rows = [
        recognize_one(r if r is not None else "", k if k is not None else "text",
                      cfg.placeholder_char, cfg.max_seq_len)
        for r, k in zip(raw, kind)
    ]
    return pd.DataFrame({"text": [r[0] for r in rows],
                         "conf": [r[1] for r in rows],
                         "kind": [r[2] for r in rows]})


@pandas_udf(DoubleType())
def ocr_content_conf(text: pd.Series) -> pd.Series:
    """F2 span-confidence scoring exposed standalone (texty-character fraction)."""
    from ocr_engine_spark.kernel.detect import content_conf

    return text.map(lambda t: content_conf(t if t is not None else ""))


REGISTRY = {
    "ocr_canonicalize": ocr_canonicalize,
    "ocr_detect_format": ocr_detect_format,
    "ocr_extract": ocr_extract,
    "ocr_recognize": ocr_recognize,
    "ocr_content_conf": ocr_content_conf,
}


def register_all(spark) -> None:
    """Make every stage callable from SQL (spark.udf.register)."""
    for name, fn in REGISTRY.items():
        spark.udf.register(name, fn)
