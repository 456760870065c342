"""Pin the Arrow-boundary kernel (extract_frame_arrow / mapInArrow) to the
pandas ``extract_frame`` oracle it mirrors — frame level and Spark level.

The two share every stage through _extract_frame_impl; what CAN diverge is the
output assembly (flat span arrays -> list<struct> vs per-span dicts), the
winner-row filtering per format, the slow-path flattening, and the
zero-copy conv_id/turn_idx passthrough — all covered here, including the
empty batch, null text, declared-kind dispatch, and passthrough columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from ocr_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from ocr_engine_spark.kernel.pipeline import extract_frame, extract_frame_arrow
from ocr_engine_spark.operators.extract import extract_transcripts
from ocr_engine_spark.sources.transcripts import generate_transcripts


def _assert_batch_equal(pdf_in: pd.DataFrame, cfg: EngineConfig):
    rb = pa.RecordBatch.from_pandas(pdf_in, preserve_index=False)
    out_pd = extract_frame(pdf_in, cfg)
    ar = extract_frame_arrow(rb, cfg).to_pydict()
    assert list(out_pd["conv_id"]) == ar["conv_id"]
    assert [int(x) for x in out_pd["turn_idx"]] == ar["turn_idx"]
    assert list(out_pd["extracted_text"]) == ar["extracted_text"]
    assert [int(x) for x in out_pd["n_spans"]] == ar["n_spans"]
    assert list(out_pd["fmt"]) == ar["fmt"]
    assert list(out_pd["is_blank"]) == ar["is_blank"]
    np.testing.assert_array_equal(out_pd["strip_ratio"], ar["strip_ratio"])
    np.testing.assert_array_equal(out_pd["angle"], ar["angle"])
    np.testing.assert_array_equal(out_pd["page_skew"], ar["page_skew"])
    for a, b in zip(out_pd["spans"], ar["spans"]):
        assert a == b


def test_frame_equivalence_generator_corpus():
    pdf = generate_transcripts(n_convs=300, seed=23)
    _assert_batch_equal(pdf[["conv_id", "turn_idx", "text"]], DEFAULT_CONFIG)


def test_frame_equivalence_edge_rows():
    pdf = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(9)],
        "turn_idx": np.arange(9, dtype="int32"),
        "text": [
            None, "", "   \n \n", "plain\ntwo lines",
            "> quoted\nplain", "# md\n- item\n[l](u)",
            "<p>html &amp; stuff</p><script>x</script>",
            '{"k": "v", "n": [1, 2.5]}',
            "✪✪ placeholder only ✪",
        ]})
    _assert_batch_equal(pdf, DEFAULT_CONFIG)


def test_frame_equivalence_slow_path_config():
    # nonzero margins force the per-turn oracle for EVERY row: covers the
    # flat-mode slow-path span flattening wholesale
    cfg = EngineConfig(extend_span_start=0.1, extend_span_end=0.1)
    pdf = generate_transcripts(n_convs=40, seed=29)
    _assert_batch_equal(pdf[["conv_id", "turn_idx", "text"]], cfg)


def test_frame_equivalence_declared_kind():
    pdf = generate_transcripts(n_convs=60, seed=31)[
        ["conv_id", "turn_idx", "text"]].reset_index(drop=True)
    kinds = np.array(["", "json", "html", "markdown", "plain", "weird"])
    pdf["payload_kind"] = kinds[np.arange(len(pdf)) % len(kinds)]
    _assert_batch_equal(pdf, DEFAULT_CONFIG)


def test_lone_surrogates_take_the_oracle_path():
    # PEP 383 surrogateescape decodes produce valid Python str that is
    # INVALID UTF-8: the pandas kernel must process such rows (per-turn
    # oracle), not crash building the Arrow array, and the clean rows in the
    # same batch must keep their closed-form outputs
    from ocr_engine_spark.kernel.pipeline import extract_turn

    pdf = pd.DataFrame({
        "conv_id": ["c0", "c1", "c2", "c3"],
        "turn_idx": np.arange(4, dtype="int32"),
        "text": ["clean one\nline two", "bad \udce9 surrogate\nmore",
                 "# md stays fast", "\udc80\udc81"]})
    out = extract_frame(pdf)
    for i in range(4):
        o = extract_turn(pdf["text"].iloc[i])
        assert out.iloc[i]["extracted_text"] == o["extracted_text"], i
        assert out.iloc[i]["spans"] == o["spans"], i
        assert out.iloc[i]["fmt"] == o["fmt"], i
    assert out.iloc[1]["extracted_text"]  # surrogate row still extracted


def test_empty_batch():
    pdf = pd.DataFrame({"conv_id": pd.Series([], dtype=object),
                        "turn_idx": pd.Series([], dtype="int32"),
                        "text": pd.Series([], dtype=object)})
    rb = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    out = extract_frame_arrow(rb)
    assert out.num_rows == 0
    assert out.schema.names == list(extract_frame(pdf).columns)


@pytest.mark.usefixtures("spark")
def test_spark_matches_pandas_oracle(spark):
    """The Spark operator (mapInArrow, with a passthrough column) against the
    pandas ``extract_frame`` oracle on the same rows, every output column."""
    pdf = generate_transcripts(n_convs=120, seed=37)
    df = spark.createDataFrame(pdf)
    got = (extract_transcripts(df, passthrough=("role",))
           .orderBy("conv_id", "turn_idx").collect())
    want = extract_frame(pdf[["conv_id", "turn_idx", "text"]])
    want["role"] = pdf["role"].to_numpy()
    want = want.sort_values(["conv_id", "turn_idx"], kind="stable")
    assert len(got) == len(want) == len(pdf)
    assert list(got[0].asDict()) == list(want.columns)
    for g, w in zip(got, want.itertuples(index=False)):
        g = g.asDict(recursive=True)
        w = w._asdict()
        assert g.pop("spans") == list(w.pop("spans")), g["conv_id"]
        assert g == w, g["conv_id"]
