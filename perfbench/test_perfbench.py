"""Smoke test of the benchmark's own code on a tiny corpus.

    python3 -m pytest perfbench -q

It runs ``run.py`` on every workload untraced and once traced, checks that
every named metric prints with its unit and sample count and that the
traced run records every named span, and checks (without Spark) that an
output whose digest differs from the in-process kernel's is counted as a
failed run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import ladder  # noqa: E402
import run  # noqa: E402


def _bench(*args: str) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args, "--seed", "5",
         "--seconds", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    detail, result = (json.loads(line)
                      for line in p.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    return detail, result


@pytest.mark.parametrize("workload", ["extract", "pipeline", "stream"])
def test_every_end_to_end_metric_prints(workload):
    detail, result = _bench("--workload", workload, "--trace", "0")
    assert result["attempted"] == detail["metrics"]["turns_per_s"]["samples"]
    assert set(result["metrics"]) == set(run.END_TO_END)
    for name, (unit, _) in run.END_TO_END.items():
        assert result["metrics"][name] == {
            "value": detail["metrics"][name]["value"], "unit": unit}
        assert result["metrics"][name]["value"] > 0
        assert detail["metrics"][name]["samples"] >= 1
    assert detail["metrics"]["setup_s"]["samples"] == 1
    assert detail["inputs"]["turns"] > 0 and detail["inputs"]["format_mix"]


def test_traced_run_emits_every_span_and_layer_metric():
    detail, result = _bench("--workload", "extract", "--trace", "1")
    assert set(result["metrics"]) == set(run.PER_LAYER)
    for name, (unit, _) in run.PER_LAYER.items():
        assert result["metrics"][name]["unit"] == unit
    assert {s["name"] for s in detail["spans"]} >= set(ladder.SPANS)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    rungs = ("sources.scan_s", "extract.boundary_s", "extract.kernel_s",
             "sources.write_s", "extract.unattributed_s")
    assert sum(m[r] for r in rungs) == pytest.approx(m["checkpoint.run_s"])
    assert m["pipeline.spark_jobs"] > 0 and m["stream.batches"] > 0
    # every gibberish plant drops at the LM gate
    assert m["text_analysis.lowq_dropped"] >= corpus.GIBBERISH_CONVS


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in doc["end_to_end"]] \
        == [(k, u, b) for k, (u, b) in run.END_TO_END.items()]
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] \
        == [(k, u, b) for k, (u, b) in run.PER_LAYER.items()]


def test_digest_mismatch_counts_as_failed_run(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_engine_spark.kernel.pipeline import extract_frame_arrow
    from workloads import Checks, Extract, KernelReference

    inputs = corpus.ensure_inputs(str(tmp_path / "cache"), "base", 5, "tiny")
    wl = Extract()
    wl.reference = KernelReference(inputs, 5)
    src = pq.read_table(inputs["path"], columns=["conv_id", "turn_idx", "text"])
    good = pa.Table.from_batches(
        [extract_frame_arrow(rb) for rb in src.to_batches(4096)])
    texts = good.column("extracted_text").to_pylist()
    texts[len(texts) // 2] += "!"
    bad = good.set_column(good.schema.get_field_index("extracted_text"),
                          "extracted_text", pa.array(texts))

    def write_output(table: pa.Table, name: str) -> str:
        out = tmp_path / name
        (out / "extracted").mkdir(parents=True)
        (out / "run_metrics").mkdir()
        pq.write_table(table, out / "extracted" / "part.parquet")
        pq.write_table(pa.table({"turns": [table.num_rows],
                                 "status": ["done"]}),
                       out / "run_metrics" / "part.parquet")
        return str(out)

    checks = Checks()
    checks.run(wl, None, inputs, write_output(good, "good"), lambda: None)
    assert (checks.attempted, checks.failed) == (1, 0)
    checks.run(wl, None, inputs, write_output(bad, "bad"), lambda: None)
    assert (checks.attempted, checks.failed) == (2, 1)
    assert "digest" in checks.problems[0]
