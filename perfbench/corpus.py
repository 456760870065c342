"""Seeded benchmark inputs, cached on disk by seed and size.

Each corpus is one ``generate_transcripts(n, seed=seed)`` call: all seven
payload kinds, Zipfian turn counts and one 100x whale conversation.  The
same seed gives the same inputs.  The generated table is cached, keyed by
seed and size, and three layouts are written from it:

- ``base``: the extract corpus, ``SIZES[size]["convs"]`` conversations, as
  ``BASE_FILES`` parquet files;
- ``stream``: the same rows as ``STREAM_FILES`` smaller files, replayed by
  the stream workload;
- ``pipeline``: ``SIZES[size]["pipeline_convs"]`` conversations plus planted
  adversaries, following the ``BENCH/PIPELINE_RUN.md`` recipe: truncated
  re-runs (``rerun_<id>``, last turn dropped) and gibberish conversations of
  corpus-unique tokens.

Nothing here is timed.  Each layout directory holds ``data/part-*.parquet``
and ``meta.json``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])

# conversations per corpus.  "default" extracts about 190k turns, the size
# the kernel-vs-job gap was first measured at, and pipes the 6,000
# conversations of BENCH/PIPELINE_RUN.md; "tiny" is the smoke-test size
SIZES = {
    "default": {"convs": 10000, "pipeline_convs": 2000},
    "tiny": {"convs": 120, "pipeline_convs": 120},
}
BASE_FILES = 16
STREAM_FILES = 48
RERUN_EVERY = 30        # one truncated re-run per this many conversations
RERUN_MIN_TURNS = 6
RERUN_LAST_SHARE = 0.1  # most of a conversation's words its last turn may hold
GIBBERISH_CONVS = 30
QUALITY_REF_MOD = 20    # run_pipeline's default --quality-ref-mod


def generated(cache_dir: str, seed: int, n_convs: int) -> pa.Table:
    """``generate_transcripts(n_convs, seed=seed)`` as Arrow, cached."""
    path = os.path.join(cache_dir, f"generated-seed{seed}-convs{n_convs}.parquet")
    if not os.path.exists(path):
        from ocr_engine_spark.sources.transcripts import generate_transcripts

        pdf = generate_transcripts(n_convs, seed=seed)
        table = pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False)
        os.makedirs(cache_dir, exist_ok=True)
        pq.write_table(table.replace_schema_metadata(None), path + ".tmp")
        os.replace(path + ".tmp", path)
    return pq.read_table(path)


def _write_files(table: pa.Table, data_dir: str, n_files: int) -> None:
    os.makedirs(data_dir)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(data_dir, f"part-{i:04d}.parquet"))


def _plants(base: pa.Table, seed: int, is_ref) -> tuple:
    """Truncated re-runs of seeded conversations, and gibberish
    conversations whose ids all fall outside the LM reference slice (a
    reference document is never scored, so it could not drop).

    A conversation is re-run only if its last turn holds at most
    ``RERUN_LAST_SHARE`` of its extracted words.  Otherwise the re-run need
    not be a near-duplicate by the job's own measure: a re-run whose dropped
    turn held half the words shares under half its word shingles with the
    original, below the job's 0.5 Jaccard threshold, and rightly survives."""
    import pyarrow.compute as pc

    from ocr_engine_spark.kernel.pipeline import extract_frame_arrow

    pdf = base.to_pandas()
    last = pdf.groupby("conv_id")["turn_idx"].max()
    texts = pa.concat_arrays([
        extract_frame_arrow(rb).column("extracted_text")
        for rb in base.select(["conv_id", "turn_idx", "text"]).to_batches(4096)])
    words = pd.Series(pc.list_value_length(pc.utf8_split_whitespace(texts))
                      .fill_null(0).to_numpy(), index=pdf.index)
    total = words.groupby(pdf["conv_id"]).sum()
    is_last = pdf["turn_idx"] == pdf["conv_id"].map(last)
    last_words = words[is_last].groupby(pdf["conv_id"][is_last]).sum()
    ok = (last + 1 >= RERUN_MIN_TURNS) & (last_words <= RERUN_LAST_SHARE * total)
    eligible = sorted(last[ok].index)
    rng = np.random.RandomState(seed + 1)
    n_reruns = min(len(eligible), max(1, len(last) // RERUN_EVERY))
    picked = sorted(rng.choice(eligible, n_reruns, replace=False))
    rr = pdf[pdf["conv_id"].isin(picked)
             & (pdf["turn_idx"] < pdf["conv_id"].map(last))].copy()
    rr["conv_id"] = "rerun_" + rr["conv_id"]

    candidates = [f"gibberish_{seed}_{i:04d}" for i in range(4 * GIBBERISH_CONVS)]
    ref = is_ref(candidates)
    gib_ids = [c for c in candidates if c not in ref][:GIBBERISH_CONVS]
    t0 = np.datetime64("2026-06-01T00:00:00")
    gib = {k: [] for k in SCHEMA.names}
    for g, cid in enumerate(gib_ids):
        for t in range(4):
            gib["conv_id"].append(cid)
            gib["turn_idx"].append(t)
            gib["role"].append("user")
            gib["text"].append(" ".join(f"zq{seed}g{g}t{t}w{j}" for j in range(12)))
            gib["tool"].append(None)
            gib["ts"].append(t0 + np.timedelta64(g * 600 + t * 30, "s"))
    plants = pd.concat([rr, pd.DataFrame(gib)], ignore_index=True)
    plants["turn_idx"] = plants["turn_idx"].astype("int32")
    plants_t = pa.Table.from_pandas(plants, schema=SCHEMA, preserve_index=False)
    return (pa.concat_tables([base, plants_t]),
            sorted(set(rr["conv_id"])), gib_ids)


def _build(path: str, make) -> dict:
    """Create a cached layout atomically: build in a sibling temp dir, then
    rename, so an interrupted build never leaves a half-written cache hit."""
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = make(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["path"] = os.path.join(path, "data")
    return meta


def _meta(table: pa.Table, data_dir: str, seed: int) -> dict:
    files = sorted(os.listdir(data_dir))
    return {
        "seed": seed,
        "conversations": len(set(table.column("conv_id").to_pylist())),
        "turns": table.num_rows, "files": len(files),
        "bytes": sum(os.path.getsize(os.path.join(data_dir, f)) for f in files),
    }


def ensure_inputs(cache_dir: str, layout: str, seed: int, size: str = "default",
                  is_ref=None) -> dict:
    """Return the cached input ``layout`` for ``seed`` (building it on a miss)
    as its meta dict; ``meta["path"]`` is the parquet directory to read.

    ``is_ref(ids) -> set`` names the conversation ids in the pipeline job's
    LM reference slice; only the ``pipeline`` layout needs it."""
    if layout not in ("base", "stream", "pipeline"):
        raise ValueError(f"unknown input layout {layout!r}")
    key = "pipeline_convs" if layout == "pipeline" else "convs"
    n_convs = SIZES[size][key]

    def make(tmp: str) -> dict:
        table = generated(cache_dir, seed, n_convs)
        data = os.path.join(tmp, "data")
        if layout == "pipeline":
            table, reruns, gibberish = _plants(table, seed, is_ref)
            _write_files(table, data, BASE_FILES)
            meta = _meta(table, data, seed)
            meta.update(reruns=reruns, gibberish=gibberish)
            return meta
        _write_files(table, data, BASE_FILES if layout == "base" else STREAM_FILES)
        return _meta(table, data, seed)

    return _build(os.path.join(cache_dir, f"{layout}-seed{seed}-convs{n_convs}"),
                  make)
