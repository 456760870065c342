"""The vectorized batch fast path must be byte-identical to the per-turn oracle.

`kernel.pipeline.extract_frame` routes plain-format rows through a closed-form
pandas/numpy path; `extract_turn` is the unchanged per-turn oracle.  These tests
pin field-level equality between the two on every corpus we have: the fixture
generator, the bench corpus, handcrafted adversarial payloads, and
hypothesis-generated text (non-default configs included, which disable or
parameterize the fast path).
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_engine_spark.config import DEFAULT_CONFIG
from ocr_engine_spark.kernel.pipeline import extract_frame, extract_turn


def _frame(texts):
    return pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": np.arange(len(texts), dtype="int32"),
        "text": texts,
    })


def assert_frame_matches_oracle(texts, cfg=DEFAULT_CONFIG):
    out = extract_frame(_frame(texts), cfg)
    assert len(out) == len(texts)
    for i, text in enumerate(texts):
        want = extract_turn(text if text is not None else "", cfg)
        row = out.iloc[i]
        assert row["extracted_text"] == want["extracted_text"], (i, text)
        assert list(row["spans"]) == want["spans"], (i, text)
        assert int(row["n_spans"]) == want["n_spans"], (i, text)
        assert float(row["strip_ratio"]) == want["strip_ratio"], (i, text)
        assert row["fmt"] == want["fmt"], (i, text)
        assert bool(row["is_blank"]) == want["is_blank"], (i, text)
        assert float(row["angle"]) == want["angle"], (i, text)
        assert float(row["page_skew"]) == want["page_skew"], (i, text)


ADVERSARIAL = [
    None,
    "",
    " ",
    "\n",
    "\n\n\n",
    "plain single line",
    "  leading and trailing   ",
    "line one\nline two\nline three",
    "first\n\n\nafter blanks",
    "> quoted reply",
    "> > double quoted\n> single\nplain tail",
    ">unspaced quote",
    "> ",                      # quote prefix only -> blank after deskew
    "tab\tinside",             # tab: non-texty token -> conf < 1
    "\ttab leading",
    "trailing tab\t",
    "1,234.56",                # numeric re-kind
    "2024-01-02 13:45:00",
    "price $12.50 each",       # $ is non-texty -> dirty-token min conf
    "(parenthetical) & symbols %",
    "windows\r\nnewline\rmix",
    "unicode é café — naïve's test’s",
    "combining é normalizes",  # NFC changes the string
    "<b>html</b> tags",
    "no tags but a < b comparison",
    "# heading markdown",
    "- list item",
    "1. numbered item",
    "2. two\n3. three",
    "text with [link](http://x) inline",
    "**bold** start",
    '{"json": "payload", "n": 3}',
    "[1, 2, 3]",
    "   {spaced json-ish}",
    "code ``` fence\nbody\n```",
    "placeholder ✪ char",
    "control\x07char",
    "\x1f\x7f",
    "multi  spaces   collapse",
    "ends mid sentence because truncat",
    "> - quoted list item",     # deskew EXPOSES a markdown marker
    "> # quoted heading",
    "x" * 300,
    ("word " * 50).strip() + "\n" + ("tok " * 30).strip(),
    # --- markdown closed-form cases ---
    "# heading\nbody line\n- item one\n- item two",
    "```\ninside fence dropped\n```\nafter fence",
    "```python\ncode\n```",                 # fence with info string
    "```\nunclosed fence to the end\nstill inside",
    "- \n-  \n# ",                          # markers with empty remainders
    "1. first\n2. second\n10. tenth",
    "   - three-space indent marker\n    - four spaces is NOT a marker",
    "**bold at start** then text",
    "[label](http://target) link line\nplain line",
    "a [l1](u1) b [l2](u2) c",
    "mixed **bold** and [link](u) and `tick\nplain",
    "# only-marker doc",
    "- item\n\n\n- item after blanks",
    "> - quoted marker exposed by deskew\n> # quoted heading too",
    "- $12.50 dirty token item",            # dirty-token min-conf on md path
    "- 1,234.56",                           # numeric re-kind on md span
    "# h\n" + "w " * 40,                    # plain parser outnumbers markdown?
    "text line\ntext line\ntext line\n- one marker",  # plain 4 vs md 4 -> tie
    # --- html closed-form cases ---
    "<p>simple paragraph</p>",
    "<div>one</div>\n<div>two</div>\n<div>three</div>",
    "<script>var x = 'dropped';</script>kept text<style>.c{}</style>",
    "<nav>menu</nav><header>head</header>real content<footer>foot</footer>",
    "<!-- comment dropped -->visible<b>bold</b>",
    "before <a href='u'>link text</a> after",       # link penalty zone
    "<a href='u'>only a link line</a>",
    "tag <span\nclass='x'>spans lines</span> here",  # multi-line tag blocks \n
    "<p>multi</p>\nplain line between\n<p>tags</p>",
    "<p>ent &amp; ities &#x27;quoted&#x27;</p>",
    "<p>safe &lt;escaped&gt; &quot;tags&quot;</p>",
    "<p>unsafe &copy; entity</p>",                  # general unescape per run
    "<p>bare & ampersand</p>",                      # bare & left as-is
    "<p># not markdown inside html</p>",
    "- md marker\n<p>plus html tag</p>",            # vote: html vs markdown
    "<b>x</b>\nplain one\nplain two\nplain three",  # plain may outnumber html
    "<p>gap</p>    <p>same line groups</p>",        # within-line ' ' stitch
    "<p>a</p>" + " " * 30 + "<p>far apart</p>",     # x-gap > max_x_dist
    "<p>12,345.67</p>",                             # numeric re-kind on html
    "<p>  \t  </p>",                                # whitespace-only run
    "<p></p><i></i>",                               # no runs at all
    "<p>" + "tok " * 60 + "</p>",
    # --- json closed-form cases ---
    '{"tool": "search", "args": {"q": "spark rows", "limit": 17}}',
    '[1, 2.5, -3e2, "four"]',
    '{"empty": "", "ws": "   ", "n": 0}',           # empty/blank string values
    '{"key": "value with spaces", "num_like": "12.5"}',
    '{"a": {"deep": ["x", {"y": 1}]}}',
    '{\n  "multi": 1,\n  "line": [2, 3]\n}',
    '{"broken": json without quotes}',              # invalid -> plain closed form
    "[not json either",
    '{"esc": "a\\nb"}',                             # escape decode per span
    '{"trailing": 1,}',                             # invalid -> plain
    "   [0]",
    # --- placeholder (E11) cases on every format ---
    "✪",
    " ✪ ✪ ",
    "plain ✪ remap",
    "✪leading and trailing✪",
    "all ✪✪✪ dropped\nnext line",
    "<p>html ✪ inside</p>",
    "- md ✪ item\n# ✪",
    '{"k": "json ✪ value"}',
    # --- general entity / escape decode on the closed forms ---
    "<p>&copy; 2026 &nbsp; spaced &#65;&#x42;</p>",
    "<p>&#10;newline ref&#9;tab ref&#7;control ref</p>",
    "<p>&bogus; &amp not-terminated &ampx</p>",
    '{"esc": "line\\nbreak", "tab": "a\\tb", "uni": "caf\\u00e9"}',
    '{"ctrl": "bell\\u0007here", "emoji": "\\ud83d\\ude00"}',
    '{"bs": "back\\\\slash", "q": "said \\"hi\\""}',
    "> quoted ✪",
]


def test_adversarial_corpus_matches_oracle():
    assert_frame_matches_oracle(ADVERSARIAL)


def test_generator_corpus_matches_oracle():
    from ocr_engine_spark.sources.transcripts import generate_transcripts

    pdf = generate_transcripts(60, seed=313, whale_factor=3)
    assert_frame_matches_oracle(list(pdf["text"]))


def test_nondefault_configs_match_oracle():
    texts = ADVERSARIAL  # the FULL list: html/json fixtures must see overrides too
    # truncation cap exercises the max_chars slice; tiny max_seq_len exercises
    # the token-bound demotion; higher score_thr drops low-conf lines; margins
    # disable the vectorized path entirely
    for cfg in (
        DEFAULT_CONFIG.override(max_chars=16),
        DEFAULT_CONFIG.override(max_seq_len=3),
        DEFAULT_CONFIG.override(score_thr=0.9),
        DEFAULT_CONFIG.override(extend_span_start=0.1, extend_span_end=0.05),
        DEFAULT_CONFIG.override(word_formation_mode="tesseract"),
        DEFAULT_CONFIG.override(word_formation_mode="mmocr"),
        DEFAULT_CONFIG.override(word_formation_mode="word_group"),
    ):
        assert_frame_matches_oracle(texts, cfg)


def test_bench_corpus_slice_matches_oracle():
    """The first 4,000 turns of the seed-7 bench corpus.  Turns are generated
    conversation by conversation from one seeded stream, so 400 conversations
    give the same leading rows as the full bench corpus."""
    from ocr_engine_spark.sources.transcripts import generate_transcripts

    pdf = generate_transcripts(400, seed=7).iloc[:4000][
        ["conv_id", "turn_idx", "text"]].reset_index(drop=True)
    out = extract_frame(pdf)
    for i in range(len(pdf)):
        want = extract_turn(pdf["text"].iat[i] or "")
        row = out.iloc[i]
        assert row["extracted_text"] == want["extracted_text"]
        assert list(row["spans"]) == want["spans"]
        assert float(row["strip_ratio"]) == want["strip_ratio"]
        assert float(row["angle"]) == want["angle"]


@settings(max_examples=200, deadline=None)
@given(st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_categories=("Cs",)),
        max_size=120),
    min_size=1, max_size=8))
def test_hypothesis_text_matches_oracle(texts):
    assert_frame_matches_oracle(texts)


def test_pathological_configs_match_oracle():
    """Config edges that disable or reshape the closed forms: negative NMS
    threshold (greedy suppression of disjoint spans), disabled token cap, and
    an empty placeholder char."""
    texts = ADVERSARIAL
    for cfg in (
        DEFAULT_CONFIG.override(iou_thr=-0.5),
        DEFAULT_CONFIG.override(max_seq_len=0),
        DEFAULT_CONFIG.override(placeholder_char=""),
        DEFAULT_CONFIG.override(score_thr=0.15),   # html path must disable
        # stitch-bound edges: the 'line' closed form is only proven for
        # 0 < y_overlap_threshold < 1 and 0 <= max_running_y_shift_degree < 90
        DEFAULT_CONFIG.override(y_overlap_threshold=-0.5),
        DEFAULT_CONFIG.override(y_overlap_threshold=0.0),
        DEFAULT_CONFIG.override(y_overlap_threshold=1.0),
        DEFAULT_CONFIG.override(y_overlap_threshold=1.5),
        DEFAULT_CONFIG.override(max_running_y_shift_degree=-10),
        DEFAULT_CONFIG.override(max_running_y_shift_degree=95),
    ):
        assert_frame_matches_oracle(texts, cfg)


def test_out_of_bounds_stitch_configs_run_live_greedy():
    """Outside the proven bounds the per-turn pipeline must produce the LIVE
    greedy stitch's output, not lines_closed_form's: at thr<=0 the overlap
    rejection never fires and at thr>=1 the two-line rejection never fires, so
    adjacent lines merge into one row with a nonzero page skew."""
    from ocr_engine_spark.kernel.pipeline import extract_turn

    for thr in (-0.5, 0.0, 1.0, 1.5):
        cfg = DEFAULT_CONFIG.override(y_overlap_threshold=thr)
        r = extract_turn("ab cd\nef gh", cfg)
        assert r["extracted_text"] == "ab cd ef gh", thr
        assert r["page_skew"] != 0.0, thr
    # inside the bounds the closed form (per-line output, zero skew) holds
    r = extract_turn("ab cd\nef gh")
    assert r["extracted_text"] == "ab cd\nef gh"
    assert r["page_skew"] == 0.0
