"""End-to-end Spark pipeline vs pure-Python oracle — the per-turn text
equality invariant (FIXTURES.md §5, north_rule)."""

from __future__ import annotations

import pandas as pd
import pytest

from sparkx import oracle as O
from sparkx.pipeline import crossref_edges, extract_blocks, ordered, surviving, type_stats
from sparkx.schemas import TRANSCRIPTS
from sparkx.synth import synth_pandas
from tests.conftest import (
    COMPARE_COLS,
    assert_frames_equal,
    assert_routed_equals_kernel,
    oracle_frame,
)


def _spark_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS)


@pytest.mark.parametrize("mode", ["fastpath", "agentic"])
@pytest.mark.parametrize("validate", [True, False])
def test_per_turn_equality(spark, mode, validate):
    t = synth_pandas(n_convs=25, turns_per_conv=8, seed=11)
    blocks = extract_blocks(_spark_df(spark, t), mode=mode, validate=validate)
    got = blocks.toPandas()
    want = oracle_frame(t, mode=mode, validate=validate)
    assert_frames_equal(got, want)


def test_per_turn_equality_under_skew(spark):
    """One conversation 50× longer than the rest (heavy-tail profile);
    salting must not change any output byte."""
    t = synth_pandas(n_convs=10, turns_per_conv=6, seed=13, skew_conv_turns=300)
    blocks = extract_blocks(_spark_df(spark, t), mode="fastpath", n_partitions=16)
    got = blocks.toPandas()
    want = oracle_frame(t, mode="fastpath", validate=True)
    assert_frames_equal(got, want)
    # the skewed conversation really is spread across partitions
    nparts = (
        blocks.filter("conv_id = 'conv_000000'")
        .select("partition_id")
        .distinct()
        .count()
    )
    assert nparts > 1, "long conversation was not spread by the salt repartition"


def test_chunk_id_deterministic_and_unique(spark):
    t = synth_pandas(n_convs=8, turns_per_conv=6, seed=17)
    df = _spark_df(spark, t)
    a = extract_blocks(df).toPandas().sort_values("chunk_id")
    b = extract_blocks(df).toPandas().sort_values("chunk_id")
    assert list(a.chunk_id) == list(b.chunk_id)
    assert a.chunk_id.is_unique
    # matches the oracle's sha256 derivation
    want = oracle_frame(t, mode="fastpath", validate=True)
    assert set(a.chunk_id) == set(want.chunk_id)


def test_stable_ordering(spark):
    t = synth_pandas(n_convs=6, turns_per_conv=10, seed=19)
    # shuffle input rows — ordering must be reconstructed, not inherited
    t_shuffled = t.sample(frac=1.0, random_state=5).reset_index(drop=True)
    blocks = ordered(extract_blocks(_spark_df(spark, t_shuffled))).toPandas()
    keys = list(
        zip(blocks.conv_id, blocks.turn_idx, blocks.block_rank, blocks.block_idx)
    )
    assert keys == sorted(keys)


def test_crossref_edges(spark):
    t = synth_pandas(n_convs=20, turns_per_conv=6, seed=23)
    blocks = extract_blocks(_spark_df(spark, t), mode="fastpath")
    got = (
        crossref_edges(surviving(blocks))
        .toPandas()
        .sort_values("source_chunk_id")
        .reset_index(drop=True)
    )
    ob = O.run_oracle(t.to_dict("records"), mode="fastpath", validate=True)
    want = (
        pd.DataFrame(O.crossref_links(ob))
        .sort_values("source_chunk_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert list(got.source_chunk_id) == list(want.source_chunk_id)
    assert (got.confidence == 0.8).all()
    assert (got.reference_type == "cross_reference").all()


def test_type_stats_rollup(spark):
    t = synth_pandas(n_convs=15, turns_per_conv=8, seed=29)
    blocks = extract_blocks(_spark_df(spark, t))
    stats = {r.chunk_type: r.n_chunks for r in type_stats(blocks).collect()}
    ob = O.run_oracle(t.to_dict("records"), mode="fastpath", validate=True)
    live = [b for b in ob if b.status in ("accepted", "corrected")]
    for ct in ("text", "table", "figure"):
        assert stats.get(ct, 0) == sum(1 for b in live if b.chunk_type == ct)
    assert stats["TOTAL"] == len(live)


def test_min_text_gate_python_strip_semantics(spark):
    """ADVICE r1 (high): the native simple path must strip the PYTHON
    whitespace set, not just spaces — 'a'*36 + '\\n\\n\\n\\n' is dropped_short
    on every route (kernel, native, oracle).  Boundary cases around 40 chars
    with trailing \\n/\\r/unicode whitespace: the routed plan (these prose
    turns ride its native branch) equals both the oracle and the pandas
    kernel run directly on the same turns."""
    texts = [
        "a" * 36 + "\n\n\n\n",          # 40 raw, 36 stripped → dropped
        "b" * 40 + "\r\n",              # 40 stripped → accepted
        "c" * 39 + " ",                 # 39 stripped → dropped
        "　" + "d" * 40 + " ",  # unicode ws both ends → accepted
        "e" * 39 + "\x1c",              # file-separator char → dropped
        " " * 5 + "f" * 40,             # leading spaces → accepted
        "g" * 43,                        # plain accepted
        " " + "h" * 39,            # line-sep ws → dropped
    ]
    t = pd.DataFrame(
        {
            "conv_id": [f"ws{i}" for i in range(len(texts))],
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [""] * len(texts),
            "ts": [pd.Timestamp("2026-01-01")] * len(texts),
        }
    )
    want = oracle_frame(t, mode="fastpath", validate=True)
    got = extract_blocks(_spark_df(spark, t), mode="fastpath").toPandas()
    assert_frames_equal(got, want)
    assert_routed_equals_kernel(got, t, "fastpath")
    statuses = dict(zip(want.conv_id, want.status))
    assert statuses == {
        "ws0": "dropped_short", "ws1": "accepted", "ws2": "dropped_short",
        "ws3": "accepted", "ws4": "dropped_short", "ws5": "accepted",
        "ws6": "accepted", "ws7": "dropped_short",
    }


def test_py_ws_matches_python_isspace():
    """PY_WS is exactly the str.isspace() codepoint set (all 0x110000)."""
    from sparkx.pipeline import PY_WS

    expected = [c for c in map(chr, range(0x110000)) if c.isspace()]
    assert sorted(PY_WS) == sorted(expected)


def test_role_and_tool_agnostic(spark):
    """Extraction never branches on role/tool (router.py:40 routes only on
    content type)."""
    t = synth_pandas(n_convs=6, turns_per_conv=6, seed=31)
    t2 = t.copy()
    t2["role"] = "tool"
    t2["tool"] = "browser"
    a = extract_blocks(_spark_df(spark, t)).toPandas()
    b = extract_blocks(_spark_df(spark, t2)).toPandas()
    assert_frames_equal(a, b, cols=[c for c in COMPARE_COLS])
