"""Route equality for structured turns: every figure and table shape the
router sends to the kernel branch (any turn with a tab or ``FIG;mode=``)
must come out of the Spark plan, across Arrow, byte-identical to pandas
``extract_batch`` run directly on the same rows.  The adversarial battery
keeps the shapes an earlier native build of single-line figures and
all-tab tables had to get right (Java vs Python regex line terminators,
Unicode digits, overlong dims, captions with tabs, ragged rows, JSON
escaping), and the plan test pins that every such turn, and only such a
turn, crosses into Python.  Every ``(mode, validate, emit_raw)`` combination
is compared on a mix of prose and structured turns, and a warm
``extract_blocks`` call is bounded in Py4J round trips."""

from __future__ import annotations

import itertools
import threading

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sparkx.pipeline import extract_blocks
from sparkx.schemas import TRANSCRIPTS
from sparkx.synth import synth_pandas
from tests.conftest import assert_routed_equals_kernel

_CAPTION = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),
    max_size=30,
)
_MODE = st.sampled_from(["RGB", "OCR", "L", "rgb", "x9"])
_DIM = st.one_of(
    st.integers(min_value=0, max_value=2000),
    st.sampled_from([79, 80, 81, 7, 10**9, 10**10]),
)


@st.composite
def _fig_line(draw):
    m = draw(_MODE)
    w = draw(_DIM)
    h = draw(_DIM)
    cap = draw(_CAPTION)
    return f"FIG;mode={m};w={w};h={h};caption={cap}"


_CELL = st.text(
    alphabet=st.characters(blacklist_characters="\t\n", blacklist_categories=("Cs",)),
    max_size=8,
)
_TAB_LINE = st.lists(_CELL, min_size=2, max_size=5).map("\t".join)
_TAB_MULTI = st.lists(_TAB_LINE, min_size=1, max_size=5).map("\n".join)

_STRUCTURED = st.one_of(_fig_line(), _TAB_LINE, _TAB_MULTI)


def _frame(texts: list[str]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [f"c{i % 2}" for i in range(len(texts))],
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [""] * len(texts),
            "ts": [pd.Timestamp("2026-01-01")] * len(texts),
        }
    )


def _both_routes(spark, texts, mode, validate=True, emit_raw=True):
    turns = _frame(texts)
    routed = extract_blocks(
        spark.createDataFrame(turns, schema=TRANSCRIPTS), mode=mode,
        validate=validate, emit_raw=emit_raw, n_partitions=1,
    )
    assert_routed_equals_kernel(routed.toPandas(), turns, mode, validate, emit_raw)


# deterministic adversarial battery — one shape per row
_ADVERSARIAL = [
    "FIG;mode=RGB;w=100;h=200;caption=plain",
    "FIG;mode=OCR;w=100;h=200;caption=scanned",
    "FIG;mode=L;w=100;h=200;caption=gray",
    "FIG;mode=RGB;w=79;h=200;caption=small w",
    "FIG;mode=RGB;w=100;h=79;caption=small h",
    "FIG;mode=RGB;w=007;h=0200;caption=leading zeros",
    "FIG;mode=RGB;w=100;h=200;caption=",
    "FIG;mode=RGB;w=100;h=200;caption=trailing cr\r",
    "FIG;mode=RGB;w=100;h=200;caption=tab\tin caption",
    "FIG;mode=RGB;w=100;h=200;caption=nel\x85end",
    "FIG;mode=RGB;w=100;h=200;caption=ls end",
    "FIG;mode=RGB;w=100;h=200;caption=ps end",
    "FIG;mode=RGB;w=١٢٣;h=200;caption=unicode digits",  # Python \d matches
    "FIG;mode=RGB;w=10000000000;h=200;caption=overlong w",
    "FIG;mode=RGB;w=100;h=200",  # no caption → not a figure line
    "FIG;mode=;w=100;h=200;caption=empty mode",
    "  FIG;mode=RGB;w=100;h=200;caption=indented (not ^FIG)",
    "prefix FIG;mode=RGB;w=100;h=200;caption=mid-line",
    "FIG;mode=RGB;w=100;h=200;caption=multi\nline",
    "a\tb\tc",
    "only\tone\trow",
    "x\t",
    "\tleading",
    "cell with FIG;mode= marker\tother",  # tab + FIG substring
    "a\tb\nc\td",  # 2-row all-tab table → alive
    "a\tb\rc",  # \r stays in line
    # multi-line table shapes and near-misses
    "col_0\tcol_1\tcol_2\n12\t\t417\nalpha\t5\tgamma",
    "h1\th2\nr1a\tr1b\nr2a\tr2b\nr3a\tr3b",
    'cell "quoted"\tback\\slash\nv1\tv2',  # JSON escaping in header
    "a\tb\nragged-solo-cell\tx\ty\tz",  # ragged rows NOT padded
    "(cid:123)\tglyph\n1\t2",  # glyph table
    "a\tb\nno-tab-line\nc\td",  # tab-free middle line
    "a\tb\nc\td\n",  # trailing newline → empty last line
    "a\tb\n\nc\td",  # empty middle line
    "with <!-- schema: {x} --> inside\tb\nc\td",  # schema-marker cell
    "a\tb [[LOWCONF]]\nc\td",  # lowconf marker inside table cells
    "\t\n\t",  # empty cells only, 2 rows → alive
    "long\t" + "y" * 3000 + "\nnext\trow",  # >2000 chars → truncation
    "ctl\x07cell\tb\nc\td",  # C0 control in cell (JSON \\u escape)
]


@pytest.mark.parametrize("mode", ["fastpath", "agentic"])
@pytest.mark.parametrize("validate", [True, False])
def test_native_struct_adversarial(spark, mode, validate):
    _both_routes(spark, _ADVERSARIAL, mode, validate=validate)


def test_native_struct_emit_raw_false(spark):
    _both_routes(spark, _ADVERSARIAL, "fastpath", emit_raw=False)


def _mixed_turns() -> pd.DataFrame:
    return pd.concat(
        [_frame(_ADVERSARIAL), synth_pandas(n_convs=6, turns_per_conv=8, seed=11)],
        ignore_index=True,
    )


@pytest.mark.parametrize(
    "mode,validate,emit_raw",
    list(itertools.product(["fastpath", "agentic"], [True, False], [True, False])),
)
def test_every_combination_equals_kernel(spark, mode, validate, emit_raw):
    """Each ``(mode, validate, emit_raw)`` combination, on prose and
    structured turns together, equals the pandas kernel on the same turns:
    the only route-equality check of native prose with ``validate=False`` or
    ``emit_raw=False``."""
    turns = _mixed_turns()
    df = spark.createDataFrame(turns, schema=TRANSCRIPTS)
    routed = extract_blocks(df, mode=mode, validate=validate, emit_raw=emit_raw,
                            n_partitions=1).toPandas()
    assert ("raw_content" in routed.columns) == emit_raw
    assert_routed_equals_kernel(routed, turns, mode, validate, emit_raw)


def test_warm_extract_blocks_crosses_py4j_rarely(spark):
    """Counted, not timed: a warm ``extract_blocks`` call builds the native
    prose ``Project`` and applies it in well under 1,000 Py4J round trips
    (737 on these turns; a memoized build took ~320), so a native Column
    tree that grows back fails here.  Only the calling thread's commands count: Py4J's
    finalizer thread sends the deletes of earlier calls' garbage through the
    same client whenever it drains its queue."""
    extract_blocks(spark.createDataFrame(_mixed_turns(), schema=TRANSCRIPTS))  # warm-up
    df = spark.createDataFrame(_mixed_turns(), schema=TRANSCRIPTS)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    trips = 0
    caller = threading.current_thread()

    def counting(*args, **kwargs):
        nonlocal trips
        trips += threading.current_thread() is caller
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        extract_blocks(df)
    finally:
        client.send_command = send
    assert 0 < trips < 1000, f"{trips} Py4J round trips for one warm extract_blocks"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    texts=st.lists(_STRUCTURED, min_size=1, max_size=8),
    mode=st.sampled_from(["fastpath", "agentic"]),
)
@example(texts=["FIG;mode=RGB;w=80;h=80;caption="], mode="fastpath")
@example(texts=["FIG;mode=OCR;w=80;h=80;caption=" + "y" * 1200], mode="agentic")
def test_native_struct_fuzz(spark, texts, mode):
    _both_routes(spark, texts, mode)


def _plan_nodes(plan):
    stack, nodes = [plan], []
    while stack:
        node = stack.pop()
        nodes.append(node)
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return nodes


def test_kernel_gets_exactly_the_structured_turns(spark):
    """The router's one rule: the single MapInPandas is fed exactly the turns
    whose text holds a tab or ``FIG;mode=``, and the native branch is a
    plain Project (no Generate) over the rest."""
    from pyspark.sql import DataFrame

    turns = synth_pandas(n_convs=20, turns_per_conv=10, seed=5)
    mixed = spark.createDataFrame(turns, schema=TRANSCRIPTS)
    nodes = _plan_nodes(extract_blocks(mixed)._jdf.queryExecution().optimizedPlan())
    mips = [n for n in nodes if n.nodeName() == "MapInPandas"]
    assert len(mips) == 1
    assert [n.nodeName() for n in nodes if n.nodeName() == "Generate"] == []

    kernel_in = DataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, mips[0].child()),
        spark,
    ).select("conv_id", "turn_idx").toPandas()
    structured = turns[turns.text.str.contains("\t", regex=False)
                       | turns.text.str.contains("FIG;mode=", regex=False)]
    assert 0 < len(structured) < len(turns)
    assert len(kernel_in) == len(structured)
    assert (set(zip(kernel_in.conv_id, kernel_in.turn_idx))
            == set(zip(structured.conv_id, structured.turn_idx)))
