"""Equivalence gate for the r6 native structured fast paths: single-line
figure turns and all-tab-line (table) turns must produce byte-identical
output whether routed through the pure-Catalyst claim or run through the
pandas kernel (``extract_batch`` called directly on the same rows).
Adversarial shapes cover the claim-narrowing rules (Java vs Python regex
line terminators, Unicode digits, overlong dims, captions with tabs) — rows
the native path must NOT claim still compare equal because the router sends
them to the kernel."""

from __future__ import annotations

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


# deterministic adversarial battery — the narrowing rules, one per row
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
    "cell with FIG;mode= marker\tother",  # tab + FIG substring → kernel
    "a\tb\nc\td",  # 2-row all-tab table → claimed alive
    "a\tb\rc",  # \r stays in line; not claimed
    # multi-line table shapes (claimed) and near-misses (kernel)
    "col_0\tcol_1\tcol_2\n12\t\t417\nalpha\t5\tgamma",
    "h1\th2\nr1a\tr1b\nr2a\tr2b\nr3a\tr3b",
    'cell "quoted"\tback\\slash\nv1\tv2',  # JSON escaping in header
    "a\tb\nragged-solo-cell\tx\ty\tz",  # ragged rows NOT padded
    "(cid:123)\tglyph\n1\t2",  # glyph table
    "a\tb\nno-tab-line\nc\td",  # tab-free middle line → kernel
    "a\tb\nc\td\n",  # trailing newline → empty last line → kernel
    "a\tb\n\nc\td",  # empty middle line → kernel
    "with <!-- schema: {x} --> inside\tb\nc\td",  # schema-marker cell
    "a\tb [[LOWCONF]]\nc\td",  # lowconf marker inside table cells
    "\t\n\t",  # empty cells only, 2 rows → claimed alive
    "long\t" + "y" * 3000 + "\nnext\trow",  # >2000 chars → truncation
    "ctl\x07cell\tb\nc\td",  # C0 control in cell → kernel (JSON \\u escape)
]


@pytest.mark.parametrize("mode", ["fastpath", "agentic"])
@pytest.mark.parametrize("validate", [True, False])
def test_native_struct_adversarial(spark, mode, validate):
    _both_routes(spark, _ADVERSARIAL, mode, validate=validate)


def test_native_struct_emit_raw_false(spark):
    _both_routes(spark, _ADVERSARIAL, "fastpath", emit_raw=False)


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


def test_claimed_rows_have_no_python_stage(spark):
    """The claimed shapes must appear in the plan WITHOUT a MapInPandas on
    their branch — one MapInPandas total (the kernel branch survives for
    unclaimed complex rows) — and on a mixed input every row that node is fed
    contains a tab or a ``FIG;mode=`` marker: the router alone decides which
    turns cross into Python, so the kernel never sees a prose turn."""
    import re

    from pyspark.sql import DataFrame

    df = spark.createDataFrame(
        _frame(["FIG;mode=RGB;w=100;h=200;caption=c", "a\tb"]),
        schema=TRANSCRIPTS,
    )
    plan = extract_blocks(df, n_partitions=1)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    n_mip = len(re.findall(r"^\s*\(\d+\)\s+MapInPandas", plan, re.M))
    assert n_mip == 1, f"expected exactly 1 MapInPandas, got {n_mip}"

    mixed = spark.createDataFrame(synth_pandas(n_convs=20, turns_per_conv=10, seed=5),
                                  schema=TRANSCRIPTS)
    stack = [extract_blocks(mixed)._jdf.queryExecution().optimizedPlan()]
    mips = []
    while stack:
        node = stack.pop()
        if node.nodeName() == "MapInPandas":
            mips.append(node)
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    assert len(mips) == 1
    kernel_in = DataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, mips[0].child()),
        spark,
    ).select("text").toPandas().text
    assert 0 < len(kernel_in) < mixed.count()
    assert (kernel_in.str.contains("\t", regex=False)
            | kernel_in.str.contains("FIG;mode=", regex=False)).all()
