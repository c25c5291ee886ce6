"""Property fuzz for the NATIVE simple path: for arbitrary prose turns
(newline/unicode-whitespace soup, no tabs, no FIG markers), routing through
the pure-Catalyst branch must produce byte-identical output to the pandas
kernel (``extract_batch`` run directly on the same rows).  This is the generative version of the r1 ADVICE-high bug
(F.trim vs Python str.strip at the 40-char gate), which a fixed fixture
could not have caught."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sparkx.pipeline import extract_blocks
from sparkx.schemas import TRANSCRIPTS
from tests.conftest import assert_routed_equals_kernel

_WS_HEAVY = st.lists(
    st.sampled_from(
        list("ab .,!?\n\r\x0b\x0c\x1c\x85\xa0  　")
        + ["word", "the quick brown fox "]
    ),
    max_size=16,
).map("".join)
_prose = st.one_of(
    st.text(
        alphabet=st.characters(blacklist_characters="\t", blacklist_categories=("Cs",)),
        max_size=90,
    ),
    _WS_HEAVY,
).filter(lambda s: "FIG;mode=" not in s and "\t" not in s)


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


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    texts=st.lists(_prose, min_size=1, max_size=10),
    mode=st.sampled_from(["fastpath", "agentic"]),
)
@example(texts=["a" * 36 + "\n\n\n\n", " " * 5 + "b" * 40], mode="fastpath")
@example(texts=["x" * 39 + "\x1c", " " * 45], mode="agentic")
def test_native_path_equals_kernel_path(spark, texts, mode):
    turns = _frame(texts)
    native = extract_blocks(
        spark.createDataFrame(turns, schema=TRANSCRIPTS), mode=mode
    ).toPandas()
    assert_routed_equals_kernel(native, turns, mode)
    # all-prose input ⇒ every block rode the native branch, one per turn
    assert len(native) == len(texts)


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-x", "-q"])
