from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from sparkx import oracle as O
from sparkx.kernels.extract import OUTPUT_COLUMNS, extract_batch


@pytest.fixture(scope="session")
def spark():
    from sparkx.session import build_session

    s = build_session("sparkx-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def oracle_frame(turns: pd.DataFrame, mode: str, validate: bool) -> pd.DataFrame:
    """Run the pure-Python oracle and shape it like the Spark output."""
    blocks = O.run_oracle(turns.to_dict("records"), mode=mode, validate=validate)
    rows = []
    for b in blocks:
        rows.append(
            {
                "chunk_id": b.chunk_id,
                "conv_id": b.conv_id,
                "turn_idx": b.turn_idx,
                "chunk_type": b.chunk_type,
                "block_rank": b.block_rank,
                "block_idx": b.block_idx,
                "raw_content": b.raw_content,
                "structured_text": b.structured_text,
                "intuition_summary": b.intuition_summary,
                "key_concepts": b.key_concepts,
                "confidence": b.confidence,
                "agent_notes": b.agent_notes,
                "retried": b.retried,
                "is_valid": b.is_valid,
                "verdict_score": b.verdict_score,
                "validator_notes": b.validator_notes,
                "was_corrected": b.was_corrected,
                "status": b.status,
            }
        )
    return pd.DataFrame(rows)


SORT_KEYS = ["conv_id", "turn_idx", "block_rank", "block_idx"]

COMPARE_COLS = [
    "chunk_id",
    "chunk_type",
    "raw_content",
    "structured_text",
    "intuition_summary",
    "confidence",
    "agent_notes",
    "retried",
    "was_corrected",
    "status",
]


def assert_frames_equal(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, cols=None):
    cols = cols or COMPARE_COLS
    a = spark_pdf.sort_values(SORT_KEYS, kind="stable").reset_index(drop=True)
    b = oracle_pdf.sort_values(SORT_KEYS, kind="stable").reset_index(drop=True)
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}"
    for col in cols:
        av, bv = a[col].tolist(), b[col].tolist()
        bad = [i for i, (x, y) in enumerate(zip(av, bv)) if x != y]
        assert not bad, (
            f"column {col!r} first mismatch at {bad[0]}: "
            f"spark={av[bad[0]]!r} oracle={bv[bad[0]]!r} "
            f"key={a.iloc[bad[0]][SORT_KEYS].tolist()}"
        )


def _plain(v):
    """One cell as plain Python: arrays → lists, NaN/NA → None (the NULL both
    Arrow and Spark store for them), numpy scalars → Python scalars.  NULL
    and [] stay distinct."""
    if isinstance(v, (list, np.ndarray)):
        return [_plain(x) for x in v]
    if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return None
    return v.item() if isinstance(v, np.generic) else v


def assert_routed_equals_kernel(routed: pd.DataFrame, turns: pd.DataFrame,
                                mode: str, validate: bool = True,
                                emit_raw: bool = True) -> None:
    """The routed Spark plan's blocks equal ``extract_batch`` run in pandas
    on the same turns, in every kernel output column but ``ts``.  chunk_id
    is a pure function of the sort keys, so it is not rebuilt here."""
    want = extract_batch(turns.copy(), mode=mode, validate=validate)
    cols = [c for c in OUTPUT_COLUMNS if c != "ts" and (emit_raw or c != "raw_content")]

    def plain(df):
        return pd.DataFrame(
            {c: pd.Series([_plain(v) for v in df[c]], dtype=object) for c in cols}
        )

    assert_frames_equal(plain(routed), plain(want), cols=cols)
