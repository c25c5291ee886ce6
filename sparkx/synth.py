"""Deterministic synthetic transcript generator (seeded; no external data).

Generates the `transcripts` input table of BASELINE.json `input_hint` shape
with the payload families of FIXTURES.md §2, mirroring the reference's golden
fixture mix (6 text / 12 table / 22 figure per 40 chunks in
``output/21_77_chunks.json``) plus boilerplate negatives and skew profiles.

Two generators, both seeded and reproducible:

* :func:`synth_pandas` — pandas frame for pytest fixtures (small).
* :func:`synth_spark` — distributed via ``spark.range`` + native column
  functions, so benchmark inputs at millions of turns are generated on
  executors, never on the driver (scale path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_WORDS = (
    "model data spark table figure extraction pipeline transcript agent "
    "analysis accuracy latency throughput shuffle partition column vector "
    "gradient training evaluation cluster executor memory window ordering"
).split()

ROLES = ["user", "assistant", "tool"]
TOOLS = ["", "search", "python", "browser"]


def _prose(rng: np.random.RandomState, n_words: int) -> str:
    words = rng.choice(_WORDS, size=n_words)
    return "The " + " ".join(words) + " achieved measurable results on the benchmark."


def _table_text(rng: np.random.RandomState, n_rows: int, n_cols: int, glyph: bool = False, ragged: bool = False) -> str:
    rows = []
    header = [f"col_{i}" for i in range(n_cols)]
    rows.append("\t".join(header))
    for r in range(n_rows - 1):
        cells = []
        for c in range(n_cols):
            kind = rng.randint(4)
            if kind == 0:
                cells.append("")  # None/empty cell → str(c or "") == ""
            elif kind == 1:
                cells.append(str(rng.randint(10000)))
            elif glyph and kind == 2:
                cells.append(f"(cid:{rng.randint(9999)})")
            else:
                cells.append(rng.choice(_WORDS))
        if ragged and r == 0 and n_cols > 1:
            cells = cells[: n_cols - 1]  # ragged row NOT padded (parser.py:153-155)
        rows.append("\t".join(cells))
    return "\n".join(rows)


def _figure_line(rng: np.random.RandomState, small: bool = False, ocr: bool = False) -> str:
    if small:
        w, h = int(rng.randint(10, 79)), int(rng.randint(10, 200))
        if rng.randint(2):
            w, h = h, w
    else:
        w, h = int(rng.randint(80, 1200)), int(rng.randint(80, 900))
    mode = "OCR" if ocr else "RGB"
    cap = _prose(rng, 6)
    return f"FIG;mode={mode};w={w};h={h};caption={cap}"


def make_turn_text(rng: np.random.RandomState, family: str) -> str:
    if family == "prose":
        return _prose(rng, int(rng.randint(8, 40)))
    if family == "prose_long":
        return _prose(rng, 450)  # > 2000 chars → exercises the 2000-char truncation
    if family == "short":
        return rng.choice(["ok", "   done.  ", "yes", " ack ", ""])
    if family == "table_md":
        return _table_text(rng, int(rng.randint(2, 8)), int(rng.randint(1, 6)),
                           ragged=bool(rng.randint(2)))
    if family == "table_small":
        return _table_text(rng, 1, int(rng.randint(2, 5)))
    if family == "glyph_table":
        return _table_text(rng, int(rng.randint(2, 6)), int(rng.randint(2, 5)), glyph=True)
    if family == "figure_ref":
        return _figure_line(rng)
    if family == "figure_small":
        return _figure_line(rng, small=True)
    if family == "figure_ocr":
        return _figure_line(rng, ocr=True)
    if family == "crossref_prose":
        kw = rng.choice(["see figure", "table", "section", "refer to"])
        return _prose(rng, 15) + f" For details {kw} 3 in the appendix of this report."
    if family == "multiblock":
        parts = [
            _table_text(rng, int(rng.randint(2, 5)), int(rng.randint(2, 4))),
            _figure_line(rng),
            _prose(rng, int(rng.randint(12, 30))),
            _table_text(rng, int(rng.randint(2, 4)), 2),
            _figure_line(rng, small=True),
        ]
        return "\n".join(parts)
    if family == "lowconf":
        return _prose(rng, 20) + " [[LOWCONF]]"
    raise ValueError(family)


DEFAULT_MIX = {
    "prose": 0.14,
    "prose_long": 0.04,
    "short": 0.16,
    "table_md": 0.16,
    "table_small": 0.04,
    "glyph_table": 0.05,
    "figure_ref": 0.18,
    "figure_small": 0.04,
    "figure_ocr": 0.04,
    "crossref_prose": 0.05,
    "multiblock": 0.06,
    "lowconf": 0.04,
}


def synth_pandas(
    n_convs: int = 20,
    turns_per_conv: int = 10,
    seed: int = 42,
    skew_conv_turns: int = 0,
    mix: dict[str, float] | None = None,
) -> pd.DataFrame:
    """Small, seeded transcripts frame for tests.  If ``skew_conv_turns`` > 0,
    conversation 0 gets that many turns (heavy-tail skew profile)."""
    rng = np.random.RandomState(seed)
    mix = mix or DEFAULT_MIX
    fams = list(mix.keys())
    probs = np.array([mix[f] for f in fams])
    probs = probs / probs.sum()

    rows = []
    base_ts = pd.Timestamp("2026-01-01 00:00:00")
    for ci in range(n_convs):
        conv_id = f"conv_{ci:06d}"
        n_turns = skew_conv_turns if (ci == 0 and skew_conv_turns) else turns_per_conv
        for ti in range(n_turns):
            fam = rng.choice(fams, p=probs)
            role = ROLES[rng.randint(len(ROLES))]
            tool = TOOLS[rng.randint(len(TOOLS))] if role == "tool" else ""
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": np.int32(ti),
                    "role": role,
                    "text": make_turn_text(rng, fam),
                    "tool": tool,
                    "ts": base_ts + pd.Timedelta(seconds=ci * 86400 + ti * 7),
                }
            )
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def write_transcripts_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Write a transcripts frame as Spark-readable parquet (µs timestamps —
    Spark rejects the TIMESTAMP(NANOS) physical type pandas emits by default)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def synth_spark(spark, n_convs: int, turns_per_conv: int, seed: int = 42,
                n_partitions: int | None = None):
    """Distributed generator: builds the same *shape* of data (families keyed
    off deterministic hashes, not the pandas RNG) entirely with native column
    expressions — used for benchmark inputs at millions of turns.
    """
    from pyspark.sql import functions as F

    n = n_convs * turns_per_conv
    df = spark.range(0, n, 1, n_partitions or spark.sparkContext.defaultParallelism)
    conv = F.floor(F.col("id") / turns_per_conv)
    turn = (F.col("id") % turns_per_conv).cast("int")
    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed)))
    fam = (h % 100).cast("int")

    prose = F.concat(
        F.lit("The quick analysis of partition "),
        (h % 982451).cast("string"),
        F.lit(" showed stable throughput and memory headroom across executors. "),
        F.lit("Ordering and shuffle behavior matched expectations in run "),
        (h % 7919).cast("string"),
        F.lit("."),
    )
    long_prose = F.concat(prose, F.lit(" "), F.repeat(F.lit("lorem ipsum dolor sit amet "), 90))
    table = F.concat(
        F.lit("col_0\tcol_1\tcol_2\n"),
        (h % 100).cast("string"), F.lit("\t"), F.lit(""), F.lit("\t"),
        (h % 541).cast("string"), F.lit("\n"),
        F.lit("alpha\t"), (h % 13).cast("string"), F.lit("\tgamma"),
    )
    figure = F.concat(
        F.lit("FIG;mode=RGB;w="), (80 + h % 900).cast("string"),
        F.lit(";h="), (80 + h % 700).cast("string"),
        F.lit(";caption=distribution of scores in bucket "), (h % 64).cast("string"),
    )
    fig_small = F.concat(
        F.lit("FIG;mode=RGB;w="), (10 + h % 60).cast("string"),
        F.lit(";h="), (10 + h % 60).cast("string"), F.lit(";caption=tiny"),
    )
    fig_ocr = F.concat(
        F.lit("FIG;mode=OCR;w="), (80 + h % 300).cast("string"),
        F.lit(";h="), (80 + h % 200).cast("string"),
        F.lit(";caption=scanned page content requiring fallback"),
    )
    crossref = F.concat(prose, F.lit(" For context see figure 2 and table 1."))
    multi = F.concat(table, F.lit("\n"), figure, F.lit("\n"), prose)

    text = (
        F.when(fam < 16, F.lit("ok"))  # short → dropped
        .when(fam < 32, prose)
        .when(fam < 36, long_prose)
        .when(fam < 52, table)
        .when(fam < 56, F.lit("only\tone\trow"))  # table_small → dropped
        .when(fam < 74, figure)
        .when(fam < 78, fig_small)
        .when(fam < 82, fig_ocr)
        .when(fam < 88, crossref)
        .when(fam < 96, multi)
        .otherwise(F.concat(prose, F.lit(" [[LOWCONF]]")))
    )
    return df.select(
        F.format_string("conv_%06d", conv).alias("conv_id"),
        turn.alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            ((h % 3) + 1).cast("int"),
        ).alias("role"),
        text.alias("text"),
        F.when(h % 3 == 2, F.lit("search")).otherwise(F.lit("")).alias("tool"),
        # 1767225600 = 2026-01-01 00:00:00 UTC.  conv offset wraps at 100k so
        # billion-conversation inputs stay inside pandas' ns-timestamp range
        # (a conv*86400 offset overflows Arrow→pandas beyond ~32k convs);
        # within-conversation monotonicity (turn * 7s) is what ordering needs.
        F.timestamp_seconds(
            F.lit(1767225600) + (conv % 100000) * 600 + turn * 7
        ).alias("ts"),
    )
