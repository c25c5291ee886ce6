"""The extraction pipeline: scan → route → native ∪ kernel → lineage → commit.

Spark restatement of the reference ingest path (``src/core/pipeline.py:208-330``,
SURVEY.md §3.1).  Each turn is routed once, per row, into one of two
branches of a single plan:

    transcripts scan
      ├─ native branch: prose turns (no tab, no ``FIG;mode=``) and the
      │  single-line structured shapes the native claims cover
      │    → _native_routed_blocks                   (pure Catalyst, codegen'd;
      │      byte-identical to the kernel on every claimed row)
      └─ kernel branch: every other tab- or ``FIG;mode=``-bearing turn
           → repartition on xxhash64(conv_id, turn_idx)  (skew break, only
             when the input is under-parallel; per-turn extraction is
             embarrassingly parallel)
           → mapInPandas(extract_batch)              (parse + per-type
             process + retry + Checkpoint-A in a single Arrow pass — the
             reference's positional raw↔processed pairing (J1) becomes
             carried-through columns, never a join, SURVEY §4.3)
      → union
      → chunk_id = sha2(conv_id|turn_idx|type|idx)       (native, codegen'd;
        replaces uuid4 models.py:126 for reproducibility)
      → lineage columns (run_id, src_snapshot_id, partition_id, conv_bucket)
      → commit_slice: surviving rows → sink; all rows → metrics sidecar
        (one aggregate, then one generator emits each group's three rows);
        then the slice's manifest rename, the commit point

The router's predicates and the native branch's expression trees name only
columns, never a DataFrame, so they are built once per JVM (the trees once
per ``mode, validate, emit_raw``) and reused by every job, resume group and
stream micro-batch; a call of :func:`extract_blocks` only applies them.

Stable turn ordering is intrinsic to ``(conv_id, turn_idx, ts, block_rank,
block_idx)`` — reconstructed by :func:`ordered` at comparison time, never
depended on physically (north_rule W1 invariant).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from sparkx.kernels.extract import OUTPUT_COLUMNS, extract_batch
from sparkx.schemas import DROP_STATUSES, EXTRACTED, LINEAGE_COLUMNS, SURVIVING_STATUSES
from sparkx.table_sink import DEFAULT_SINK

DEFAULT_BUCKETS = 32

# Python str.strip() whitespace set (exactly the 29 codepoints where
# str.isspace() is True).  The reference gates on len(text.strip()) >= 40
# (parser.py:32,125) with PYTHON strip semantics; the kernel path inherits
# them via pandas .str.strip(), so the native path must btrim the same set —
# F.trim alone strips only ' ' and diverges on trailing \n/\r/unicode spaces.
PY_WS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0 "
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "    　"
)


def py_stripped_len(col) -> Column:
    """F.length of Python-str.strip()'d col — codegen'd (StringTrimBoth)."""
    return F.length(F.btrim(col, F.lit(PY_WS)))


def _kernel(mode: str, validate: bool, cols: list[str],
            it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = extract_batch(pdf, mode=mode, validate=validate)
        yield out[cols]


_COMPLEX_PRED = "contains(text, '\t') OR contains(text, 'FIG;mode=')"

# ── native structured fast paths (r6) ───────────────────────────────────────
# Two structured-payload shapes are fully expressible in Catalyst with
# byte-identical kernel semantics, so they never cross the Python boundary:
#
# * a SINGLE-LINE figure turn (the whole text is one FIG;... line) →
#   one figure block + the kernel's unconditional empty text remainder;
# * a SINGLE-LINE tab-bearing turn (a 1-row table region) → one
#   dropped_table_small table block + the empty text remainder.
#
# Claim predicates are deliberately NARROWER than the kernel's Python
# regexes; any row they do not claim still routes to the kernel, so the
# only correctness obligation is that CLAIMED rows produce identical
# bytes.  Narrowing details:
#
# * no '\n' (single line) and none of Java's extra line terminators
#   ('\r', U+0085, U+2028, U+2029): Python `.`/`$` treat them as ordinary
#   chars (except \n) while Java regex treats them as terminators — a
#   caption ending in '\r' would match BOTH engines with different
#   captured text, so such rows are simply not claimed;
# * `[0-9]{1,9}` instead of `\d+`: Python \d also matches Unicode digits
#   (int() accepts them) and unbounded lengths; ASCII ≤9 digits casts to
#   long identically in both engines.  A line Java matches is always a
#   line Python matches with the same groups.
_JAVA_EOL_CHARS = ["\n", "\r", "\u0085", "\u2028", "\u2029"]
_FIG_NATIVE_RE = r"^FIG;mode=([A-Za-z0-9]+);w=([0-9]{1,9});h=([0-9]{1,9});caption=(.*)$"


def _single_line(col) -> Column:
    pred = None
    for ch in _JAVA_EOL_CHARS:
        c = ~F.contains(col, F.lit(ch))
        pred = c if pred is None else (pred & c)
    return pred


def _native_fig_pred(col) -> Column:
    return (
        ~F.contains(col, F.lit("\t"))
        & _single_line(col)
        & col.rlike(_FIG_NATIVE_RE)
    )


# a tab-free LINE exists (incl. empty lines / a trailing newline): any such
# line would be a text-remainder or region break in the kernel grammar
_HAS_TABFREE_LINE_RE = "(^|\n)[^\t\n]*(\n|$)"
# C0 control chars other than \t/\n: excluded from the table claim so the
# agentic schema annotation's JSON escaping stays a plain replace chain
# (json.dumps would emit \\u00XX escapes for these)
_CTRL_RE = "[\x00-\x08\x0b-\x1f]"


def _native_tab_pred(col) -> Column:
    # EVERY line contains a tab and no FIG marker appears anywhere → the
    # whole text is exactly one table region in the kernel grammar (a
    # FIG-marked line could be a figure with a tab in its caption — left
    # to the kernel).  Java's extra line terminators and C0 controls are
    # excluded (regex/JSON-escape parity; rare rows → kernel).
    pred = (
        F.contains(col, F.lit("\t"))
        & ~F.contains(col, F.lit("FIG;mode="))
        & ~col.rlike(_HAS_TABFREE_LINE_RE)
        & ~col.rlike(_CTRL_RE)
    )
    for ch in _JAVA_EOL_CHARS[1:]:  # \n allowed; \r, NEL, LS, PS not
        pred = pred & ~F.contains(col, F.lit(ch))
    return pred


def _once_per_jvm(build):
    """Memoize ``build`` on its arguments and the live Py4J gateway.  Its
    Columns are unresolved trees that no session owns, so every job, resume
    group and stream micro-batch in one JVM shares them; a relaunched JVM (a
    new gateway) drops them and builds its own."""
    memo = {"gateway": None}
    lock = threading.Lock()  # stream micro-batches call in from Py4J threads

    @functools.wraps(build)
    def memoized(*key):
        with lock:
            if memo["gateway"] is not SparkContext._gateway:
                memo.clear()
                memo["gateway"] = SparkContext._gateway
            if key not in memo:
                memo[key] = build(*key)
            return memo[key]

    return memoized


def _native_routed_blocks(df: DataFrame, mode: str, validate: bool,
                          emit_raw: bool) -> DataFrame:
    """Fully-native (whole-stage-codegen) block rows for every turn the
    native claims cover, in ONE scan: prose turns (no tab / FIG marker),
    single-line figure turns, and single-line tab (1-row table) turns.

    Execution shape (the CollapseProject lesson, CLAUDE.md): the per-row
    PARSE — route choice, strip-length, figure regex groups, table
    markdown — is bound through an ``explode(array(struct(...)))`` Generate
    barrier so it is evaluated ONCE per row; without the barrier Catalyst
    inlines the shared regexp_extract/btrim subexpressions into every one
    of the ~18 downstream block fields (measured: the v2 single-Generate
    form re-ran the figure regex ~12x per row).  A second explode then
    flattens the 1- or 2-struct block array (the structured shapes also
    emit the kernel's unconditional empty text remainder); its field
    expressions only reference barrier attributes, so duplication is
    harmless.  Semantics are byte-identical to the pandas kernel on every
    claimed row; pytest's oracle-equality + native fuzz suites cover all
    three shapes against the kernel route.

    Both expressions are built once per JVM (:func:`_native_exprs`); each
    call only applies them to ``df``.

    This is the single biggest scale decision in the pipeline: the common
    transcript shapes never leave the JVM — no Arrow round-trip, no Python
    worker — so only genuinely multi-line structured payloads pay the
    kernel cost, and the input is scanned once.
    """
    parse, arr = _native_exprs(mode, validate, emit_raw)
    return df.select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
        "role", "tool", "ts", "text", F.explode(F.array(parse)).alias("_p"),
    ).select(
        "conv_id", "turn_idx", "role", "tool", "ts",
        F.explode(arr).alias("_b"),
    ).select("conv_id", "turn_idx", "role", "tool", "ts", "_b.*")


@_once_per_jvm
def _native_exprs(mode: str, validate: bool, emit_raw: bool) -> tuple[Column, Column]:
    """The native branch's ``parse`` struct over ``text`` and its block array
    over the parsed ``_p`` fields; they name columns, never a DataFrame."""
    text = F.col("text")
    null_b = F.lit(None).cast("boolean")
    null_a = F.lit(None).cast("array<string>")
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    empty_arr = F.array().cast("array<string>")
    raw = F.coalesce(text, F.lit(""))

    # ── parse barrier: everything derived from text, computed once ─────────
    # Fields are deliberately UNGUARDED by route (a route CASE would inline
    # the claim predicates — incl. the figure rlike — into every field):
    # regexp_extract on a non-matching row returns '' (try_cast → NULL), the
    # tab markdown is gated only by the cheap tab-contains, and unused
    # fields of the wrong route are simply never read downstream.
    is_fig = _native_fig_pred(text)
    is_tab = _native_tab_pred(text)
    route = (
        F.when(F.coalesce(is_fig, F.lit(False)), F.lit(1))
        .when(F.coalesce(is_tab, F.lit(False)), F.lit(2))
        .otherwise(F.lit(0))
    )
    # table markdown (_to_markdown, parser.py:140-156): every TSV line
    # becomes "| " + cells.join(" | ") + " |"; the "---" separator (sized to
    # row 0's column count) is inserted after the header row; ragged rows
    # are NOT padded and str(c or "") maps empty→empty, so the render is
    # exactly replace(\t → " | ") / replace(\n → " |\n| ") + edge wrapping
    first_line = F.substring_index(text, "\n", 1)
    n_lines = (
        F.length(text) - F.length(F.replace(text, F.lit("\n"), F.lit(""))) + 1
    )
    ncols = (
        F.length(first_line)
        - F.length(F.replace(first_line, F.lit("\t"), F.lit(""))) + 1
    )
    wrapped = F.concat(
        F.lit("| "),
        F.replace(
            F.replace(text, F.lit("\t"), F.lit(" | ")),
            F.lit("\n"), F.lit(" |\n| "),
        ),
        F.lit(" |"),
    )
    header_md = F.substring_index(wrapped, "\n", 1)
    sep = F.concat(
        F.lit("| ---"), F.repeat(F.lit(" | ---"), (ncols - 1).cast("int")),
        F.lit(" |"),
    )
    tab_md = F.when(
        n_lines == 1, F.concat(header_md, F.lit("\n"), sep)
    ).otherwise(
        F.concat(
            header_md, F.lit("\n"), sep, F.lit("\n"),
            F.substring(wrapped, F.length(header_md) + 2, F.length(wrapped)),
        )
    )
    _re = _FIG_NATIVE_RE.replace("\\", "\\\\")
    parse = F.struct(
        route.alias("route"),
        py_stripped_len(raw).alias("slen"),
        F.expr(f"try_cast(regexp_extract(text, '{_re}', 2) as bigint)")
        .alias("w"),
        F.expr(f"try_cast(regexp_extract(text, '{_re}', 3) as bigint)")
        .alias("h"),
        F.regexp_extract(text, _FIG_NATIVE_RE, 4).alias("caption"),
        (F.regexp_extract(text, _FIG_NATIVE_RE, 1) != "RGB").alias("is_ocr"),
        F.when(F.contains(text, F.lit("\t")), tab_md).otherwise(null_s)
        .alias("tab_md"),
        F.when(F.contains(text, F.lit("\t")), first_line).otherwise(null_s)
        .alias("tab_header"),
        n_lines.alias("n_lines"),
    )
    route = F.col("_p.route")
    slen = F.col("_p.slen")
    w = F.col("_p.w")
    h = F.col("_p.h")
    caption = F.col("_p.caption")
    is_ocr = F.col("_p.is_ocr")
    tab_md = F.col("_p.tab_md")
    tab_header = F.col("_p.tab_header")
    n_lines = F.col("_p.n_lines")

    def _valid(alive):
        if validate:
            # containment holds by construction for text; figures are always
            # valid at Checkpoint-A (is_valid = eq | is_fig); dropped blocks
            # never reach it -> NULL validation struct
            return (
                F.when(alive, F.lit(True)).otherwise(null_b),
                F.when(alive, empty_arr).otherwise(null_a),
                F.when(alive, F.lit(1.0)).otherwise(null_d),
                F.when(alive, F.lit("")).otherwise(null_s),
            )
        return null_b, null_a, null_d, null_s

    def _blk(ct, rk, raw_c, alive, st, sm, cf, nt, rt, dead_status):
        iv, iss, vd, vn = _valid(alive)
        fields = [
            F.lit(ct).alias("chunk_type"),
            F.lit(rk).cast("int").alias("block_rank"),
            F.lit(0).cast("int").alias("block_idx"),
        ]
        if emit_raw:
            fields.append(raw_c.alias("raw_content"))
        fields += [
            F.when(alive, st).otherwise(F.lit("")).alias("structured_text"),
            F.when(alive, sm).otherwise(F.lit("")).alias("intuition_summary"),
            empty_arr.alias("key_concepts"),
            F.when(alive, cf).otherwise(F.lit(0.0)).cast("double").alias("confidence"),
            F.when(alive, nt).otherwise(F.lit("")).alias("agent_notes"),
            (rt & alive).cast("boolean").alias("retried"),
            iv.alias("is_valid"),
            iss.alias("issues"),
            vd.alias("verdict_score"),
            vn.alias("validator_notes"),
            F.lit(False).alias("was_corrected"),
            # accept floor: every alive conf here is >= 0.25 -> accepted
            F.when(alive, F.lit("accepted")).otherwise(F.lit(dead_status)).alias("status"),
        ]
        return F.struct(*fields)

    # ── simple prose turn: the whole text is the remainder ─────────────────
    t_alive = slen >= 40  # parser.py:32,125 (Python strip set, via barrier)
    if mode == "fastpath":
        t_conf = F.lit(0.8)
        t_notes = F.lit("Extracted via direct MLX agents (no crew orchestration)")
        t_retried = F.lit(False)
    else:  # agentic: text defaults + lowconf retry hook (extraction.py:125)
        lowconf = F.contains(raw, F.lit("[[LOWCONF]]"))
        t_conf = F.when(lowconf, F.lit(0.4)).otherwise(F.lit(0.7))
        t_notes = F.lit("")
        t_retried = lowconf  # conf 0.4 < 0.5 threshold (base.py:42)
    simple_blk = _blk("text", 2, raw, t_alive, F.substring(raw, 1, 2000),
                      F.lit(""), t_conf, t_notes, t_retried, "dropped_short")

    # ── single-line figure turn ────────────────────────────────────────────
    f_alive = (w >= 80) & (h >= 80)  # parser.py:81-83
    fig_repr = F.concat(
        F.lit("<PIL.Image.Image image mode=RGB size="),
        w.cast("string"), F.lit("x"), h.cast("string"),
    )
    if mode == "fastpath":
        f_conf = F.lit(0.8)
        f_structured = fig_repr
        f_summary = F.lit("")
        f_notes = F.lit("Extracted via direct MLX agents (no crew orchestration)")
        f_retried = F.lit(False)
    else:  # agentic (extraction.py:278-306)
        f_conf = F.when(is_ocr, F.lit(0.3)).otherwise(F.lit(0.6))
        f_structured = F.when(is_ocr, F.substring(caption, 1, 1000)).otherwise(fig_repr)
        f_summary = F.when(is_ocr, F.lit("OCR fallback.")).otherwise(F.lit(""))
        f_notes = F.when(is_ocr, F.lit("Vision model not loaded.")).otherwise(
            F.concat(F.lit("figure_type=other | "), caption)
        )
        f_retried = is_ocr  # conf 0.3 < 0.5 threshold
    fig_blk = _blk("figure", 1, text, f_alive, f_structured, f_summary,
                   f_conf, f_notes, f_retried, "dropped_figure_small")

    # ── all-tab-lines turn: exactly one table region (≥2 rows → alive;
    #    a 1-row region is dropped_table_small with the markdown as raw) ──
    tb_alive = n_lines >= 2  # MIN_TABLE_ROWS (parser.py:31,55)
    tb_trunc = F.substring(tab_md, 1, 2000)
    if mode == "fastpath":
        tb_structured = tb_trunc
        tb_conf = F.lit(0.8)
        tb_notes = F.lit("Extracted via direct MLX agents (no crew orchestration)")
    else:
        # schema annotation (P10/A3, extraction.py:184): appended AFTER the
        # 2000-char truncation; JSON header-cell array via a plain replace
        # chain (claim excludes C0 controls, so json.dumps escaping reduces
        # to backslash → quote → tab-delimiter replacements, in that order)
        esc = F.replace(
            F.replace(
                F.replace(tab_header, F.lit("\\"), F.lit("\\\\")),
                F.lit('"'), F.lit('\\"'),
            ),
            F.lit("\t"), F.lit('", "'),
        )
        annotation = F.concat(
            F.lit('\n<!-- schema: {"columns": ["'), esc,
            F.lit('"], "row_count": '), (n_lines - 1).cast("string"),
            F.lit(', "units": {}} -->'),
        )
        tb_structured = F.concat(tb_trunc, annotation)
        tb_conf = F.lit(0.7)  # TABLE_CONF (extraction.py:192)
        tb_notes = F.lit("")
    tab_blk = _blk("table", 0, tab_md, tb_alive, tb_structured, F.lit(""),
                   tb_conf, tb_notes, F.lit(False), "dropped_table_small")

    # the kernel's unconditional empty text remainder of a fully-consumed
    # turn (always dropped_short)
    dead_txt_blk = _blk("text", 2, F.lit(""), F.lit(False), F.lit(""),
                        F.lit(""), F.lit(0.0), F.lit(""), F.lit(False),
                        "dropped_short")

    arr = (
        F.when(route == 1, F.array(fig_blk, dead_txt_blk))
        .when(route == 2, F.array(tab_blk, dead_txt_blk))
        .otherwise(F.array(simple_blk))
    )
    return parse, arr


@_once_per_jvm
def _route_preds() -> tuple[Column, Column]:
    """The router's (kernel, native) row filters: the kernel takes the tab-
    or ``FIG;mode=``-bearing turns that no native claim covers."""
    claimed = _native_fig_pred(F.col("text")) | _native_tab_pred(F.col("text"))
    return (
        F.expr(_COMPLEX_PRED) & ~claimed,
        ~F.expr(f"coalesce({_COMPLEX_PRED}, false)")
        | F.coalesce(claimed, F.lit(False)),
    )


def extract_blocks(
    transcripts: DataFrame,
    mode: str = "fastpath",
    validate: bool = True,
    run_id: str = "run_0",
    src_snapshot_id: str = "",
    n_partitions: int | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    emit_raw: bool = True,
) -> DataFrame:
    """All candidate blocks (surviving + dropped) with lineage columns.

    ``emit_raw=False`` is the 100-TB configuration: the per-block source text
    is consumed by Checkpoint-A inside the kernel and NOT duplicated into the
    output (the input table already holds it; ``conv_id/turn_idx`` is the
    pointer back).  Halves Arrow transfer + sink bytes; defaults to True so
    tests can compare raw_content byte-for-byte.

    The skew-break shuffle is a REPAIR, not a default cost, because
    extraction is per-turn and needs no co-location: the kernel branch is
    salted only when the input has fewer partitions than ``n_partitions``
    (default 2× the default parallelism) — the under-parallel case (one huge
    file, a collapsed join, a micro-batch).  A healthy parquet scan is
    already byte-split (``maxPartitionBytes``), so a 100 TB input comes in
    ~800k balanced splits and salting it would mean shuffling the entire
    kernel payload for nothing (measured ~20% of the hybrid wall at sf-bench
    scale).  CAVEAT: partition COUNT is a parallelism probe, not a balance
    probe — an upstream that clustered by conversation into many-but-skewed
    partitions (e.g. ``repartition("conv_id")``) passes the probe unsalted;
    such callers should spread the input per turn first.  ``n_partitions=1``
    never salts.

    Every turn is routed once, per row: prose turns and the single-line
    structured shapes are built in pure Catalyst expressions
    (:func:`_native_routed_blocks`); only the remaining tab- or
    ``FIG;mode=``-bearing turns go through the salted ``mapInPandas`` kernel
    branch.  The two branches are unioned before the lineage columns.
    """
    df = transcripts
    n_partitions = n_partitions or df.sparkSession.sparkContext.defaultParallelism * 2

    # kernel output = EXTRACTED minus chunk_id (added natively below), all
    # nullable as Arrow hands it back
    cols = [c for c in OUTPUT_COLUMNS if emit_raw or c != "raw_content"]
    schema = StructType([StructField(c, EXTRACTED[c].dataType, True) for c in cols])
    # Only the kernel branch is salted: the Python workers need balanced
    # partitions, while the native branch is pure codegen row-ops that cost
    # the same under any layout — shuffling it would be pure waste (the
    # native side stays scan→filter→explode-project with pushed-down
    # StringContains filters).  Besides prose turns the native branch claims
    # the single-line structured shapes (whole-text figure line; all-tab
    # lines) — at transcript mixes this roughly halves the rows crossing
    # the Python boundary (guide §4: the boundary itself is the cost).
    kernel_pred, native_pred = _route_preds()
    complex_df = df.filter(kernel_pred)
    # planning-only partition probe (no job): under-parallel input → salt
    if df.rdd.getNumPartitions() < n_partitions:
        # per-turn hash spread: breaks long-conversation skew (SURVEY §4.2);
        # safe because extraction is per-turn and ordering is intrinsic.
        complex_df = complex_df.repartition(
            n_partitions, F.xxhash64("conv_id", "turn_idx")
        )
    kernel_blocks = complex_df.mapInPandas(
        functools.partial(_kernel, mode, validate, cols), schema=schema
    )
    blocks = kernel_blocks.unionByName(
        _native_routed_blocks(df.filter(native_pred), mode, validate, emit_raw)
    )
    return (
        blocks.withColumn(
            "chunk_id",
            F.sha2(
                F.concat_ws("|", "conv_id", "turn_idx", "chunk_type", "block_idx"),
                256,
            ),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("src_snapshot_id", F.lit(src_snapshot_id))
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn(
            "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        )
        .select(*[f.name for f in EXTRACTED.fields if emit_raw or f.name != "raw_content"],
                *LINEAGE_COLUMNS)
    )


def surviving(blocks: DataFrame) -> DataFrame:
    return blocks.filter(F.col("status").isin(*SURVIVING_STATUSES))


def ordered(blocks: DataFrame) -> DataFrame:
    """Stable output ordering (FIXTURES.md §3)."""
    return blocks.orderBy("conv_id", "turn_idx", "ts", "block_rank", "block_idx")


def crossref_edges(survivors: DataFrame) -> DataFrame:
    """P9 cross-reference heuristic (crew_mlx_tools.py:374-394) — native
    column ops, no UDF: lower-contains over the 4 keywords → edge rows."""
    kw = ["see figure", "table", "section", "refer to"]
    pred = functools.reduce(
        lambda a, b: a | b,
        [F.contains(F.lower("structured_text"), F.lit(k)) for k in kw],
    )
    return survivors.filter(pred).select(
        F.col("chunk_id").alias("source_chunk_id"),
        F.lit("cross_reference").alias("reference_type"),
        F.lit(0.8).alias("confidence"),
    )


def type_stats(blocks: DataFrame) -> DataFrame:
    """A1: chunk stats by type with rollup TOTAL (app.py:103-107)."""
    return (
        surviving(blocks)
        .rollup("chunk_type")
        .count()
        .select(
            F.coalesce("chunk_type", F.lit("TOTAL")).alias("chunk_type"),
            F.col("count").alias("n_chunks"),
        )
    )


def extraction_metrics(blocks: DataFrame, run_id: str) -> DataFrame:
    """Sidecar metrics rows: per (partition, bucket) status/type counts plus
    retry counts — the reference's counters (pipeline.py:255-319) made
    per-partition for lineage (north_rule).  One aggregation; each group
    yields its ``blocks_<status>``, ``retried`` and ``avg_confidence`` rows
    through one ``inline`` generator, so ``blocks`` is scanned once."""
    base = blocks.groupBy("partition_id", "conv_bucket", "status", "chunk_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("retried").cast("long")).alias("n_retried"),
        F.avg("confidence").alias("avg_conf"),
    )

    def row(phase: str, metric: Column, value: str, detail: Column) -> Column:
        return F.struct(F.lit(phase).alias("phase"), metric.alias("metric"),
                        F.col(value).cast("double").alias("value"),
                        detail.alias("detail"))

    return base.select(
        F.lit(run_id).alias("run_id"),
        "partition_id",
        "conv_bucket",
        F.inline(F.array(
            row("extract", F.concat(F.lit("blocks_"), "status"), "n",
                F.col("chunk_type")),
            row("extract", F.lit("retried"), "n_retried", F.col("chunk_type")),
            row("validate", F.lit("avg_confidence"), "avg_conf",
                F.concat_ws("|", "chunk_type", "status")),
        )),
        F.current_timestamp().alias("ts"),
    )


def _ledger_dir(out_path: str) -> str:
    return os.path.join(out_path, "_ledger")


def _manifest_path(out_path: str, slice_name: str) -> str:
    """``<out>/_ledger/<slice>.json``, named from the slice name alone (the
    unnamed one-shot slice is ``root``)."""
    name = slice_name.replace("/", "_").replace("=", "_") or "root"
    return os.path.join(_ledger_dir(out_path), f"{name}.json")


def _commit_manifest(path: str, manifest: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".tmp_{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, path)  # atomic — this IS the snapshot commit


def _manifests(out_path: str) -> list[dict]:
    """Every slice manifest committed under ``out_path``."""
    led = _ledger_dir(out_path)
    if not os.path.isdir(led):
        return []
    found = []
    for name in os.listdir(led):
        if name.endswith(".json"):
            with open(os.path.join(led, name)) as f:
                m = json.load(f)
            if "slice" in m:
                found.append(m)
    return found


def commit_slice(
    blocks: DataFrame, out_path: str, slice_name: str, run_id: str, sink,
    params: dict,
) -> dict:
    """Commit one slice of extracted blocks and return its manifest.

    Survivors go to ``<out>/extracted/<slice>`` and the metrics sidecar to
    ``<out>/metrics/<slice>``, each through ``sink.overwrite_slice``; then
    the manifest is renamed into ``<out>/_ledger/<slice>.json``, the commit
    point.  The slice's old manifest is removed before the first overwrite,
    so a redone slice is uncommitted until it is whole again, and readers
    (:func:`sparkx.checkpoint.read_extracted`) see only committed slices.
    The manifest holds ``slice``, ``run_id``, ``committed_at``,
    ``status_counts`` (from an ``Observation`` on the survivors write: two
    write actions, no collect), ``n_surviving`` and the caller's ``params``
    (the extraction parameters, plus ``group``/``n_groups`` for a resume
    group)."""
    manifest_path = _manifest_path(out_path, slice_name)
    if os.path.exists(manifest_path):
        os.remove(manifest_path)
    counts = Observation()
    blocks.persist()
    try:
        observed = blocks.observe(
            counts,
            *[F.count_if(F.col("status") == s).alias(s)
              for s in SURVIVING_STATUSES + DROP_STATUSES],
        )
        sink.overwrite_slice(
            surviving(observed), f"{out_path}/extracted/{slice_name}".rstrip("/")
        )
        sink.overwrite_slice(
            extraction_metrics(blocks, run_id),
            f"{out_path}/metrics/{slice_name}".rstrip("/"),
        )
    finally:
        blocks.unpersist()
    status_counts = {s: n for s, n in counts.get.items() if n}
    manifest = {
        "slice": slice_name,
        "run_id": run_id,
        "committed_at": time.time(),
        "status_counts": status_counts,
        "n_surviving": sum(status_counts.get(s, 0) for s in SURVIVING_STATUSES),
        **params,
    }
    _commit_manifest(manifest_path, manifest)
    return manifest


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_path: str,
    mode: str = "fastpath",
    validate: bool = True,
    run_id: str = "run_0",
    src_snapshot_id: str = "",
    n_buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """One-shot (non-resumable) run, returning block totals by status.  It
    commits through the one commit function, :func:`commit_slice`, with an
    empty slice name: survivors land unpartitioned in ``<out>/extracted``
    (``conv_bucket`` stays a column), the metrics in ``<out>/metrics`` and
    the manifest in ``<out>/_ledger/root.json``.  A re-run into the same
    ``out_path`` uncommits the old output first and replaces it, so a re-run
    killed between its two overwrites leaves nothing committed.  For
    checkpointed runs use sparkx.checkpoint.run_resumable, which commits
    each group through the same function to ``extracted/commit_group=<g>/``
    and ``metrics/commit_group=<g>/``."""
    params = {"mode": mode, "validate": validate, "n_buckets": n_buckets}
    blocks = extract_blocks(
        transcripts, run_id=run_id, src_snapshot_id=src_snapshot_id, **params
    )
    manifest = commit_slice(blocks, out_path, "", run_id, DEFAULT_SINK, params)
    return manifest["status_counts"]
