"""The extraction pipeline: scan → route → native ∪ kernel → lineage → commit.

Spark restatement of the reference ingest path (``src/core/pipeline.py:208-330``,
SURVEY.md §3.1).  Each turn is routed once, per row, on one rule
(``_COMPLEX_PRED``: the text holds a tab or ``FIG;mode=``) into one of two
branches of a single plan:

    transcripts scan
      ├─ native branch: prose turns (no tab, no ``FIG;mode=``), one text
      │  block each
      │    → _native_routed_blocks                   (one Project, pure
      │      Catalyst, codegen'd; byte-identical to the kernel on prose)
      └─ kernel branch: every tab- or ``FIG;mode=``-bearing turn
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

The native branch's ``Project`` is built by each call of
:func:`extract_blocks` from the kernel's constants
(``sparkx.kernels.blocks``/``extract``), so the job keeps no per-JVM state
and each prose rule is stated once.

Stable turn ordering is intrinsic to ``(conv_id, turn_idx, ts, block_rank,
block_idx)`` — reconstructed by :func:`ordered` at comparison time, never
depended on physically (north_rule W1 invariant).
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from sparkx.kernels.blocks import MIN_TEXT_LEN, RANK_TEXT
from sparkx.kernels.extract import (
    FASTPATH_CONF, FASTPATH_NOTES, LOWCONF_CONF, LOWCONF_MARKER, OUTPUT_COLUMNS,
    TEXT_CONF, TRUNC_STRUCTURED, extract_batch,
)
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


# The router's one rule: a turn with a tab or a figure marker goes to the
# kernel, every other (prose) turn is built natively.
_COMPLEX_PRED = "contains(text, '\t') OR contains(text, 'FIG;mode=')"


def _native_routed_blocks(df: DataFrame, mode: str, validate: bool,
                          emit_raw: bool) -> DataFrame:
    """The block of every prose turn (no tab, no ``FIG;mode=``) in one
    whole-stage-codegen ``Project``: a prose turn is exactly one text block,
    its whole text being the remainder, so no ``Generate`` is needed.
    Semantics are byte-identical to the pandas kernel on prose, whose
    constants state each rule; the oracle-equality and native fuzz suites
    compare the two."""
    raw = F.coalesce(F.col("text"), F.lit(""))
    alive = py_stripped_len(raw) >= MIN_TEXT_LEN  # parser.py:32,125 (Python strip set)
    if mode == "fastpath":
        conf = F.lit(FASTPATH_CONF)
        notes = F.lit(FASTPATH_NOTES)
        retried = F.lit(False)
    else:  # agentic: text defaults + lowconf retry hook (extraction.py:125)
        lowconf = F.contains(raw, F.lit(LOWCONF_MARKER))
        conf = F.when(lowconf, F.lit(LOWCONF_CONF)).otherwise(F.lit(TEXT_CONF))
        notes = F.lit("")
        retried = lowconf  # LOWCONF_CONF < CONFIDENCE_THRESHOLD (base.py:42)
    empty_arr = F.array().cast("array<string>")
    if validate:
        # containment holds by construction for text; dropped blocks never
        # reach Checkpoint-A -> NULL validation fields
        valid = (F.when(alive, F.lit(True)), F.when(alive, empty_arr),
                 F.when(alive, F.lit(1.0)), F.when(alive, F.lit("")))
    else:
        valid = (F.lit(None).cast("boolean"), F.lit(None).cast("array<string>"),
                 F.lit(None).cast("double"), F.lit(None).cast("string"))
    return df.select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
        "role", "tool", "ts",
        F.lit("text").alias("chunk_type"),
        F.lit(RANK_TEXT).cast("int").alias("block_rank"),
        F.lit(0).cast("int").alias("block_idx"),
        *([raw.alias("raw_content")] if emit_raw else []),
        F.when(alive, F.substring(raw, 1, TRUNC_STRUCTURED)).otherwise(F.lit(""))
        .alias("structured_text"),
        F.lit("").alias("intuition_summary"),
        empty_arr.alias("key_concepts"),
        F.when(alive, conf).otherwise(F.lit(0.0)).cast("double").alias("confidence"),
        F.when(alive, notes).otherwise(F.lit("")).alias("agent_notes"),
        (retried & alive).cast("boolean").alias("retried"),
        valid[0].alias("is_valid"),
        valid[1].alias("issues"),
        valid[2].alias("verdict_score"),
        valid[3].alias("validator_notes"),
        F.lit(False).alias("was_corrected"),
        # accept floor: every alive conf here is >= ACCEPT_FLOOR -> accepted
        F.when(alive, F.lit("accepted")).otherwise(F.lit("dropped_short")).alias("status"),
    )


def extract_blocks(
    transcripts: DataFrame,
    mode: str = "fastpath",
    validate: bool = True,
    run_id: str = "run_0",
    src_snapshot_id: str = "",
    n_partitions: int | None = None,
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

    Every turn is routed once, per row, on one rule (``_COMPLEX_PRED``): a
    turn with a tab or a ``FIG;mode=`` marker goes through the salted
    ``mapInPandas`` kernel branch, and every other (prose) turn is built in
    one pure-Catalyst ``Project`` (:func:`_native_routed_blocks`).  The two
    branches are unioned before the lineage columns.
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
    # native side stays scan→Filter→Project).  The kernel's cost is mostly
    # fixed per task, so the structured turns all take it: building them
    # natively as well cost more than it saved (ROADMAP.md item 6).
    complex_df = df.filter(_COMPLEX_PRED)
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
        _native_routed_blocks(df.filter(f"NOT coalesce({_COMPLEX_PRED}, false)"),
                              mode, validate, emit_raw)
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
            "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(DEFAULT_BUCKETS)).cast("int")
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


def _manifests(out_path: str) -> list[dict]:
    """Every slice manifest committed under ``out_path``."""
    led = _ledger_dir(out_path)
    if not os.path.isdir(led):
        return []
    found = []
    for name in os.listdir(led):
        if name.endswith(".json"):
            with open(os.path.join(led, name)) as f:
                found.append(json.load(f))
    return found


def _overlaps(a: str, b: str) -> bool:
    """Two different slices whose directories nest (``""`` is the root)."""
    return a != b and (not a or not b or a.startswith(b + "/") or b.startswith(a + "/"))


def check_ledger(out_path: str, slice_name: str | None, params: dict) -> list[dict]:
    """The ledger rule: every committed slice of ``out_path`` records the
    same ``params`` and none overlaps ``slice_name`` (``None``: named slices
    not chosen yet, which only the root overlaps).  Raises ``ValueError``
    before any write; the slice's own manifest is exempt, so a re-run
    replaces it.  Returns the committed manifests."""
    found = _manifests(out_path)
    for m in found:
        other = m["slice"]
        if other == slice_name:
            continue
        if (other == "") if slice_name is None else _overlaps(other, slice_name):
            new = "this run" if slice_name is None else f"slice {slice_name!r}"
            raise ValueError(
                f"{new} overlaps the committed slice {other!r} under "
                f"{out_path}; use a fresh out_path"
            )
        prev = {k: m.get(k) for k in params}
        if prev != params:
            raise ValueError(
                f"slice {other!r} under {out_path} was committed with {prev}, "
                f"but this run uses {params}; re-run with the original "
                f"parameters or use a fresh out_path"
            )
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
    (``mode`` and ``validate``, plus ``n_groups`` for a resume group and
    ``checkpoint_dir`` for a stream batch), which :func:`check_ledger`
    holds equal across the slices of ``out_path``, so one ``out_path`` holds
    one kind of run."""
    check_ledger(out_path, slice_name, params)
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
    tmp = os.path.join(_ledger_dir(out_path), f".tmp_{uuid.uuid4().hex}")
    os.makedirs(_ledger_dir(out_path), exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path)  # atomic — this IS the snapshot commit
    return manifest


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_path: str,
    mode: str = "fastpath",
    validate: bool = True,
    run_id: str = "run_0",
    src_snapshot_id: str = "",
) -> dict:
    """One-shot (non-resumable) run, returning block totals by status.  It
    commits through the one commit function, :func:`commit_slice`, with an
    empty slice name: survivors land unpartitioned in ``<out>/extracted``
    (``conv_bucket`` stays a column), the metrics in ``<out>/metrics`` and
    the manifest in ``<out>/_ledger/root.json``.  A re-run into the same
    ``out_path`` uncommits the old output first and replaces it, so a re-run
    killed between its two overwrites leaves nothing committed.  For
    checkpointed runs use :func:`sparkx.checkpoint.run_resumable`."""
    params = {"mode": mode, "validate": validate}
    blocks = extract_blocks(
        transcripts, run_id=run_id, src_snapshot_id=src_snapshot_id, **params
    )
    manifest = commit_slice(blocks, out_path, "", run_id, DEFAULT_SINK, params)
    return manifest["status_counts"]
