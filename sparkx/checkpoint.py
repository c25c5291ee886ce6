"""Snapshot-checkpoint resumability + per-partition lineage.

North_rule requirement: "resumable from Iceberg snapshot checkpoints with
per-partition lineage".  On a real cluster this is Iceberg's transactional
append (every commit = a snapshot; restart anti-joins the committed bucket
ledger).  This sandbox has no Iceberg runtime jar, so the same semantics are
implemented format-agnostically:

* Work is split into ``n_groups`` **conv-bucket groups**
  (``pmod(xxhash64(conv_id), n_groups)``) — each group is an independent,
  internally-parallel slice of the input (all cores busy within a group).
* Each group commits through :func:`sparkx.pipeline.commit_slice`, the one
  commit function of the one-shot job, each group and each stream
  micro-batch: survivors overwrite ``<out>/extracted/commit_group=<g>/``,
  the metrics sidecar overwrites ``<out>/metrics/commit_group=<g>/``, and
  then the slice's manifest (status counts, run lineage, parameters) is
  renamed into ``<out>/_ledger/commit_group_<g>.json``.  The rename is the
  snapshot commit point.
* Resume = skip groups whose manifest exists; re-running a half-written
  group overwrites both of its slices, so survivors and metrics are each
  committed exactly once (deterministic ``chunk_id`` = sha2 of
  ``conv_id|turn_idx|type|idx``, so re-extraction produces identical rows).
* A resume under other ``mode``/``validate``/``n_groups`` is refused by the
  one ledger rule, :func:`sparkx.pipeline.check_ledger`.
* Snapshot reads: :func:`read_extracted` reads only the slices that a
  manifest names, so a group killed between its survivors write and its
  manifest rename is invisible to readers until it is redone.

The public API is identical whether the backing store is this parquet ledger
or an Iceberg catalog table, and the Iceberg path is a strict simplification
(`df.writeTo(table).append()` inside the same loop).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkx.pipeline import (
    _ledger_dir, _manifests, check_ledger, commit_slice, extract_blocks,
)
from sparkx.table_sink import DEFAULT_SINK

GROUP_SLICE = "commit_group="


class SimulatedFailure(RuntimeError):
    """Raised by tests to kill a run between group commits."""


def completed_groups(out_path: str) -> dict[int, dict]:
    """Committed group manifests by ``g`` of their ``commit_group=<g>`` slice."""
    return {int(m["slice"].removeprefix(GROUP_SLICE)): m
            for m in _manifests(out_path) if m["slice"].startswith(GROUP_SLICE)}


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_path: str,
    mode: str = "fastpath",
    validate: bool = True,
    run_id: str | None = None,
    n_groups: int = 8,
    fail_after_groups: int | None = None,
    sink=None,
) -> dict:
    """Checkpointed extraction.  Safe to re-invoke after any failure; only
    uncommitted groups re-run.  Returns summary incl. per-group manifests.

    ``sink`` (sparkx.table_sink.TableSink, default ParquetDirSink) is the
    storage seam for the group's two slice overwrites (survivors, metrics);
    swap in IcebergTableSink to make each group commit an Iceberg
    snapshot — the JSON manifest then merely mirrors snapshot metadata."""
    sink = sink or DEFAULT_SINK
    run_id = run_id or f"run_{int(time.time())}"
    # n_groups sets group membership, so it is recorded; checked up front so
    # that a drifted run fails even when no group is left to commit
    params = {"mode": mode, "validate": validate}
    recorded = {**params, "n_groups": n_groups}
    check_ledger(out_path, None, recorded)
    done = completed_groups(out_path)
    group_col = F.pmod(F.xxhash64("conv_id"), F.lit(n_groups)).cast("int")

    executed = 0
    for g in range(n_groups):
        if g in done:
            continue
        blocks = extract_blocks(
            transcripts.filter(group_col == g), run_id=run_id,
            src_snapshot_id=f"group_{g}", **params,
        )
        commit_slice(blocks, out_path, f"{GROUP_SLICE}{g}", run_id, sink, recorded)
        executed += 1
        if fail_after_groups is not None and executed >= fail_after_groups:
            raise SimulatedFailure(f"injected failure after {executed} groups")

    return {
        "run_id": run_id,
        "groups_total": n_groups,
        "groups_executed_this_run": executed,
        "ledger": completed_groups(out_path),
    }


def read_extracted(spark: SparkSession, out_path: str) -> DataFrame:
    """The committed survivors: only the slices that a manifest names, read
    under ``<out>/extracted`` as base path so partition directories such as
    ``commit_group`` stay columns."""
    base = f"{out_path}/extracted"
    slices = sorted(m["slice"] for m in _manifests(out_path))
    if not slices:
        raise FileNotFoundError(
            f"no committed slice under {out_path}: {_ledger_dir(out_path)} "
            f"names none (nothing was committed, or a re-run was killed "
            f"before its commit)"
        )
    paths = [f"{base}/{s}".rstrip("/") for s in slices]
    return spark.read.option("basePath", base).parquet(*paths)
