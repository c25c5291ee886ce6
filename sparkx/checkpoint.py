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
  commit function (``run_extraction`` is its single-slice case): survivors
  overwrite ``<out>/extracted/commit_group=<g>/`` and the metrics sidecar
  overwrites ``<out>/metrics/commit_group=<g>/``; then a manifest JSON
  (status counts, run lineage) is renamed into
  ``<out>/_ledger/group_<g>.json``.  The rename is the snapshot commit point.
* Resume = skip groups whose manifest exists; re-running a half-written
  group overwrites both of its slices, so survivors and metrics are each
  committed exactly once (deterministic ``chunk_id`` = sha2 of
  ``conv_id|turn_idx|type|idx``, so re-extraction produces identical rows).

The public API is identical whether the backing store is this parquet ledger
or an Iceberg catalog table, and the Iceberg path is a strict simplification
(`df.writeTo(table).append()` inside the same loop).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkx.pipeline import commit_slice, extract_blocks
from sparkx.schemas import SURVIVING_STATUSES
from sparkx.table_sink import DEFAULT_SINK


class SimulatedFailure(RuntimeError):
    """Raised by tests to kill a run between group commits."""


def _ledger_dir(out_path: str) -> str:
    return os.path.join(out_path, "_ledger")


def completed_groups(out_path: str) -> dict[int, dict]:
    led = _ledger_dir(out_path)
    if not os.path.isdir(led):
        return {}
    done = {}
    for name in os.listdir(led):
        if name.startswith("group_") and name.endswith(".json"):
            with open(os.path.join(led, name)) as f:
                m = json.load(f)
            done[int(m["group"])] = m
    return done


def _commit_manifest(out_path: str, name: str, manifest: dict) -> None:
    led = _ledger_dir(out_path)
    os.makedirs(led, exist_ok=True)
    tmp = os.path.join(led, f".tmp_{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(led, name))  # atomic — this IS the snapshot commit


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_path: str,
    mode: str = "fastpath",
    validate: bool = True,
    run_id: str | None = None,
    n_groups: int = 8,
    n_buckets: int = 32,
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
    done = completed_groups(out_path)
    # Fail fast on parameter drift: group membership is a function of
    # n_groups (pmod(xxhash64(conv_id), n_groups)), so resuming a ledger
    # written under different n_groups would silently drop/duplicate
    # conversations; a mode/validate change would mix incompatible outputs.
    params = {
        "n_groups": n_groups,
        "mode": mode,
        "validate": validate,
        # n_buckets shapes committed output too (conv_bucket values/partition
        # layout): resuming under a different n_buckets would silently mix
        # bucket layouts across committed and newly-run groups.
        "n_buckets": n_buckets,
    }
    for g, m in done.items():
        # compare only keys the manifest recorded (older ledgers predate
        # n_buckets) — a missing key is not drift, a differing one is
        prev = {k: m[k] for k in params if k in m}
        if prev and prev != {k: params[k] for k in prev}:
            raise ValueError(
                f"ledger group {g} was committed with {prev}, but this run "
                f"uses {params}; resume with the original parameters or use "
                f"a fresh out_path"
            )
    group_col = F.pmod(F.xxhash64("conv_id"), F.lit(n_groups)).cast("int")

    executed = 0
    for g in range(n_groups):
        if g in done:
            continue
        slice_df = transcripts.filter(group_col == g)
        blocks = extract_blocks(
            slice_df, mode=mode, validate=validate, run_id=run_id,
            src_snapshot_id=f"group_{g}", n_buckets=n_buckets,
        )
        status_counts = commit_slice(blocks, out_path, f"commit_group={g}", run_id, sink)
        _commit_manifest(
            out_path,
            f"group_{g}.json",
            {
                "group": g,
                "run_id": run_id,
                "committed_at": time.time(),
                "n_groups": n_groups,
                "mode": mode,
                "validate": validate,
                "n_buckets": n_buckets,
                "status_counts": status_counts,
                "n_surviving": sum(
                    v for k, v in status_counts.items() if k in SURVIVING_STATUSES
                ),
            },
        )
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
    return spark.read.parquet(f"{out_path}/extracted")
