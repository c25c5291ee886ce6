"""Kill-and-resume semantics: snapshot ledger, idempotence, no duplicates
(north_rule resumability requirement)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sparkx import oracle as O
from sparkx.checkpoint import (
    SimulatedFailure,
    completed_groups,
    read_extracted,
    run_resumable,
)
from sparkx.pipeline import extract_blocks, run_extraction, surviving
from sparkx.schemas import TRANSCRIPTS
from sparkx.synth import synth_pandas
from sparkx.table_sink import ParquetDirSink


def _turns(seed):
    return synth_pandas(n_convs=24, turns_per_conv=6, seed=seed)


def _transcripts(spark, seed=37):
    return spark.createDataFrame(_turns(seed), schema=TRANSCRIPTS)


def _oracle_totals(seed):
    want = O.metrics_totals(O.run_oracle(_turns(seed).to_dict("records")))
    return {s: n for s, n in want.items()
            if n and s not in ("n_candidate_blocks", "retried")}


def _sidecar_totals(spark, out):
    """Block totals by status, summed over the whole ``metrics/`` sidecar."""
    rows = (
        spark.read.parquet(f"{out}/metrics")
        .filter(F.col("metric").startswith("blocks_"))
        .groupBy("metric")
        .agg(F.sum("value").alias("n"))
        .collect()
    )
    return {r.metric.removeprefix("blocks_"): int(r.n) for r in rows if r.n}


def _chunk_ids(df):
    return sorted(r.chunk_id for r in df.select("chunk_id").collect())


def _group_chunk_ids(df, n_groups, groups):
    """Surviving chunk ids of the given resume groups of ``df``."""
    in_groups = F.pmod(F.xxhash64("conv_id"), F.lit(n_groups)).isin(*groups)
    return _chunk_ids(surviving(extract_blocks(df.filter(in_groups))))


def _ledger_totals(out):
    totals = {}
    for m in completed_groups(out).values():
        for s, n in m["status_counts"].items():
            totals[s] = totals.get(s, 0) + n
    return totals


class _FailingSink(ParquetDirSink):
    """Dies at the ``nth`` data write of a run, before or after doing it."""

    def __init__(self, nth, after):
        self.nth, self.after, self.calls = nth, after, 0

    def _write(self, write, df, table):
        self.calls += 1
        if self.calls == self.nth and not self.after:
            raise SimulatedFailure(f"killed before write {self.nth}")
        write(df, table)
        if self.calls == self.nth and self.after:
            raise SimulatedFailure(f"killed after write {self.nth}")

    def overwrite_slice(self, df, table):
        self._write(super().overwrite_slice, df, table)

    # counted too, so a commit that appended its metrics would die at the
    # same step
    def append(self, df, table):
        self._write(super().append, df, table)


def test_kill_and_resume_no_duplicates(spark, tmp_path):
    df = _transcripts(spark)
    out_a = str(tmp_path / "resumed")
    out_b = str(tmp_path / "single")

    # reference run: uninterrupted
    run_resumable(spark, df, out_b, n_groups=4, run_id="single")
    want = (
        read_extracted(spark, out_b)
        .toPandas()
        .sort_values("chunk_id")
        .reset_index(drop=True)
    )

    # killed run: dies after 2 of 4 group commits
    with pytest.raises(SimulatedFailure):
        run_resumable(spark, df, out_a, n_groups=4, run_id="try1", fail_after_groups=2)
    assert len(completed_groups(out_a)) == 2

    # resume: only remaining groups execute
    summary = run_resumable(spark, df, out_a, n_groups=4, run_id="try2")
    assert summary["groups_executed_this_run"] == 2
    assert len(summary["ledger"]) == 4

    got = (
        read_extracted(spark, out_a)
        .toPandas()
        .sort_values("chunk_id")
        .reset_index(drop=True)
    )
    assert got.chunk_id.is_unique, "duplicates after resume"
    assert list(got.chunk_id) == list(want.chunk_id)
    assert list(got.structured_text) == list(want.structured_text)
    assert list(got.status) == list(want.status)


def test_resume_is_noop_when_complete(spark, tmp_path):
    df = _transcripts(spark, seed=41)
    out = str(tmp_path / "done")
    run_resumable(spark, df, out, n_groups=3)
    summary = run_resumable(spark, df, out, n_groups=3)
    assert summary["groups_executed_this_run"] == 0


def test_resume_rejects_parameter_drift(spark, tmp_path):
    """ADVICE r1: a ledger committed under one (n_groups, mode, validate)
    must refuse to resume under another — group membership depends on
    n_groups, so silently skipping 'completed' groups would drop rows."""
    df = _transcripts(spark, seed=47)
    out = str(tmp_path / "drift")
    with pytest.raises(SimulatedFailure):
        run_resumable(spark, df, out, n_groups=4, fail_after_groups=1)
    for bad in (
        dict(n_groups=8),
        dict(n_groups=4, mode="agentic"),
        dict(n_groups=4, validate=False),
    ):
        with pytest.raises(ValueError, match="committed with"):
            run_resumable(spark, df, out, **bad)
    # original parameters still resume fine
    summary = run_resumable(spark, df, out, n_groups=4)
    assert len(summary["ledger"]) == 4
    # a complete ledger leaves no group to commit, and still refuses a drift
    # before any Spark work
    with pytest.raises(ValueError, match="committed with"):
        run_resumable(None, None, out, n_groups=4, mode="agentic")


def test_resume_rejects_a_record_missing_a_parameter(tmp_path):
    """Every group record carries every parameter, so one without
    ``validate`` cannot be shown to match this run and is refused (before
    any Spark work)."""
    led = tmp_path / "_ledger"
    led.mkdir()
    (led / "commit_group_0.json").write_text(json.dumps({
        "slice": "commit_group=0", "n_groups": 2, "mode": "fastpath",
    }))
    with pytest.raises(ValueError, match="committed with"):
        run_resumable(None, None, str(tmp_path), n_groups=2)


def test_read_extracted_refuses_an_uncommitted_out_path(tmp_path):
    (tmp_path / "extracted").mkdir()
    with pytest.raises(FileNotFoundError, match="no committed slice"):
        read_extracted(None, str(tmp_path))


def test_lineage_columns_present(spark, tmp_path):
    df = _transcripts(spark, seed=43)
    out = str(tmp_path / "lin")
    run_resumable(spark, df, out, n_groups=2, run_id="lineage_run")
    got = read_extracted(spark, out)
    rows = got.select("run_id", "src_snapshot_id", "partition_id", "conv_bucket").limit(5).collect()
    assert all(r.run_id == "lineage_run" for r in rows)
    assert all(r.src_snapshot_id.startswith("group_") for r in rows)
    assert all(r.partition_id is not None and r.conv_bucket is not None for r in rows)


# Each group writes its survivors, then its metrics, then renames its
# manifest.  Kill the second of two groups at each step.
@pytest.mark.parametrize(
    "nth, after",
    [(3, False), (3, True), (4, True)],
    ids=["before_survivors_write", "after_survivors_write",
         "after_metrics_write_before_manifest_rename"],
)
def test_kill_at_each_commit_step_commits_metrics_once(spark, tmp_path, nth, after):
    seed = 53
    df = _transcripts(spark, seed=seed)
    out = str(tmp_path / "killed")
    with pytest.raises(SimulatedFailure):
        run_resumable(spark, df, out, n_groups=2, run_id="try1",
                      sink=_FailingSink(nth, after))
    committed = completed_groups(out)
    assert len(committed) == 1
    # readers see exactly the committed group, never the killed one's slices
    assert _chunk_ids(read_extracted(spark, out)) == _group_chunk_ids(df, 2, committed)

    summary = run_resumable(spark, df, out, n_groups=2, run_id="try2")
    assert summary["groups_executed_this_run"] == 1

    want = _oracle_totals(seed)
    assert _ledger_totals(out) == want
    assert _sidecar_totals(spark, out) == want
    n_surviving = sum(m["n_surviving"] for m in summary["ledger"].values())
    assert read_extracted(spark, out).count() == n_surviving


def test_run_extraction_commits_once(spark, tmp_path, monkeypatch):
    seed = 59
    df = _transcripts(spark, seed=seed)
    out = str(tmp_path / "oneshot")
    totals = run_extraction(spark, df, out, run_id="once")
    assert totals == _oracle_totals(seed)
    assert _sidecar_totals(spark, out) == totals

    # a re-run into the same out_path replaces the sidecar, never adds to it
    assert run_extraction(spark, df, out, run_id="again") == totals
    assert _sidecar_totals(spark, out) == totals

    got = spark.read.parquet(f"{out}/extracted")
    assert "conv_bucket" in got.columns
    n_surviving = totals.get("accepted", 0) + totals.get("corrected", 0)
    assert got.count() == n_surviving

    # a re-run killed between its two overwrites uncommitted the old output
    # and committed nothing: readers get an error, not half a run
    with monkeypatch.context() as m:
        m.setattr("sparkx.pipeline.DEFAULT_SINK", _FailingSink(1, after=True))
        with pytest.raises(SimulatedFailure):
            run_extraction(spark, df, out, run_id="killed")
    with pytest.raises(FileNotFoundError, match="no committed slice"):
        read_extracted(spark, out)

    assert run_extraction(spark, df, out, run_id="clean") == totals
    assert _sidecar_totals(spark, out) == totals
    assert read_extracted(spark, out).count() == n_surviving


def test_run_extraction_refuses_an_out_path_with_resume_groups(spark, tmp_path):
    """A one-shot run into a resumable run's out_path is refused before it
    writes: its root slice would replace the group directories and leave
    their records committed over nothing."""
    df = _transcripts(spark, seed=61)
    out = str(tmp_path / "groups")
    run_resumable(spark, df, out, n_groups=2, run_id="groups")
    want = _chunk_ids(read_extracted(spark, out))
    with pytest.raises(ValueError, match="overlaps the committed slice"):
        run_extraction(spark, df, out, run_id="oneshot")
    assert sorted(completed_groups(out)) == [0, 1]
    assert _chunk_ids(read_extracted(spark, out)) == want


def test_run_resumable_refuses_an_out_path_with_a_one_shot_run(spark, tmp_path):
    """A resumable run into a one-shot run's out_path is refused before it
    writes: readers would read the root slice and the group slices
    together."""
    df = _transcripts(spark, seed=67)
    out = str(tmp_path / "oneshot")
    totals = run_extraction(spark, df, out, run_id="oneshot")
    with pytest.raises(ValueError, match="overlaps the committed slice"):
        run_resumable(spark, df, out, n_groups=2, run_id="groups")
    assert completed_groups(out) == {}
    got = read_extracted(spark, out)
    assert got.count() == totals.get("accepted", 0) + totals.get("corrected", 0)
    assert got.select("chunk_id").distinct().count() == got.count()
    assert _sidecar_totals(spark, out) == totals
