"""Structured-Streaming incremental ingest: same kernel, micro-batch sink,
checkpointed resume, output identical to the batch pipeline."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from sparkx.checkpoint import read_extracted, run_resumable
from sparkx.schemas import TRANSCRIPTS
from sparkx.streaming import make_batch_sink, start_extraction_stream
from sparkx.synth import synth_pandas, write_transcripts_parquet


def _write_input_files(tmp_path, n_files=3, seed0=60):
    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()
    frames = []
    for i in range(n_files):
        pdf = synth_pandas(n_convs=6, turns_per_conv=5, seed=seed0 + i)
        pdf["conv_id"] = pdf["conv_id"] + f"_f{i}"
        write_transcripts_parquet(pdf, str(in_dir / f"part_{i}.parquet"))
        frames.append(pdf)
    return in_dir, frames


def test_stream_matches_batch(spark, tmp_path):
    import pandas as pd

    from sparkx.pipeline import extract_blocks, surviving

    in_dir, frames = _write_input_files(tmp_path)
    out = tmp_path / "stream_out"
    q = start_extraction_stream(
        spark, str(in_dir), str(out), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    got = (
        spark.read.parquet(f"{out}/extracted/stream")
        .toPandas()
        .sort_values("chunk_id")
        .reset_index(drop=True)
    )
    batch_in = spark.createDataFrame(pd.concat(frames, ignore_index=True), TRANSCRIPTS)
    want = (
        surviving(extract_blocks(batch_in))
        .toPandas()
        .sort_values("chunk_id")
        .reset_index(drop=True)
    )
    assert list(got.chunk_id) == list(want.chunk_id)
    assert list(got.structured_text) == list(want.structured_text)
    # ledger manifests were committed per micro-batch
    ledger = [f for f in os.listdir(out / "_ledger") if f.startswith("stream_batch_")]
    assert ledger


def test_sink_replay_is_idempotent(spark, tmp_path):
    """ADVICE r1: a micro-batch retried after the data write but before the
    streaming-checkpoint commit must NOT duplicate rows — the batch-keyed
    overwrite sink rewrites its own survivors and metrics slices on replay."""
    from sparkx.pipeline import extract_blocks

    pdf = synth_pandas(n_convs=5, turns_per_conv=4, seed=81)
    batch = spark.createDataFrame(pdf, TRANSCRIPTS)
    out = str(tmp_path / "replay_out")
    sink = make_batch_sink(out, str(tmp_path / "ckpt"), mode="fastpath", run_id="replay")

    def manifests():
        led = tmp_path / "replay_out" / "_ledger"
        return [json.loads(f.read_text()) for f in sorted(led.glob("*.json"))]

    sink(batch, 0)
    first = spark.read.parquet(f"{out}/extracted/stream").toPandas()
    [first_manifest] = manifests()
    sink(batch, 0)  # simulated replay of the same micro-batch
    second = spark.read.parquet(f"{out}/extracted/stream").toPandas()
    assert len(second) == len(first)
    assert second.chunk_id.is_unique
    assert sorted(second.chunk_id) == sorted(first.chunk_id)
    # the metrics sidecar was committed once: its block totals by status are
    # those of one extraction of the batch
    m = spark.read.parquet(f"{out}/metrics/stream").toPandas()
    blocks = m[m.metric.str.startswith("blocks_")]
    got = blocks.groupby("metric").value.sum().to_dict()
    want = extract_blocks(batch).groupBy("status").count().toPandas()
    assert got == {f"blocks_{s}": float(n) for s, n in zip(want.status, want["count"])}
    # the replay left exactly one manifest for the batch, and it is the
    # replay's: its counts are one extraction's and it was committed later
    [manifest] = manifests()
    assert manifest["slice"] == "stream/batch_id=0"
    assert manifest["committed_at"] > first_manifest["committed_at"]
    assert manifest["status_counts"] == dict(zip(want.status, want["count"]))
    assert manifest["n_surviving"] == len(second)
    assert sorted(read_extracted(spark, out).toPandas().chunk_id) == sorted(second.chunk_id)


def test_stream_restart_identity_guard(spark, tmp_path):
    """A committed stream out_path refuses (a) a different checkpoint dir
    (a fresh checkpoint re-numbers batches from 0 over committed batch
    dirs), (b) the same checkpoint under a different mode, and (c) a restart
    whose checkpoint was lost."""
    import shutil

    in_dir, _ = _write_input_files(tmp_path, n_files=1, seed0=90)
    out, ckpt = str(tmp_path / "gout"), str(tmp_path / "gckpt")
    q = start_extraction_stream(spark, str(in_dir), out, ckpt, available_now=True)
    q.awaitTermination(120)

    with pytest.raises(ValueError, match="committed with"):
        start_extraction_stream(spark, str(in_dir), out, str(tmp_path / "ckpt2"))
    with pytest.raises(ValueError, match="committed with"):
        start_extraction_stream(spark, str(in_dir), out, ckpt, mode="agentic")
    shutil.rmtree(ckpt)
    with pytest.raises(ValueError, match="is gone"):
        start_extraction_stream(spark, str(in_dir), out, ckpt)


def test_stream_resume_processes_only_new_files(spark, tmp_path):
    in_dir, _ = _write_input_files(tmp_path, n_files=2, seed0=70)
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    q = start_extraction_stream(spark, str(in_dir), str(out), str(ckpt), available_now=True)
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/extracted/stream").count()

    # add one new file; restart from the same checkpoint
    pdf = synth_pandas(n_convs=4, turns_per_conv=5, seed=99)
    pdf["conv_id"] = pdf["conv_id"] + "_new"
    write_transcripts_parquet(pdf, str(in_dir / "part_new.parquet"))

    q2 = start_extraction_stream(spark, str(in_dir), str(out), str(ckpt), available_now=True)
    q2.awaitTermination(120)
    got = spark.read.parquet(f"{out}/extracted/stream").toPandas()
    assert len(got) > n1
    assert got.chunk_id.is_unique, "resume reprocessed already-committed files"
    assert got.conv_id.str.endswith("_new").sum() > 0


def test_stream_that_committed_nothing_restarts_under_a_fresh_checkpoint(spark, tmp_path):
    """A start over an empty input commits no batch, so there is nothing a
    fresh checkpoint could re-slice: the restart under it goes ahead."""
    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()
    out = str(tmp_path / "out")
    q = start_extraction_stream(spark, str(in_dir), out, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    assert not os.path.isdir(os.path.join(out, "_ledger"))

    pdf = synth_pandas(n_convs=4, turns_per_conv=5, seed=97)
    write_transcripts_parquet(pdf, str(in_dir / "part_0.parquet"))
    q = start_extraction_stream(spark, str(in_dir), out, str(tmp_path / "ckpt2"))
    q.awaitTermination(120)
    assert q.exception() is None
    got = read_extracted(spark, out).toPandas()
    assert len(got) and got.chunk_id.is_unique


def _committed(spark, out):
    """The ledger's records and the chunk ids a reader sees."""
    records = {p.name: json.loads(p.read_text())
               for p in sorted(Path(out, "_ledger").glob("*.json"))}
    return records, sorted(r.chunk_id for r in read_extracted(spark, out).collect())


def test_stream_refuses_an_out_path_with_resume_groups(spark, tmp_path):
    """Resume groups and stream batches never overlap as paths, but they
    record different parameters, so a stream into a resumable run's
    out_path is refused before it starts."""
    in_dir, frames = _write_input_files(tmp_path, n_files=1, seed0=95)
    out = str(tmp_path / "groups")
    run_resumable(spark, spark.createDataFrame(frames[0], TRANSCRIPTS), out,
                  n_groups=2, run_id="groups")
    before = _committed(spark, out)
    with pytest.raises(ValueError, match="committed with"):
        start_extraction_stream(spark, str(in_dir), out, str(tmp_path / "ckpt"))
    assert _committed(spark, out) == before


def test_resume_refuses_an_out_path_with_stream_batches(spark, tmp_path):
    """The reverse order: a resumable run into a stream's out_path is
    refused before it writes."""
    pdf = synth_pandas(n_convs=5, turns_per_conv=4, seed=96)
    batch = spark.createDataFrame(pdf, TRANSCRIPTS)
    out = str(tmp_path / "stream")
    make_batch_sink(out, str(tmp_path / "ckpt"))(batch, 0)
    before = _committed(spark, out)
    with pytest.raises(ValueError, match="committed with"):
        run_resumable(spark, batch, out, n_groups=2, run_id="groups")
    assert _committed(spark, out) == before
