"""End-to-end corpus build funnel: monotone counts, written rows = funnel
tail, deterministic sampling, dedup parity with a pandas recompute."""

from __future__ import annotations

import pandas as pd
import pytest

from sparkx.corpus_build import build_corpus
from sparkx.schemas import TRANSCRIPTS
from sparkx.synth import synth_pandas


@pytest.fixture(scope="module")
def transcripts_pdf():
    t = synth_pandas(n_convs=30, turns_per_conv=8, seed=77)
    # inject exact duplicates so the dedup stage actually removes rows
    dup = t.head(6).copy()
    dup["conv_id"] = dup["conv_id"] + "_dup"
    return pd.concat([t, dup], ignore_index=True)


def test_corpus_build_funnel(spark, tmp_path, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    out = str(tmp_path / "corpus_out")
    funnel = build_corpus(
        spark, df, out, min_tokens=5, max_tokens=5000, min_quality=0.0,
        sample_rate=0.6, salt="t0",
    )
    assert (
        funnel["blocks_in"]
        >= funnel["after_dedup"]
        >= funnel["after_quality"]
        >= funnel["after_sample"]
        > 0
    )
    # the injected duplicates were removed (dedup strictly reduced)
    assert funnel["after_dedup"] < funnel["blocks_in"]
    # written corpus == funnel tail, and chunk ids are unique
    written = spark.read.parquet(f"{out}/corpus").toPandas()
    assert len(written) == funnel["after_sample"]
    assert written.chunk_id.is_unique
    # no near-dup pair survives: normalized text unique in the corpus
    norm = (
        written.structured_text.str.replace(r"\s+", " ", regex=True)
        .str.strip()
        .str.lower()
    )
    assert norm.is_unique
    # metrics sidecar partitions the same totals
    m = spark.read.parquet(f"{out}/metrics").toPandas()
    assert m.n.sum() == funnel["blocks_in"]


def test_corpus_build_rerun_commits_metrics_once(spark, tmp_path, transcripts_pdf):
    """A second build into the same out_path replaces the funnel metrics
    instead of appending to them, like the corpus it describes."""
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    out = str(tmp_path / "rerun_out")
    build_corpus(spark, df, out, min_tokens=5, min_quality=0.0, salt="r0")
    funnel = build_corpus(spark, df, out, min_tokens=5, min_quality=0.0, salt="r0")
    metrics = spark.read.parquet(f"{out}/metrics").toPandas()
    assert metrics.n.sum() == funnel["blocks_in"]
    assert len(spark.read.parquet(f"{out}/corpus").toPandas()) == funnel["after_sample"]


def test_corpus_build_empty_funnel(spark, tmp_path):
    """Zero surviving text blocks must yield a zero-count funnel, not a
    TypeError from int(None) on NULL sums."""
    t = pd.DataFrame(
        {
            "conv_id": ["c0", "c1"],
            "turn_idx": pd.array([0, 0], dtype="int32"),
            "role": ["user", "user"],
            "text": ["tiny", "also tiny"],  # both < 40 chars → dropped_short
            "tool": ["", ""],
            "ts": [pd.Timestamp("2026-01-01")] * 2,
        }
    )
    df = spark.createDataFrame(t, schema=TRANSCRIPTS)
    funnel = build_corpus(spark, df, str(tmp_path / "empty_out"))
    assert funnel == {
        "blocks_in": 0, "after_dedup": 0, "after_quality": 0, "after_sample": 0,
    }


def test_corpus_build_minhash_mode_removes_near_dups(spark, tmp_path, transcripts_pdf):
    """dedup_mode='minhash': near-duplicate blocks (one word changed — exact
    fingerprints differ, so the exact pass keeps BOTH) are resolved to
    clusters and only the min-chunk_id member stays canonical."""
    near = transcripts_pdf.head(8).copy()
    near["conv_id"] = near["conv_id"] + "_near"
    near["text"] = near["text"] + " trailing variation"
    pdf = pd.concat([transcripts_pdf, near], ignore_index=True)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS)

    exact = build_corpus(
        spark, df, str(tmp_path / "exact"), min_tokens=5, min_quality=0.0,
    )
    fuzzy = build_corpus(
        spark, df, str(tmp_path / "fuzzy"), min_tokens=5, min_quality=0.0,
        dedup_mode="minhash", jaccard_threshold=0.5,
    )
    assert fuzzy["blocks_in"] == exact["blocks_in"]
    # the near-dups survive exact dedup but not the cluster pass
    assert fuzzy["after_dedup"] < exact["after_dedup"]
    # funnel stays monotone and the written corpus equals the tail
    assert (
        fuzzy["blocks_in"] >= fuzzy["after_dedup"]
        >= fuzzy["after_quality"] >= fuzzy["after_sample"] > 0
    )
    written = spark.read.parquet(f"{tmp_path}/fuzzy/corpus").toPandas()
    assert len(written) == fuzzy["after_sample"]
    # no surviving pair is a near-dup at the build threshold
    from sparkx.ops.dedup import ngram_jaccard_pairs

    surv = spark.createDataFrame(
        written[["chunk_id", "structured_text"]].rename(
            columns={"chunk_id": "doc_id", "structured_text": "text"}
        )
    )
    assert ngram_jaccard_pairs(surv, n=3, threshold=0.5).count() == 0


def test_corpus_build_is_reproducible(spark, tmp_path, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    a = build_corpus(spark, df, str(tmp_path / "a"), sample_rate=0.5, salt="s")
    b = build_corpus(spark, df, str(tmp_path / "b"), sample_rate=0.5, salt="s")
    assert a == b
    wa = spark.read.parquet(f"{tmp_path}/a/corpus").toPandas()
    wb = spark.read.parquet(f"{tmp_path}/b/corpus").toPandas()
    assert sorted(wa.chunk_id) == sorted(wb.chunk_id)
    # different salt → different (deterministic) cut
    c = build_corpus(spark, df, str(tmp_path / "c"), sample_rate=0.5, salt="s2")
    assert c["after_sample"] != a["after_sample"] or sorted(
        spark.read.parquet(f"{tmp_path}/c/corpus").toPandas().chunk_id
    ) != sorted(wa.chunk_id)


def test_corpus_build_gopher_quality_mode(spark, tmp_path, transcripts_pdf):
    """quality_mode='gopher' swaps the score gate for the MassiveText rule
    battery: counts stay monotone, the frame contract is unchanged (same
    columns as score mode), and the gate agrees with a direct
    gopher_rules() recompute over the extracted text."""
    from pyspark.sql import functions as F

    from sparkx.corpus_build import corpus_flags
    from sparkx.ops.textstats import gopher_rules
    from sparkx.pipeline import extract_blocks

    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    blocks = extract_blocks(df, mode="fastpath", run_id="gq")
    cf = corpus_flags(
        blocks, min_tokens=5, max_tokens=5000, sample_rate=1.0,
        salt="g0", quality_mode="gopher",
    )
    with cf as flagged:
        rows = flagged.select(
            "chunk_id", "structured_text", "passes_quality"
        ).collect()
    got = {r.chunk_id: r.passes_quality for r in rows}
    ref_docs = spark.createDataFrame(
        [(r.chunk_id, r.structured_text) for r in rows],
        "doc_id string, text string",
    )
    want = {
        r.doc_id: r.keep
        for r in gopher_rules(ref_docs, min_words=5, max_words=5000).collect()
    }
    assert got == want
    assert any(got.values()) and not all(got.values())

def test_corpus_flags_persist_modes_agree(spark, transcripts_pdf):
    """persist_mode changes only HOW the extracted base materializes
    (cache / localCheckpoint / nothing), never WHAT comes out: all three
    modes yield identical flag frames, and 'none' leaves no cache handles
    (it is the diagnostic mode the scaling A/B uses to isolate the
    local-mode BlockManager cost — see BENCH/BASELINE.md)."""
    from sparkx.corpus_build import corpus_flags
    from sparkx.pipeline import extract_blocks

    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    blocks = extract_blocks(df, mode="fastpath", run_id="pm")

    def snap(mode):
        cf = corpus_flags(
            blocks, min_tokens=5, max_tokens=5000, sample_rate=0.5,
            salt="pm0", dedup_mode="minhash", persist_mode=mode,
        )
        with cf as flagged:
            rows = sorted(
                (r.chunk_id, r.is_canonical, r.passes_quality, r.sampled)
                for r in flagged.select(
                    "chunk_id", "is_canonical", "passes_quality", "sampled"
                ).collect()
            )
        return cf, rows

    cf_cache, rows_cache = snap("cache")
    cf_ckpt, rows_ckpt = snap("checkpoint")
    cf_none, rows_none = snap("none")
    assert rows_cache == rows_ckpt == rows_none
    assert len(cf_cache.caches) == 2          # base + exact-canonical frame
    assert cf_ckpt.caches == cf_none.caches == ()
    with pytest.raises(ValueError, match="persist_mode"):
        corpus_flags(blocks, persist_mode="bogus")
