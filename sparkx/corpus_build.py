"""End-to-end corpus build: the full training-data funnel as ONE Spark DAG.

    transcripts ─ extract_blocks ─ surviving text blocks
        → exact near-dup removal   (normalized-fingerprint canonical pick)
        → quality + length gate    (C4/Gopher-style heuristics)
        → deterministic sampling   (hash gate, reproducible)
        → corpus parquet (bucketed) + one-pass funnel metrics

Design for 100 TB:

* **Single materialization.** Every stage is expressed as a COLUMN FLAG on
  the surviving-block frame (``is_canonical``, ``passes_quality``,
  ``sampled``), so the funnel metrics and the final filter come from the
  same cached pass — no per-stage jobs re-reading the input.
* **Skew-safe shuffles.** The dedup canonical pick is
  ``groupBy(fp).agg(min(chunk_id))`` (map-side combinable) + an equi-join
  back (AQE-skew-splittable) — never a window, which cannot be partially
  aggregated and pins a hot fingerprint's every duplicate in one task.  The
  metrics rollup is tiny and post-aggregation.  Quality, sampling, and the
  write are narrow.
* **Dedup = keep the lexicographically-first chunk_id per normalized
  fingerprint** — deterministic under any partitioning, and chunk_id is
  itself deterministic (sha256 of coordinates), so re-runs pick identical
  canonicals.  ``dedup_mode="minhash"`` additionally resolves MinHash-LSH
  near-dup pairs to connected-component clusters and keeps one canonical per
  cluster — fuzzy dedup that actually removes near-dups, not just lists them.
* **Reproducible subset**: the sample gate is the md5 hash gate from
  sparkx.ops.corpus — same salt+rate selects the same corpus on any engine,
  which is what makes a training-data cut auditable.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkx.ops.corpus import _gate, sample_bucket
from sparkx.ops.dedup import connected_components, minhash_lsh_pairs
from sparkx.ops.textstats import fingerprint, quality_score, token_count
from sparkx.pipeline import extract_blocks, surviving

# NULL-fingerprint sentinel for the canonical-pick join key: fp is an md5 hex
# string, so no real fingerprint can collide with it.  Joining on a coalesced
# key keeps NULL-fp rows (equality join keys drop NULLs silently) and groups
# them as ONE dedup group — the same semantics a row_number window (and the
# DuckDB window oracle) gives NULL partitions.
_NULL_FP_KEY = "∅null-fp"


@dataclasses.dataclass
class CorpusFlags:
    """The flagged corpus frame plus the EXPLICIT cache handles backing it.

    ``corpus_flags`` persists intermediate frames so the expensive extraction
    pass materializes exactly once per job; the handles ride here — not on a
    hidden DataFrame attribute — so callers can't silently lose them by
    transforming the frame.  Use as a context manager (unpersists on exit)
    or call :meth:`unpersist` after the final action over ``frame``::

        with corpus_flags(blocks) as flagged:
            flagged.agg(...).collect()
    """

    frame: DataFrame
    caches: tuple[DataFrame, ...] = ()

    def unpersist(self) -> None:
        for c in self.caches:
            c.unpersist()

    def __enter__(self) -> DataFrame:
        return self.frame

    def __exit__(self, *exc) -> None:
        self.unpersist()


def corpus_flags(
    blocks: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 5000,
    min_quality: float = 0.3,
    sample_rate: float = 1.0,
    salt: str = "corpus0",
    dedup_mode: str = "exact",
    jaccard_threshold: float = 0.5,
    ngram_n: int = 3,
    quality_mode: str = "score",
    persist_mode: str = "cache",
) -> CorpusFlags:
    """Annotate surviving text blocks with the funnel stage flags.

    Returns a :class:`CorpusFlags` — the flagged frame plus the cache
    handles that guarantee the extraction pass materializes ONCE per job:
    the canonical pick self-joins the extracted frame, and without a
    materialization point between extraction and that join, Catalyst expands
    the full scan→MapInPandas subtree on BOTH join sides (extraction is the
    dominant cost at the 100 TB design point — doubling it is the single
    worst plan defect this module can have).  The extracted+fingerprinted
    base is persisted (MEMORY_AND_DISK; a real deployment sizes executor
    storage or swaps in a reliable checkpoint) so both sides of the pick
    read the in-memory relation.

    ``dedup_mode``:

    * ``"exact"`` — ``is_canonical`` = lowest chunk_id per normalized
      fingerprint.  The pick is ``groupBy(fp).agg(min(chunk_id))`` + an
      equi-join back, NOT a row_number window: the groupBy partially
      aggregates map-side and the join is AQE-skew-splittable, so one
      boilerplate string duplicated 10^8 times costs a combiner, not a
      single 10^8-row window task (windows cannot be partially aggregated
      and AQE does not split skewed window partitions).  The join key is
      NULL-coalesced (``_NULL_FP_KEY``): equality join keys silently drop
      NULL rows, while the window form (and the DuckDB oracle) keeps a NULL
      partition — coalescing preserves those rows as one dedup group.
    * ``"minhash"`` — exact pass first, then MinHash-LSH near-dup pairs over
      the exact canonicals are resolved to CLUSTERS (connected components,
      sparkx.ops.dedup.connected_components); ``is_canonical`` keeps only the
      min-chunk_id member of each near-dup cluster.  This is what actually
      removes fuzzy duplicates from a training corpus — pairs alone cannot.
      The cluster-loser set is a near-dup-only frame (tiny relative to the
      corpus), joined back as a null-flagging left join (AQE picks
      broadcast-hash when the frame is actually tiny).  The exact-canonical
      frame is persisted too (second cache handle): the cluster pass, the
      loser join probe, and the caller's materialization all read it.

    ``persist_mode`` controls HOW the single-materialization guarantee is
    implemented — ``"cache"`` (default, ``.persist()`` MEMORY_AND_DISK),
    ``"checkpoint"`` (eager ``localCheckpoint``: truncates lineage, blocks
    live on executor disk), or ``"none"`` (NO materialization point — the
    canonical-pick self-join re-evaluates extraction on both sides; a
    DIAGNOSTIC mode for isolating cache-layer costs in scaling studies,
    never the production setting).  On a real cluster every executor has
    its own BlockManager, but in local mode all tasks share ONE, which
    serializes cache writes + double cache reads — the A/B between modes
    is how BENCH/BASELINE.md attributes the funnel's local-mode scaling
    ceiling to the cache layer rather than the operator DAG.
    """
    if persist_mode not in ("cache", "checkpoint", "none"):
        raise ValueError(f"unknown persist_mode {persist_mode!r}")

    def _pin(df: DataFrame) -> DataFrame:
        if persist_mode == "cache":
            return df.persist()  # persist() returns self (PySpark API)
        if persist_mode == "checkpoint":
            return df.localCheckpoint(eager=True)
        return df

    text_blocks = surviving(blocks).filter(F.col("chunk_type") == "text")
    fp = fingerprint("structured_text")  # ONE normalization definition
    n = token_count("structured_text")
    base = _pin(
        text_blocks.withColumn("fp", fp)
        .withColumn("_fp_key", F.coalesce(F.col("fp"), F.lit(_NULL_FP_KEY)))
    )
    caches: tuple[DataFrame, ...] = (base,) if persist_mode == "cache" else ()
    canon = base.groupBy("_fp_key").agg(F.min("chunk_id").alias("_canon_chunk_id"))
    flagged = (
        base.join(canon, "_fp_key")
        .withColumn("is_canonical", F.col("chunk_id") == F.col("_canon_chunk_id"))
        .drop("_canon_chunk_id", "_fp_key")
    )
    if dedup_mode == "minhash":
        # persist the exact-canonical frame as well: connected_components
        # localCheckpoints its input eagerly, and the frame is read three
        # times (cluster pass, loser-join probe, caller materialization) —
        # without this each read re-runs the canonical-pick shuffle over the
        # cached base
        flagged = _pin(flagged)
        if persist_mode == "cache":
            caches = (base, flagged)
        reps = flagged.filter("is_canonical").select(
            F.col("chunk_id").alias("doc_id"),
            F.col("structured_text").alias("text"),
        )
        pairs = minhash_lsh_pairs(reps, n=ngram_n, threshold=jaccard_threshold)
        clusters = connected_components(pairs)
        losers = clusters.filter(F.col("node_id") != F.col("cluster_id")).select(
            F.col("node_id").alias("chunk_id"), F.lit(True).alias("_near_dup_loser")
        )
        # no broadcast hint: near-dup losers are usually small, but a crawl
        # can be ~30% near-dup — let AQE pick broadcast-hash when the frame
        # is actually tiny and fall back to a shuffled join when it is not
        flagged = (
            flagged.join(losers, "chunk_id", "left")
            .withColumn(
                "is_canonical",
                F.col("is_canonical") & F.col("_near_dup_loser").isNull(),
            )
            .drop("_near_dup_loser")
        )
    elif dedup_mode != "exact":
        raise ValueError(f"unknown dedup_mode {dedup_mode!r}")
    if quality_mode == "gopher":
        # the MassiveText rule battery as the quality gate (Rae et al. 2021
        # A1.2, textstats.gopher_rules) — layered as columns on the SAME
        # frame (select_all), no self-join, still a map-only stage;
        # min_quality does not apply in this mode (the battery has its own
        # thresholds), min/max_tokens become the word-count bounds
        from sparkx.ops.textstats import gopher_rules

        g = gopher_rules(
            flagged,
            min_words=min_tokens,
            max_words=max_tokens,
            text_col="structured_text",
            id_col="chunk_id",
            select_all=True,
        )
        quality_flagged = g.withColumn("passes_quality", F.col("keep")).drop(
            "n_words", "mean_word_len", "symbol_ratio", "bullet_frac",
            "ellipsis_frac", "stop_hits", "dup_line_frac", "dup_2gram_frac",
            "keep",
        )
    elif quality_mode == "score":
        quality_flagged = flagged.withColumn(
            "passes_quality",
            (n >= min_tokens)
            & (n <= max_tokens)
            & (quality_score("structured_text") >= min_quality),
        )
    else:
        raise ValueError(f"unknown quality_mode {quality_mode!r}")
    out = quality_flagged.withColumn(
        "sampled",
        sample_bucket("chunk_id", salt) < F.lit(_gate(sample_rate)),
    )
    return CorpusFlags(frame=out, caches=caches)


def build_corpus(
    spark: SparkSession,
    transcripts: DataFrame,
    out_path: str,
    mode: str = "fastpath",
    min_tokens: int = 20,
    max_tokens: int = 5000,
    min_quality: float = 0.3,
    sample_rate: float = 1.0,
    salt: str = "corpus0",
    run_id: str | None = None,
    dedup_mode: str = "exact",
    jaccard_threshold: float = 0.5,
    quality_mode: str = "score",
) -> dict:
    """Run the funnel, write the corpus + metrics, return the funnel counts.

    Returns dict with: blocks_in, after_dedup, after_quality, after_sample
    (each counting rows surviving UP TO that stage, stages applied in
    order dedup → quality → sample).  Two passes over the cached frame:
    the ≤8-row flag-combination rollup (from which the funnel dict is
    derived driver-side — no separate agg job) and the corpus write.
    The corpus and its funnel metrics (``<out>/metrics``) are both
    overwritten, so a re-run into the same ``out_path`` replaces them
    instead of adding to them.  ``run_id`` defaults to a fresh unique id and
    is recorded on every metrics row.
    """
    import uuid

    run_id = run_id or f"corpus_{uuid.uuid4().hex[:8]}"
    cf = corpus_flags(
        extract_blocks(transcripts, mode=mode, run_id=run_id),
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        min_quality=min_quality,
        sample_rate=sample_rate,
        salt=salt,
        dedup_mode=dedup_mode,
        jaccard_threshold=jaccard_threshold,
        quality_mode=quality_mode,
    )
    flagged = cf.frame.persist()
    try:
        rollup = (
            flagged.groupBy("is_canonical", "passes_quality", "sampled")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        funnel = {
            "blocks_in": sum(r.n for r in rollup),
            "after_dedup": sum(r.n for r in rollup if r.is_canonical),
            "after_quality": sum(
                r.n for r in rollup if r.is_canonical and r.passes_quality
            ),
            "after_sample": sum(
                r.n
                for r in rollup
                if r.is_canonical and r.passes_quality and r.sampled
            ),
        }
        final = flagged.filter(
            F.col("is_canonical") & F.col("passes_quality") & F.col("sampled")
        ).drop("fp", "is_canonical", "passes_quality", "sampled")
        final.write.mode("overwrite").partitionBy("conv_bucket").parquet(
            f"{out_path}/corpus"
        )
        metrics = spark.createDataFrame(
            [
                (bool(r.is_canonical), bool(r.passes_quality), bool(r.sampled),
                 int(r.n), run_id)
                for r in rollup
            ] or [(True, True, True, 0, run_id)],
            "is_canonical boolean, passes_quality boolean, sampled boolean, "
            "n long, run_id string",
        )
        metrics.write.mode("overwrite").parquet(f"{out_path}/metrics")
        return funnel
    finally:
        flagged.unpersist()
        cf.unpersist()
