"""Sidecar metrics table: totals must reconcile with the oracle's counters
(reference pipeline.py:255-319; FIXTURES.md §4)."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sparkx import oracle as O
from sparkx.pipeline import extract_blocks, extraction_metrics
from sparkx.schemas import METRICS, TRANSCRIPTS
from sparkx.synth import synth_pandas


def test_metric_totals_match_oracle(spark):
    t = synth_pandas(n_convs=20, turns_per_conv=8, seed=47)
    blocks = extract_blocks(
        spark.createDataFrame(t, schema=TRANSCRIPTS), mode="agentic", run_id="m1"
    )
    m = extraction_metrics(blocks, "m1")

    got = {
        r.metric: r.total
        for r in m.filter(F.col("phase") == "extract")
        .groupBy("metric")
        .agg(F.sum("value").alias("total"))
        .collect()
    }
    want = O.metrics_totals(O.run_oracle(t.to_dict("records"), mode="agentic", validate=True))

    for status in ("accepted", "dropped_short", "dropped_table_small", "dropped_figure_small"):
        assert got.get(f"blocks_{status}", 0) == want[status], status
    assert got.get("retried", 0) == want["retried"]


def test_metrics_are_per_partition(spark):
    t = synth_pandas(n_convs=30, turns_per_conv=6, seed=53)
    blocks = extract_blocks(
        spark.createDataFrame(t, schema=TRANSCRIPTS), n_partitions=8, run_id="m2"
    )
    m = extraction_metrics(blocks, "m2").toPandas()
    assert m.partition_id.nunique() > 1, "metrics not per-partition"
    assert set(m.phase) == {"extract", "validate"}
    assert (m.run_id == "m2").all()


def _metric_row(row) -> tuple:
    """A sidecar row, comparable across engines: numpy scalars as Python
    ones, NaN as NULL, the value rounded below the last bits that the
    summation order decides."""
    row = [v.item() if hasattr(v, "item") else v for v in row]
    row = [None if isinstance(v, float) and math.isnan(v) else v for v in row]
    row[5] = None if row[5] is None else round(row[5], 9)
    return tuple(row)


@pytest.mark.parametrize("mode", ["fastpath", "agentic"])
def test_sidecar_is_one_aggregate_of_blocks(spark, mode):
    """The sidecar equals a pandas recomputation from the same blocks:
    per (partition_id, conv_bucket, status, chunk_type) group, a
    ``blocks_<status>`` count, a ``retried`` sum and an ``avg_confidence``
    mean (detail ``<type>|<status>``).  It stamps one ``ts`` and its plan
    aggregates once: one aggregation Exchange, not one per metric."""
    t = synth_pandas(n_convs=20, turns_per_conv=8, seed=61)
    blocks = extract_blocks(
        spark.createDataFrame(t, schema=TRANSCRIPTS), mode=mode, run_id="m3"
    ).persist()
    try:
        m = extraction_metrics(blocks, "m3")
        # the adaptive plan before it runs (once run, it prints both the
        # initial and the final plan)
        plan = m._jdf.queryExecution().executedPlan().toString()
        got = m.toPandas()
        pdf = blocks.select(
            "partition_id", "conv_bucket", "status", "chunk_type", "retried", "confidence"
        ).toPandas()
    finally:
        blocks.unpersist()

    want = []
    keys = ["partition_id", "conv_bucket", "status", "chunk_type"]
    for (pid, bucket, status, ctype), g in pdf.groupby(keys, dropna=False):
        retried = g.retried.dropna().astype(int)
        want += [
            ("m3", pid, bucket, "extract", f"blocks_{status}", float(len(g)), ctype),
            ("m3", pid, bucket, "extract", "retried",
             float(retried.sum()) if len(retried) else None, ctype),
            ("m3", pid, bucket, "validate", "avg_confidence", g.confidence.mean(),
             f"{ctype}|{status}"),
        ]
    assert list(got.columns) == METRICS.fieldNames()
    assert Counter(map(_metric_row, got.drop(columns="ts").itertuples(index=False))) == Counter(
        map(_metric_row, want)
    )
    assert got.ts.nunique() == 1
    agg_exchanges = re.findall(
        r"Exchange hashpartitioning\(partition_id#\d+, conv_bucket#\d+, status#\d+, "
        r"chunk_type#\d+", plan
    )
    assert len(agg_exchanges) == 1, plan
