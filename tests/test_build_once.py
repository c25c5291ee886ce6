"""The routed plan's expressions are built once per JVM and reused: a warm
``extract_blocks`` call crosses the Py4J boundary a few hundred times, not
thousands, and reusing the memoized Columns never mixes up inputs of the
tree (``mode``, ``validate``, ``emit_raw``) or the plans they appear in."""

from __future__ import annotations

import itertools
import sys
import threading
import time

import pandas as pd
from pyspark import SparkContext

from sparkx.pipeline import _once_per_jvm, extract_blocks
from sparkx.schemas import TRANSCRIPTS
from sparkx.synth import synth_pandas
from tests.conftest import SORT_KEYS, assert_routed_equals_kernel
from tests.test_native_struct_fuzz import _ADVERSARIAL, _frame


def _turns() -> pd.DataFrame:
    return pd.concat(
        [_frame(_ADVERSARIAL), synth_pandas(n_convs=6, turns_per_conv=8, seed=11)],
        ignore_index=True,
    )


def test_warm_extract_blocks_crosses_py4j_rarely(spark):
    """Counted, not timed: rebuilding the native Column tree on every call
    took 4,600-5,800 round trips; applying the memoized one takes ~400."""
    extract_blocks(spark.createDataFrame(_turns(), schema=TRANSCRIPTS))  # warm-up
    df = spark.createDataFrame(_turns(), schema=TRANSCRIPTS)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    trips = 0

    def counting(*args, **kwargs):
        nonlocal trips
        trips += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        extract_blocks(df)
    finally:
        client.send_command = send
    assert 0 < trips < 1000, f"{trips} Py4J round trips for one warm extract_blocks"


def test_memo_key_covers_every_input(spark):
    """All eight (mode, validate, emit_raw) combinations, each visited twice
    with the others in between, equal the pandas kernel on the same turns:
    a memo key missing one input hands a combination another's tree."""
    turns = _turns()
    df = spark.createDataFrame(turns, schema=TRANSCRIPTS)
    combos = list(itertools.product(["fastpath", "agentic"], [True, False], [True, False]))
    for mode, validate, emit_raw in combos + combos:
        routed = extract_blocks(df, mode=mode, validate=validate, emit_raw=emit_raw,
                                n_partitions=1).toPandas()
        assert ("raw_content" in routed.columns) == emit_raw
        assert_routed_equals_kernel(routed, turns, mode, validate, emit_raw)


def test_memoized_columns_twice_in_one_plan(spark):
    """The same memoized Columns, applied twice in one analyzed plan (a
    union of two extractions), give the two outputs computed apart."""
    a = spark.createDataFrame(_frame(_ADVERSARIAL), schema=TRANSCRIPTS)
    b = spark.createDataFrame(synth_pandas(n_convs=6, turns_per_conv=8, seed=11),
                              schema=TRANSCRIPTS)

    def rows(df):
        # partition_id numbers a union's partitions after its first input's
        return sorted((r.asDict() for r in df.drop("partition_id").collect()),
                      key=lambda r: [r[k] for k in SORT_KEYS])

    for mode in ("fastpath", "agentic"):
        together = rows(extract_blocks(a, mode=mode).unionByName(extract_blocks(b, mode=mode)))
        apart = rows(extract_blocks(a, mode=mode)) + rows(extract_blocks(b, mode=mode))
        assert together == sorted(apart, key=lambda r: [r[k] for k in SORT_KEYS])


def test_memo_is_rebuilt_for_a_new_gateway(monkeypatch):
    """A relaunched JVM (a new Py4J gateway) gets freshly built objects,
    never the dead gateway's."""
    built = []

    @_once_per_jvm
    def build(key):
        built.append(key)
        return object()

    monkeypatch.setattr(SparkContext, "_gateway", object())
    first = build("k")
    assert build("k") is first and built == ["k"]
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert build("k") is not first and built == ["k", "k"]


def test_memo_builds_once_under_concurrent_callers(monkeypatch):
    """Stream micro-batches call the builders from several threads; they
    all get one object, built once."""
    built = []

    @_once_per_jvm
    def build(key):
        built.append(key)
        time.sleep(0.01)
        return object()

    monkeypatch.setattr(SparkContext, "_gateway", object())
    got = []
    threads = [threading.Thread(target=lambda: got.append(build("k"))) for _ in range(32)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 32 and len({id(g) for g in got}) == 1 and built == ["k"]
