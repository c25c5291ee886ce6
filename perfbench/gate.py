"""Correctness gate: committed output against ``sparkx.oracle``.

Runs outside every timed region.  Each check returns the problems it found
on the committed output (empty = pass) and the problems it found on a
corrupted copy of that output, which must not be empty -- the self-test that
shows the gate can fail at all:

* :func:`check_extracted` -- per-turn equality of the committed survivors
  with the oracle on a seeded sample of conversations (always including the
  heavy one), the survivor row count, and the metrics sidecar's status
  totals against ``oracle.metrics_totals``;
* :func:`check_corpus` -- the corpus funnel counts and the committed corpus
  rows against a pure-Python recount over the oracle's blocks.
"""

from __future__ import annotations

import decimal
import hashlib
import random
import re

import pyarrow.compute as pc
import pyarrow.dataset as ds

from sparkx import oracle

SURVIVING = ("accepted", "corrected")
STATUSES = ("accepted", "corrected", "discarded", "dropped_short",
            "dropped_table_small", "dropped_figure_small")
# the columns a survivor row is compared on (lineage columns such as run_id,
# partition_id and ts are excluded: they are not oracle semantics)
COMPARED = ("conv_id", "turn_idx", "role", "tool", "chunk_type", "block_idx",
            "structured_text", "intuition_summary", "confidence",
            "agent_notes", "retried", "was_corrected", "status")

# build_corpus settings of the corpus funnel replay (traced mix_oneshot)
CORPUS_ARGS = {"min_tokens": 20, "max_tokens": 5000, "min_quality": 0.3,
               "sample_rate": 0.5, "salt": "corpus0"}


def rows_of(cols: dict) -> list[dict]:
    return [dict(zip(cols, v)) for v in zip(*cols.values())]


def sample_convs(props: dict, seed: int, k: int = 16) -> list[str]:
    r = random.Random(f"gate:{seed}")
    convs = [f"conv_{i:06d}" for i in range(props["conversations"])]
    pick = set(r.sample(convs, min(k, len(convs))))
    if props["heavy_conv"]:
        pick.add(props["heavy_conv"])
    return sorted(pick)


def reference(workload: str, cols: dict) -> dict:
    """Oracle-derived expectations, cached with the input per seed."""
    blocks = oracle.run_oracle(rows_of(cols))
    ref = {"totals": oracle.metrics_totals(blocks)}
    if workload == "mix_oneshot":  # the corpus funnel replays on this input
        ref.update(funnel_recount(blocks))
    return ref


def _survivor_key(row: dict) -> tuple:
    return tuple(row[c] for c in COMPARED)


def expected_survivors(cols: dict, convs: list[str]) -> dict[str, tuple]:
    wanted = set(convs)
    turns = [r for r in rows_of(cols) if r["conv_id"] in wanted]
    out = {}
    for b in oracle.run_oracle(turns):
        if b.status in SURVIVING:
            out[b.chunk_id] = _survivor_key(vars(b))
    return out


def load_survivors(out_dir: str, convs: list[str]) -> tuple[dict[str, tuple], int]:
    """Committed survivor rows of the sampled conversations, keyed by
    chunk_id, and the total committed survivor row count."""
    d = ds.dataset(f"{out_dir}/extracted", format="parquet", partitioning="hive")
    t = d.to_table(columns=["chunk_id", *COMPARED],
                   filter=pc.field("conv_id").isin(convs))
    got = {r["chunk_id"]: _survivor_key(r) for r in t.to_pylist()}
    if len(got) != t.num_rows:
        got["<duplicate chunk_id>"] = ()
    return got, d.count_rows()


def load_metric_totals(out_dir: str) -> dict[str, int]:
    t = ds.dataset(f"{out_dir}/metrics", format="parquet",
                   partitioning="hive").to_table(columns=["metric", "value"])
    tot: dict[str, float] = {}
    for m, v in zip(t.column("metric").to_pylist(), t.column("value").to_pylist()):
        key = m.removeprefix("blocks_") if m.startswith("blocks_") else m
        tot[key] = tot.get(key, 0.0) + v
    return {k: int(v) for k, v in tot.items()}


def compare_extracted(expected: dict, got: dict, n_rows: int,
                      metric_totals: dict, ref: dict) -> list[str]:
    problems = []
    if got != expected:
        diff = sorted(set(expected.items()) ^ set(got.items()))[:3]
        problems.append(f"sampled survivors differ from the oracle, e.g. {diff}")
    totals = ref["totals"]
    if n_rows != totals["accepted"] + totals["corrected"]:
        problems.append(f"survivor rows {n_rows} != oracle "
                        f"{totals['accepted'] + totals['corrected']}")
    want = {s: totals[s] for s in STATUSES}
    have = {s: metric_totals.get(s, 0) for s in STATUSES}
    if have != want or metric_totals.get("retried", 0) != totals["retried"]:
        problems.append(f"metrics sidecar totals {have} != oracle {want}")
    return problems


def status_totals_problem(got: dict, ref: dict) -> list[str]:
    """A job's returned status counts against the oracle totals."""
    want = {s: ref["totals"][s] for s in STATUSES if ref["totals"][s]}
    have = {s: int(n) for s, n in got.items() if n}
    return [] if have == want else [f"status totals {have} != oracle {want}"]


# ── corpus funnel: pure-Python restatement of sparkx.ops.textstats ──────────
_JAVA_WS = "[ \t\n\x0b\f\r]+"
_EN_STOP = {"the", "a", "and", "of", "to", "is"}
_PUNCT = set(".,;:!?")


def normalized(s: str) -> str:
    return re.sub(_JAVA_WS, " ", s).strip(" ").lower()


def _tokens(s: str) -> list[str]:
    return re.split(_JAVA_WS, s.strip(" "))


def _quality(s: str) -> float:
    toks = _tokens(s)
    n = len(toks)
    punct = sum(ch in _PUNCT for ch in s) / max(len(s), 1)
    stop = sum(t in _EN_STOP for t in _tokens(s.lower())) / max(n, 1)
    q = min(1.0, n / 100.0) * 0.5 + (1.0 - punct) * 0.3 + stop * 0.2
    # Spark's round(double, 4): HALF_UP on the double's decimal string
    return float(decimal.Decimal(repr(q)).quantize(
        decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP))


def _sample_bucket(chunk_id: str, salt: str) -> int:
    h = hashlib.md5(f"{salt}|{chunk_id}".encode()).hexdigest()
    return int(h[:8], 16) % 10_000


def funnel_recount(blocks: list) -> dict:
    a = CORPUS_ARGS
    text = [b for b in blocks if b.status in SURVIVING and b.chunk_type == "text"]
    canon: dict[str, str] = {}
    for b in text:
        fp = normalized(b.structured_text)
        canon[fp] = min(canon.get(fp, b.chunk_id), b.chunk_id)
    dedup = [b for b in text if canon[normalized(b.structured_text)] == b.chunk_id]
    quality = [b for b in dedup
               if a["min_tokens"] <= len(_tokens(b.structured_text)) <= a["max_tokens"]
               and _quality(b.structured_text) >= a["min_quality"]]
    gate = round(a["sample_rate"] * 10_000)
    sample = [b for b in quality if _sample_bucket(b.chunk_id, a["salt"]) < gate]
    return {
        "funnel": {"blocks_in": len(text), "after_dedup": len(dedup),
                   "after_quality": len(quality), "after_sample": len(sample)},
        "corpus_ids": sorted(b.chunk_id for b in sample),
    }


def load_corpus_ids(out_dir: str) -> list[str]:
    t = ds.dataset(f"{out_dir}/corpus", format="parquet",
                   partitioning="hive").to_table(columns=["chunk_id"])
    return sorted(t.column("chunk_id").to_pylist())


def compare_corpus(funnel: dict, ids: list[str], ref: dict) -> list[str]:
    problems = []
    if funnel != ref["funnel"]:
        problems.append(f"funnel {funnel} != recount {ref['funnel']}")
    if ids != ref["corpus_ids"]:
        problems.append(f"corpus rows ({len(ids)}) differ from the recount "
                        f"({len(ref['corpus_ids'])})")
    return problems


def check_extracted(out_dir: str, cols: dict, convs: list[str], ref: dict) -> tuple[list[str], list[str]]:
    """(problems on the committed output, problems the gate found on a
    corrupted copy of it -- the second list must be non-empty)."""
    expected = expected_survivors(cols, convs)
    got, n_rows = load_survivors(out_dir, convs)
    totals = load_metric_totals(out_dir)
    problems = compare_extracted(expected, got, n_rows, totals, ref)
    bad = dict(got)
    if bad:
        cid = min(bad)
        row = list(bad[cid])
        i = COMPARED.index("structured_text")
        row[i] = row[i] + "x"
        bad[cid] = tuple(row)
    caught = compare_extracted(expected, bad, n_rows, totals, ref)
    return problems, caught


def check_corpus(out_dir: str, funnel: dict, ref: dict) -> tuple[list[str], list[str]]:
    ids = load_corpus_ids(out_dir)
    problems = compare_corpus(funnel, ids, ref)
    caught = compare_corpus(funnel, ids[1:], ref)
    return problems, caught
