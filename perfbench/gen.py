"""Seeded input generators for the benchmark workloads.

The benchmark owns these generators (it does not call ``sparkx.synth``), so
editing the program's own test-data code can never change what a workload
measures.  Every generator is a pure function of ``seed``; the program only
ever sees the parquet files written by :func:`write_bucketed`.

Layout: ``bucket(16, conv_id)`` files (FIXTURES.md section 1) -- file ``bNN``
holds every turn of the conversations whose bucket is ``NN``, sorted by
``(conv_id, turn_idx)``.  The bucket hash is CRC-32 of the conversation id,
a stand-in for Iceberg's murmur3 bucket transform: what matters is that the
files are conversation-clustered.  At these sizes Spark packs the 16 small
files into ``defaultParallelism`` scan splits, so the partition-count salt
probe in ``extract_blocks`` does salt them; the traced run reports it as
``pipeline.salt.applied``.

:func:`self_check` re-derives each workload's stated properties from the
generated rows as exact counts and raises if one does not hold.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import zlib
from statistics import NormalDist

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gate

N_BUCKETS = 16

# Workload sizes, set by the run budget: two cold set-ups, the warm-up job
# and the measured jobs must fit in about a minute on 4 cores.
# A larger mix also leaves the measured job on the JIT warm-up slope: at 20k
# turns successive warm jobs fell from 8.2 s to 5.5 s over eight jobs; at 5k
# turns jobs two to five held at 5.2 s +- 5%.  structured_skew at 600
# conversations (8k turns) ran jobs of 7-9 s, too long for three measured
# jobs in a run.
MIX_CONVS = 50           # x 90-110 turns
SKEW_CONVS = 100         # the heavy one + log-normal lengths, median SKEW_MEDIAN
SKEW_MEDIAN = 4
SKEW_HEAVY_FACTOR = 1000

_WORDS = (
    "model data spark table figure extraction pipeline transcript agent "
    "analysis accuracy latency throughput shuffle partition column vector "
    "gradient training evaluation cluster executor memory window ordering "
    "the a and of to is"
).split()
_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "python", "browser"]
_BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# Exact family counts per 100 turns.  KERNEL_FAMILIES are the multi-line
# structured payloads that the native Catalyst path does not claim; every
# other family is claimed natively (prose, single-line figures, all-tab
# tables).
MIX_FAMILIES = {
    "short": 16, "prose": 16, "prose_long": 4, "table": 16,
    "table_small": 4, "figure": 18, "figure_small": 4, "figure_ocr": 4,
    "crossref": 6, "multiblock": 8, "lowconf": 4,
}
SKEW_FAMILIES = {
    "multiblock": 30, "table_fig": 20, "fig_pair": 12,
    "prose": 20, "short": 8, "table": 10,
}
KERNEL_FAMILIES = {"multiblock", "table_fig", "fig_pair"}

# mix_oneshot: share of assistant/tool prose turns that carry boilerplate,
# drawn from a small pool and re-cased/re-spaced so that only the corpus
# funnel's normalised fingerprint finds the duplicates
DUP_PERCENT = 30
DUP_POOL = 40


def _prose(r: random.Random, n_words: int) -> str:
    return "The " + " ".join(r.choice(_WORDS) for _ in range(n_words)) + (
        " achieved measurable results on the benchmark."
    )


def _table(r: random.Random, n_rows: int, n_cols: int) -> str:
    rows = ["\t".join(f"col_{i}" for i in range(n_cols))]
    for _ in range(n_rows - 1):
        cells = []
        for _ in range(n_cols):
            k = r.randrange(3)
            cells.append("" if k == 0 else str(r.randrange(10000)) if k == 1
                         else r.choice(_WORDS))
        rows.append("\t".join(cells))
    return "\n".join(rows)


def _figure(r: random.Random, small: bool = False, ocr: bool = False) -> str:
    if small:
        w, h = r.randrange(10, 79), r.randrange(10, 200)
    else:
        w, h = r.randrange(80, 1200), r.randrange(80, 900)
    mode = "OCR" if ocr else "RGB"
    return f"FIG;mode={mode};w={w};h={h};caption={_prose(r, 6)}"


def _text(r: random.Random, family: str) -> str:
    if family == "short":
        return r.choice(["ok", "   done.  ", "yes", " ack ", ""])
    if family == "prose":
        return _prose(r, r.randrange(20, 60))
    if family == "prose_long":
        return _prose(r, 450)
    if family == "table":
        return _table(r, r.randrange(2, 6), r.randrange(2, 5))
    if family == "table_small":
        return _table(r, 1, r.randrange(2, 5))
    if family == "figure":
        return _figure(r)
    if family == "figure_small":
        return _figure(r, small=True)
    if family == "figure_ocr":
        return _figure(r, ocr=True)
    if family == "crossref":
        kw = r.choice(["see figure", "table", "section", "refer to"])
        return _prose(r, 15) + f" For details {kw} 3 in the appendix."
    if family == "lowconf":
        return _prose(r, 20) + " [[LOWCONF]]"
    if family == "multiblock":
        return "\n".join([
            _table(r, r.randrange(2, 5), r.randrange(2, 4)), _figure(r),
            _prose(r, r.randrange(12, 30)), _table(r, 2, 2),
            _figure(r, small=True),
        ])
    if family == "table_fig":
        return _table(r, r.randrange(2, 6), 3) + "\n" + _figure(r)
    if family == "fig_pair":
        return "\n".join([_figure(r), _figure(r), _prose(r, 10)])
    raise ValueError(family)


def _families(r: random.Random, mix: dict[str, int], n: int) -> list[str]:
    """Exactly ``n * pct / 100`` turns per family (remainder to the first),
    in seeded random order."""
    fams = [f for f, pct in mix.items() for _ in range(n * pct // 100)]
    fams = [next(iter(mix))] * (n - len(fams)) + fams
    r.shuffle(fams)
    return fams


def _boilerplate_pool(r: random.Random) -> list[str]:
    return [
        "Thank you for the question. " + _prose(r, r.randrange(25, 45))
        + " Let me know if anything else is needed."
        for _ in range(DUP_POOL)
    ]


def _variant(r: random.Random, text: str) -> str:
    """Same normalised text, different bytes: case flips and whitespace runs."""
    words = text.split(" ")
    out = []
    for w in words:
        k = r.randrange(4)
        out.append(w.upper() if k == 0 else w.capitalize() if k == 1 else w)
    sep = r.choice([" ", "  ", "   ", "\n "])
    return r.choice(["", " ", "\n"]) + sep.join(out)


def generate(workload: str, seed: int) -> tuple[dict, dict]:
    """Rows (column -> list) and the workload's stated properties."""
    r = random.Random(f"{workload}:{seed}")
    if workload == "mix_oneshot":
        lengths = [r.randrange(90, 111) for _ in range(MIX_CONVS)]
        heavy = None
    elif workload == "structured_skew":
        # the log-normal quantiles around SKEW_MEDIAN in seeded order, so
        # every seed has the same lengths and total turns; conversation 0 is
        # SKEW_HEAVY_FACTOR x the median of the rest
        n_rest = SKEW_CONVS - 1
        rest = [max(1, round(math.exp(NormalDist().inv_cdf((i + 0.5) / n_rest)) * SKEW_MEDIAN))
                for i in range(n_rest)]
        r.shuffle(rest)
        lengths = [SKEW_HEAVY_FACTOR * _median(rest)] + rest
        heavy = "conv_000000"
    else:
        raise ValueError(f"unknown workload {workload!r}")

    n = sum(lengths)
    mix = {"mix_oneshot": MIX_FAMILIES, "structured_skew": SKEW_FAMILIES}[workload]
    fams = _families(r, mix, n)
    pool = _boilerplate_pool(r) if workload == "mix_oneshot" else []
    cols: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    n_dup = n_eligible = 0
    i = 0
    for ci, length in enumerate(lengths):
        conv = f"conv_{ci:06d}"
        for ti in range(length):
            role = _ROLES[r.randrange(3)]
            fam = fams[i]
            i += 1
            if pool and role != "user" and fam == "prose":
                # exactly floor(eligible * DUP_PERCENT / 100) of the prose
                # assistant/tool turns become boilerplate
                n_eligible += 1
                if (n_eligible * DUP_PERCENT) // 100 > n_dup:
                    n_dup += 1
                    text = _variant(r, pool[r.randrange(DUP_POOL)])
                else:
                    text = _text(r, fam)
            else:
                text = _text(r, fam)
            cols["conv_id"].append(conv)
            cols["turn_idx"].append(ti)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(_TOOLS[r.randrange(3)] if role == "tool" else "")
            cols["ts"].append(_BASE_TS + dt.timedelta(seconds=(ci % 100000) * 600 + ti * 7))
    props = {
        "turns": n,
        "conversations": len(lengths),
        "kernel_turns": sum(1 for f in fams if f in KERNEL_FAMILIES),
        "heavy_conv": heavy,
        "heavy_turns": lengths[0] if heavy else 0,
        "median_conv_turns": _median(lengths[1:] if heavy else lengths),
        "dup_turns": n_dup,
        "dup_eligible": n_eligible,
        "boilerplate_pool": pool,
    }
    return cols, props


def _median(xs: list[int]) -> int:
    s = sorted(xs)
    return s[len(s) // 2]


def bucket_of(conv_id: str) -> int:
    return zlib.crc32(conv_id.encode()) % N_BUCKETS


_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def write_bucketed(cols: dict, out_dir: str) -> None:
    """One parquet file per conversation bucket, rows in (conv_id, turn_idx)
    order (the generator already emits them sorted)."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pydict(cols, schema=_SCHEMA)
    buckets = pa.array([bucket_of(c) for c in cols["conv_id"]], pa.int32())
    for b in range(N_BUCKETS):
        part = table.filter(pc.equal(buckets, b))
        pq.write_table(part, os.path.join(out_dir, f"b{b:02d}.parquet"))


def is_kernel_routed(text: str) -> bool:
    """The pipeline's routing rule restated for the families generated
    here: a payload reaches the pandas kernel iff it is multi-line, carries
    a tab or a figure marker, and is not an all-tab-lines table."""
    if "\n" not in text or ("\t" not in text and "FIG;mode=" not in text):
        return False
    return "FIG;mode=" in text or any("\t" not in ln for ln in text.split("\n"))


def self_check(workload: str, in_dir: str, props: dict) -> None:
    """Assert the stated workload properties as exact counts on the files."""
    files = sorted(os.listdir(in_dir))
    if files != [f"b{b:02d}.parquet" for b in range(N_BUCKETS)]:
        raise AssertionError(f"layout: expected {N_BUCKETS} bucket files, got {files}")
    n = 0
    kernel = 0
    lengths: dict[str, int] = {}
    dups = 0
    pool_fps = {gate.normalized(t) for t in props["boilerplate_pool"]}
    for f in files:
        t = pq.read_table(os.path.join(in_dir, f), columns=["conv_id", "role", "text"])
        b = int(f[1:3])
        convs = t.column("conv_id").to_pylist()
        if any(bucket_of(c) != b for c in set(convs)):
            raise AssertionError(f"layout: {f} holds a conversation of another bucket")
        for c, role, text in zip(convs, t.column("role").to_pylist(),
                                 t.column("text").to_pylist()):
            n += 1
            lengths[c] = lengths.get(c, 0) + 1
            kernel += is_kernel_routed(text)
            dups += role != "user" and gate.normalized(text) in pool_fps
    if n != props["turns"]:
        raise AssertionError(f"turns: {n} != {props['turns']}")
    if kernel != props["kernel_turns"]:
        raise AssertionError(f"kernel turns: {kernel} != {props['kernel_turns']}")
    share = kernel / n
    if workload == "mix_oneshot":
        if not 0.07 <= share <= 0.09:
            raise AssertionError(f"kernel share {share:.3f} not ~8%")
        if dups != props["dup_turns"]:
            raise AssertionError(f"duplicate turns: {dups} != {props['dup_turns']}")
        if dups != props["dup_eligible"] * DUP_PERCENT // 100:
            raise AssertionError("duplicate share is not DUP_PERCENT")
    if workload == "structured_skew":
        if share < 0.60:
            raise AssertionError(f"kernel share {share:.3f} < 60%")
        heavy = props["heavy_conv"]
        rest = [v for k, v in lengths.items() if k != heavy]
        if lengths[heavy] != SKEW_HEAVY_FACTOR * _median(rest):
            raise AssertionError("heavy conversation is not 1000x the median")
