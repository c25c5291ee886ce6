"""Turn-text → block segmentation kernel (the "parser").

Re-expresses the reference PDF parser's per-page emission semantics
(reference ``src/core/parser.py:34-156``) over transcript turns.  The PDF
concepts map onto a deterministic line grammar for the ``text`` payload of a
turn (FIXTURES.md §2):

* **table region** — maximal run of consecutive lines containing a TAB
  (a serialized cell grid, one row per line, cells separated by ``\\t``;
  the analog of ``plumb_page.extract_tables()``, parser.py:54).  Rendered to
  markdown with byte-identical ``_to_markdown`` semantics (parser.py:140-156):
  ``str(c or "")`` None/empty handling, ``---`` separator sized to row 0,
  ragged rows NOT padded.  Gate: ``len(rows) >= MIN_TABLE_ROWS (2)``
  (parser.py:31,55).
* **figure line** — ``FIG;mode=<M>;w=<int>;h=<int>;caption=<...>`` (the analog
  of ``fitz_page.get_images``, parser.py:66-121).  Gate: ``w >= 80 and
  h >= 80`` (parser.py:81-83).  All modes are coerced to RGB downstream
  (parser.py:72-79).
* **text remainder** — all other lines of the turn joined by ``\\n`` (the
  analog of ``plumb_page.extract_text()``, parser.py:124).  Gate:
  ``len(text.strip()) >= MIN_TEXT_LEN (40)`` (parser.py:32,125).

Per-turn emission order mirrors the per-page order: **tables, then figures,
then text** (parser.py:49-133), encoded as ``block_rank`` 0/1/2 plus an
intra-kind ``block_idx``.

Gated-out blocks are emitted with a ``status`` of ``dropped_*`` so the metrics
sidecar can count drops in the same pass; lines consumed by a table region or
figure never re-enter the text remainder.

Every turn goes through this one line grammar; a prose turn is simply a turn
whose every line lands in the text remainder.  Which turns reach the kernel at
all is decided once, by the router in :func:`sparkx.pipeline.extract_blocks`:
only prose turns are built natively there, so inside the pipeline every
kernel row contains a tab or ``FIG;mode=``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MIN_TABLE_ROWS = 2  # parser.py:31
MIN_TEXT_LEN = 40  # parser.py:32
MIN_FIGURE_DIM = 80  # parser.py:81-83

FIG_RE = r"^FIG;mode=([A-Za-z0-9]+);w=(\d+);h=(\d+);caption=(.*)$"

RANK_TABLE, RANK_FIGURE, RANK_TEXT = 0, 1, 2

# columns every block row carries (turn passthrough + block identity)
_CARRY = ["conv_id", "turn_idx", "role", "tool", "ts"]
BLOCK_COLUMNS = _CARRY + [
    "chunk_type",
    "block_rank",
    "block_idx",
    "raw_content",  # markdown for tables, FIG line for figures, remainder for text
    "fig_mode",
    "fig_w",
    "fig_h",
    "fig_caption",
    "parse_status",  # "" (alive) | dropped_table_small | dropped_figure_small | dropped_short
    # table-only internals consumed by the extraction kernel (schema stat A3):
    "header_line",
    "n_rows",
]


def _empty_blocks() -> pd.DataFrame:
    df = pd.DataFrame({c: pd.Series(dtype=object) for c in BLOCK_COLUMNS})
    for c in ("turn_idx", "block_rank", "block_idx", "fig_w", "fig_h"):
        df[c] = df[c].astype("int64", errors="ignore")
    return df


def parse_blocks(turns: pd.DataFrame) -> pd.DataFrame:
    """Segment a batch of turns into block rows (flatMap: 1 turn → N blocks).

    ``turns`` columns: conv_id, turn_idx, role, tool, ts, text.
    Returns one row per candidate block with ``parse_status`` marking gate
    outcomes.  Every turn emits exactly one text candidate (possibly empty →
    ``dropped_short``), mirroring the parser's unconditional
    ``extract_text() or ""`` (parser.py:124).
    """
    if len(turns) == 0:
        return _empty_blocks()

    t = turns.reset_index(drop=True)
    t["_tid"] = np.arange(len(t), dtype=np.int64)

    # ── explode to lines ────────────────────────────────────────────────
    lines = t["text"].fillna("").astype(object).str.split("\n")
    L = t[["_tid"]].copy()
    L["line"] = lines
    L = L.explode("line", ignore_index=True)
    L["line"] = L["line"].fillna("").astype(object)
    L["lno"] = L.groupby("_tid", sort=False).cumcount()

    maybe_fig = L["line"].str.startswith("FIG;mode=")
    fig_parts = pd.DataFrame(index=L.index, columns=range(4), dtype=object)
    if maybe_fig.any():
        fig_parts.loc[maybe_fig] = L.loc[maybe_fig, "line"].str.extract(FIG_RE).to_numpy()
    is_fig = fig_parts[0].notna()
    is_tab = L["line"].str.contains("\t", regex=False) & ~is_fig

    # ── table regions: contiguous is_tab runs within a turn ────────────
    new_run = is_tab & (
        ~is_tab.shift(fill_value=False) | (L["_tid"] != L["_tid"].shift())
    )
    region_id = new_run.cumsum()

    tables = _render_tables(L, is_tab, region_id)
    figures = _build_figures(L, is_fig, fig_parts)
    texts = _build_text_remainder(L, ~is_tab & ~is_fig, tids=t["_tid"].to_numpy())

    blocks = pd.concat([tables, figures, texts], ignore_index=True)
    out = (
        t[_CARRY + ["_tid"]].merge(blocks, on="_tid", how="inner")
        .sort_values(["_tid", "block_rank", "block_idx"], kind="stable")
        .drop(columns="_tid")
    )
    return out.reset_index(drop=True)[BLOCK_COLUMNS]


def _group_join(lines: pd.Series, group_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Join contiguous line groups with '\\n' ~10× faster than
    groupby.agg(join): one megastring join, then C-level slices per group.
    ``group_ids`` must be non-decreasing with groups contiguous (true for both
    table regions and per-turn remainders, which preserve source order).
    Returns (group_keys, joined_strings)."""
    arr = lines.to_numpy(dtype=object)
    if len(arr) == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=object)
    big = "\n".join(arr)
    lens = lines.str.len().to_numpy(dtype=np.int64)
    ends = np.cumsum(lens + 1)  # char pos just past line i's separator
    starts = ends - lens - 1
    change = np.flatnonzero(np.r_[True, group_ids[1:] != group_ids[:-1]])
    g_first = change
    g_last = np.r_[change[1:], len(arr)] - 1
    a = starts[g_first]
    b = ends[g_last] - 1
    joined = np.fromiter(
        (big[x:y] for x, y in zip(a, b)), dtype=object, count=len(change)
    )
    return group_ids[change], joined


def _render_tables(L: pd.DataFrame, is_tab: pd.Series, region_id: pd.Series) -> pd.DataFrame:
    T = pd.DataFrame(
        {
            "_tid": L.loc[is_tab, "_tid"],
            "lno": L.loc[is_tab, "lno"],
            "line": L.loc[is_tab, "line"],
            "region": region_id[is_tab],
        }
    )
    if len(T) == 0:
        return pd.DataFrame(columns=["_tid", "block_rank", "block_idx", "chunk_type",
                                     "raw_content", "fig_mode", "fig_w", "fig_h",
                                     "fig_caption", "parse_status", "header_line",
                                     "n_rows"])

    # ONE python-level join per region (raw lines), then fully-vectorized
    # markdown wrapping: each row becomes "| " + cells.join(" | ") + " |",
    # which for TSV lines is exactly replace(\t → " | ") plus edge wrapping.
    # str(c or "") maps empty→empty, so a TSV cell already IS str(c or "").
    g = T.groupby("region", sort=False)
    pos = g.cumcount()
    first = T.loc[pos == 0].set_index("region")
    keys, joined = _group_join(T["line"], T["region"].to_numpy())
    region_raw = pd.Series(joined, index=keys, dtype=object)
    nrows = g.size()

    header_line = first["line"]
    # separator: "| " + " | ".join("---" for _ in row0) + " |"  (parser.py:152)
    ncols0 = header_line.str.count("\t") + 1
    sep = "| ---" + pd.Series(" | ---", index=ncols0.index).str.repeat(ncols0 - 1) + " |"

    wrapped = (
        "| "
        + region_raw.str.replace("\t", " | ", regex=False).str.replace(
            "\n", " |\n| ", regex=False
        )
        + " |"
    )
    split = wrapped.str.split("\n", n=1)
    header_md = split.str[0]
    body = split.str[1]  # NaN for 1-row regions
    tail = pd.Series(
        np.where(body.isna(), "", "\n" + body.fillna("").astype(object)),
        index=body.index,
        dtype=object,
    )
    markdown = header_md + "\n" + sep + tail
    first_lno = first["lno"]
    tid = first["_tid"]

    res = pd.DataFrame(
        {
            "_tid": tid,
            "first_lno": first_lno,
            "raw_content": markdown,
            "n_rows": nrows.reindex(header_md.index),
            "header_line": header_line,
        }
    ).sort_values(["_tid", "first_lno"], kind="stable")
    res["block_idx"] = res.groupby("_tid", sort=False).cumcount()
    res["block_rank"] = RANK_TABLE
    res["chunk_type"] = "table"
    res["parse_status"] = np.where(
        res["n_rows"] >= MIN_TABLE_ROWS, "", "dropped_table_small"
    )
    res["fig_mode"] = None
    res["fig_w"] = -1
    res["fig_h"] = -1
    res["fig_caption"] = None
    # header_line is kept for the table-schema stat (SURVEY A3) downstream
    return res[["_tid", "block_rank", "block_idx", "chunk_type", "raw_content",
                "fig_mode", "fig_w", "fig_h", "fig_caption", "parse_status",
                "header_line", "n_rows"]]


def _build_figures(L: pd.DataFrame, is_fig: pd.Series, fig_parts: pd.DataFrame) -> pd.DataFrame:
    Fg = pd.DataFrame(
        {
            "_tid": L.loc[is_fig, "_tid"],
            "raw_content": L.loc[is_fig, "line"],
            "fig_mode": fig_parts.loc[is_fig, 0],
            "fig_w": fig_parts.loc[is_fig, 1].astype("int64"),
            "fig_h": fig_parts.loc[is_fig, 2].astype("int64"),
            "fig_caption": fig_parts.loc[is_fig, 3],
        }
    )
    Fg["block_idx"] = Fg.groupby("_tid", sort=False).cumcount()
    Fg["block_rank"] = RANK_FIGURE
    Fg["chunk_type"] = "figure"
    Fg["parse_status"] = np.where(
        (Fg["fig_w"] >= MIN_FIGURE_DIM) & (Fg["fig_h"] >= MIN_FIGURE_DIM),
        "",
        "dropped_figure_small",
    )
    Fg["header_line"] = None
    Fg["n_rows"] = -1
    return Fg


def _build_text_remainder(L: pd.DataFrame, keep: pd.Series, tids: np.ndarray) -> pd.DataFrame:
    R = L.loc[keep]
    keys, joined = _group_join(R["line"], R["_tid"].to_numpy())
    rem = pd.Series(joined, index=keys, dtype=object)
    rem = rem.reindex(tids, fill_value="")
    res = pd.DataFrame({"_tid": rem.index.to_numpy(), "raw_content": rem.to_numpy()})
    res["block_idx"] = 0
    res["block_rank"] = RANK_TEXT
    res["chunk_type"] = "text"
    res["parse_status"] = np.where(
        res["raw_content"].str.strip().str.len() >= MIN_TEXT_LEN, "", "dropped_short"
    )
    res["fig_mode"] = None
    res["fig_w"] = -1
    res["fig_h"] = -1
    res["fig_caption"] = None
    res["header_line"] = None
    res["n_rows"] = -1
    return res
