"""Deterministic documents→transcripts derivation (driver-verifiable).

The correctness driver can only run SQL oracles over its pre-registered
parquet views (region…documents embeddings) — the `transcripts` table of
BASELINE.json is not one of them.  So the extraction operators are exercised
over a transcripts table **derived deterministically from `documents`** with
arithmetic both engines can reproduce: the Spark side builds it with native
column expressions here; each oracle in ``__spark_entry__.oracle_sql`` rebuilds
the *expected extraction output* for the same rows in DuckDB SQL.  Byte-level
value-hash equality then verifies the whole kernel path end-to-end.

Family layout (``fam = doc_id % 10``), mirroring FIXTURES.md §2:

| fam | family       | text construction                                      |
|-----|--------------|--------------------------------------------------------|
| 0   | prose        | documents.text                                         |
| 1   | lowconf      | text ‖ " [[LOWCONF]]" (agentic retry hook)             |
| 2   | prose_long   | text ‖ " " ‖ repeat("lorem ipsum dolor sit amet ",100) |
| 3   | short        | "ok"  (→ dropped_short)                                |
| 4,5 | table        | 3-row TSV incl. empty cells (see _TABLE below)         |
| 6   | table_small  | 1-row TSV (→ dropped_table_small)                      |
| 7   | figure       | FIG;mode=RGB;w=40+(id%3)*40;h=40+(id%5)*20;caption=src |
| 8   | figure_ocr   | FIG;mode=OCR;w=120;h=90;caption=text                   |
| 9   | multiblock   | table ‖ "\\n" ‖ RGB figure (w=200;h=150) ‖ "\\n" ‖ text |

conv_id = 'conv_' ‖ lpad(doc_id % 50, 4, '0');  turn_idx = doc_id // 50;
role = (user, assistant, tool)[doc_id % 3];  ts = epoch 1767225600 + doc_id s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH_2026 = 1767225600  # 2026-01-01 00:00:00 UTC
LOREM = "lorem ipsum dolor sit amet "


def _table_tsv(lang, source, n_chars, doc_id):
    """'lang\\tsource\\tchars' + data row + row with empty cells."""
    return F.concat(
        F.lit("lang\tsource\tchars\n"),
        lang, F.lit("\t"), source, F.lit("\t"), n_chars.cast("string"),
        F.lit("\n\t"), doc_id.cast("string"), F.lit("\t"),
    )


def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkx.session import spread_narrow_input

    # spread: single-row-group sf-dir file -> 1 scan task otherwise (the
    # derived transcripts feed the whole extraction suite)
    docs = spread_narrow_input(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                               cache_key=f"{sf_dir}/documents.parquet")
    doc_id = F.col("doc_id")
    fam = (doc_id % 10).cast("int")
    text, lang, source, n_chars = F.col("text"), F.col("lang"), F.col("source"), F.col("n_chars")

    table = _table_tsv(lang, source, n_chars, doc_id)
    table_small = F.concat(lang, F.lit("\t"), source)
    fig_w = (40 + (doc_id % 3) * 40).cast("string")
    fig_h = (40 + (doc_id % 5) * 20).cast("string")
    figure = F.concat(F.lit("FIG;mode=RGB;w="), fig_w, F.lit(";h="), fig_h,
                      F.lit(";caption="), source)
    fig_ocr = F.concat(F.lit("FIG;mode=OCR;w=120;h=90;caption="), text)
    fig_multi = F.lit("FIG;mode=RGB;w=200;h=150;caption=inline")

    payload = (
        F.when(fam == 0, text)
        .when(fam == 1, F.concat(text, F.lit(" [[LOWCONF]]")))
        .when(fam == 2, F.concat(text, F.lit(" "), F.repeat(F.lit(LOREM), 100)))
        .when(fam == 3, F.lit("ok"))
        .when((fam == 4) | (fam == 5), table)
        .when(fam == 6, table_small)
        .when(fam == 7, figure)
        .when(fam == 8, fig_ocr)
        .otherwise(F.concat(table, F.lit("\n"), fig_multi, F.lit("\n"), text))
    )
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        ((doc_id % 3) + 1).cast("int"),
    )
    return docs.select(
        F.concat(F.lit("conv_"), F.lpad((doc_id % 50).cast("string"), 4, "0")).alias("conv_id"),
        F.floor(doc_id / 50).cast("int").alias("turn_idx"),
        role.alias("role"),
        payload.alias("text"),
        F.when(doc_id % 3 == 2, F.lit("search")).otherwise(F.lit("")).alias("tool"),
        F.timestamp_seconds(F.lit(EPOCH_2026) + doc_id).alias("ts"),
    )


# DuckDB CTE producing the identical transcripts table from the `documents`
# view — prefix for oracle_sql() queries.  chr(9)=TAB chr(10)=LF.
TRANSCRIPTS_SQL_CTE = """
WITH transcripts AS (
  SELECT
    'conv_' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
    CAST(doc_id // 50 AS INT) AS turn_idx,
    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
    CASE CAST(doc_id % 10 AS INT)
      WHEN 0 THEN text
      WHEN 1 THEN text || ' [[LOWCONF]]'
      WHEN 2 THEN text || ' ' || repeat('lorem ipsum dolor sit amet ', 100)
      WHEN 3 THEN 'ok'
      WHEN 4 THEN 'lang' || chr(9) || 'source' || chr(9) || 'chars' || chr(10)
                  || lang || chr(9) || source || chr(9) || CAST(n_chars AS VARCHAR)
                  || chr(10) || chr(9) || CAST(doc_id AS VARCHAR) || chr(9)
      WHEN 5 THEN 'lang' || chr(9) || 'source' || chr(9) || 'chars' || chr(10)
                  || lang || chr(9) || source || chr(9) || CAST(n_chars AS VARCHAR)
                  || chr(10) || chr(9) || CAST(doc_id AS VARCHAR) || chr(9)
      WHEN 6 THEN lang || chr(9) || source
      WHEN 7 THEN 'FIG;mode=RGB;w=' || CAST(40 + (doc_id % 3) * 40 AS VARCHAR)
                  || ';h=' || CAST(40 + (doc_id % 5) * 20 AS VARCHAR) || ';caption=' || source
      WHEN 8 THEN 'FIG;mode=OCR;w=120;h=90;caption=' || text
      ELSE 'lang' || chr(9) || 'source' || chr(9) || 'chars' || chr(10)
           || lang || chr(9) || source || chr(9) || CAST(n_chars AS VARCHAR)
           || chr(10) || chr(9) || CAST(doc_id AS VARCHAR) || chr(9)
           || chr(10) || 'FIG;mode=RGB;w=200;h=150;caption=inline' || chr(10) || text
    END AS text,
    CASE WHEN doc_id % 3 = 2 THEN 'search' ELSE '' END AS tool,
    make_timestamp((1767225600 + doc_id) * 1000000) AS ts,
    doc_id, CAST(doc_id % 10 AS INT) AS fam, text AS doc_text, lang, source, n_chars
  FROM documents
)
"""
