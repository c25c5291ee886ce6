"""Declared StructType schemas for every table the engine touches.

The reference declares its record shapes as dataclasses
(reference ``src/core/models.py:29-160``); we declare them once here and derive
both DataFrame schemas and (where applicable) DDL from these.

Graft mapping (SURVEY.md §1.1): ``source_file -> conv_id``,
``page_num -> turn_idx``, ``raw_content -> text``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ── input: events (testdata events.parquet shape) ───────────────────────────
EVENTS = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)

# ── input: transcripts (BASELINE.json input_hint, exactly) ──────────────────
TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

# ── intermediate/output: extracted blocks (ProcessedChunk contract) ─────────
# One row per block emitted by the turn parser, *including* gated-out blocks
# (status encodes survival) so metrics can count drops without a second pass.
# Mirrors ProcessedChunk (reference models.py:104-137) + ChunkValidationResult
# (models.py:54-74) flattened, + lineage columns required by the north_rule.
EXTRACTED = StructType(
    [
        StructField("chunk_id", StringType(), False),
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
        StructField("chunk_type", StringType(), False),  # text|table|figure (lowercase, models.py:22-25)
        StructField("block_rank", IntegerType(), False),  # 0=table 1=figure 2=text (parser emission order)
        StructField("block_idx", IntegerType(), False),  # index within (turn, kind)
        StructField("raw_content", StringType(), True),  # per-block source (markdown for tables)
        StructField("structured_text", StringType(), True),
        StructField("intuition_summary", StringType(), True),
        StructField("key_concepts", ArrayType(StringType()), True),
        StructField("confidence", DoubleType(), True),
        StructField("agent_notes", StringType(), True),
        StructField("retried", BooleanType(), False),  # retry contract base.py:81-96
        # Checkpoint-A flattened validation struct (models.py:54-74)
        StructField("is_valid", BooleanType(), True),
        StructField("issues", ArrayType(StringType()), True),
        StructField("verdict_score", DoubleType(), True),
        StructField("validator_notes", StringType(), True),
        StructField("was_corrected", BooleanType(), False),
        # survival decision (pipeline.py:264-312):
        #   accepted | corrected | discarded | dropped_short |
        #   dropped_table_small | dropped_figure_small
        StructField("status", StringType(), False),
    ]
)

# lineage columns appended Spark-side (not produced by the kernel)
LINEAGE_COLUMNS = ("run_id", "src_snapshot_id", "partition_id", "conv_bucket")

# ── sidecar metrics table (north_rule observability; mirrors the reference's
#    counters pipeline.py:255-319 and Langfuse scores pipeline.py:268-273) ──
METRICS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), True),
        StructField("conv_bucket", IntegerType(), True),
        StructField("phase", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("value", DoubleType(), True),
        StructField("detail", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

SURVIVING_STATUSES = ("accepted", "corrected")
DROP_STATUSES = ("discarded", "dropped_short", "dropped_table_small", "dropped_figure_small")
