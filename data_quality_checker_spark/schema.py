"""Fixed schemas.

The reference infers schema dynamically from pandas readers
(src/core/data_loader.py:10-20) and then re-discovers types at runtime;
Spark best practice is a declared StructType so Catalyst can prune and
push down. The clips shape is the authoritative input_hint from
BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input corpus (BASELINE.json input_hint).
CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), nullable=False),
        T.StructField("bytes", T.BinaryType(), nullable=True),
        T.StructField("sr_hz", T.IntegerType(), nullable=True),
        T.StructField("dur_ms", T.IntegerType(), nullable=True),
        T.StructField("codec", T.StringType(), nullable=True),
        T.StructField("transcript", T.StringType(), nullable=True),
    ]
)

# Per-clip findings — the distributed analog of the reference's flat issue
# record {issue_type, description, severity, row_number, column_name}
# (src/core/validator.py:20-45). Row identity is clip_id, not row_number.
FINDINGS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), nullable=False),
        T.StructField("rule", T.StringType(), nullable=False),
        T.StructField("severity", T.StringType(), nullable=False),
        T.StructField("column_name", T.StringType(), nullable=True),
        T.StructField("detail", T.StringType(), nullable=True),
    ]
)

# Dataset-level findings — the reference's column-granularity issues
# (missing_values, duplicates, outliers summaries).
COLUMN_FINDINGS_SCHEMA = T.StructType(
    [
        T.StructField("rule", T.StringType(), nullable=False),
        T.StructField("column_name", T.StringType(), nullable=True),
        T.StructField("severity", T.StringType(), nullable=False),
        T.StructField("metric", T.DoubleType(), nullable=True),
        T.StructField("detail", T.StringType(), nullable=True),
    ]
)

# Per-clip decision output of the pipeline.
DECISIONS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), nullable=False),
        T.StructField("keep", T.BooleanType(), nullable=False),
        T.StructField("rules_fired", T.ArrayType(T.StringType()), nullable=False),
        T.StructField("scrubbed_transcript", T.StringType(), nullable=True),
        T.StructField("lang", T.StringType(), nullable=True),
        T.StructField("lang_conf", T.DoubleType(), nullable=True),
        T.StructField("perplexity", T.DoubleType(), nullable=True),
        T.StructField("clip_ratio", T.DoubleType(), nullable=True),
    ]
)

# Per-partition lineage row — the CheckSession analog (src/db/models.py:22-33)
# reshaped into the checkpoint/resume unit.
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), nullable=False),
        T.StructField("bucket", T.IntegerType(), nullable=False),
        T.StructField("rows_in", T.LongType(), nullable=False),
        T.StructField("rows_kept", T.LongType(), nullable=False),
        T.StructField("rows_dropped", T.LongType(), nullable=False),
        T.StructField("completed_at", T.TimestampType(), nullable=False),
    ]
)

AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("n_samples", T.LongType(), nullable=True),
        T.StructField("peak", T.DoubleType(), nullable=True),
        T.StructField("rms", T.DoubleType(), nullable=True),
        T.StructField("clip_ratio", T.DoubleType(), nullable=True),
        T.StructField("decoded_ms", T.DoubleType(), nullable=True),
        T.StructField("decode_ok", T.BooleanType(), nullable=True),
    ]
)

# stats + content fingerprint from ONE decode (the decode UDF of the
# stage graph's payload pass and of pipeline.audio_stats_table with
# with_fingerprints=True), so the content tier pays no second decode
AUDIO_STATS_FP_SCHEMA = T.StructType(
    list(AUDIO_STATS_SCHEMA.fields)
    + [
        T.StructField("n_subfp", T.LongType(), nullable=True),
        T.StructField("fp", T.ArrayType(T.IntegerType()), nullable=True),
    ]
)

LANGID_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType(), nullable=True),
        T.StructField("conf", T.DoubleType(), nullable=True),
    ]
)
