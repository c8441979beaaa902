"""Explicit schema of the transcript turns table, the one input whose
schema a reader cannot infer (a streaming file source needs it up front).

Every other table's schema is whatever its operator's select produces; the
DuckDB oracle pins those columns and types query by query.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- input: transcript turns table (BASELINE.json input_hint) ----
TURNS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
