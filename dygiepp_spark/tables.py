"""Test-table access + the derived transcript ``turns`` relation.

The correctness gate runs each Spark query against a DuckDB oracle over the
same parquet tables, so the transcript turns table is *derived
deterministically* from ``documents.parquet`` by an arithmetic rule that is
expressible identically in Spark and ANSI SQL: every 8 consecutive doc_ids
form one conversation, doc order within the conversation is the turn order.

At production scale the turns table is a real Iceberg table with the same
schema (BASELINE.json input_hint); :func:`read_turns` abstracts over both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

TURNS_PER_CONV = 8

# DuckDB CTE defining the same turns relation the Spark side builds.
# Keep in lockstep with derive_turns() below — tests assert equality.
TURNS_CTE = f"""
turns AS (
  SELECT CAST(doc_id // {TURNS_PER_CONV} AS VARCHAR)          AS conv_id,
         CAST(doc_id % {TURNS_PER_CONV} AS INT)               AS turn_idx,
         CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         text                                                  AS text,
         CASE WHEN doc_id % 4 = 3 THEN 'search' ELSE NULL END  AS tool,
         TIMESTAMP '2024-01-01 00:00:00' + (doc_id * INTERVAL 1 MINUTE) AS ts
  FROM documents
)
"""

# Tokenization rule shared by every operator: whitespace split.
# Spark: split(text, ' ')  |  DuckDB: string_split(text, ' ')
TOKENS_CTE = """
tokens AS (
  SELECT conv_id, turn_idx,
         unnest(string_split(text, ' '))                        AS token,
         CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos
  FROM turns
),
turn_stats AS (
  SELECT conv_id, turn_idx,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM turns
)
"""


# Scale-adaptive scan parallelism (r7 optimization, guide §2/§6): the test
# corpora are single-row-group parquet files, which Spark plans as ONE scan
# task no matter the core count, so every compute-heavy scan-local operator
# ran on one core (measured: relation_triples 1.5 s in a single task; 0.1 s
# after the floor). When the planned scan parallelism is below the session's
# defaultParallelism, one round-robin repartition fans the rows out; a scan
# that already carries that many partitions gets NO exchange (decided at
# plan-build time from the actual scan partitioning).


def scan_parallelism_floor(df: DataFrame, spark: SparkSession) -> DataFrame:
    target = spark.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        n_parts = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — unplannable input: leave untouched
        return df
    if n_parts >= target:
        return df
    return df.repartition(target)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    return scan_parallelism_floor(
        spark.read.parquet(f"{sf_dir}/{name}.parquet"), spark
    )


def derive_turns(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Turns table derived from documents.parquet (mirrors TURNS_CTE)."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        F.floor(F.col("doc_id") / TURNS_PER_CONV).cast("string").alias("conv_id"),
        (F.col("doc_id") % TURNS_PER_CONV).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 3, F.lit("search")).alias("tool"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=F.col("doc_id").cast("int"))
        ).alias("ts"),
    )


def read_turns(
    spark: SparkSession,
    source: str | None = None,
    sf_dir: str = DEFAULT_SF_DIR,
) -> DataFrame:
    """Read the transcript turns table.

    ``source`` may be an Iceberg table name (``catalog.db.turns``), a
    parquet path, or None (derive from the test documents table). On a
    production cluster this is the Iceberg path; partition pruning and
    column pruning flow from the table format.
    """
    if source is None:
        return derive_turns(spark, sf_dir)
    if source.endswith(".parquet") or source.startswith("/"):
        return spark.read.parquet(source)
    return spark.read.table(source)
