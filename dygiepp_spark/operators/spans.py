"""Candidate span generation + gold-label alignment (SURVEY.md §2.C).

The reference enumerates all token spans of width ≤ max_span_width per
sentence (reference: dygie/data/dataset_readers/dygie.py:122-126, width 8
from training_config/template.libsonnet:32) and aligns gold labels onto the
enumeration with null-label defaults (dygie.py:59-95).

Spark-first: enumeration is a bounded ``sequence``/``explode`` — Catalyst
never materializes spans wider than the cap, the moral equivalent of the
reference's ingest-time width pruning. Alignment ops are broadcast-friendly
left joins on (conv_id, turn_idx, start, end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.operators.assembly import with_token_counts


def enumerate_spans(turns: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """C1 — all (start, end) token spans of width ≤ max_span_width per turn.

    Per n-token turn with cap w this yields n·w − w(w−1)/2 spans (n ≥ w);
    the invariant test pins that count. Output is turn-relative inclusive
    offsets plus the surface string.
    """
    cfg = cfg or PipelineConfig()
    w = cfg.max_span_width
    df = with_token_counts(turns).withColumn("tokens", F.split(F.col("text"), " "))
    return (
        df.select(
            "conv_id",
            "turn_idx",
            "n_tokens",
            "tokens",
            F.posexplode("tokens").alias("start", "_tok"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "n_tokens",
            "tokens",
            F.col("start").cast("int"),
            F.explode(
                F.sequence(
                    F.col("start"),
                    F.least(F.col("start") + F.lit(w - 1), F.col("n_tokens") - 1),
                )
            ).alias("end"),
        )
        .withColumn("end", F.col("end").cast("int"))
        .select(
            "conv_id",
            "turn_idx",
            "n_tokens",
            "start",
            "end",
            F.array_join(
                F.slice(F.col("tokens"), F.col("start") + 1, F.col("end") - F.col("start") + 1),
                " ",
            ).alias("surface"),
            (F.col("end") - F.col("start") + 1).cast("int").alias("width"),
        )
    )


def align_ner_labels(spans: DataFrame, gold: DataFrame) -> DataFrame:
    """C3 — attach gold NER label to each enumerated span; null label '' when
    no gold span matches (reference dygie.py:59-68)."""
    g = gold.select("conv_id", "turn_idx", "start", "end", F.col("label").alias("_gold"))
    return (
        spans.join(g, on=["conv_id", "turn_idx", "start", "end"], how="left")
        .withColumn("gold_label", F.coalesce(F.col("_gold"), F.lit("")))
        .drop("_gold")
    )


def align_cluster_ids(spans: DataFrame, clusters: DataFrame) -> DataFrame:
    """C4 — attach gold cluster id per span, −1 when none
    (reference dygie.py:70-78)."""
    c = clusters.select(
        "conv_id", "turn_idx", "start", "end", F.col("cluster_id").alias("_cid")
    )
    return (
        spans.join(c, on=["conv_id", "turn_idx", "start", "end"], how="left")
        .withColumn("gold_cluster_id", F.coalesce(F.col("_cid"), F.lit(-1)).cast("bigint"))
        .drop("_cid")
    )
