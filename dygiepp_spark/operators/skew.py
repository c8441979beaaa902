"""Skew handling for mega-conversations (north rule: explicit salting).

A conversation is the pipeline's grouping unit, so a 10^6-turn conversation
is a straggler for every per-conv window/groupBy. Salting splits such
conversations into bounded chunks (`salt = turn_idx // chunk_turns`) —
reference precedent: chunk long documents into windows
(README.md:415 advises 5-sentence chunks for long-doc coref).

Neutrality: the extraction heads are within-turn, so salting cannot change
their output (pinned by a pytest on a synthetic mega-conversation). Coref
is not salted: the model pass (``inference.udf.infer``) walks each
conversation in turn order inside one sorted partition, and a
mega-conversation continues across Arrow batches there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dygiepp_spark.config import PipelineConfig


def conv_sizes(turns: DataFrame) -> DataFrame:
    return turns.groupBy("conv_id").agg(F.count(F.lit(1)).alias("conv_turns"))


def with_salt(turns: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Add (salt, salted_key): conversations above salt_turns_threshold are
    split into chunks of ≤ threshold turns; small conversations get salt 0.

    The size lookup is a broadcast-friendly aggregate joined back — one
    extra shuffle over the conv-size table (tiny), none over the turns.
    """
    cfg = cfg or PipelineConfig()
    sizes = conv_sizes(turns)
    return (
        turns.join(F.broadcast(sizes.where(F.col("conv_turns") > cfg.salt_turns_threshold)),
                   on="conv_id", how="left")
        .withColumn(
            "salt",
            F.when(
                F.col("conv_turns").isNotNull(),
                F.floor(F.col("turn_idx") / cfg.salt_turns_threshold),
            ).otherwise(F.lit(0)).cast("int"),
        )
        .withColumn("salted_key", F.concat_ws("#", F.col("conv_id"), F.col("salt")))
        .drop("conv_turns")
    )


def skew_report(turns: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Diagnostic: per-conversation turn counts for conversations above the
    salting threshold, plus their share of total rows."""
    cfg = cfg or PipelineConfig()
    sizes = conv_sizes(turns)
    total = sizes.agg(F.sum("conv_turns").alias("_t")).head()["_t"]
    return (
        sizes.where(F.col("conv_turns") > cfg.salt_turns_threshold)
        .select(
            "conv_id",
            F.col("conv_turns").cast("bigint"),
            F.round(F.col("conv_turns") / F.lit(total), 4).alias("row_share"),
        )
    )
