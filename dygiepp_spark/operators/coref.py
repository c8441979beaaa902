"""Within-document coreference: antecedent decode + cluster formation
(SURVEY.md §2 D7-D10, E3-E4).

Rule model (stand-in for the learned antecedent scorer): a mention's
antecedent is the nearest PREVIOUS mention with the same surface form in
the same conversation. The rule is written once, as the plain-Python
``inference.model.CorefWalk``; the one model pass (``inference.udf.infer``)
and the stateful stream (``streaming.stateful``) both step it, and
``antecedent_edges`` is its JVM formulation. Like the reference decode
(coref.py:332-342) each mention selects at most one antecedent, so the
edge set is a forest and greedy cluster formation (coref.py:387-459)
equals connected components — the greedy walk lives in
tests/test_coref.py as the reference the clusters are pinned against.

Coordinates: mentions are flattened to doc-level positions via the B1
sentence offsets (reference coref.py:671-689 flattens with cumsum_shifted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dygiepp_spark.inference import udf as iudf
from dygiepp_spark.operators.assembly import with_sentence_starts
from dygiepp_spark.operators.extract import ner_mentions

# node ids are conv-local strings "conv_id#<zero-padded doc position>" so
# lexicographic min == positional min and components never cross convs.
_POS_PAD = 9


def _node_id(conv, doc_pos):
    return F.concat_ws("#", conv, F.lpad(doc_pos.cast("string"), _POS_PAD, "0"))


def coref_mentions(turns: DataFrame) -> DataFrame:
    """Single-token entity mentions with doc-level positions (D7)."""
    m = ner_mentions(turns, include_modifier_spans=False)
    starts = with_sentence_starts(turns).select("conv_id", "turn_idx", "sentence_start")
    return m.join(starts, on=["conv_id", "turn_idx"]).withColumn(
        "doc_pos", (F.col("sentence_start") + F.col("start")).cast("bigint")
    )


def antecedent_edges(mentions: DataFrame, max_gap: int | None = None) -> DataFrame:
    """E3 stand-in decode — one edge per mention to its nearest previous
    same-surface mention (NULL-antecedent mentions emit no edge).
    `max_gap` bounds the doc-position distance, the analogue of the
    reference's max_antecedents window (coref.py:471-526)."""
    w = Window.partitionBy("conv_id", "surface").orderBy("doc_pos")
    e = (
        mentions.withColumn("ant_doc_pos", F.lag("doc_pos").over(w))
        .where(F.col("ant_doc_pos").isNotNull())
    )
    if max_gap is not None:
        e = e.where(F.col("doc_pos") - F.col("ant_doc_pos") <= max_gap)
    return e.select("conv_id", "doc_pos", "ant_doc_pos")


def clusters_via_components(
    turns: DataFrame,
    max_gap: int | None = None,
    global_cc: bool = False,
) -> DataFrame:
    """E4 — cluster formation, one conversation at a time.

    Coref graphs never cross conversations, so the default path clusters
    each conversation locally instead of running the iterative global
    algorithm: it is the cluster projection of the one model pass
    (``iudf.clusters_from(iudf.infer(...))``), whose kernel sees each
    conversation's turns in order, steps the one coref walk (`CorefWalk`)
    over their decoded mentions and union-finds its edges as
    conversations flow past. Returns (conv_id, cluster_id, turn_idx,
    start, end, surface, doc_pos); cluster_id = min doc-position member; singleton
    mentions drop (reference clusters have ≥2 members).

    `global_cc=True` is the reference and at-scale path: the JVM mention
    pipeline, `antecedent_edges`, and the iterative large/small-star
    connected components. The default path holds one conversation's
    mention graph in one Python worker; at ~10^7+ mentions per
    conversation prefer the global path, whose per-round shuffles have no
    per-conversation hotspot. Both paths and the greedy walk of the
    reference are pinned equal in tests/test_coref.py. The global path
    persists its mentions with `plans.cache.track`; release it with
    `cache.scoped()` or `cache.release_tracked()`."""
    if global_cc:
        from dygiepp_spark.operators.graph import connected_components
        from dygiepp_spark.plans import cache

        # mentions feed BOTH the edge derivation and the final component
        # join — without a persist the extraction pipeline runs twice
        # (spill-safe; one row per entity token)
        mentions = cache.maybe_persist(coref_mentions(turns), persist=True)
        edges = antecedent_edges(mentions, max_gap=max_gap)
        e = edges.select(
            _node_id(F.col("conv_id"), F.col("doc_pos")).alias("src"),
            _node_id(F.col("conv_id"), F.col("ant_doc_pos")).alias("dst"),
        )
        comp = (
            mentions.withColumn("node", _node_id(F.col("conv_id"), F.col("doc_pos")))
            .join(connected_components(e, "src", "dst"), on="node", how="inner")
            .select(
                "conv_id",
                "doc_pos",
                F.split(F.col("component"), "#")[1].cast("bigint").alias("cluster_id"),
            )
        )
        return mentions.join(comp, on=["conv_id", "doc_pos"], how="inner").select(
            "conv_id", "cluster_id", "turn_idx", "start", "end", "surface", "doc_pos"
        )

    return iudf.clusters_from(iudf.infer(turns, max_gap=max_gap))


def propagate_scores(
    mentions: DataFrame, edges: DataFrame, iterations: int = 1
) -> DataFrame:
    """D10 — coref propagation: iteratively blend each mention's score with
    its antecedent's (reference coref.py:114-157: gated update
    f·span + (1−f)·entity, `coref_prop` iterations from config; the
    lightweight configs set 0 and skip it, README.md:321-323).

    Stand-in update with gate f = 1/2: score ← (score + antecedent_score)/2
    (dyadic, so bitwise-stable). Each iteration is one self-join on the
    antecedent edge list — the distributed analogue of the reference's
    in-tensor attention pass; iteration count is a config constant, so the
    plan depth is bounded."""
    out = mentions
    for _ in range(iterations):
        ant = out.select(
            "conv_id",
            F.col("doc_pos").alias("ant_doc_pos"),
            F.col("raw_score").alias("_ant_score"),
        )
        out = (
            out.join(edges, on=["conv_id", "doc_pos"], how="left")
            .join(ant, on=["conv_id", "ant_doc_pos"], how="left")
            .withColumn(
                "raw_score",
                F.when(
                    F.col("_ant_score").isNotNull(),
                    (F.col("raw_score") + F.col("_ant_score")) / 2,
                ).otherwise(F.col("raw_score")),
            )
            .drop("ant_doc_pos", "_ant_score")
        )
    return out
