"""Within-document coreference: antecedent decode + cluster formation
(SURVEY.md §2 D7-D10, E3-E4).

Rule model (stand-in for the learned antecedent scorer): a mention's
antecedent is the nearest PREVIOUS mention with the same surface form in
the same conversation. Like the reference decode (coref.py:332-342) each
mention selects at most one antecedent, so the edge set is a forest and
greedy cluster formation (coref.py:387-459) equals connected components —
the equivalence is pinned by a pytest.

Coordinates: mentions are flattened to doc-level positions via the B1
sentence offsets (reference coref.py:671-689 flattens with cumsum_shifted).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

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
    persist_mentions: bool = True,
) -> DataFrame:
    """E4 — cluster formation, one conversation at a time.

    Coref graphs never cross conversations, so the default path clusters
    each conversation locally instead of running the iterative global
    algorithm. The plan is one hash(conv_id) exchange of the raw
    (conv_id, turn_idx, text) columns, a sort by (conv_id, turn_idx)
    within each partition, and ONE streaming Python pass
    (`mapInPandas`, see `_clusters_stream`) that does the per-turn
    offsets, the mention lookup, the antecedent lag and the union-find as
    conversations flow past. There is no per-conversation pandas round
    trip, and a conversation longer than an Arrow batch simply continues
    into the next one. Returns (conv_id, cluster_id, turn_idx, start,
    end, surface, doc_pos); cluster_id = min doc-position member;
    singleton mentions drop (reference clusters have ≥2 members).

    `global_cc=True` is the reference and at-scale path: the JVM mention
    pipeline, `antecedent_edges`, and the iterative large/small-star
    connected components. The default path holds one conversation's
    mention graph in one Python worker; at ~10^7+ mentions per
    conversation prefer the global path, whose per-round shuffles have no
    per-conversation hotspot. Both paths are pinned equal by pytest.
    `persist_mentions` applies to the global path only, whose mentions
    feed two branches."""
    if global_cc:
        from dygiepp_spark.operators.graph import connected_components

        mentions = coref_mentions(turns)
        if persist_mentions:
            # mentions feed BOTH the edge derivation and the final component
            # join — without a persist the extraction pipeline runs twice
            # (spill-safe; one row per entity token). Registered with
            # plans.cache so long-lived sessions can release it.
            from pyspark import StorageLevel

            from dygiepp_spark.plans import cache

            mentions = cache.track(mentions.persist(StorageLevel.MEMORY_AND_DISK))
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

    return (
        turns.select("conv_id", "turn_idx", "text")
        .repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(_clusters_stream(max_gap), schema=_CLUSTER_SCHEMA)
    )


_CLUSTER_COLS = ("conv_id", "cluster_id", "turn_idx", "start", "end", "surface", "doc_pos")
_CLUSTER_SCHEMA = (
    "conv_id string, cluster_id long, turn_idx int, start int, end int, "
    "surface string, doc_pos long"
)


def _clusters_stream(gap: int | None):
    """The streaming coref kernel: Arrow batches of (conv_id, turn_idx,
    text) sorted by (conv_id, turn_idx) in → cluster member rows out.

    State is the open conversation, its running token offset and its
    mention lists; a conversation may span any number of batches, and
    memory stays bounded by one conversation's mentions. Rows are those
    of the JVM formulation: the width-1 mentions come from the same
    decode (`model.mentions`), the running offset ≡ the
    rowsBetween(-∞,-1) window over turn_idx order (a NULL text
    contributes 0, as its NULL token count does), and the same-surface
    lag + union-find ≡ `antecedent_edges` + connected components (pinned
    against both other paths in pytest)."""
    from dygiepp_spark.inference.model import mentions

    def flush(conv, turn_idxs, starts, surfaces, doc_positions, out):
        parent: dict = {}

        def find(x):
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        last: dict = {}  # surface -> previous mention doc_pos (lag semantics)
        for dp, surf in zip(doc_positions, surfaces):
            ant = last.get(surf)
            if ant is not None and (gap is None or dp - ant <= gap):
                ra, rb = find(dp), find(ant)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            last[surf] = dp
        for turn, s, surf, dp in zip(turn_idxs, starts, surfaces, doc_positions):
            if dp not in parent:  # singleton: no edge ever touched it
                continue
            out["conv_id"].append(conv)
            out["cluster_id"].append(find(dp))
            out["turn_idx"].append(turn)
            out["start"].append(s)
            out["end"].append(s)
            out["surface"].append(surf)
            out["doc_pos"].append(dp)

    def coref_stream(batches):
        out = {c: [] for c in _CLUSTER_COLS}
        conv, offset = None, 0  # flushing an empty mention list emits nothing
        turn_idxs, starts, surfaces, doc_positions = [], [], [], []
        for pdf in batches:
            for c, turn, text in zip(
                pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(), pdf["text"].tolist()
            ):
                if c != conv:
                    flush(conv, turn_idxs, starts, surfaces, doc_positions, out)
                    conv, offset = c, 0
                    turn_idxs, starts, surfaces, doc_positions = [], [], [], []
                if text is None:
                    continue
                toks = text.split(" ")
                for s, _, _, surf, _, _ in mentions(toks, with_modifiers=False):
                    turn_idxs.append(turn)
                    starts.append(s)
                    surfaces.append(surf)
                    doc_positions.append(offset + s)
                offset += len(toks)
            if out["conv_id"]:
                yield pd.DataFrame(out)
                out = {c: [] for c in _CLUSTER_COLS}
        flush(conv, turn_idxs, starts, surfaces, doc_positions, out)
        if out["conv_id"]:
            yield pd.DataFrame(out)

    return coref_stream


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


def clusters_via_greedy(turns: DataFrame) -> DataFrame:
    """E4 twin — the reference's sequential greedy walk, per conversation,
    inside applyInPandas (document-at-a-time exactly like the reference;
    used to prove CC equivalence, SURVEY.md §7 hard-part 3)."""
    mentions = coref_mentions(turns)
    edges = antecedent_edges(mentions).withColumnRenamed("doc_pos", "m_doc_pos")

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("m_doc_pos")
        cluster_of: dict[int, int] = {}
        for m, a in zip(pdf["m_doc_pos"], pdf["ant_doc_pos"]):
            # greedy: antecedent already clustered → join; else new cluster
            cid = cluster_of.get(a)
            if cid is None:
                cid = a
                cluster_of[a] = cid
            cluster_of[m] = cid
        out = pd.DataFrame(
            {"doc_pos": list(cluster_of.keys()), "cluster_id": list(cluster_of.values())}
        )
        out["conv_id"] = pdf["conv_id"].iloc[0]
        return out[["conv_id", "doc_pos", "cluster_id"]]

    assigned = edges.groupBy("conv_id").applyInPandas(
        walk, schema="conv_id string, doc_pos long, cluster_id long"
    )
    return mentions.join(assigned, on=["conv_id", "doc_pos"], how="inner").select(
        "conv_id", "cluster_id", "turn_idx", "start", "end", "surface", "doc_pos"
    )
