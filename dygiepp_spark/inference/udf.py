"""Batched Arrow inference over the turns table (the production scoring
path; SURVEY.md §3.1 stages 2-3).

``infer`` runs the stand-in model (or any model with the same forward()
contract) as a ``mapInPandas`` over turns: executor-side singleton load,
micro-batches shaped by token budget, per-turn failure isolation
(reference OOM skip-and-flag: dygie/predictors/dygie.py:57-68 emits
_FAILED_PREDICTION instead of killing the run — here a micro-batch that
raises is re-run turn by turn, and each turn that still raises emits one
row with task='_failed' and its ids, never an exception).

Scale design:
- coreference needs each conversation's turns in order, so ``infer`` runs
  the kernel after one hash(conv_id) exchange and a sort by (conv_id,
  turn_idx); a conversation longer than an Arrow batch continues into the
  next one. The per-turn heads alone need no exchange: ``infer_turns``
  runs the same kernel, without the walk, as a pure map.
- Arrow batch size bounds Python-worker memory
  (spark.sql.execution.arrow.maxRecordsPerBatch, set in session.py).
- output is a tall typed frame (task, conv_id, turn_idx, a, b, label,
  surface, raw_score, softmax_score, doc_pos, cluster_id) split into
  per-task DataFrames by cheap filters — one UDF pass scores all four
  heads, coreference included, like the reference's shared span
  representation (dygie.py:105-130). doc_pos and cluster_id are set on
  cluster rows only. The heads of ``operators.extract`` (over
  ``infer_turns``), the default ``coref.clusters_via_components`` and
  every output of the shipped job are these projections.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.inference.batching import pack_by_budget

# micro-batch budgets: tokens (the memory guard) and rows
MAX_TOKENS_PER_BATCH = 65536
MAX_ROWS_PER_BATCH = 4096

OUTPUT_SCHEMA = (
    "task string, conv_id string, turn_idx int, a int, b int, "
    "label string, surface string, raw_score double, softmax_score double, "
    "doc_pos long, cluster_id long"
)
_COLUMNS = [f.split()[0] for f in OUTPUT_SCHEMA.split(", ")]


def _forward(model, texts: list) -> list:
    """One micro-batch's predictions, in row order. A micro-batch that
    raises is re-run one turn at a time, and a turn that still raises gets
    its exception in place of predictions (reference behavior: flag, don't
    kill the run)."""
    try:
        return model.forward([t.split(" ") for t in texts])
    except Exception as exc:  # noqa: BLE001 — isolate the failing turns
        return [exc] if len(texts) == 1 else [p for t in texts for p in _forward(model, [t])]


def _turn_rows(conv, turn, p) -> list[tuple]:
    """The tall rows of one turn: its head rows, or one ``_failed`` row
    when `p` is the exception the turn raised."""
    if isinstance(p, Exception):
        err = (type(p).__name__, str(p)[:200])
        return [("_failed", conv, turn, 0, 0, *err, 0.0, 0.0, None, None)]
    rows = [("ner", conv, turn, s, e, lab, surf, raw, soft, None, None)
            for s, e, lab, surf, raw, soft in p.mentions]
    rows += [("triple", conv, turn, s, o, pred, f"{ssurf} {osurf}", raw, soft, None, None)
             for s, ssurf, o, osurf, pred, raw, soft in p.triples]
    rows += [("trigger", conv, turn, ix, ix, etype, "", raw, soft, None, None)
             for ix, etype, raw, soft in p.triggers]
    rows += [("argument", conv, turn, tix, a, f"{etype}:{role}", asurf, 0.0, 0.0, None, None)
             for tix, etype, a, asurf, role in p.arguments]
    return rows


def _model_pass(cfg: PipelineConfig, coref: bool, max_gap: int | None = None):
    """The kernel: Arrow batches of (conv_id, turn_idx, text) in → tall
    rows out; with `coref`, the batches arrive sorted by (conv_id,
    turn_idx) and each conversation's turns in one partition.

    Each batch is decoded through ``get_model(cfg)``, then walked in row
    order: a turn emits its head rows (or one ``_failed`` row) and, with
    `coref`, steps its conversation's ``CorefWalk`` over its width-1
    mentions (a failed or NULL turn adds none and still advances the
    offset; NULL is 0 tokens).
    When a conversation ends, the members its gap-filtered antecedent
    edges touch become ``cluster`` rows with their component's min member
    as cluster_id; singletons drop (reference clusters have ≥2 members). A
    conversation may span any number of batches, and memory stays bounded
    by one conversation's mentions. The rows are those of the JVM
    formulation (running offset ≡ the rowsBetween(-∞,-1) window of token
    counts, antecedent ≡ the same-surface lag of
    ``coref.antecedent_edges``), pinned against ``global_cc=True``."""

    def model_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dygiepp_spark.inference.model import CorefWalk, get_model
        from dygiepp_spark.operators.graph import union_find

        model = get_model(cfg)
        rows: list[tuple] = []
        conv, walk, members, edges = None, CorefWalk(), [], []

        def flush():
            root = union_find(edges)
            rows.extend(
                ("cluster", conv, turn, s, s, None, surf, None, None, dp, root[dp])
                for turn, s, surf, dp in members
                if dp in root  # singletons: no edge touched them
            )

        for pdf in batches:
            # micro-batches packed under the token budget, longest first,
            # and their predictions put back in row order (collate/uncollate)
            texts = pdf["text"].tolist()
            n_tokens = [0 if t is None else t.count(" ") + 1 for t in texts]
            preds: list = [None] * len(texts)
            for idx in pack_by_budget(n_tokens, MAX_TOKENS_PER_BATCH, MAX_ROWS_PER_BATCH):
                for i, p in zip(idx, _forward(model, [texts[i] for i in idx])):
                    preds[i] = p
            for c, turn, n, p in zip(
                pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(), n_tokens, preds
            ):
                rows += _turn_rows(c, turn, p)
                if not coref:
                    continue
                if c != conv:
                    flush()
                    conv, walk, members, edges = c, CorefWalk(), [], []
                spans = [] if isinstance(p, Exception) else [
                    (s, surf) for s, e, _, surf, _, _ in p.mentions if s == e
                ]
                for s, surf, dp, ant in walk.step(n, spans):
                    members.append((turn, s, surf, dp))
                    if ant is not None and (max_gap is None or dp - ant <= max_gap):
                        edges.append((dp, ant))
            if rows:
                yield pd.DataFrame(rows, columns=_COLUMNS)
                rows.clear()
        flush()
        if rows:
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return model_pass


def infer(
    turns: DataFrame, cfg: PipelineConfig | None = None, max_gap: int | None = None
) -> DataFrame:
    """Score all four heads, coreference included, in one Arrow pass.
    Returns the tall frame.

    The plan is one hash(conv_id) exchange of the raw (conv_id, turn_idx,
    text) columns into one partition per core (``defaultParallelism``), a
    sort by (conv_id, turn_idx) within each partition, and ONE
    ``mapInPandas`` (``_model_pass``). The count is fixed, not left to
    adaptive coalescing: the shuffled text is a few bytes per turn after
    compression, so coalescing by bytes put the CPU-bound kernel on two
    tasks of a 4-core session (and a persisted plan, which adaptive
    execution does not coalesce, on every one of the 32 shuffle
    partitions). `max_gap` bounds the
    doc-position distance of a coreference edge, the analogue of the
    reference's max_antecedents window (coref.py:471-526).

    Batch sizing: micro-batch overhead (pandas frame construction, Arrow
    framing) is per-batch, so tiny batches cap throughput (measured: 256-row
    micro-batches plateaued ~35% below 4096-row ones). The token budget is
    the memory guard — a real encoder's activation memory is
    O(batch_tokens × longest²), which is why the packer sorts by length
    first (reference collate cost model, collate.py:33-40)."""
    n_tasks = turns.sparkSession.sparkContext.defaultParallelism
    return (
        turns.select("conv_id", "turn_idx", "text")
        .repartition(n_tasks, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(_model_pass(cfg or PipelineConfig(), True, max_gap), schema=OUTPUT_SCHEMA)
    )


def infer_turns(turns: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """The per-turn heads (NER, relations, events) of the same kernel,
    over the turns as they are partitioned: no head but coreference needs
    a conversation's turns in one place, so this plan is a pure map, with
    no exchange (pinned by tests/test_plan_quality.py). Emits no cluster
    rows."""
    return turns.select("conv_id", "turn_idx", "text").mapInPandas(
        _model_pass(cfg or PipelineConfig(), False), schema=OUTPUT_SCHEMA
    )


def mentions_from(tall: DataFrame) -> DataFrame:
    return tall.where(F.col("task") == "ner").select(
        "conv_id", "turn_idx",
        F.col("a").alias("start"), F.col("b").alias("end"),
        "label", "surface", "raw_score", "softmax_score",
    )


def triples_from(tall: DataFrame) -> DataFrame:
    return tall.where(F.col("task") == "triple").select(
        "conv_id", "turn_idx",
        F.col("a").alias("subj_start"), F.col("a").alias("subj_end"),
        F.split("surface", " ")[0].alias("subj_surface"),
        F.col("label").alias("pred"),
        F.col("b").alias("obj_start"), F.col("b").alias("obj_end"),
        F.split("surface", " ")[1].alias("obj_surface"),
        "raw_score", "softmax_score",
    )


def triggers_from(tall: DataFrame) -> DataFrame:
    return tall.where(F.col("task") == "trigger").select(
        "conv_id", "turn_idx", F.col("a").alias("trigger_ix"),
        F.col("label").alias("event_type"), "raw_score", "softmax_score",
    )


def arguments_from(tall: DataFrame) -> DataFrame:
    return tall.where(F.col("task") == "argument").select(
        "conv_id", "turn_idx", F.col("a").alias("trigger_ix"),
        F.split("label", ":")[0].alias("event_type"),
        F.col("b").alias("arg_start"), F.col("b").alias("arg_end"),
        F.col("surface").alias("arg_surface"),
        F.split("label", ":")[1].alias("role"),
    )


def clusters_from(tall: DataFrame) -> DataFrame:
    """Coreference cluster members (E4): cluster_id is the min doc
    position of the cluster; singleton mentions are not members."""
    return tall.where(F.col("task") == "cluster").select(
        "conv_id", "cluster_id", "turn_idx",
        F.col("a").alias("start"), F.col("b").alias("end"), "surface", "doc_pos",
    )


def failed_from(tall: DataFrame) -> DataFrame:
    """Failed-turn flags (the _FAILED_PREDICTION analogue)."""
    return tall.where(F.col("task") == "_failed").select(
        "conv_id", "turn_idx", F.col("label").alias("error_type"),
        F.col("surface").alias("error_message"),
    )
