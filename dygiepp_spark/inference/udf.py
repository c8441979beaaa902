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
- the heads (NER, relations, events) are stateless per turn, so rows flow
  through whatever partitioning exists and a mega-conversation is no skew
  case here; only coref requires per-conversation state and is handled by
  the coref operators.
- Arrow batch size bounds Python-worker memory
  (spark.sql.execution.arrow.maxRecordsPerBatch, set in session.py).
- output is a tall typed frame (task, conv_id, turn_idx, a, b, label,
  surface, raw_score, softmax_score) split into per-task DataFrames by
  cheap filters — one UDF pass scores all heads, like the reference's
  shared span representation (dygie.py:105-130). The heads of
  ``operators.extract`` are these projections.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.inference.batching import iter_microbatches

# micro-batch budgets: tokens (the memory guard) and rows
MAX_TOKENS_PER_BATCH = 65536
MAX_ROWS_PER_BATCH = 4096

OUTPUT_SCHEMA = (
    "task string, conv_id string, turn_idx int, a int, b int, "
    "label string, surface string, raw_score double, softmax_score double"
)


def _run_model_on_batch(pdf: pd.DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    from dygiepp_spark.inference.model import get_model

    model = get_model(cfg)
    token_batch = [t.split(" ") for t in pdf["text"].tolist()]
    preds = model.forward(token_batch)
    rows: list[tuple] = []
    for (conv, turn), p in zip(zip(pdf["conv_id"], pdf["turn_idx"]), preds):
        for s, e, lab, surf, raw, soft in p.mentions:
            rows.append(("ner", conv, turn, s, e, lab, surf, raw, soft))
        for s, ssurf, o, osurf, pred, raw, soft in p.triples:
            rows.append(("triple", conv, turn, s, o, pred, f"{ssurf} {osurf}", raw, soft))
        for ix, etype, raw, soft in p.triggers:
            rows.append(("trigger", conv, turn, ix, ix, etype, "", raw, soft))
        for tix, etype, a, asurf, role in p.arguments:
            rows.append(("argument", conv, turn, tix, a, f"{etype}:{role}", asurf, 0.0, 0.0))
    return pd.DataFrame(
        rows,
        columns=[
            "task", "conv_id", "turn_idx", "a", "b",
            "label", "surface", "raw_score", "softmax_score",
        ],
    )


def _run_turn_by_turn(micro: pd.DataFrame, cfg: PipelineConfig) -> Iterator[pd.DataFrame]:
    """A micro-batch that raised, re-run one turn at a time: each turn that
    still raises becomes one ``_failed`` row (reference behavior: flag,
    don't kill the run), and the others decode as usual."""
    for i in range(len(micro)):
        turn = micro.iloc[i : i + 1]
        try:
            yield _run_model_on_batch(turn, cfg)
        except Exception as exc:  # noqa: BLE001 — turn isolation
            yield pd.DataFrame(
                {
                    "task": "_failed",
                    "conv_id": turn["conv_id"],
                    "turn_idx": turn["turn_idx"],
                    "a": 0,
                    "b": 0,
                    "label": type(exc).__name__,
                    "surface": str(exc)[:200],
                    "raw_score": 0.0,
                    "softmax_score": 0.0,
                }
            )


def infer(turns: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Score all extraction heads in one Arrow pass. Returns the tall frame.

    Batch sizing: micro-batch overhead (pandas frame construction, Arrow
    framing) is per-batch, so tiny batches cap throughput (measured: 256-row
    micro-batches plateaued ~35% below 4096-row ones). The token budget is
    the memory guard — a real encoder's activation memory is
    O(batch_tokens × longest²), which is why the packer sorts by length
    first (reference collate cost model, collate.py:33-40)."""
    cfg = cfg or PipelineConfig()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.assign(_n_tokens=pdf["text"].str.count(" ") + 1)
            for micro in iter_microbatches(
                pdf, "_n_tokens", MAX_TOKENS_PER_BATCH, MAX_ROWS_PER_BATCH
            ):
                try:
                    yield _run_model_on_batch(micro, cfg)
                except Exception:  # noqa: BLE001 — isolate the failing turns
                    yield from _run_turn_by_turn(micro, cfg)

    return turns.select("conv_id", "turn_idx", "text").mapInPandas(fn, schema=OUTPUT_SCHEMA)


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


def failed_from(tall: DataFrame) -> DataFrame:
    """Failed-turn flags (the _FAILED_PREDICTION analogue)."""
    return tall.where(F.col("task") == "_failed").select(
        "conv_id", "turn_idx", F.col("label").alias("error_type"),
        F.col("surface").alias("error_message"),
    )
