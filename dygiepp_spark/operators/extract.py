"""Extraction heads (the deterministic stand-in model) as Spark operators.

These implement the decode semantics of the reference's four task heads
(reference: ner.py:125-150, relation.py:149-180, events.py:341-400,
coref.py:332-459). The NER, relation, trigger and event-argument heads are
projections of the model kernel's per-turn pass, ``udf.infer_turns`` (a
pure map; ``udf.infer`` adds coreference): a head call scores every head
through ``get_model(cfg)`` in one ``mapInPandas`` and keeps its own rows,
so only (conv_id, turn_idx, text) crosses into Python and a turn that
fails to decode is flagged alone.

All outputs carry (raw_score, softmax_score) per prediction, mirroring the
reference's predicted_* format (doc/data.md:108-116). Scores are dyadic
rationals (functions/scoring.py), and Python ``str.split(" ")``/``len``
agree with Spark's ``split(text, ' ')``/``length`` on code points, so the
rows are bit-identical to the DuckDB oracle's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.inference import udf as iudf


def ner_mentions(turns: DataFrame, include_modifier_spans: bool = True) -> DataFrame:
    """E1 — decoded NER mentions (``model.mentions``): every entity-lexicon
    token is a width-1 mention typed by the lexicon; a modifier immediately
    followed by an entity token forms a width-2 mention with the entity's
    type (this exercises multi-token spans and the overlap-merge operator
    downstream).

    Without modifier spans the head keeps the width-1 rows of the same
    pass: a modifier is never an entity token (the lexicons are disjoint,
    asserted by ``lexicons.check_disjoint``), so dropping the width-2 spans
    leaves exactly the entity tokens."""
    m = iudf.mentions_from(iudf.infer_turns(turns))
    return m if include_modifier_spans else m.where(F.col("start") == F.col("end"))


def relation_triples(turns: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """E2 — the triple emitter: (subj_span, pred_label, obj_span)
    (``model.triples``).

    Rule model: for each ordered pair of single-token entity mentions in the
    same turn with 1 ≤ obj.pos − subj.pos ≤ max_pair_distance, emit a triple
    iff a predicate token lies strictly between them; the predicate is the
    earliest such token (deterministic tie-break). Matches the reference's
    relation arity/within-sentence constraint (doc/data.md:44-51)."""
    return iudf.triples_from(iudf.infer_turns(turns, cfg))


def dedup_triples(triples: DataFrame) -> DataFrame:
    """North-star triple dedup: distinct (subj, pred, obj) surfaces with
    support counts. Partial aggregation (map-side combine) makes this a
    single shuffle on the triple key at any scale."""
    return (
        triples.groupBy(
            F.col("subj_surface").alias("subj"),
            F.col("pred"),
            F.col("obj_surface").alias("obj"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_support"),
            F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
        )
    )


def event_triggers(turns: DataFrame) -> DataFrame:
    """E5 — decoded triggers (``model.events``): single-token, typed by
    the lexicon (reference events.py:341-357; triggers are single tokens
    per doc/data.md:64-78)."""
    return iudf.triggers_from(iudf.infer_turns(turns))


def event_arguments(turns: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """E6 — decoded (trigger, argument) pairs (``model.events``), gated on
    the trigger having decoded non-null (reference events.py:359-382:
    arguments of null triggers are dropped).

    Rule model: arguments are entity tokens within max_arg_distance of the
    trigger; role = ARG_BEFORE / ARG_AFTER by side. Distance features mirror
    the reference's trigger-argument embedding distances
    (events.py:222-266)."""
    return iudf.arguments_from(iudf.infer_turns(turns, cfg))


def assemble_events(arguments: DataFrame) -> DataFrame:
    """E7 — group arguments under their trigger, args sorted by span start
    (reference events.py:384-400)."""
    return (
        arguments.groupBy("conv_id", "turn_idx", "trigger_ix", "event_type")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("arg_start").alias("start"),
                        F.col("arg_end").alias("end"),
                        F.col("role"),
                    )
                )
            ).alias("args")
        )
    )


def overlap_merge(mentions: DataFrame) -> DataFrame:
    """E9 — merge overlapping mentions into islands, keep the longest
    (earliest on ties), mirroring the reference's spaCy-compat overlap
    resolution (spacy_interface.py:69-105).

    Classic island detection: running max of `end` over spans ordered by
    (start, end); a span opens a new island iff its start exceeds every
    previous end; island id = count of opens so far.
    """
    w_order = Window.partitionBy("conv_id", "turn_idx").orderBy("start", "end")
    prev_max_end = F.max("end").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = mentions.withColumn(
        "_new_island",
        F.when(
            prev_max_end.isNull() | (F.col("start") > prev_max_end), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("_new_island").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    w_island = Window.partitionBy("conv_id", "turn_idx", "island").orderBy(
        (F.col("end") - F.col("start")).desc(), F.col("start"), F.col("end"), F.col("label")
    )
    return (
        flagged.withColumn("_rn", F.row_number().over(w_island))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_new_island", "island")
    )
