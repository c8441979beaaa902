"""End-to-end extraction pipeline — the public API (the spaCy-interface
analogue, reference spacy_interface.py:136-149: "give me typed columns, not
JSON").

``extract_all(turns)`` returns an ExtractionResult of typed DataFrames.
Mentions, triples, events and coref clusters are projections of ONE
``inference.infer`` pass: a batched Arrow ``mapInPandas`` that scores
every head through the model named by ``cfg.model_backend`` — the pass
behind the default ``coref.clusters_via_components`` and the shipped
job, whose kernel every ``operators.extract`` head runs per turn.

Stage gating mirrors the reference's loss-weight gating (a head runs iff
enabled; dygie/models/dygie.py:226-253).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.inference import udf as iudf
from dygiepp_spark.operators import canonicalize, extract
from dygiepp_spark.operators.assembly import length_guard


@dataclass
class ExtractionResult:
    mentions: DataFrame | None
    triples: DataFrame | None
    events: DataFrame | None
    clusters: DataFrame | None
    canonical_triples: DataFrame | None
    guard_report: DataFrame


def extract_all(turns: DataFrame, cfg: PipelineConfig | None = None) -> ExtractionResult:
    cfg = cfg or PipelineConfig()
    spark = turns.sparkSession

    guards = length_guard(turns).where(
        F.col("is_single_token") | F.col("exceeds_encoder_limit")
    ).select("conv_id", "turn_idx", "n_tokens", "is_single_token", "exceeds_encoder_limit")

    tall = iudf.infer(turns, cfg)
    mentions = iudf.mentions_from(tall) if cfg.do_ner else None
    triples = iudf.triples_from(tall) if cfg.do_relations else None
    events = extract.assemble_events(iudf.arguments_from(tall)) if cfg.do_events else None
    clusters = iudf.clusters_from(tall) if cfg.do_coref else None

    canonical = None
    if triples is not None:
        aliases = canonicalize.alias_dict(spark)
        if clusters is not None:
            canonical = canonicalize.canonicalize_with_coref(triples, clusters, aliases)
        else:
            canonical = canonicalize.canonical_triples(triples, aliases)

    return ExtractionResult(
        mentions=mentions,
        triples=triples,
        events=events,
        clusters=clusters,
        canonical_triples=canonical,
        guard_report=guards,
    )
