"""Pipeline configuration.

Mirrors the reference's jsonnet config surface (the knobs that shape the
dataflow, not training): max span width, per-task beam ratios/caps, coref
antecedent window, document split size, and loss-weight-style stage gates
(reference: training_config/template.libsonnet:32,80-106;
dygie/models/dygie.py:226-253 runs a head iff its loss weight > 0).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # candidate generation (reference template.libsonnet:32)
    max_span_width: int = 8

    # beam pruning: spans kept per sentence = ceil(ratio * n_tokens),
    # at least min_keep (reference: relation.py:120 → 0.5,
    # coref.py:261 → 0.3 min 2)
    relation_spans_per_word: float = 0.5
    coref_spans_per_word: float = 0.3
    coref_min_keep: int = 2

    # coref (reference template.libsonnet:91)
    max_antecedents: int = 100

    # document split (reference document.py:197-251; normalize.py:44-68)
    max_tokens_per_doc: int = 200

    # relation decode: max token distance between subject start and object
    # start for the stand-in scorer (engine-specific; the reference scores
    # all pruned pairs — our deterministic model localizes predicates)
    max_pair_distance: int = 5

    # event decode: max distance trigger→argument for the stand-in scorer
    max_arg_distance: int = 3

    # stage gates, mirroring loss-weight gating
    do_ner: bool = True
    do_relations: bool = True
    do_events: bool = True
    do_coref: bool = True

    # skew handling: conversations with more turns than this are salted
    # into multiple coref chunks (reference precedent: 5-sentence chunking
    # advice for long docs, README.md:415)
    salt_turns_threshold: int = 512

    # which scorer backs the forward() contract on the executors:
    # "standin" = the deterministic lexicon model (always available);
    # "torch"   = the tensor-backed scorer in inference/encoder.py
    #             (requires torch; the sandbox skips it). The field rides
    #             the (frozen, picklable) config into every UDF closure, so
    #             swapping backends changes NOTHING else in the pipeline.
    model_backend: str = "standin"
