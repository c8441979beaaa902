"""Deterministic extraction lexicons for the stand-in scoring model.

The sandbox has no trained DyGIE++ weights, so the scoring model is a
deterministic rule system over the synthetic corpus vocabulary (SURVEY.md §7
"hard parts" item 5). It plays the role of the BERT + feedforward heads:
given tokens it produces typed mentions, relation triples, event
trigger/argument structures and coreference links with scores. Crucially it
is expressible BOTH as a per-turn Python decode (``inference.model``, run
in Spark batch kernels) and as ANSI SQL (the DuckDB oracle in
``oracle_sql``), so triple-level P/R parity is measurable
end-to-end exactly like the reference's relation-match criterion
(reference: README.md:419-424 — label + both argument spans).
"""

from __future__ import annotations

# Entity nouns → type labels (reference label namespaces are per-dataset
# string vocabularies with null label '' at index 0, ner.py:49-51).
ENTITY_TYPES: dict[str, str] = {
    "customer": "ACTOR",
    "spark": "ACTOR",
    "table": "ARTIFACT",
    "row": "ARTIFACT",
    "column": "ARTIFACT",
    "line": "ARTIFACT",
    "key": "ARTIFACT",
    "value": "ARTIFACT",
    "vector": "ARTIFACT",
    "data": "ARTIFACT",
    "order": "WORKLOAD",
    "part": "WORKLOAD",
    "batch": "WORKLOAD",
    "group": "WORKLOAD",
    "query": "WORKLOAD",
    "window": "WORKLOAD",
    "stream": "WORKLOAD",
}

# Predicate verbs: relation labels and event trigger types.
PREDICATES: tuple[str, ...] = ("join", "merge", "filter", "scan", "sort", "hash", "agg")

# Modifiers: form 2-token mentions (modifier + entity noun) and feed the
# quality-scoring ops.
MODIFIERS: tuple[str, ...] = ("small", "slow", "big", "fast")

STOPWORDS: tuple[str, ...] = ("a", "the")


def check_disjoint(**lexicons) -> None:
    """Raise if any token belongs to two of the named lexicons. Decode
    classifies a token by the first lexicon that holds it (the `elif`
    chain of the decode in ``inference.model``), so a shared token would
    be typed one way in Spark and another in the oracle SQL."""
    seen: dict[str, str] = {}
    for name, tokens in lexicons.items():
        for tok in tokens:
            if seen.setdefault(tok, name) != name:
                raise ValueError(f"token {tok!r} is in both {seen[tok]} and {name}")


check_disjoint(ENTITY_TYPES=ENTITY_TYPES, PREDICATES=PREDICATES, MODIFIERS=MODIFIERS)


def sql_in(values) -> str:
    """Render a python string collection as a SQL IN-list."""
    return "(" + ", ".join(f"'{v}'" for v in values) + ")"
