"""Deterministic stand-in span scoring, portable across Spark and DuckDB.

Plays the role of the reference's FFN heads over BERT span representations
(reference: dygie/models/ner.py:57-68, relation.py:224-248). Scores are
dyadic rationals (k/16, k/32) so the double value is EXACTLY representable
and bitwise identical in both engines — no float-rounding drift in the
correctness gate. The reference rounds emitted scores to 4 decimals
(document.py:10-11); dyadic k/16 values survive that unchanged.

raw_score(surface, width)    = ((length(surface)*7 + width*3) % 16) / 16.0 + width
softmax_score(surface,width) = ((length(surface)*7 + width*3) % 16) / 32.0 + 0.5

The per-turn Python decode computes the same formula in
``inference.model._scores``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def raw_score_col(surface: Column, width: Column) -> Column:
    return ((F.length(surface) * 7 + width * 3) % 16) / 16.0 + width


def softmax_score_col(surface: Column, width: Column) -> Column:
    return ((F.length(surface) * 7 + width * 3) % 16) / 32.0 + 0.5

