"""Beam pruning (SURVEY.md §2.D4).

The reference keeps the top ceil(spans_per_word × sentence_length) spans per
sentence by a unary mention score, then RE-SORTS survivors by original span
order because downstream antecedent indexing is positional
(reference: dygie/models/entity_beam_pruner.py:55-192, order restore at
150-171; per-task ratios template.libsonnet:88-106, caps events.py:143-162).

Tie-breaking: torch.topk tie order is framework-specific, so parity is
defined on deterministic tie-breaks (score DESC, start ASC, end ASC) —
SURVEY.md §7 hard-part 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def prune_topk(
    turns: DataFrame,
    spans_per_word: float,
    min_keep: int = 1,
    cap: int | None = None,
    cfg=None,
) -> DataFrame:
    """Keep top-k spans per (conv_id, turn_idx),
    k = clamp(ceil(ratio·n_tokens)), fused with enumerate and score in one
    scan-local pass.

    The beam group key (conv, turn) IS the input row key, so top-k per turn
    needs no shuffle. This is a guide-§4.2 batch kernel (a first attempt as
    JVM array_sort over span structs measured 10× the window plan's CPU —
    interpreted struct comparators): spans are enumerated as numpy index
    arrays, the score needs only the SURFACE LENGTH (prefix-sums of token
    lengths — no surface strings built), lexsort picks the beam, and
    surfaces are materialized for the ≤k survivors only. Output keeps a
    `beam_rank` (1-based, score order) and a `span_order` that restores
    original (start, end) order for downstream positional ops (reference
    entity_beam_pruner.py:166-171). Dyadic score arithmetic and
    (−score, start, end) tie-breaks are exact, so rows equal the
    ``prune_topk`` oracle leaf's window formulation:
    (conv_id, turn_idx, n_tokens, start, end, surface, width, raw_score,
    beam_rank, span_order)."""
    import math

    from dygiepp_spark.config import PipelineConfig

    cfg = cfg or PipelineConfig()
    w = cfg.max_span_width
    ratio, keep_min, keep_cap = float(spans_per_word), int(min_keep), cap

    def kernel(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = {c: [] for c in (
                "conv_id", "turn_idx", "n_tokens", "start", "end", "surface",
                "width", "raw_score", "beam_rank", "span_order",
            )}
            for conv, turn, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                toks = ("" if text is None else text).split(" ")
                n = len(toks)
                counts = np.minimum(w, n - np.arange(n))
                m = int(counts.sum())
                s_ix = np.repeat(np.arange(n), counts)
                e_ix = np.arange(m) - np.repeat(
                    np.concatenate(([0], np.cumsum(counts)))[:-1], counts
                ) + s_ix
                cs = np.concatenate(
                    ([0], np.cumsum(np.fromiter((len(t) for t in toks), dtype=np.int64, count=n)))
                )
                width = e_ix - s_ix + 1
                surf_len = cs[e_ix + 1] - cs[s_ix] + (width - 1)
                score = ((surf_len * 7 + width * 3) % 16) / 16.0 + width
                k = max(keep_min, math.ceil(ratio * n))
                if keep_cap is not None:
                    k = min(k, keep_cap)
                beam = np.lexsort((e_ix, s_ix, -score))[:k]
                # beam_rank = 1-based position in score order; then restore
                # original (start, end) order with span_order
                order = np.lexsort((e_ix[beam], s_ix[beam]))
                for span_order0, bpos in enumerate(order):
                    s, e = int(s_ix[beam[bpos]]), int(e_ix[beam[bpos]])
                    out["conv_id"].append(conv)
                    out["turn_idx"].append(turn)
                    out["n_tokens"].append(n)
                    out["start"].append(s)
                    out["end"].append(e)
                    out["surface"].append(" ".join(toks[s : e + 1]))
                    out["width"].append(e - s + 1)
                    out["raw_score"].append(float(score[beam[bpos]]))
                    out["beam_rank"].append(bpos + 1)
                    out["span_order"].append(span_order0 + 1)
            yield pd.DataFrame(out)

    return turns.select("conv_id", "turn_idx", "text").mapInPandas(
        kernel,
        schema=(
            "conv_id string, turn_idx int, n_tokens int, start int, end int, "
            "surface string, width int, raw_score double, beam_rank int, "
            "span_order int"
        ),
    )


def antecedent_pairs(pruned_spans: DataFrame, max_antecedents: int = 100) -> DataFrame:
    """D8 — candidate antecedents: for the i-th surviving span (document
    order), candidates are the previous min(max_antecedents, i) spans
    (reference: dygie/models/coref.py:471-526; max_antecedents=100 from
    template.libsonnet:91).

    Input must carry a doc-level position; we compute doc_rank over
    (conv_id) ordered by (turn_idx, start, end). The pair generation is a
    bounded-offset self-join on rank — a range join that stays
    partition-local per conversation.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "start", "end")
    ranked = pruned_spans.withColumn("doc_rank", F.row_number().over(w))
    # Linear formulation: each span EXPLODES its ≤max_antecedents candidate
    # ranks, then two equi-joins on (conv_id, rank) resolve the endpoints.
    # A join-then-range-filter would be a per-conversation cross join —
    # O(k²) per conv, a straggler bomb on mega-conversations; this is
    # O(k·max_antecedents) with plain hash joins.
    cand = ranked.where(F.col("doc_rank") > 1).select(
        F.col("conv_id").alias("c_conv"),
        F.col("doc_rank").alias("a_rank"),
        F.explode(
            F.sequence(
                F.greatest(F.col("doc_rank") - max_antecedents, F.lit(1)),
                F.col("doc_rank") - 1,
            )
        ).alias("b_rank"),
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    return (
        cand.join(
            a, (F.col("c_conv") == F.col("a.conv_id")) & (F.col("a_rank") == F.col("a.doc_rank"))
        )
        .join(
            b, (F.col("c_conv") == F.col("b.conv_id")) & (F.col("b_rank") == F.col("b.doc_rank"))
        )
        .select(
            F.col("c_conv").alias("conv_id"),
            F.col("a.turn_idx").alias("turn_idx"),
            F.col("a.start").alias("start"),
            F.col("a.end").alias("end"),
            F.col("a.doc_rank").alias("doc_rank"),
            F.col("b.turn_idx").alias("ant_turn_idx"),
            F.col("b.start").alias("ant_start"),
            F.col("b.end").alias("ant_end"),
            F.col("b.doc_rank").alias("ant_doc_rank"),
            (F.col("a.doc_rank") - F.col("b.doc_rank")).cast("int").alias("offset"),
        )
    )


def distance_bucket(o: F.Column) -> F.Column:
    """Reference's 10-bucket log distance embedding index
    (util.bucket_values semantics: [1,2,3,4,5-7,8-15,16-31,32-63,64+] style).
    """
    return (
        F.when(o <= 4, o)
        .when(o <= 7, F.lit(5))
        .when(o <= 15, F.lit(6))
        .when(o <= 31, F.lit(7))
        .when(o <= 63, F.lit(8))
        .otherwise(F.lit(9))
        .cast("int")
    )
