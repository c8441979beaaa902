"""Micro-batch shaping for UDF inference (the B6/B7 collate analogue).

The reference packs sentences into pseudo-documents under a span budget so
GPU batches waste no padding (reference: scripts/data/shared/collate.py:26-66,
cost model n_sents × longest_len²; rationale doc/model.md:32-41). In Spark
the table-level analogue is unnecessary — instead we shape the pandas
batches INSIDE the UDF: sort the Arrow batch by token length, emit
micro-batches under a token budget, process, and restore original row order
(the uncollate step, uncollate.py:53-94; ``inference.udf._model_pass``).
"""

from __future__ import annotations


def pack_by_budget(
    lengths: list[int], max_tokens: int = 8192, max_rows: int = 256
) -> list[list[int]]:
    """Greedy bin-packing of row indices (sorted by length desc) under a
    token budget and row cap. Returns lists of row indices."""
    order = sorted(range(len(lengths)), key=lambda i: (-lengths[i], i))
    batches: list[list[int]] = []
    cur: list[int] = []
    cur_tokens = 0
    for i in order:
        li = max(1, lengths[i])
        if cur and (cur_tokens + li > max_tokens or len(cur) >= max_rows):
            batches.append(cur)
            cur, cur_tokens = [], 0
        cur.append(i)
        cur_tokens += li
    if cur:
        batches.append(cur)
    return batches

