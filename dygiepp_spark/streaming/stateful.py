"""Custom stateful streaming operators: incremental within-conversation
coreference edges and an in-order re-emitter, via ``applyInPandasWithState``.

State per conv_id (coref): the state of the one coreference walk,
``inference.model.CorefWalk`` — the doc-level position of the last mention
of each surface form, plus the conversation's running token offset. Each
micro-batch decodes that conversation's new turns (``model.mentions``),
steps the walk over their width-1 mentions, emits one antecedent edge per
new mention of an already-seen surface (the same walk the batch model pass
steps; ``operators.coref.antecedent_edges`` is its JVM formulation), and
writes the walk's state back. A NULL-text turn is 0
tokens, as in batch. Downstream, clusters form in batch via connected
components over the accumulated edge table — unbounded cluster state
never lives in the stream.

Assumes per-conversation in-order arrival (turn_idx monotone across
micro-batches), which the file/Kafka source provides when producers write
turns in order. When a producer violates that, the behavior is defined and
pinned (tests/test_stateful_streaming.py late-arrival test): a late turn is
NEVER dropped and never fails the query — its tokens take doc positions at
the conversation's running offset, i.e. the output equals the batch
operator applied to the conversation in ARRIVAL order (same edge count as
true order; positions shifted). Within one micro-batch, turns are sorted by
turn_idx, so only cross-batch disorder mispositions. Deployments needing
true-order positions must bound disorder upstream: `reorder_turns` below is
that operator (stateful gap buffer releasing contiguous turn_idx runs).
Spark rejects two arbitrary-stateful operators in one query, so compose as
two queries: reorder → ordered sink/topic → incremental_coref_edges.

Expiry is EVENT-TIME (r3 VERDICT #5): both operators set a per-group
timeout at (newest event time seen) + gap and Spark fires it when the
``ts`` WATERMARK passes that point — matching the dedup path
(ingest.dedup_turns_stream). A replayed/backfilled stream (event time ≫
processing time) therefore drains reorder buffers exactly when the data
says the gap is stale, not on wall-clock idleness: a fast replay can no
longer flush a gap early, and a paused-then-resumed stream no longer holds
state past what the data warrants. Pinned by
tests/test_stateful_streaming.py::test_reorder_drains_on_watermark_advance.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dygiepp_spark.inference.model import CorefWalk, mentions

DEFAULT_WATERMARK = "10 minutes"
DEFAULT_GAP_MS = 30 * 60 * 1000  # event-time idle gap before a group expires

OUTPUT_SCHEMA = "conv_id string, doc_pos long, ant_doc_pos long, surface string"
STATE_SCHEMA = "last_pos string, total_tokens long, max_ts long"


def _ts_ms(series: pd.Series) -> int:
    """Max event time of a micro-batch slice, in epoch ms (0 if all-null)."""
    mx = series.max()
    if mx is None or pd.isna(mx):
        return 0
    return int(pd.Timestamp(mx).value // 1_000_000)


def _arm_event_timeout(state: GroupState, max_ts_ms: int, gap_ms: int) -> None:
    """Expire this group when the watermark passes (newest event + gap).
    The timestamp must sit strictly beyond the current watermark or Spark
    rejects it — a group whose data is already older than the watermark
    arms the earliest legal point instead (it expires on the next
    watermark advance, which is the correct semantics for stale state)."""
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(max_ts_ms + gap_ms, wm + 1))


def _edges_for_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    gap_ms = DEFAULT_GAP_MS
    if state.hasTimedOut:
        # stale-conversation expiry (watermark passed newest event + gap):
        # drop state, emit nothing, do NOT re-arm — otherwise expired
        # conversations re-update forever and state grows without bound
        state.remove()
        yield pd.DataFrame(
            {"conv_id": [], "doc_pos": [], "ant_doc_pos": [], "surface": []}
        )
        return
    if state.exists:
        last_pos_json, total_tokens, max_ts = state.get
        walk = CorefWalk(json.loads(last_pos_json), total_tokens)
    else:
        walk, max_ts = CorefWalk(), 0

    rows: list[tuple] = []
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        if "ts" in pdf.columns:
            max_ts = max(max_ts, _ts_ms(pdf["ts"]))
        for text in pdf["text"]:
            toks = [] if text is None else text.split(" ")
            spans = [(s, sf) for s, _, _, sf, _, _ in mentions(toks, with_modifiers=False)]
            rows.extend(
                (conv_id, dp, ant, surf)
                for _, surf, dp, ant in walk.step(len(toks), spans)
                if ant is not None
            )

    state.update((json.dumps(walk.last), walk.offset, max_ts))
    _arm_event_timeout(state, max_ts, gap_ms)
    yield pd.DataFrame(rows, columns=["conv_id", "doc_pos", "ant_doc_pos", "surface"])


REORDER_OUTPUT_SCHEMA = "conv_id string, turn_idx int, text string, ts timestamp"
REORDER_STATE_SCHEMA = "next_idx int, buffered string, max_ts long"


def _emit_reorder(conv_id: str, rows: list[tuple[int, str, int]]) -> pd.DataFrame:
    # t_us == 0 marks a null input ts (buffered as 0): re-emit NaT/NULL
    # rather than fabricating epoch-0, which would poison the downstream
    # watermark
    return pd.DataFrame(
        {
            "conv_id": [conv_id] * len(rows),
            "turn_idx": [k for k, _, _ in rows],
            "text": [v for _, v, _ in rows],
            "ts": pd.to_datetime(
                [t if t != 0 else None for _, _, t in rows], unit="us"
            ),
        }
    )


def _reorder_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    gap_ms = DEFAULT_GAP_MS
    if state.hasTimedOut:
        # the watermark passed (newest buffered event + gap): the missing
        # turn is declared lost — flush whatever is buffered IN ORDER so a
        # truncated conversation still drains, then drop state
        _, buffered_json, _ = state.get
        buffered: dict[str, list] = json.loads(buffered_json)
        rows = sorted((int(k), v[0], v[1]) for k, v in buffered.items())
        state.remove()
        yield _emit_reorder(conv_id, rows)
        return
    if state.exists:
        next_idx, buffered_json, max_ts = state.get
        buffered = json.loads(buffered_json)
    else:
        next_idx, buffered, max_ts = 0, {}, 0
    for pdf in pdfs:
        has_ts = "ts" in pdf.columns
        if has_ts:
            max_ts = max(max_ts, _ts_ms(pdf["ts"]))
        for row in pdf.itertuples(index=False):
            t_us = (
                int(pd.Timestamp(row.ts).value // 1_000) if has_ts and not pd.isna(row.ts) else 0
            )
            buffered[str(int(row.turn_idx))] = [row.text, t_us]
    out: list[tuple[int, str, int]] = []
    while str(next_idx) in buffered:
        text, t_us = buffered.pop(str(next_idx))
        out.append((next_idx, text, t_us))
        next_idx += 1
    state.update((next_idx, json.dumps(buffered), max_ts))
    _arm_event_timeout(state, max_ts, gap_ms)
    yield _emit_reorder(conv_id, out)


def reorder_turns(
    turns_stream: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Stateful in-order re-emitter: buffers out-of-order turns per
    conversation and releases them in contiguous turn_idx order (0,1,2,...)
    — the upstream fix for producers that violate the in-order-arrival
    assumption of incremental_coref_edges. State per conversation is the
    next expected index plus only the GAP turns (released turns leave
    state immediately), so state stays bounded by producer disorder, not
    conversation length. A conversation whose gap is stale in EVENT TIME —
    the ``ts`` watermark passed its newest buffered turn plus the idle gap
    — drains its buffer in order and drops state (a permanently missing
    turn cannot hold the tail hostage forever, and a fast replay cannot
    flush a gap early the way wall-clock expiry would). Output carries
    ``ts`` so a downstream query can define its own watermark."""
    return (
        turns_stream.select("conv_id", "turn_idx", "text", "ts")
        .withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _reorder_group,
            outputStructType=REORDER_OUTPUT_SCHEMA,
            stateStructType=REORDER_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def incremental_coref_edges(
    turns_stream: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Streaming DataFrame of antecedent edges, exactly matching the batch
    operator on in-order input (pinned by pytest). Idle-conversation state
    expires on event-time watermark advance (see module docstring)."""
    return (
        turns_stream.select("conv_id", "turn_idx", "text", "ts")
        .withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _edges_for_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
