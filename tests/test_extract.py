"""Extraction-head goldens on the hand-checked tiny fixture
(reference test model: dygie/tests/data/dygie_test.py:12-98 — exact spans,
labels, relation indices on a fixture doc)."""

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.operators import extract
from dygiepp_spark.operators.spans import (
    align_ner_labels,
    enumerate_spans,
)

# conv A turn 0: the(0) customer(1) will(2) join(3) the(4) order(5) table(6)
# conv A turn 1: scan(0) the(1) big(2) table(3) then(4) merge(5) row(6) and(7) line(8)
# conv A turn 2: customer(0) again(1)
# conv B turn 0: sort(0) the(1) key(2)
# conv B turn 1: a(0) slow(1) query(2)


def test_span_enumeration_count(tiny_turns):
    cfg = PipelineConfig(max_span_width=8)
    spans = enumerate_spans(tiny_turns, cfg)
    per_turn = {
        (r["conv_id"], r["turn_idx"]): r["cnt"]
        for r in spans.groupBy("conv_id", "turn_idx").count().withColumnRenamed("count", "cnt").collect()
    }
    # n·w − w(w−1)/2 for n ≥ w; else n(n+1)/2
    def expected(n, w=8):
        return n * w - w * (w - 1) // 2 if n >= w else n * (n + 1) // 2

    assert per_turn[("A", 0)] == expected(7)
    assert per_turn[("A", 1)] == expected(9)
    assert per_turn[("B", 0)] == expected(3)


def test_span_surfaces(tiny_turns):
    spans = enumerate_spans(tiny_turns).where(
        "conv_id = 'A' AND turn_idx = 0 AND start = 1 AND end = 3"
    )
    assert spans.head()["surface"] == "customer will join"


def test_ner_mentions_golden(tiny_turns):
    got = {
        (r["conv_id"], r["turn_idx"], r["start"], r["end"]): (r["label"], r["surface"])
        for r in extract.ner_mentions(tiny_turns).collect()
    }
    assert got[("A", 0, 1, 1)] == ("ACTOR", "customer")
    assert got[("A", 0, 5, 5)] == ("WORKLOAD", "order")
    assert got[("A", 0, 6, 6)] == ("ARTIFACT", "table")
    assert got[("A", 1, 2, 3)] == ("ARTIFACT", "big table")  # modifier span
    assert got[("B", 1, 1, 2)] == ("WORKLOAD", "slow query")
    assert ("A", 0, 0, 0) not in got  # 'the' is not an entity


def test_ner_align_null_label(tiny_turns):
    spans = enumerate_spans(tiny_turns)
    gold = extract.ner_mentions(tiny_turns, include_modifier_spans=False)
    aligned = align_ner_labels(spans, gold)
    row = aligned.where("conv_id='A' AND turn_idx=0 AND start=1 AND end=1").head()
    assert row["gold_label"] == "ACTOR"
    row = aligned.where("conv_id='A' AND turn_idx=0 AND start=0 AND end=0").head()
    assert row["gold_label"] == ""  # null label, reference dygie.py:59-68


def test_relation_triples_golden(tiny_turns):
    got = {
        (r["conv_id"], r["turn_idx"], r["subj_surface"], r["pred"], r["obj_surface"])
        for r in extract.relation_triples(tiny_turns).collect()
    }
    assert got == {
        ("A", 0, "customer", "JOIN", "order"),
        ("A", 0, "customer", "JOIN", "table"),
        ("A", 1, "table", "MERGE", "row"),
        ("A", 1, "table", "MERGE", "line"),
    }


def test_triple_scores_are_dyadic(tiny_turns):
    for r in extract.relation_triples(tiny_turns).collect():
        assert (r["raw_score"] * 16) == int(r["raw_score"] * 16)
        assert 0.5 <= r["softmax_score"] <= 1.0


def test_dedup_triples(tiny_turns):
    deduped = extract.dedup_triples(extract.relation_triples(tiny_turns))
    rows = {(r["subj"], r["pred"], r["obj"]): r["n_support"] for r in deduped.collect()}
    assert len(rows) == 4
    assert all(v == 1 for v in rows.values())


def test_events_golden(tiny_turns):
    trig = {
        (r["conv_id"], r["turn_idx"], r["trigger_ix"]): r["event_type"]
        for r in extract.event_triggers(tiny_turns).collect()
    }
    assert trig[("A", 0, 3)] == "JOIN"
    assert trig[("A", 1, 0)] == "SCAN"
    assert trig[("A", 1, 5)] == "MERGE"
    assert trig[("B", 0, 0)] == "SORT"

    args = extract.event_arguments(tiny_turns)
    got = {
        (r["conv_id"], r["turn_idx"], r["trigger_ix"], r["arg_start"], r["role"])
        for r in args.collect()
    }
    assert ("A", 0, 3, 1, "ARG_BEFORE") in got
    assert ("A", 0, 3, 5, "ARG_AFTER") in got
    assert ("A", 0, 3, 6, "ARG_AFTER") in got
    assert ("A", 1, 5, 3, "ARG_BEFORE") in got
    assert ("A", 1, 0, 6, "ARG_AFTER") not in got  # distance 6 > 3

    events = extract.assemble_events(args)
    e = events.where("conv_id='A' AND turn_idx=0 AND trigger_ix=3").head()
    assert [a["start"] for a in e["args"]] == [1, 5, 6]  # sorted by span start


def test_overlap_merge(tiny_turns):
    merged = extract.overlap_merge(extract.ner_mentions(tiny_turns))
    got = {
        (r["conv_id"], r["turn_idx"], r["start"], r["end"])
        for r in merged.collect()
    }
    # (A,1): big table (2,3) absorbs table (3,3); row & line survive
    assert ("A", 1, 2, 3) in got
    assert ("A", 1, 3, 3) not in got
    assert ("A", 1, 6, 6) in got and ("A", 1, 8, 8) in got
    # (B,1): slow query (1,2) absorbs query (2,2)
    assert ("B", 1, 1, 2) in got and ("B", 1, 2, 2) not in got


def test_relation_triples_kernel_matches_expr(spark):
    """r7: relation_triples switched from interpreted HOF array algebra to
    a mapInPandas batch kernel (guide §4.2). The expression twin is the
    semantic spec — every emitted row (including dyadic scores) must be
    bit-identical over an adversarial corpus: empty/NULL text, repeated
    spaces (empty tokens), predicate adjacency, the max_pair_distance
    boundary, subjects sharing one earliest predicate, predicate-after-
    object, multi-predicate turns, and turns with no entities/predicates."""
    rows = [
        ("K", 0, "customer join order"),
        ("K", 1, "customer  join  order"),  # double spaces -> empty tokens
        ("K", 2, "customer join x x x order"),  # obj exactly at distance 5
        ("K", 3, "customer join x x x x order"),  # distance 6: no triple
        ("K", 4, "customer order join"),  # predicate after object: none
        ("K", 5, "customer join order merge table row"),  # chained pairs
        ("K", 6, "join merge filter"),  # predicates only
        ("K", 7, "customer order table"),  # entities only
        ("K", 8, ""),  # empty text
        ("K", 9, None),  # NULL text
        ("L", 0, "customer join join order"),  # earliest-pred tie-break
        ("L", 1, "key sort value hash vector"),  # two subjects, shared preds
        ("L", 2, "the customer will join the order table then merge row"),
    ]
    turns = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    for cfg in (PipelineConfig(), PipelineConfig(max_pair_distance=2)):
        kern = extract.relation_triples(turns, cfg).collect()
        expr = extract.relation_triples_expr(turns, cfg).collect()
        key = lambda r: tuple(r[c] for c in sorted(r.asDict()))
        assert sorted(map(key, kern)) == sorted(map(key, expr))
        assert len(kern) > 0  # the corpus must actually exercise emission


def test_ner_mentions_kernel_matches_expr(spark):
    """r7: ner_mentions kernel/expr parity — same adversarial shapes as the
    relation sweep plus modifier-specific edges (modifier at end of turn,
    modifier before non-entity, modifier before modifier, double space
    between modifier and entity)."""
    rows = [
        ("K", 0, "the customer will join the order table"),
        ("K", 1, "big table then merge row and line"),
        ("K", 2, "fast"),          # modifier at end: no pair
        ("K", 3, "fast join"),     # modifier before predicate: no pair
        ("K", 4, "big fast table"),  # modifier before modifier; fast+table pair
        ("K", 5, "big  table"),    # double space: empty token breaks the pair
        ("K", 6, ""),
        ("K", 7, None),
        ("K", 8, "slow query big table customer"),
    ]
    turns = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    for inc in (True, False):
        kern = extract.ner_mentions(turns, include_modifier_spans=inc).collect()
        expr = extract.ner_mentions_expr(turns, include_modifier_spans=inc).collect()
        key = lambda r: tuple(r[c] for c in sorted(r.asDict()))
        assert sorted(map(key, kern)) == sorted(map(key, expr))
        assert len(kern) > 0


def test_event_arguments_kernel_matches_expr(spark):
    """r7: event_arguments kernel/expr parity — window boundary on both
    sides, trigger at turn edges, multiple triggers sharing arguments."""
    rows = [
        ("K", 0, "the customer will join the order table"),
        ("K", 1, "customer x x x join x x x table"),  # exactly at distance
        ("K", 2, "customer x x x x join x x x x table"),  # beyond distance
        ("K", 3, "join customer merge order sort"),  # triggers at both edges
        ("K", 4, "join merge sort"),  # no entities
        ("K", 5, "customer order"),   # no triggers
        ("K", 6, ""),
        ("K", 7, None),
    ]
    turns = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    for cfg in (PipelineConfig(), PipelineConfig(max_arg_distance=1)):
        kern = extract.event_arguments(turns, cfg).collect()
        expr = extract.event_arguments_expr(turns, cfg).collect()
        key = lambda r: tuple(r[c] for c in sorted(r.asDict()))
        assert sorted(map(key, kern)) == sorted(map(key, expr))
        assert len(kern) > 0


def test_lexicons_are_disjoint_and_a_collision_raises():
    """Decode types a token by the first lexicon that holds it, so the
    lexicons must not share a token; the module checks it at import."""
    import pytest

    from dygiepp_spark.functions import lexicons as lx

    lx.check_disjoint(
        ENTITY_TYPES=lx.ENTITY_TYPES, PREDICATES=lx.PREDICATES, MODIFIERS=lx.MODIFIERS
    )
    with pytest.raises(ValueError, match="'join' is in both ENTITY_TYPES and PREDICATES"):
        lx.check_disjoint(
            ENTITY_TYPES={**lx.ENTITY_TYPES, "join": "ACTOR"},
            PREDICATES=lx.PREDICATES,
            MODIFIERS=lx.MODIFIERS,
        )
    with pytest.raises(ValueError, match="'fast' is in both PREDICATES and MODIFIERS"):
        lx.check_disjoint(PREDICATES=("fast",), MODIFIERS=lx.MODIFIERS)
