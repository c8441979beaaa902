"""Extraction-head goldens on the hand-checked tiny fixture
(reference test model: dygie/tests/data/dygie_test.py:12-98 — exact spans,
labels, relation indices on a fixture doc)."""

import duckdb
import pytest

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.operators import extract
from dygiepp_spark.operators.spans import (
    align_ner_labels,
    enumerate_spans,
)
from dygiepp_spark.plans import cache
from dygiepp_spark.registry import QUERIES

from conftest import rows_match

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


# Adversarial turns for the decode, written as documents (the turns table
# is derived from documents: conv = doc_id // 8, turn = doc_id % 8).
# The extraction leaves use max_pair_distance 5 and 4 and max_arg_distance
# 3 and 2, so the boundary rows sit at those distances.
ADVERSARIAL_TEXTS = [
    # relation shapes
    "customer join order",
    "customer  join  order",  # double spaces -> empty tokens
    "customer join x x order",  # obj at distance 4
    "customer join x x x order",  # obj at distance 5
    "customer join x x x x order",  # distance 6: no triple
    "customer order join",  # predicate after object: none
    "customer join order merge table row",  # chained pairs
    "join merge filter",  # predicates only
    "customer order table",  # entities only
    "",  # empty text
    None,  # NULL text
    "customer join join order",  # earliest-pred tie-break
    "key sort value hash vector",  # two subjects, shared preds
    "the customer will join the order table then merge row",
    # NER shapes: modifier edges
    "big table then merge row and line",
    "fast",  # modifier at end: no pair
    "fast join",  # modifier before predicate: no pair
    "big fast table",  # modifier before modifier; fast+table pair
    "big  table",  # double space: empty token breaks the pair
    "slow query big table customer",
    "small stream fast vector",  # modifier pairs on the ner_metrics-excluded surfaces
    # event shapes
    "customer x join x table",  # args at distance 2 on both sides
    "customer x x join x x table",  # distance 3 on both sides
    "customer x x x join x x x table",  # distance 4: no argument
    "join customer merge order sort",  # triggers at both edges
    "join merge sort",  # no entities
    "customer order",  # no triggers
]

@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adversarial_sf"))
    rows = [
        (i, text, "en", "adversarial", len(text or ""))
        for i, text in enumerate(ADVERSARIAL_TEXTS)
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


def _leaves_match_oracle(spark, sf_dir, leaves):
    """Each leaf, built by its head (a projection of the one inference pass
    over ``inference.model``), must match its expression twin, the DuckDB oracle SQL, row for row on the
    adversarial turns: empty and NULL text, empty tokens, distance
    boundaries, predicate tie-breaks and modifier edges."""
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet/*.parquet'"
    )
    try:
        for name in leaves:
            spec = QUERIES[name]
            with cache.scoped():
                df = spec.build(spark, sf_dir)
                assert rows_match(df, con.sql(spec.sql)), name
    finally:
        con.close()


def test_ner_mentions_kernel_matches_expr(spark, adversarial_dir):
    # NER with and without modifier spans, and the coref mention lookup
    _leaves_match_oracle(
        spark,
        adversarial_dir,
        ["ner_mentions", "ner_metrics", "ner_align_counts", "coref_clusters"],
    )


def test_relation_triples_kernel_matches_expr(spark, adversarial_dir):
    # pairs at distances 5 and 4; the corpus must actually emit triples
    _leaves_match_oracle(
        spark, adversarial_dir, ["relation_triples", "relation_metrics"]
    )
    assert QUERIES["relation_triples"].build(spark, adversarial_dir).count() > 0


def test_event_arguments_kernel_matches_expr(spark, adversarial_dir):
    # arguments at distances 3 and 2; the corpus must actually emit them
    _leaves_match_oracle(
        spark, adversarial_dir, ["event_arguments", "argument_metrics"]
    )
    assert QUERIES["event_arguments"].build(spark, adversarial_dir).count() > 0


def test_lexicons_are_disjoint_and_a_collision_raises():
    """Decode types a token by the first lexicon that holds it, so the
    lexicons must not share a token; the module checks it at import."""
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
