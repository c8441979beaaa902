"""Exact text of the reference-format JSONL writers (A2/E8).

The other writer tests parse the JSON, so they cannot see a change in key
order, number formatting, entry order or escaping. These golden lines pin
the bytes of `predictions_to_doc_json` and `annotations_to_doc_json` on the
hand-checked `tiny_turns` fixture (reference format doc/data.md:17-116)."""

import pytest

from dygiepp_spark.operators import coref, extract
from dygiepp_spark.sources import jsonl


def _lines(df):
    return [r["json"] for r in sorted(df.collect(), key=lambda r: r["conv_id"])]


PREDICTIONS_ALL = [
    (
        '{"doc_key":"A","dataset":"transcripts","sentences":[["the","customer",'
        '"will","join","the","order","table"],["scan","the","big","table","then",'
        '"merge","row","and","line"],["customer","again"]],'
        '"predicted_clusters":[[[1,1],[16,16]],[[6,6],[10,10]]],'
        '"predicted_ner":[[[1,1,"ACTOR",1.6875,0.8438],[5,5,"WORKLOAD",1.375,'
        '0.6875],[6,6,"ARTIFACT",1.375,0.6875]],[[9,10,"ARTIFACT",2.3125,0.6563],'
        '[10,10,"ARTIFACT",1.375,0.6875],[13,13,"ARTIFACT",1.5,0.75],[15,15,'
        '"ARTIFACT",1.9375,0.9688]],[[16,16,"ACTOR",1.6875,0.8438]]],'
        '"predicted_relations":[[[1,1,5,5,"JOIN",5.0625,0.5313],[1,1,6,6,"JOIN",'
        '6.25,0.625]],[[10,10,13,13,"MERGE",4.6875,0.8438],[10,10,15,15,"MERGE",'
        '6.5,0.75]],[]],"predicted_events":[[[[3,"JOIN",1.9375,0.9688],[1,1,'
        '"ARG_BEFORE",1.6875,0.8438],[5,5,"ARG_AFTER",1.375,0.6875],[6,6,'
        '"ARG_AFTER",1.375,0.6875]]],[[[7,"SCAN",1.9375,0.9688],[10,10,"ARG_AFTER",'
        '1.375,0.6875]],[[12,"MERGE",1.375,0.6875],[10,10,"ARG_BEFORE",1.375,'
        '0.6875],[13,13,"ARG_AFTER",1.5,0.75],[15,15,"ARG_AFTER",1.9375,0.9688]]],'
        '[]],"weight":0.5,"_idx":[0,1],"_note":"hi"}'
    ),
    (
        '{"doc_key":"B","dataset":"transcripts","sentences":[["sort","the","key"],'
        '["a","slow","query"]],"predicted_clusters":[],"predicted_ner":[[[2,2,'
        '"ARTIFACT",1.5,0.75]],[[4,5,"WORKLOAD",2.75,0.875],[5,5,"WORKLOAD",1.375,'
        '0.6875]]],"predicted_relations":[[],[]],"predicted_events":[[[[0,"SORT",'
        '1.9375,0.9688],[2,2,"ARG_AFTER",1.5,0.75]]],[]]}'
    ),
]

PREDICTIONS_TRIGGERS_ONLY = [
    (
        '{"doc_key":"A","dataset":"transcripts","sentences":[["the","customer",'
        '"will","join","the","order","table"],["scan","the","big","table","then",'
        '"merge","row","and","line"],["customer","again"]],'
        '"predicted_events":[[[[3,"JOIN",1.9375,0.9688]]],[[[7,"SCAN",1.9375,'
        '0.9688]],[[12,"MERGE",1.375,0.6875]]],[]]}'
    ),
    (
        '{"doc_key":"B","dataset":"transcripts","sentences":[["sort","the","key"],'
        '["a","slow","query"]],"predicted_events":[[[[0,"SORT",1.9375,0.9688]]],'
        '[]]}'
    ),
]

PREDICTIONS_NONE = [
    (
        '{"doc_key":"A","dataset":"transcripts","sentences":[["the","customer",'
        '"will","join","the","order","table"],["scan","the","big","table","then",'
        '"merge","row","and","line"],["customer","again"]]}'
    ),
    (
        '{"doc_key":"B","dataset":"transcripts","sentences":[["sort","the","key"],'
        '["a","slow","query"]]}'
    ),
]

GOLD_NER_RELATIONS_CLUSTERS = [
    (
        '{"doc_key":"A","dataset":"transcripts","sentences":[["the","customer",'
        '"will","join","the","order","table"],["scan","the","big","table","then",'
        '"merge","row","and","line"],["customer","again"]],"clusters":[[[1,1],[16,'
        '16]],[[6,6],[10,10]]],"ner":[[[1,1,"ACTOR"],[5,5,"WORKLOAD"],[6,6,'
        '"ARTIFACT"]],[[9,10,"ARTIFACT"],[10,10,"ARTIFACT"],[13,13,"ARTIFACT"],[15,'
        '15,"ARTIFACT"]],[[16,16,"ACTOR"]]],"relations":[[[1,1,5,5,"JOIN"],[1,1,6,'
        '6,"JOIN"]],[[10,10,13,13,"MERGE"],[10,10,15,15,"MERGE"]],[]]}'
    ),
    (
        '{"doc_key":"B","dataset":"transcripts","sentences":[["sort","the","key"],'
        '["a","slow","query"]],"clusters":[],"ner":[[[2,2,"ARTIFACT"]],[[4,5,'
        '"WORKLOAD"],[5,5,"WORKLOAD"]]],"relations":[[],[]]}'
    ),
]

GOLD_EVENTS = [
    (
        '{"doc_key":"A","dataset":"transcripts","sentences":[["the","customer",'
        '"will","join","the","order","table"],["scan","the","big","table","then",'
        '"merge","row","and","line"],["customer","again"]],"events":[[[[3,"JOIN"],'
        '[1,1,"ARG_BEFORE"],[5,6,"say \\"hi\\""]],[[3,"MERGE"],[1,1,"ARG_BEFORE"]]],'
        '[[[13,"MERGE"]]],[]]}'
    ),
    (
        '{"doc_key":"B","dataset":"transcripts","sentences":[["sort","the","key"],'
        '["a","slow","query"]],"events":[[[[0,"SORT"],[2,2,"ARG_AFTER"]]],[]]}'
    ),
]

@pytest.fixture()
def meta(spark):
    return spark.createDataFrame(
        [("A", 0.5, {"_idx": "[0,1]", "_note": "hi"})],
        "doc_key string, weight double, _meta map<string,string>",
    )


def test_predictions_every_family_bytes(tiny_turns, meta):
    """Mentions, triples, triggers with arguments, clusters, weight and
    typed `_` metadata, spliced into one line per document."""
    t = tiny_turns
    out = jsonl.predictions_to_doc_json(
        t,
        mentions=extract.ner_mentions(t),
        triples=extract.relation_triples(t),
        triggers=extract.event_triggers(t),
        arguments=extract.event_arguments(t),
        docs_meta=meta,
        clusters=coref.clusters_via_components(t),
    )
    assert _lines(out) == PREDICTIONS_ALL


def test_predictions_triggers_only_and_no_family_bytes(tiny_turns):
    """Every trigger emits an event without arguments; no family at all
    leaves only the head."""
    t = tiny_turns
    out = jsonl.predictions_to_doc_json(t, triggers=extract.event_triggers(t))
    assert _lines(out) == PREDICTIONS_TRIGGERS_ONLY
    assert _lines(jsonl.predictions_to_doc_json(t)) == PREDICTIONS_NONE


def test_gold_ner_relations_clusters_bytes(tiny_turns):
    t = tiny_turns
    out = jsonl.annotations_to_doc_json(
        t,
        ner=extract.ner_mentions(t),
        relations=extract.relation_triples(t).withColumnRenamed("pred", "label"),
        clusters=coref.clusters_via_components(t),
    )
    assert _lines(out) == GOLD_NER_RELATIONS_CLUSTERS


def test_gold_events_bytes(tiny_turns, spark):
    """Two event types on one trigger (one entry each, ordered by type),
    arguments in span order, an argument-less event, and a role that needs
    JSON escaping."""
    ev = spark.createDataFrame(
        [
            ("A", 0, 3, "JOIN", 5, 6, 'say "hi"'),
            ("A", 0, 3, "JOIN", 1, 1, "ARG_BEFORE"),
            ("A", 0, 3, "MERGE", 1, 1, "ARG_BEFORE"),
            ("A", 1, 6, "MERGE", None, None, None),
            ("B", 0, 0, "SORT", 2, 2, "ARG_AFTER"),
        ],
        "conv_id string, turn_idx int, trigger_ix int, event_type string, "
        "arg_start int, arg_end int, role string",
    )
    out = jsonl.annotations_to_doc_json(tiny_turns, events=ev)
    assert _lines(out) == GOLD_EVENTS
