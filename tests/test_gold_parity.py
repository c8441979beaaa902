"""Triple-set P/R vs an INDEPENDENT gold (BASELINE.json metric, target
≥ 0.95; measured 1.0/1.0).

The synthetic corpus has closed-form token placement
(synth.py: token_i = vocab[(c·31 + t·17 + i·7 + seed) mod |V|]), so gold
mentions/triples are derivable in pure Python without touching any Spark
code path. This is the in-sandbox realization of "match the reference's
emitted triples": the gold generator plays the reference, the Spark
pipeline plays the engine."""

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.functions.lexicons import ENTITY_TYPES, PREDICATES
from dygiepp_spark.operators import extract
from dygiepp_spark.plans.pipeline import extract_all
from dygiepp_spark.synth import VOCAB, synth_turns

SEED = 17
N_CONVS = 40
CFG = PipelineConfig()


def _python_gold():
    """Pure-Python reference: corpus + rule extraction from the specs."""
    mentions, triples = set(), set()
    for c in range(N_CONVS):
        n_turns = 3 + (c * 2654435761 + SEED) % 18
        for t in range(n_turns):
            n_tok = 2 + (c * 7 + t * 13 + SEED) % 11
            toks = [VOCAB[(c * 31 + t * 17 + i * 7 + SEED) % len(VOCAB)] for i in range(n_tok)]
            conv = f"conv{c}"
            ent_pos = [i for i, tok in enumerate(toks) if tok in ENTITY_TYPES]
            pred_pos = [i for i, tok in enumerate(toks) if tok in PREDICATES]
            for i in ent_pos:
                mentions.add((conv, t, i, i, ENTITY_TYPES[toks[i]]))
            for i in ent_pos:
                for j in ent_pos:
                    if 0 < j - i <= CFG.max_pair_distance:
                        between = [k for k in pred_pos if i < k < j]
                        if between:
                            triples.add((conv, t, i, toks[between[0]].upper(), j))
    return mentions, triples


def _prf(pred: set, gold: set):
    m = len(pred & gold)
    return m / len(pred) if pred else 0.0, m / len(gold) if gold else 0.0


def test_triple_pr_vs_independent_gold(spark):
    gold_mentions, gold_triples = _python_gold()
    turns = synth_turns(spark, n_convs=N_CONVS, seed=SEED)

    got_m = {
        (r["conv_id"], r["turn_idx"], r["start"], r["end"], r["label"])
        for r in extract.ner_mentions(turns, include_modifier_spans=False).collect()
    }
    p, r = _prf(got_m, gold_mentions)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert (p, r) == (1.0, 1.0)

    for name, triples in (
        ("extract_all", extract_all(turns).triples),
        ("relation_triples", extract.relation_triples(turns)),
    ):
        got_t = {
            (x["conv_id"], x["turn_idx"], x["subj_start"], x["pred"], x["obj_start"])
            for x in triples.collect()
        }
        p, r = _prf(got_t, gold_triples)
        assert p >= 0.95 and r >= 0.95, (name, p, r)
        assert (p, r) == (1.0, 1.0)
