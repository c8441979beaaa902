"""UDF-inference pass parity vs a pure-Python decode of the collected turns
(SURVEY.md §5 layers 3-4: numeric parity of the scoring UDF vs the
reference decode math; triple-set P/R target ≥ 0.95 — here exact
equality), and per-turn failure isolation."""

from pyspark.sql import functions as F

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.inference import model, udf
from dygiepp_spark.inference.batching import pack_by_budget
from dygiepp_spark.operators import metrics
from dygiepp_spark.synth import synth_turns
from dygiepp_spark.tables import read_turns

SF_DIR = "/root/testdata/sf0.001"


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


# the wide config (the default) and one non-default input, so the config
# reaches the decode through ``get_model(cfg)``
CONFIGS = [PipelineConfig(), PipelineConfig(max_pair_distance=2, max_arg_distance=1)]

HEAD_SCHEMAS = {
    "mentions": "conv_id string, turn_idx int, start int, end int, label string, "
    "surface string, raw_score double, softmax_score double",
    "triples": "conv_id string, turn_idx int, subj_start int, subj_end int, "
    "subj_surface string, pred string, obj_start int, obj_end int, "
    "obj_surface string, raw_score double, softmax_score double",
    "triggers": "conv_id string, turn_idx int, trigger_ix int, event_type string, "
    "raw_score double, softmax_score double",
    "arguments": "conv_id string, turn_idx int, trigger_ix int, event_type string, "
    "arg_start int, arg_end int, arg_surface string, role string",
}


def _decode(rows, cfg):
    """Pure-Python reference: each head's rows from ``model.mentions`` /
    ``triples`` / ``events`` over collected (conv_id, turn_idx, text) rows,
    sorted; a NULL text decodes to nothing."""
    heads = {h: [] for h in HEAD_SCHEMAS}
    for conv, turn, text in rows:
        if text is None:
            continue
        toks = text.split(" ")
        heads["mentions"] += [(conv, turn, *m) for m in model.mentions(toks)]
        heads["triples"] += [
            (conv, turn, s, s, subj, pred, o, o, obj, raw, soft)
            for s, subj, o, obj, pred, raw, soft in model.triples(toks, cfg.max_pair_distance)
        ]
        trig, args = model.events(toks, cfg.max_arg_distance)
        heads["triggers"] += [(conv, turn, *t) for t in trig]
        heads["arguments"] += [
            (conv, turn, t, etype, a, a, surf, role) for t, etype, a, surf, role in args
        ]
    return {h: sorted(r) for h, r in heads.items()}


def _reference(spark, turns, cfg):
    """`_decode` of the collected turns, one DataFrame per head."""
    rows = turns.select("conv_id", "turn_idx", "text").collect()
    return {
        h: spark.createDataFrame(r, HEAD_SCHEMAS[h]) for h, r in _decode(rows, cfg).items()
    }


def test_triples_parity_udf_vs_columnar(spark):
    turns = read_turns(spark, sf_dir=SF_DIR)
    for cfg in CONFIGS:
        tall = udf.infer(turns, cfg)
        udf_triples = udf.triples_from(tall)
        col_triples = _reference(spark, turns, cfg)["triples"]
        cols = [
            "conv_id", "turn_idx", "subj_start", "subj_end", "subj_surface",
            "pred", "obj_start", "obj_end", "obj_surface", "raw_score", "softmax_score",
        ]
        assert _sorted_rows(udf_triples, cols) == _sorted_rows(col_triples, cols)
        # P/R form of the same statement (the BASELINE.json metric, ≥ 0.95)
        keys = ["conv_id", "turn_idx", "subj_start", "pred", "obj_start"]
        m = metrics.micro_prf(udf_triples, col_triples, keys, task="relation").head()
        assert m["precision"] == 1.0 and m["recall"] == 1.0


def test_mentions_parity_udf_vs_columnar(spark):
    turns = read_turns(spark, sf_dir=SF_DIR)
    for cfg in CONFIGS:
        udf_m = udf.mentions_from(udf.infer(turns, cfg))
        col_m = _reference(spark, turns, cfg)["mentions"]
        cols = ["conv_id", "turn_idx", "start", "end", "label", "surface", "raw_score"]
        assert _sorted_rows(udf_m, cols) == _sorted_rows(col_m, cols)


def test_events_parity_udf_vs_columnar(spark):
    turns = read_turns(spark, sf_dir=SF_DIR)
    for cfg in CONFIGS:
        tall = udf.infer(turns, cfg)
        ref = _reference(spark, turns, cfg)
        cols_t = ["conv_id", "turn_idx", "trigger_ix", "event_type"]
        assert _sorted_rows(udf.triggers_from(tall), cols_t) == _sorted_rows(
            ref["triggers"], cols_t
        )
        cols_a = ["conv_id", "turn_idx", "trigger_ix", "arg_start", "role"]
        assert _sorted_rows(udf.arguments_from(tall), cols_a) == _sorted_rows(
            ref["arguments"], cols_a
        )


def test_failed_batch_isolation(spark):
    """A poison row (NULL text) must flag its batch, not kill the job
    (reference _FAILED_PREDICTION semantics, predictors/dygie.py:57-68)."""
    rows = [
        ("ok", 0, "user", "customer join order", None),
        ("bad", 0, "user", None, None),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    tall = udf.infer(turns)
    failed = udf.failed_from(tall).collect()
    assert any(r["conv_id"] == "bad" for r in failed)
    # the healthy conversation still produced triples
    ok = udf.triples_from(tall).where("conv_id = 'ok'").count()
    assert ok == 1


def test_failing_turn_is_flagged_alone(spark):
    """One NULL text among more turns than an Arrow batch holds, all in one
    partition: only the poison turn is flagged, and every other turn of
    its micro-batch still decodes (the batch is re-run turn by turn)."""
    poison = (F.col("conv_id") == "conv7") & (F.col("turn_idx") == 2)
    turns = (
        synth_turns(spark, n_convs=500)
        .withColumn("text", F.when(poison, F.lit(None)).otherwise(F.col("text")))
        .coalesce(1)
    )
    rows = turns.select("conv_id", "turn_idx", "text").collect()
    assert len(rows) > udf.MAX_ROWS_PER_BATCH
    assert turns.rdd.getNumPartitions() == 1
    tall = udf.infer(turns).persist()
    failed = udf.failed_from(tall).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in failed] == [("conv7", 2)]
    want = _decode(rows, PipelineConfig())
    for head, project in [
        ("mentions", udf.mentions_from),
        ("triples", udf.triples_from),
        ("triggers", udf.triggers_from),
        ("arguments", udf.arguments_from),
    ]:
        cols = [c.split()[0] for c in HEAD_SCHEMAS[head].split(", ")]
        assert _sorted_rows(project(tall), cols) == want[head], head
    tall.unpersist()


def test_pack_by_budget():
    lengths = [100, 1, 50, 60, 2, 99]
    batches = pack_by_budget(lengths, max_tokens=120, max_rows=10)
    flat = sorted(i for b in batches for i in b)
    assert flat == list(range(6))  # exact cover
    for b in batches:
        assert sum(max(1, lengths[i]) for i in b) <= 120 or len(b) == 1


def test_microbatch_row_cap():
    lengths = [1] * 10
    batches = pack_by_budget(lengths, max_tokens=1000, max_rows=4)
    assert max(len(b) for b in batches) <= 4
    assert sorted(i for b in batches for i in b) == list(range(10))


def test_model_singleton_keyed_on_config(spark):
    """Two jobs sharing one Python worker with DIFFERENT configs must each
    get a model built from THEIR config — the r2 singleton froze the first
    caller's config in for the life of the worker."""
    from dygiepp_spark.config import PipelineConfig
    from dygiepp_spark.inference.model import get_model

    a = get_model(PipelineConfig(max_pair_distance=5))
    b = get_model(PipelineConfig(max_pair_distance=2))
    assert a.cfg.max_pair_distance == 5
    assert b.cfg.max_pair_distance == 2
    assert a is not b
    # same config → same instance (still a per-worker singleton per config)
    assert get_model(PipelineConfig(max_pair_distance=5)) is a
    assert get_model() is get_model(PipelineConfig())

    # end-to-end: the narrow config must emit strictly fewer far relations
    toks = "alice sent bob and later carol sent dave a report".split()
    wide = a.forward([toks])[0]
    narrow = b.forward([toks])[0]
    assert len(narrow.triples) <= len(wide.triples)


def test_unknown_model_backend_raises():
    import pytest as _pytest

    from dygiepp_spark.config import PipelineConfig
    from dygiepp_spark.inference.model import get_model

    with _pytest.raises(ValueError, match="model_backend"):
        get_model(PipelineConfig(model_backend="nope"))
