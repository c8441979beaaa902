"""Pipeline / checkpoint / skew tests (FIXTURES.md §5 invariants 7-8)."""

import shutil
import tempfile

from pyspark.sql import functions as F

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.operators import canonicalize, extract, skew
from dygiepp_spark.plans import checkpoint as cp
from dygiepp_spark.plans.pipeline import extract_all
from dygiepp_spark.synth import synth_turns


def _triples_set(df):
    return {
        (r["conv_id"], r["turn_idx"], r["subj_start"], r["pred"], r["obj_start"])
        for r in df.collect()
    }


def test_synth_turns_deterministic(spark):
    a = synth_turns(spark, n_convs=20, seed=7).collect()
    b = synth_turns(spark, n_convs=20, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    c = synth_turns(spark, n_convs=20, seed=8)
    assert sorted(map(tuple, a)) != sorted(map(tuple, c.collect()))
    # schema contract
    assert [f.name for f in synth_turns(spark, 2).schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]


def test_synth_mega_conversations(spark):
    t = synth_turns(spark, n_convs=10, mega_every=5, mega_turns=100)
    sizes = {r["conv_id"]: r["n"] for r in t.groupBy("conv_id").agg(F.count("*").alias("n")).collect()}
    assert sizes["conv0"] == 100 and sizes["conv5"] == 100
    assert all(3 <= v <= 20 for k, v in sizes.items() if k not in ("conv0", "conv5"))


def test_pipeline_backends_agree(spark):
    """extract_all scores through the Arrow inference pass; its heads must
    equal a pure-Python decode of the collected turns (``_decode`` of
    tests/test_inference.py), and its canonical store the one built from
    that decode's triples and the reference's greedy-walk clusters
    (tests/test_coref.py)."""
    from test_coref import CLUSTER_COLS, _greedy_rows
    from test_inference import _reference

    turns = synth_turns(spark, n_convs=30, seed=3)
    res = extract_all(turns)
    ref = _reference(spark, turns, PipelineConfig())
    assert _triples_set(res.triples) == _triples_set(ref["triples"])
    mention_cols = ["conv_id", "turn_idx", "start", "end", "label", "surface", "raw_score"]
    assert sorted(map(tuple, res.mentions.select(mention_cols).collect())) == sorted(
        map(tuple, ref["mentions"].select(mention_cols).collect())
    )
    event_cols = ["conv_id", "turn_idx", "trigger_ix", "event_type", "args"]
    ref_events = extract.assemble_events(ref["arguments"])
    assert sorted(map(tuple, res.events.select(event_cols).collect())) == sorted(
        map(tuple, ref_events.select(event_cols).collect())
    )
    canon = {(r["subj_canonical"], r["pred"], r["obj_canonical"], r["n_support"])
             for r in res.canonical_triples.collect()}
    ref_clusters = spark.createDataFrame(
        _greedy_rows(turns),
        "conv_id string, cluster_id long, turn_idx int, start int, end int, "
        "surface string, doc_pos long",
    ).select(*CLUSTER_COLS)
    ref_canon = canonicalize.canonicalize_with_coref(
        ref["triples"], ref_clusters, canonicalize.alias_dict(spark)
    )
    assert canon == {(r["subj_canonical"], r["pred"], r["obj_canonical"], r["n_support"])
                     for r in ref_canon.collect()}


def test_checkpoint_resume_equivalence(spark):
    """Interrupted + resumed run ≡ single full run (invariant 8)."""
    turns = synth_turns(spark, n_convs=40, seed=5)
    full_expected = _triples_set(extract.relation_triples(turns))

    d = tempfile.mkdtemp()
    try:
        # "interrupt": first run only sees half the conversations, so only
        # some partitions commit
        half = turns.where(F.col("conv_id").substr(5, 10).cast("int") < 20)
        s1 = cp.run_with_checkpoint(spark, half, d, run_id="r1", n_partitions=8)
        assert s1["n_todo"] > 0
        # resume over the full input: previously-committed partitions whose
        # fingerprint changed (they now include more convs) recompute; the
        # rest skip
        s2 = cp.run_with_checkpoint(spark, turns, d, run_id="r2", n_partitions=8)
        assert s2["n_todo"] > 0
        got = _triples_set(cp.read_stage(spark, d, "triples").drop("partition_key"))
        assert got == full_expected
        # third run: everything committed + unchanged → all partitions skip
        s3 = cp.run_with_checkpoint(spark, turns, d, run_id="r3", n_partitions=8)
        assert s3["n_todo"] == 0 and s3["n_skipped"] == 8
        # lineage carries per-partition metrics
        lin = cp.read_lineage(spark, d)
        row = lin.where("status = 'done'").head()
        assert row["n_turns"] > 0 and row["input_fingerprint"] is not None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_salting_neutrality(spark):
    """Salted vs unsalted runs emit identical triple sets (invariant 7)."""
    cfg = PipelineConfig(salt_turns_threshold=32)
    turns = synth_turns(spark, n_convs=12, mega_every=6, mega_turns=128, seed=11)
    salted = skew.with_salt(turns, cfg)
    assert salted.where("salt > 0").count() > 0  # mega convs actually salted

    plain = _triples_set(extract.relation_triples(turns))
    via_salt = extract.relation_triples(
        salted.withColumn("orig_conv", F.col("conv_id"))
        .withColumn("conv_id", F.col("salted_key"))
    )
    restored = {
        (r["conv_id"].split("#")[0], r["turn_idx"], r["subj_start"], r["pred"], r["obj_start"])
        for r in via_salt.collect()
    }
    assert restored == plain


def test_skew_report(spark):
    cfg = PipelineConfig(salt_turns_threshold=32)
    turns = synth_turns(spark, n_convs=12, mega_every=6, mega_turns=128, seed=11)
    rep = skew.skew_report(turns, cfg).collect()
    assert {r["conv_id"] for r in rep} == {"conv0", "conv6"}
    assert all(r["row_share"] > 0 for r in rep)


def test_run_extraction_entrypoint(spark, tmp_path, monkeypatch):
    """The spark-submit entrypoint runs end-to-end (synth input) and
    resumes as a no-op on the second invocation: no partition to do, no
    model pass planned, and no committed file rewritten."""
    import contextlib
    import importlib.util
    import io
    import json
    import os

    from dygiepp_spark.inference import udf as iudf

    spec = importlib.util.spec_from_file_location(
        "run_extraction",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "run_extraction.py"),
    )
    rx = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rx)

    out = str(tmp_path / "kg")
    rc = rx.main(
        ["--turns", "synth:12", "--out", out, "--run-id", "t1"], stop_session=False
    )
    assert rc == 0
    canon = spark.read.parquet(out + "/data/canonical")
    assert canon.count() > 0
    assert {"subj_canonical", "pred", "obj_canonical"} <= set(canon.columns)

    def committed_files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for name in ("triples", "mentions", "clusters", "failed")
            for d, _, files in os.walk(os.path.join(out, "data", name))
            for f in files
        }

    before = committed_files()
    assert any(p.endswith(".parquet") and "/clusters/" in p for p in before)

    def no_model_pass(*args, **kwargs):
        raise AssertionError("a resume over unchanged input planned a model pass")

    # resume: same input fingerprints, every output's partitions skip
    monkeypatch.setattr(iudf, "infer", no_model_pass)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc2 = rx.main(
            ["--turns", "synth:12", "--out", out, "--run-id", "t2"], stop_session=False
        )
    assert rc2 == 0
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["n_todo"] == 0
    assert committed_files() == before


def test_cache_scopes_isolated(spark):
    """Scoped tracking (r3 ADVICE): an inner release_tracked() must not
    unpersist an outer scope's still-in-use caches, and concurrent threads
    must track independently."""
    import threading

    from dygiepp_spark.plans import cache

    # drain leftovers other tests tracked into this thread's root scope
    # (releasing early is always safe) so the exact counts below hold
    cache.release_tracked()

    def tracked_persist(n):
        # distinct row counts → distinct logical plans (identical plans
        # share one cache entry, which would alias the scopes)
        df = spark.range(n).persist()
        df.count()
        return cache.track(df)

    outer = tracked_persist(10)
    with cache.scoped():
        inner = tracked_persist(11)
        assert inner.storageLevel.useMemory
        assert cache.release_tracked() == 1  # releases inner only
        assert not inner.storageLevel.useMemory
    assert outer.storageLevel.useMemory  # outer scope untouched
    # scoped() exit releases what was tracked inside and not yet released
    with cache.scoped():
        auto = tracked_persist(12)
    assert not auto.storageLevel.useMemory
    assert outer.storageLevel.useMemory

    # thread isolation: a release on another thread can't see this thread's scope
    released_elsewhere = []
    t = threading.Thread(target=lambda: released_elsewhere.append(cache.release_tracked()))
    t.start()
    t.join()
    assert released_elsewhere == [0]
    assert outer.storageLevel.useMemory
    assert cache.release_tracked() == 1  # root scope still holds `outer`
    assert not outer.storageLevel.useMemory
