"""The shipped batch job, ``scripts/run_extraction.py``: its mention rows
on an input with a NULL text, and its reference-format prediction JSONL
(``--jsonl``). Outputs are read with pyarrow, so an empty output compares
as zero rows instead of failing Spark's schema inference."""

import contextlib
import importlib.util
import io
import json
import os

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from dygiepp_spark.operators import coref, extract
from dygiepp_spark.sources.jsonl import read_jsonl_docs
from dygiepp_spark.synth import synth_turns

MENTION_COLS = [
    "conv_id", "turn_idx", "start", "end", "label", "surface", "raw_score", "softmax_score"
]


def _job():
    spec = importlib.util.spec_from_file_location(
        "run_extraction",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "run_extraction.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def _run(argv: list[str]) -> dict:
    """Run the job in-process; its summary is the last stdout line."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert _job().main(argv, stop_session=False) == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _arrow(path):
    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table()


def _sorted_rows(rows) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple("" if v is None else str(v) for v in r))


def _poisoned_turns(spark, tmp_path) -> str:
    """40 conversations' turns with one NULL text (conv5, turn 1), written
    to parquet; returns the path."""
    turns_path = str(tmp_path / "turns")
    turns = synth_turns(spark, n_convs=40).withColumn(
        "text",
        F.when((F.col("conv_id") == "conv5") & (F.col("turn_idx") == 1), F.lit(None))
        .otherwise(F.col("text")),
    )
    turns.coalesce(1).write.parquet(turns_path)
    assert spark.read.parquet(turns_path).where("text IS NULL").count() == 1
    return turns_path


def test_null_text_turn_keeps_every_mention(spark, tmp_path):
    """One NULL text among 40 conversations' turns decodes to nothing; it
    must not take the other turns' mentions with it."""
    turns_path = _poisoned_turns(spark, tmp_path)
    turns = spark.read.parquet(turns_path)

    out = tmp_path / "kg"
    _run(["--turns", turns_path, "--out", str(out), "--n-partitions", "4"])

    table = _arrow(out / "data" / "mentions")
    got = [tuple(r[c] for c in MENTION_COLS) for r in table.to_pylist()]
    want = [tuple(r) for r in extract.ner_mentions(turns).select(*MENTION_COLS).collect()]
    assert len(want) > 0
    assert _sorted_rows(got) == _sorted_rows(want)
    assert _arrow(out / "data" / "triples").num_rows == extract.relation_triples(turns).count()


def test_failed_turn_flags_are_committed(spark, tmp_path):
    """The job commits the per-turn failure flags (the reference's
    _FAILED_PREDICTION, kept instead of filtered away): over turns with one
    NULL text exactly one flag, keyed to that turn, reads back; a healthy
    input reads back none."""
    out = tmp_path / "kg"
    _run(["--turns", _poisoned_turns(spark, tmp_path), "--out", str(out), "--n-partitions", "4"])
    flags = _arrow(out / "data" / "failed").to_pylist()
    assert [(r["conv_id"], r["turn_idx"]) for r in flags] == [("conv5", 1)]
    assert flags[0]["error_type"] == "AttributeError"

    healthy = tmp_path / "healthy"
    _run(["--turns", "synth:12", "--out", str(healthy), "--n-partitions", "4"])
    assert _arrow(healthy / "data" / "failed").num_rows == 0


def test_jsonl_branch_writes_the_job_tables(spark, tmp_path):
    """``--jsonl`` writes one parseable line per conversation whose
    predicted_ner / predicted_relations / predicted_clusters members are
    the job's own mention rows, committed triple rows and cluster rows."""
    out = tmp_path / "kg"
    summary = _run(["--turns", "synth:12", "--out", str(out), "--jsonl"])
    turns = synth_turns(spark, n_convs=12)
    n_convs = turns.select("conv_id").distinct().count()
    assert summary["n_jsonl_docs"] == n_convs

    path = out / "data" / "predictions_jsonl"
    lines = [ln for f in sorted(path.glob("part-*")) for ln in f.read_text().splitlines()]
    docs = [json.loads(ln) for ln in lines]
    assert len(docs) == n_convs
    assert read_jsonl_docs(spark, str(path)).where("doc_key IS NOT NULL").count() == n_convs

    def members(field):
        return sum(len(group) for d in docs for group in d[field])

    assert members("predicted_ner") == _arrow(out / "data" / "mentions").num_rows
    assert members("predicted_relations") == _arrow(out / "data" / "triples").num_rows
    assert members("predicted_clusters") == coref.clusters_via_components(turns).count()
    assert members("predicted_ner") > 0 and members("predicted_relations") > 0
