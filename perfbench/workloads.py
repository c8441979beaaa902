"""The benchmark's workloads. Each one generates its inputs from the seed
and writes them to parquet (``setup``), names its ops (``ops``), checks
every op's output (``check``, untimed) and runs one traced pass whose
spans split the pass into the program's layers (``traced_pass``).

An op returns a handle to its output; ``check`` returns a list of
problems, empty when the output is correct.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import io
import json
import os
import shutil

from pyspark.sql import functions as F

from checks import (
    check_build,
    check_same,
    components_reference,
    oracle_rows,
    pagerank_reference,
)


def _arrow(path: str, columns: list[str] | None = None):
    """A parquet directory written by Spark, read with pyarrow: checks are
    untimed, but a Spark job per check would still lengthen every run."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def _rows(table) -> list[tuple]:
    return list(zip(*(col.to_pylist() for col in table.columns)))


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class BatchJob:
    """The shipped batch job, ``scripts/run_extraction.py``, at its
    defaults: checkpointed triples, extraction, the mentions sink,
    coref-aware canonicalization and the canonical sink."""

    key = "batch"
    # 500 conversations, conversation 0 a 1024-turn mega-conversation
    # (mega_every=1000): about 6.8k turns of which the mega-conversation is
    # 15%, the share a 2048-turn one has in the 10k-conversation job
    N_CONVS = 500
    MEGA_TURNS = 1024
    SCALED = ("N_CONVS", "MEGA_TURNS")

    def __init__(self, spark, root: str, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.turns_path = os.path.join(work, "turns")
        spec = importlib.util.spec_from_file_location(
            "run_extraction", os.path.join(root, "scripts", "run_extraction.py")
        )
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)
        self.ops = [("run_extraction", self.run_job)]
        self.summary: dict = {}  # the job's own summary line, last op
        self.stats: dict = {}  # useful-work ratios and counts, last check
        self._n_failed: int | None = None
        self._n_turns = 0

    def setup(self) -> None:
        from dygiepp_spark.synth import synth_turns

        synth_turns(
            self.spark, n_convs=self.N_CONVS, seed=self.seed,
            mega_every=1000, mega_turns=self.MEGA_TURNS,
        ).write.mode("overwrite").parquet(self.turns_path)

    def _out(self, tag: str) -> str:
        return os.path.join(self.work, "out", tag)

    def run_job(self, tag: str) -> str:
        out = self._out(tag)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.job.main(["--turns", self.turns_path, "--out", out], stop_session=False)
        self.summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        return out

    def check(self, op: str, out: str) -> list[str]:
        from dygiepp_spark.inference import udf as iudf
        from dygiepp_spark.plans import checkpoint as cp

        spark = self.spark
        turns = spark.read.parquet(self.turns_path)
        n_triples = _arrow(os.path.join(out, "data", "triples")).num_rows
        support = _arrow(os.path.join(out, "data", "canonical"), ["n_support"])["n_support"]
        sum_support = sum(support.to_pylist())
        if self._n_failed is None:  # properties of the input: once a run
            self._n_failed = iudf.failed_from(iudf.infer(turns)).count()
            self._n_turns = turns.count()
        n_failed = self._n_failed
        n_parts = self.summary["n_partitions"]
        resume = cp.run_with_checkpoint(
            spark, turns, out, run_id="resume", stage="triples", n_partitions=n_parts
        )
        shutil.rmtree(out)
        self.stats = {
            "checkpoint.todo_ratio": self.summary["n_todo"] / n_parts,
            "checkpoint.resume_todo_ratio": resume["n_todo"] / n_parts,
            "inference.failed_rows": n_failed / self._n_turns,
            "n_triples": n_triples,
        }
        return check_build(n_triples, sum_support, n_failed, resume["n_todo"])

    def traced_pass(self, tracer, tag: str) -> dict[str, str]:
        """The job's steps, each layer called on persisted inputs and its
        output forced, in the order ``run_extraction.main`` runs them."""
        from dygiepp_spark.inference import udf as iudf
        from dygiepp_spark.operators import canonicalize, coref
        from dygiepp_spark.plans import checkpoint as cp
        from dygiepp_spark.sources import sinks

        spark, out = self.spark, self._out(tag)
        persisted = []
        with tracer.span("part.batch"):
            turns = spark.read.parquet(self.turns_path).persist()
            turns.count()
            persisted.append(turns)
            with tracer.span("checkpoint.run_with_checkpoint", out_dir=out):
                self.summary = cp.run_with_checkpoint(
                    spark, turns, out, run_id="run", stage="triples",
                    n_partitions=self.summary["n_partitions"],
                )
            triples = tracer.force(
                "checkpoint.read_stage",
                lambda: cp.read_stage(spark, out, "triples").drop("partition_key"),
            )
            tall = tracer.force("inference.infer", lambda: iudf.infer(turns))
            clusters = tracer.force(
                "coref.clusters_via_components",
                lambda: coref.clusters_via_components(turns),
            )
            canonical = tracer.force(
                "canonicalize.canonicalize_with_coref",
                lambda: canonicalize.canonicalize_with_coref(
                    triples, clusters, canonicalize.alias_dict(spark)
                ),
            )
            persisted += [triples, tall, clusters, canonical]
            path = os.path.join(out, "data", "mentions")
            with tracer.span("sinks.write_mentions", out_dir=path):
                sinks.write_mentions(iudf.mentions_from(tall), path)
            path = os.path.join(out, "data", "canonical")
            with tracer.span("sinks.write_canonical_triples", out_dir=path):
                sinks.write_canonical_triples(canonical, path)
            spark.read.parquet(path).count()
            for df in persisted:
                df.unpersist()
        return {"run_extraction": out}


class StreamIngest:
    """Streaming maintenance of the canonical store:
    ``streaming.ingest.start_streaming_canonical`` with ``availableNow``
    over delta files of fresh conversations, one file per micro-batch.
    Each micro-batch extracts, canonicalizes, merges into the previous
    snapshot and writes a new one; coref and the graph are not on this
    path."""

    key = "stream"
    N_FILES = 2
    CONVS_PER_FILE = 200  # about 2.3k turns a file
    SCALED = ("CONVS_PER_FILE",)

    def __init__(self, spark, root: str, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.in_dir = os.path.join(work, "deltas")
        self.ops = [("stream_ingest", self.ingest)]
        self.progress: list[dict] = []  # micro-batch progress, last op
        self.stats: dict = {}
        self._want: list[tuple] | None = None

    def setup(self) -> None:
        from dygiepp_spark.synth import synth_turns

        staging = _fresh(os.path.join(self.work, "staging"))
        _fresh(self.in_dir)
        os.makedirs(self.in_dir)
        for k in range(self.N_FILES):
            part = os.path.join(staging, str(k))
            synth_turns(
                self.spark, n_convs=self.CONVS_PER_FILE, seed=self.seed * 100 + k
            ).withColumn(
                "conv_id", F.concat(F.lit(f"d{k}-"), "conv_id")
            ).coalesce(1).write.parquet(part)
            (src,) = glob.glob(os.path.join(part, "part-*.parquet"))
            os.replace(src, os.path.join(self.in_dir, f"delta-{k:03d}.parquet"))
        shutil.rmtree(staging)

    def ingest(self, tag: str) -> str:
        from dygiepp_spark.streaming import ingest

        out = os.path.join(self.work, "out", tag)
        stream = ingest.read_turns_stream(self.spark, self.in_dir, max_files=1)
        query = ingest.start_streaming_canonical(
            stream, os.path.join(out, "store"), os.path.join(out, "checkpoint")
        )
        try:
            query.awaitTermination()
        finally:
            query.stop()
        self.progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        return out

    def check(self, op: str, out: str) -> list[str]:
        from dygiepp_spark.operators.canonicalize import alias_dict, canonical_triples
        from dygiepp_spark.operators.extract import relation_triples
        from dygiepp_spark.streaming import ingest

        spark = self.spark
        got = [
            tuple(r) for r in ingest.latest_canonical_snapshot(
                spark, os.path.join(out, "store")
            ).select("subj_canonical", "pred", "obj_canonical", "n_support").collect()
        ]
        shutil.rmtree(out)
        if self._want is None:
            full = canonical_triples(
                relation_triples(spark.read.parquet(self.in_dir)), alias_dict(spark)
            )
            self._want = [
                tuple(r) for r in
                full.select("subj_canonical", "pred", "obj_canonical", "n_support").collect()
            ]
        problems = check_same("final snapshot vs batch recompute", got, self._want)
        if len(self.progress) != self.N_FILES:
            problems.append(
                f"{len(self.progress)} micro-batches with input, expected {self.N_FILES}"
            )
        # per micro-batch: the trigger, the foreachBatch handler within it,
        # and the engine's own share (planning, offsets, commit)
        trigger = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in self.progress]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in self.progress]
        self.stats = {
            "streaming.trigger_s": trigger,
            "streaming.add_batch_s": add,
            "streaming.overhead_s": [t - a for t, a in zip(trigger, add)],
        }
        return problems

    def traced_pass(self, tracer, tag: str) -> dict[str, str]:
        """The streaming query under one span; each micro-batch's
        extract -> canonicalize -> merge -> snapshot write becomes a child
        span (the foreachBatch handler is wrapped), and the query's own
        progress splits each trigger into add-batch and engine overhead."""
        from dygiepp_spark.streaming import ingest

        make = ingest.make_canonical_merger

        def traced_merger(store_dir, **kw):
            process = make(store_dir, **kw)

            def wrapped(batch_df, batch_id):
                with tracer.span(
                    "streaming.canonical_merger", out_dir=os.path.join(store_dir, f"snapshot={batch_id}")
                ):
                    process(batch_df, batch_id)

            return wrapped

        with tracer.span("part.stream"):
            ingest.make_canonical_merger = traced_merger
            try:
                with tracer.span("streaming.start_streaming_canonical"):
                    out = self.ingest(tag)
            finally:
                ingest.make_canonical_merger = make
        return {"stream_ingest": out}


class GraphOps:
    """Graph analytics over a canonical-shaped entity graph: forced
    iterative components and quantized PageRank."""

    key = "graph"
    # the hash graph feeds both ops. At 6k edges most of their warm time is
    # per-job cost (iterative CC: 2-5 s warm here, 32-34 s at 500k edges),
    # but a larger graph, or more graph ops, does not fit the run budget
    N_EDGES = 6_000
    SCALED = ("N_EDGES",)

    def __init__(self, spark, root: str, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.graph_path = os.path.join(work, "graph")
        self.ops = [
            ("cc_iter", lambda tag: self._run("cc_iter", tag)),
            ("pagerank", lambda tag: self._run("pagerank", tag)),
        ]
        self._want: dict[str, list[tuple]] = {}

    def _label(self, kind: str, n):
        """Entity label: the seed names the entities but leaves the topology
        and the label order alone. Iterative CC took 7 to 10 rounds on
        hash-shifted variants of a 3k-edge graph of this shape, so a
        seed-dependent topology would put that into the run-to-run spread."""
        return F.concat(F.lit(f"{kind}{self.seed}."), n)

    def _graph(self):
        """Hash topology (bench.py kg_big): node i links to a multiplicative
        hash of i, which gives a random-looking graph with a few-round
        diameter."""
        n_nodes = self.N_EDGES // 2
        return self.spark.range(self.N_EDGES).select(
            self._label("E", F.col("id") % n_nodes).alias("subj_canonical"),
            F.lit("REL").alias("pred"),
            self._label("E", (F.col("id") * 2654435761) % n_nodes).alias("obj_canonical"),
            F.lit(1).cast("bigint").alias("n_support"),
        )

    def setup(self) -> None:
        self._graph().write.mode("overwrite").parquet(self.graph_path)

    SPANS = {
        "cc_iter": "kg.kg_components.iterative",
        "pagerank": "kg.pagerank_quantized",
    }

    def _call(self, op: str):
        from dygiepp_spark.operators import kg

        graph = self.spark.read.parquet(self.graph_path)
        if op == "cc_iter":
            return kg.kg_components(graph, single_task_max_edges=0)
        return kg.pagerank_quantized(graph)

    def _run(self, op: str, tag: str, tracer=None) -> str:
        from dygiepp_spark.plans import cache

        out = os.path.join(self.work, "out", tag, op)
        span = tracer.span(self.SPANS[op], out_dir=out) if tracer else contextlib.nullcontext()
        with cache.scoped(), span:
            self._call(op).write.mode("overwrite").parquet(out)
        return out

    def _reference(self, op: str) -> list[tuple]:
        """Pure-Python references over the collected edges, computed once
        a run: union-find components and PageRank."""
        if op not in self._want:
            edges = [
                tuple(r) for r in self.spark.read.parquet(self.graph_path)
                .select("subj_canonical", "obj_canonical").collect()
            ]
            ref = components_reference if op == "cc_iter" else pagerank_reference
            self._want[op] = ref(edges)
        return self._want[op]

    def check(self, op: str, out: str) -> list[str]:
        rows = _rows(_arrow(out))
        shutil.rmtree(out)
        return check_same(f"{op} vs reference", rows, self._reference(op))

    def traced_pass(self, tracer, tag: str) -> dict[str, str]:
        from dygiepp_spark.operators import graph

        outs = {}
        with tracer.span("part.graph"):
            with tracer.wrapped(
                graph,
                ["connected_components", "connected_components_grouped"],
            ):
                for op, _ in self.ops:
                    outs[op] = self._run(op, tag, tracer)
        return outs


class CorpusOps:
    """Registry leaves of the corpus operators over a synthetic corpus
    written in the test-data layout (``documents`` and ``embeddings``
    parquet), each checked against the registry's DuckDB oracle SQL: one
    leaf per layer that no other part reaches (spans, pruning, dedup,
    similarity, text_quality). The extraction leaves of ``bench.py``'s
    HEADLINE are left to the batch and streaming parts, which run the same
    kernels."""

    key = "corpus"
    N_DOCS = 1_000
    N_VECS = 400
    SCALED = ("N_DOCS", "N_VECS")
    DIM = 64
    # leaf -> the module that does its work, for the traced pass's spans.
    # ner_align_counts, not HEADLINE's span_enum_counts: the latter is a
    # closed form that never calls operators.spans. embedding_lsh_buckets,
    # not HEADLINE's embedding_dot_topk: the dot_topk_local kernel
    # quantizes floor(x * 1000) in float64 where the oracle SQL does it in
    # float32, and on seed 21 one of the 25,600 components rounds across
    # an integer, so its rows differ from the oracle's
    LEAVES = {
        "ner_align_counts": "spans",
        "prune_topk": "pruning",
        "simhash_values": "dedup",
        "embedding_lsh_buckets": "similarity",
        "quality_scores": "text_quality",
    }

    def __init__(self, spark, root: str, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf_dir = os.path.join(work, "sf")
        self.ops = [(leaf, lambda tag, leaf=leaf: self._run(leaf, tag)) for leaf in self.LEAVES]
        self._want: dict[str, list[tuple]] = {}
        self._duck = None

    def setup(self) -> None:
        """documents: synth_docs (near-duplicate pairs built in) plus the
        lang, source and n_chars columns of the test-data schema;
        embeddings: DIM-wide float vectors from an integer hash of
        (vec_id, i, seed), with a label."""
        from dygiepp_spark.synth import synth_docs

        langs = F.array(*[F.lit(x) for x in ("en", "fr", "de", "zh")])
        synth_docs(self.spark, n_docs=self.N_DOCS, seed=self.seed).select(
            "doc_id", "text",
            F.element_at(langs, (F.pmod(F.col("doc_id") * 7 + self.seed, F.lit(4)) + 1)
                         .cast("int")).alias("lang"),
            F.concat(F.lit("src"), (F.col("doc_id") % 5).cast("string")).alias("source"),
            F.length("text").cast("bigint").alias("n_chars"),
        ).write.mode("overwrite").parquet(os.path.join(self.sf_dir, "documents.parquet"))
        h = 2_000_003
        self.spark.range(self.N_VECS).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(self.DIM - 1)),
                lambda i: (
                    (F.pmod(F.col("id") * 2654435761 + i * 40503 + self.seed * 97, F.lit(h))
                     / F.lit(h) - 0.5).cast("float")
                ),
            ).alias("embedding"),
            (F.col("id") % 3).cast("int").alias("label"),
        ).write.mode("overwrite").parquet(os.path.join(self.sf_dir, "embeddings.parquet"))
        self._want.clear()

    def _run(self, leaf: str, tag: str, tracer=None) -> str:
        from dygiepp_spark.plans import cache
        from dygiepp_spark.registry import QUERIES

        out = os.path.join(self.work, "out", tag, leaf)
        span = (tracer.span(f"{self.LEAVES[leaf]}.{leaf}", out_dir=out) if tracer
                else contextlib.nullcontext())
        with cache.scoped(), span:
            QUERIES[leaf].build(self.spark, self.sf_dir).write.mode("overwrite").parquet(out)
        return out

    def _oracle(self, leaf: str, cols: list[str]) -> list[tuple]:
        if leaf not in self._want:
            import duckdb

            from dygiepp_spark.registry import QUERIES

            if self._duck is None:
                self._duck = duckdb.connect()
                for t in ("documents", "embeddings"):
                    self._duck.sql(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet/*.parquet'"
                    )
            rel = self._duck.sql(QUERIES[leaf].sql)
            idx = [rel.columns.index(c) for c in cols]
            self._want[leaf] = oracle_rows([tuple(r[i] for i in idx) for r in rel.fetchall()])
        return self._want[leaf]

    def check(self, op: str, out: str) -> list[str]:
        table = _arrow(out)
        cols = sorted(table.column_names)
        got = oracle_rows(_rows(table.select(cols)))
        shutil.rmtree(out)
        return check_same(f"{op} vs DuckDB oracle", got, self._oracle(op, cols))

    def traced_pass(self, tracer, tag: str) -> dict[str, str]:
        outs = {}
        with tracer.span("part.corpus"):
            for leaf in self.LEAVES:
                outs[leaf] = self._run(leaf, tag, tracer)
        return outs


class Workload:
    """A named set of parts run in one session: set-up, ops, checks and the
    traced pass are the parts', in order, each part in its own directory."""

    def __init__(self, name: str, parts, spark, root: str, work: str, seed: int,
                 scale: float = 1.0):
        self.name = name
        self.parts = [P(spark, root, os.path.join(work, P.key), seed) for P in parts]
        for part in self.parts:  # a part's sizes, times scale
            for attr in part.SCALED:
                setattr(part, attr, max(1, round(getattr(part, attr) * scale)))
        self.ops = [op for part in self.parts for op in part.ops]
        self._owner = {op: part for part in self.parts for op, _ in part.ops}

    def setup(self) -> None:
        for part in self.parts:
            part.setup()

    def check(self, op: str, out: str) -> list[str]:
        return self._owner[op].check(op, out)

    @property
    def stats(self) -> dict:
        return {part.key: getattr(part, "stats", {}) for part in self.parts}

    def traced_pass(self, tracer, tag: str) -> dict[str, str]:
        outs = {}
        with tracer.span(f"{self.name}.pass"):
            for part in self.parts:
                outs.update(part.traced_pass(tracer, tag))
        return outs


# kg_build: the two write paths from turns to the canonical store;
# kg_analytics: operators over stored tables, graph and corpus
WORKLOADS = {
    "kg_build": (BatchJob, StreamIngest),
    "kg_analytics": (GraphOps, CorpusOps),
}


def make(name: str, spark, root: str, work: str, seed: int, scale: float = 1.0) -> Workload:
    return Workload(name, WORKLOADS[name], spark, root, work, seed, scale)
