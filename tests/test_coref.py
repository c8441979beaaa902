"""Coref clustering: golden clusters + greedy ≡ connected-components
equivalence (SURVEY.md §7 hard-part 3; reference greedy walk
dygie/models/coref.py:387-459)."""

import pandas as pd
from pyspark.sql import functions as F

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.inference import udf as iudf
from dygiepp_spark.operators import coref
from dygiepp_spark.operators.graph import connected_components
from dygiepp_spark.plans import cache


def _cluster_sets(df):
    rows = df.groupBy("conv_id", "cluster_id").agg(
        F.sort_array(F.collect_list("doc_pos")).alias("members")
    ).collect()
    return {(r["conv_id"], tuple(r["members"])) for r in rows}


CLUSTER_COLS = ("conv_id", "cluster_id", "turn_idx", "start", "end", "surface", "doc_pos")


def _rows(df):
    return sorted(tuple(r) for r in df.select(*CLUSTER_COLS).collect())


def _greedy_rows(turns):
    """The reference's greedy cluster formation (coref.py:387-459) over
    the JVM antecedent edges: walk the mentions in doc_pos order; an
    antecedent that is already clustered joins its cluster, otherwise it
    opens a new one. Rows in `CLUSTER_COLS` order."""
    mentions = coref.coref_mentions(turns)
    edges = sorted(
        (r["conv_id"], r["doc_pos"], r["ant_doc_pos"])
        for r in coref.antecedent_edges(mentions).collect()
    )
    cluster_of = {}
    for conv, m, a in edges:
        cluster_of[conv, m] = cluster_of.setdefault((conv, a), a)
    return sorted(
        (r["conv_id"], cluster_of[r["conv_id"], r["doc_pos"]], r["turn_idx"],
         r["start"], r["end"], r["surface"], r["doc_pos"])
        for r in mentions.collect()
        if (r["conv_id"], r["doc_pos"]) in cluster_of
    )


def test_clusters_golden(tiny_turns):
    cc = coref.clusters_via_components(tiny_turns)
    got = _cluster_sets(cc)
    # customer: doc_pos 1 (t0) and 16 (t2); table: 6 (t0) and 10 (t1 pos 3)
    assert got == {("A", (1, 16)), ("A", (6, 10))}
    # cluster_id is the min member position
    ids = {r["cluster_id"] for r in cc.collect()}
    assert ids == {1, 6}


def test_greedy_equals_components(tiny_turns):
    cc = _rows(coref.clusters_via_components(tiny_turns))
    assert cc and cc == _greedy_rows(tiny_turns)


def test_greedy_equals_components_chain(spark):
    """Chained mentions across many turns: transitivity must hold."""
    rows = [("C", i, "u", "customer data", None) for i in range(6)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    cc = coref.clusters_via_components(df)
    assert _rows(cc) == _greedy_rows(df)
    # one chain per surface: customer at 0,2,4,...; data at 1,3,5,...
    assert _cluster_sets(cc) == {("C", (0, 2, 4, 6, 8, 10)), ("C", (1, 3, 5, 7, 9, 11))}


def test_connected_components_generic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


# --- the model-pass kernel (default path) against greedy and global CC ---

_TEXTS = (
    "the customer will join the order table",
    "scan row and line",
    None,  # NULL text: no mentions, no offset
    "small data stream",
    "nothing to see",
    "customer again with data and a table",
)


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


def _stream_case(spark):
    """One conversation longer than an Arrow batch (2048 rows; its turns
    arrive shuffled), NULL-text turns everywhere, and 60 short
    conversations, so each shuffle partition holds many."""
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "2048"
    n_mega = 2100
    rows = [
        ("mega", (i * 11) % n_mega, "u", _TEXTS[(i * 11) % n_mega % len(_TEXTS)], None)
        for i in range(n_mega)
    ]
    rows += [
        (f"c{c:02d}", i, "u", _TEXTS[(c + i) % len(_TEXTS)], None)
        for c in range(60)
        for i in range(c % 7 + 1)
    ]
    return _turns(spark, rows)


def test_stream_kernel_equals_greedy_and_global(spark):
    turns = _stream_case(spark)
    got = _rows(coref.clusters_via_components(turns))
    assert any(r[0] == "mega" and r[2] >= 2048 for r in got)  # past one batch
    assert got == _greedy_rows(turns)
    with cache.scoped():  # releases the global path's mention persist
        assert got == _rows(coref.clusters_via_components(turns, global_cc=True))


def test_stream_kernel_max_gap_equals_global(spark):
    turns = _stream_case(spark)
    got = _rows(coref.clusters_via_components(turns, max_gap=10))
    assert got != _rows(coref.clusters_via_components(turns))  # the gap binds
    with cache.scoped():
        assert got == _rows(
            coref.clusters_via_components(turns, max_gap=10, global_cc=True)
        )


def test_null_text_offsets_do_not_depend_on_ansi_mode(spark):
    """Without ANSI mode size(split(NULL)) is -1, not NULL; the token
    counts must still treat a NULL-text turn as 0 tokens, so the global
    path's offsets (a window sum of counts) agree with the stream's."""
    turns = _turns(
        spark,
        [
            (f"c{c:02d}", i, "u", _TEXTS[(c + i) % len(_TEXTS)], None)
            for c in range(20)
            for i in range(c % 7 + 2)
        ],
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with cache.scoped():
            stream = _rows(coref.clusters_via_components(turns))
            global_ = _rows(coref.clusters_via_components(turns, global_cc=True))
            # the mentions cached with ANSI off leave before ANSI returns
            cache.release_tracked()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert stream and stream == global_


def test_stream_kernel_empty_input(spark):
    empty = _turns(spark, [("A", 0, "u", "customer customer", None)]).where("false")
    assert coref.clusters_via_components(empty).collect() == []
    # an empty partition (no batches at all) and an empty batch emit nothing
    kernel = iudf._model_pass(PipelineConfig(), True)
    assert list(kernel(iter([]))) == []
    empty_batch = pd.DataFrame({"conv_id": [], "turn_idx": [], "text": []})
    assert list(kernel(iter([empty_batch]))) == []


def test_stream_kernel_batch_boundaries_do_not_matter():
    """The same sorted stream cut into batches of any size gives the same
    rows: the open conversation carries over from batch to batch."""
    rows = sorted(
        (c, i, _TEXTS[(3 * c + i) % len(_TEXTS)]) for c in range(5) for i in range(9)
    )
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])

    def run(size):
        batches = (pdf.iloc[i : i + size] for i in range(0, len(pdf), size))
        out = pd.concat(list(iudf._model_pass(PipelineConfig(), True)(batches)))
        out = out[out["task"] == "cluster"].rename(columns={"a": "start", "b": "end"})
        return sorted(map(tuple, out[list(CLUSTER_COLS)].itertuples(index=False)))

    whole = run(len(pdf))
    assert whole and all(run(size) == whole for size in (1, 2, 5, 9, 10))


def test_canonicalize_with_coref_runs_the_kernel_once(spark, tiny_turns, tmp_path):
    """The cluster representative is a window over `clusters`, so in the
    executed plan the model-pass kernel is one node, however many joins
    read the clusters."""
    from dygiepp_spark.operators import canonicalize, extract

    path = str(tmp_path / "triples")
    extract.relation_triples(tiny_turns).write.parquet(path)
    out = canonicalize.canonicalize_with_coref(
        spark.read.parquet(path),
        coref.clusters_via_components(tiny_turns),
        canonicalize.alias_dict(spark),
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas model_pass(") == 1, final
