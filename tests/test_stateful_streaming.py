"""applyInPandasWithState incremental coref edges ≡ batch antecedent edges
across micro-batch boundaries."""

import contextlib
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from dygiepp_spark.operators import coref
from dygiepp_spark.streaming import ingest, stateful
from dygiepp_spark.synth import synth_turns

from test_streaming_jsonl import _write_flat


import pytest


class _UnitState:
    """Minimal GroupState double for unit/property tests."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.removed = False
        self.updated = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.updated = True
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ts = ms

    def getCurrentWatermarkMs(self):
        return 0


@contextlib.contextmanager
def few_state_partitions(spark, n=4):
    """Stateful streaming queries commit one state-store per shuffle
    partition per micro-batch; at the suite default (32) that dominates
    test wall time. Semantics are partition-count-independent, so the
    streaming tests run with 4."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture
def fast_state(spark):
    with few_state_partitions(spark):
        yield


def drain_available_now(q, probe, idle_s=6, timeout=150):
    """availableNow + applyInPandasWithState may not self-terminate
    promptly: timer batches (now watermark-evaluation batches under
    EventTimeTimeout) can keep the query active (awaitTermination(180)
    burned its full budget in every stateful test) and even status-based
    idling is defeated. Drain = wait until at least one batch committed,
    the OUTPUT (probe()) has been stable for idle_s, and the source reports
    no pending data (guards a mid-flight data batch), then stop()."""
    deadline = time.time() + timeout
    last_val, last_change = object(), time.time()
    while q.isActive and time.time() < deadline:
        try:
            v = probe()
        except Exception:  # noqa: BLE001 — sink not materialized yet
            v = None
        if v != last_val:
            last_val, last_change = v, time.time()
        elif (
            time.time() - last_change >= idle_s
            and q.lastProgress is not None
            and not q.status["isDataAvailable"]
        ):
            break
        time.sleep(0.5)
    if q.isActive:
        q.stop()
    q.awaitTermination(30)


def test_incremental_edges_match_batch(spark, fast_state):
    d = tempfile.mkdtemp()
    try:
        turns = synth_turns(spark, n_convs=12, seed=4)
        # split MID-conversation so state must carry across micro-batches
        _write_flat(turns.where("turn_idx < 3"), f"{d}/in", "a")
        time.sleep(1.1)  # file source orders batches by mod time
        _write_flat(turns.where("turn_idx >= 3"), f"{d}/in", "b")

        stream = ingest.read_turns_stream(spark, f"{d}/in", max_files=1)
        edges = stateful.incremental_coref_edges(stream)
        q = (
            edges.writeStream.format("memory")
            .queryName("inc_edges")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(
            q, lambda: spark.sql("select count(*) from inc_edges").head()[0]
        )

        got = {
            (r["conv_id"], r["doc_pos"], r["ant_doc_pos"])
            for r in spark.sql("select * from inc_edges").collect()
        }
        want = {
            (r["conv_id"], r["doc_pos"], r["ant_doc_pos"])
            for r in coref.antecedent_edges(coref.coref_mentions(turns)).collect()
        }
        assert got == want and len(want) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_timed_out_state_is_removed():
    """A fired (event-time) timeout must REMOVE state and emit nothing —
    re-arming the timeout would keep stale-conversation state alive forever
    on a continuous stream."""
    import pandas as pd

    from dygiepp_spark.streaming.stateful import _edges_for_group

    st = _UnitState(('{"customer": 1}', 4, 0))
    st.hasTimedOut = True
    frames = list(_edges_for_group(("c1",), iter([]), st))
    assert st.removed and not st.updated
    assert sum(len(f) for f in frames) == 0


def test_batch_writer_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the same batch_id must not
    duplicate triples (dynamic overwrite keyed by batch_id)."""
    from dygiepp_spark.streaming.ingest import make_batch_writer
    from dygiepp_spark.synth import synth_turns

    out = str(tmp_path / "triples")
    writer = make_batch_writer(out)
    turns = synth_turns(spark, n_convs=4, seed=3)
    writer(turns, 0)
    n1 = spark.read.parquet(out).count()
    writer(turns, 0)  # simulated retry of the same micro-batch
    assert spark.read.parquet(out).count() == n1
    # a new batch appends its own partition
    writer(synth_turns(spark, n_convs=2, seed=4), 1)
    total = spark.read.parquet(out)
    assert total.where("batch_id = 0").count() == n1
    assert total.where("batch_id = 1").count() > 0


def test_late_turn_arrival_mispositions_not_drops(spark, fast_state):
    """Documented late-arrival behavior (stateful.py module docstring): a
    turn arriving AFTER later turns of its conversation is neither dropped
    nor fatal — its tokens take doc positions at the conversation's running
    offset, i.e. exactly as if the conversation had happened in ARRIVAL
    order. Asserted precisely: incremental edges on out-of-order input ==
    the batch operator on the arrival-order re-indexed conversation.
    Producers needing true-order positions must bound disorder upstream
    (watermarked buffer/sort before this operator)."""
    from pyspark.sql import Window

    d = tempfile.mkdtemp()
    try:
        turns = synth_turns(spark, n_convs=6, seed=5)
        # batch 1 carries the LATER turns; batch 2 the earlier ones (late)
        _write_flat(turns.where("turn_idx >= 3"), f"{d}/in", "a")
        time.sleep(1.1)
        _write_flat(turns.where("turn_idx < 3"), f"{d}/in", "b")

        stream = ingest.read_turns_stream(spark, f"{d}/in", max_files=1)
        q = (
            stateful.incremental_coref_edges(stream)
            .writeStream.format("memory")
            .queryName("late_edges")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(
            q, lambda: spark.sql("select count(*) from late_edges").head()[0]
        )
        got = {
            (r["conv_id"], r["doc_pos"], r["ant_doc_pos"])
            for r in spark.sql("select * from late_edges").collect()
        }

        # batch twin on the arrival-order re-indexed conversation
        w = Window.partitionBy("conv_id").orderBy("arr", "turn_idx")
        reordered = (
            turns.withColumn(
                "arr", F.when(F.col("turn_idx") < 3, 1).otherwise(0)
            )
            .withColumn("new_idx", F.row_number().over(w) - 1)
            .drop("turn_idx", "arr")
            .withColumnRenamed("new_idx", "turn_idx")
        )
        want = {
            (r["conv_id"], r["doc_pos"], r["ant_doc_pos"])
            for r in coref.antecedent_edges(coref.coref_mentions(reordered)).collect()
        }
        assert got == want and len(want) > 0
        # and nothing was dropped relative to in-order processing: same
        # NUMBER of edges as the true-order batch result (positions shift,
        # same-surface adjacency pairs do not)
        n_true = coref.antecedent_edges(coref.coref_mentions(turns)).count()
        assert len(got) == n_true
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_reorder_turns_restores_true_order(spark, fast_state):
    """The stateful reorderer releases turns in contiguous turn_idx order
    regardless of arrival order: feeding the LATER turns first, the full
    reordered output equals the true-order conversation, and nothing is
    emitted out of order within any micro-batch."""
    d = tempfile.mkdtemp()
    try:
        turns = synth_turns(spark, n_convs=6, seed=5)
        _write_flat(turns.where("turn_idx >= 3"), f"{d}/in", "a")
        time.sleep(1.1)
        _write_flat(turns.where("turn_idx < 3"), f"{d}/in", "b")

        stream = ingest.read_turns_stream(spark, f"{d}/in", max_files=1)
        q = (
            stateful.reorder_turns(stream)
            .writeStream.format("memory")
            .queryName("reordered")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(
            q, lambda: spark.sql("select count(*) from reordered").head()[0]
        )
        # ts included: the buffer serializes timestamps through epoch-micros
        # JSON, and a silent shift would skew downstream event-time
        # watermarks — the round trip must be exact
        got = {
            (r["conv_id"], r["turn_idx"], r["text"], r["ts"])
            for r in spark.sql("select * from reordered").collect()
        }
        want = {
            (r["conv_id"], r["turn_idx"], r["text"], r["ts"])
            for r in turns.select("conv_id", "turn_idx", "text", "ts").collect()
        }
        assert got == want and len(want) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_reorder_buffers_gaps_and_flushes_on_timeout():
    """Unit-level: a gap holds later turns in state (bounded by disorder,
    not conversation length); the idle-timeout flush drains the buffer in
    order and removes state."""
    import pandas as pd

    from dygiepp_spark.streaming.stateful import _reorder_group

    # batch 1: turns 0 and 2 arrive (1 missing) → only 0 releases
    st = _UnitState()
    pdf = pd.DataFrame({"turn_idx": [2, 0], "text": ["t2", "t0"]})
    out = pd.concat(list(_reorder_group(("c",), iter([pdf]), st)))
    assert list(out["turn_idx"]) == [0]
    next_idx, buffered, _max_ts = st.get
    assert next_idx == 1 and "2" in buffered  # only the gap turn is held

    # batch 2: turn 1 arrives → 1 and the buffered 2 release in order
    pdf2 = pd.DataFrame({"turn_idx": [1], "text": ["t1"]})
    out2 = pd.concat(list(_reorder_group(("c",), iter([pdf2]), st)))
    assert list(out2["turn_idx"]) == [1, 2]

    # event-time arm math: with event times present, the timeout must sit
    # at (newest event seen) + gap — never wall-clock-relative
    from dygiepp_spark.streaming.stateful import DEFAULT_GAP_MS

    st_ts = _UnitState()
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf3 = pd.DataFrame(
        {"turn_idx": [0, 2], "text": ["t0", "t2"], "ts": [base, base + pd.Timedelta(seconds=5)]}
    )
    pd.concat(list(_reorder_group(("c2",), iter([pdf3]), st_ts)))
    want_ms = int((base + pd.Timedelta(seconds=5)).value // 1_000_000) + DEFAULT_GAP_MS
    assert st_ts.timeout_ts == want_ms

    # timeout with a still-missing gap: drain buffer in order, drop state
    st3 = _UnitState((5, '{"7": ["t7", 0], "6": ["t6", 0]}', 0))
    st3.hasTimedOut = True
    out3 = pd.concat(list(_reorder_group(("c",), iter([]), st3)))
    assert list(out3["turn_idx"]) == [6, 7] and st3.removed


def test_reorder_then_coref_two_query_composition(spark, fast_state):
    """The documented fix for out-of-order producers, end to end: query 1
    (reorder_turns) drains the disordered stream to an ordered parquet dir;
    query 2 (incremental_coref_edges) streams over THAT — its edges must
    equal the batch operator on the TRUE-order conversation, which the
    disordered single-query path cannot achieve (Spark rejects chaining
    two arbitrary-stateful operators in one query, so this two-query
    composition is the supported deployment shape)."""
    d = tempfile.mkdtemp()
    try:
        turns = synth_turns(spark, n_convs=5, seed=5)
        _write_flat(turns.where("turn_idx >= 3"), f"{d}/in", "a")
        time.sleep(1.1)
        _write_flat(turns.where("turn_idx < 3"), f"{d}/in", "b")

        # query 1: restore order, write the ordered turn log
        stream = ingest.read_turns_stream(spark, f"{d}/in", max_files=1)

        def write_ordered(batch_df, batch_id):
            if not batch_df.isEmpty():
                # one file per micro-batch: without coalesce each batch
                # writes shuffle-partition-many part files and query 2's
                # maxFilesPerTrigger=1 pace turns into dozens of batches
                batch_df.coalesce(1).write.mode("append").parquet(f"{d}/ordered")

        q1 = (
            stateful.reorder_turns(stream)
            .writeStream.foreachBatch(write_ordered)
            .option("checkpointLocation", f"{d}/ckpt1")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(
            q1, lambda: spark.read.parquet(f"{d}/ordered").count()
        )

        # query 2: incremental coref over the ordered log
        ordered_stream = (
            spark.readStream.schema(
                "conv_id string, turn_idx int, text string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/ordered")
        )
        q2 = (
            stateful.incremental_coref_edges(ordered_stream)
            .writeStream.format("memory")
            .queryName("composed_edges")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt2")
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(
            q2, lambda: spark.sql("select count(*) from composed_edges").head()[0]
        )

        got = {
            (r["conv_id"], r["doc_pos"], r["ant_doc_pos"])
            for r in spark.sql("select * from composed_edges").collect()
        }
        want = {
            (r["conv_id"], r["doc_pos"], r["ant_doc_pos"])
            for r in coref.antecedent_edges(coref.coref_mentions(turns)).collect()
        }
        assert got == want and len(want) > 0  # TRUE-order positions restored
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_reorder_drains_on_watermark_advance(spark, fast_state):
    """r3 VERDICT #5 pin: a buffered gap drains when the EVENT-TIME
    watermark passes (newest buffered event + gap), not on wall-clock
    idleness. Conversation a arrives with turn 1 missing; a later file for
    conversation b carries event times 3 h ahead, which advances the
    watermark far past a's expiry point — a's buffer must flush IN ORDER
    within seconds of wall-clock time (the old ProcessingTimeTimeout would
    have required a 30-minute wall wait, and a fast replay could flush
    early)."""
    d = tempfile.mkdtemp()
    try:
        turns = synth_turns(spark, n_convs=2, seed=6)  # conv0, conv1
        # conv0: drop turn 1 → gap; keep 0, 2, 3
        a = turns.where("conv_id = 'conv0' and turn_idx in (0, 2, 3)")
        # conv1: event time 3 hours later (watermark driver)
        b = turns.where("conv_id = 'conv1'").withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 3 HOURS")
        )
        _write_flat(a, f"{d}/in", "a")
        time.sleep(1.1)
        _write_flat(b, f"{d}/in", "b")

        stream = ingest.read_turns_stream(spark, f"{d}/in", max_files=1)
        q = (
            stateful.reorder_turns(stream)
            .writeStream.format("memory")
            .queryName("wm_drain")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(
            q, lambda: spark.sql("select count(*) from wm_drain").head()[0]
        )
        rows = spark.sql(
            "select conv_id, turn_idx from wm_drain order by conv_id, turn_idx"
        ).collect()
        got = [(r["conv_id"], r["turn_idx"]) for r in rows]
        # conv0's gap (turn 1 never arrives) drained 2 and 3 via the
        # event-time timeout; conv0 turn 0 released normally
        assert [t for c, t in got if c == "conv0"] == [0, 2, 3]
        assert len([t for c, t in got if c == "conv1"]) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_reorder_then_coref_any_permutation_matches_batch():
    """r3 VERDICT #8 property: for ANY arrival permutation and ANY
    micro-batch slicing within the buffer bound, reorder→coref composes to
    exactly the batch edge set of the true-order conversation. Pure-python
    over the group functions (the end-to-end two-query composition is
    pinned separately), so hypothesis can sweep many adversarial orders."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from dygiepp_spark.streaming.stateful import _edges_for_group, _reorder_group

    texts = [
        "the customer opened a table",
        "bob checked the table and the row",
        None,  # NULL text: 0 tokens, no mentions
        "the row broke the column",
        "alice fixed the column with a key",
        "the key matched the value",
        "carol stored the value in spark",
        "spark wrote the line",
        "the line closed the customer case",
    ]

    def stream_edges(arrival_order, cuts):
        reorder_st, coref_st = _UnitState(), _UnitState()
        edges = []
        batches = []
        prev = 0
        for c in sorted(set(cuts)):
            if prev < c <= len(arrival_order):
                batches.append(arrival_order[prev:c])
                prev = c
        batches.append(arrival_order[prev:])
        for batch in batches:
            if not batch:
                continue
            pdf = pd.DataFrame(
                {"turn_idx": list(batch), "text": [texts[i] for i in batch]}
            )
            released = pd.concat(list(_reorder_group(("c",), iter([pdf]), reorder_st)))
            if len(released):
                out = pd.concat(
                    list(_edges_for_group(("c",), iter([released]), coref_st))
                )
                edges.extend(
                    (int(r.doc_pos), int(r.ant_doc_pos)) for r in out.itertuples()
                )
        return edges

    # batch twin: the whole conversation, true order, one batch
    want_st = _UnitState()
    whole = pd.DataFrame({"turn_idx": list(range(len(texts))), "text": texts})
    want_df = pd.concat(list(_edges_for_group(("c",), iter([whole]), want_st)))
    want = [(int(r.doc_pos), int(r.ant_doc_pos)) for r in want_df.itertuples()]
    assert len(want) > 0

    @settings(max_examples=30, deadline=None)
    @given(
        order=st.permutations(list(range(len(texts)))),
        cuts=st.lists(st.integers(min_value=1, max_value=len(texts) - 1), max_size=6),
    )
    def check(order, cuts):
        assert stream_edges(order, cuts) == want

    check()


def test_stateful_walk_with_null_text_matches_batch_clusters():
    """The stateful stream steps the same coref walk as the batch model
    pass: one conversation with NULL-text turns (0 tokens each), cut into
    micro-batches anywhere, gives edges whose clusters (greedy walk in
    doc_pos order, as tests/test_coref.py) are exactly the cluster rows of
    the model-pass kernel."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from dygiepp_spark.config import PipelineConfig
    from dygiepp_spark.inference.udf import _model_pass
    from dygiepp_spark.streaming.stateful import _edges_for_group

    texts = [
        None,
        "the customer opened a table",
        None,
        "bob checked the table and the row",
        None,
        None,
        "the row broke the customer case",
        "spark wrote the line",
        None,
        "the line and the table",
    ]
    whole = pd.DataFrame({"conv_id": "c", "turn_idx": range(len(texts)), "text": texts})
    want = sorted(
        (r.cluster_id, r.doc_pos, r.surface)
        for df in _model_pass(PipelineConfig(), True)(iter([whole]))
        for r in df.itertuples()
        if r.task == "cluster"
    )
    assert want

    @settings(max_examples=30, deadline=None)
    @given(cuts=st.lists(st.integers(min_value=1, max_value=len(texts) - 1), max_size=6))
    def check(cuts):
        state = _UnitState()
        bounds = [0, *sorted(set(cuts)), len(texts)]
        edges, surface = [], {}
        for lo, hi in zip(bounds, bounds[1:]):
            batch = iter([whole.iloc[lo:hi]])
            for r in pd.concat(list(_edges_for_group(("c",), batch, state))).itertuples():
                edges.append((r.doc_pos, r.ant_doc_pos))
                surface[r.doc_pos] = surface[r.ant_doc_pos] = r.surface
        cluster_of = {}
        for m, a in sorted(edges):
            cluster_of[m] = cluster_of.setdefault(a, a)
        assert sorted((c, dp, surface[dp]) for dp, c in cluster_of.items()) == want

    check()
