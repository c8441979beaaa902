"""CoNLL coreference metrics vs independent pure-python scorers
(reference reports MUC/B³/CEAFφ4 average + mention recall,
dygie/models/coref.py:15-16, 461-469). The pure-python twins below are
written directly from the metric definitions (Vilain 1995 MUC; Bagga &
Baldwin 1998 B³; Luo 2005 CEAFφ4) and brute-force the CEAF matching with
permutations — no shared code with the Spark operators."""

import itertools

import pytest

from dygiepp_spark.operators import coref, metrics
from dygiepp_spark.synth import synth_turns


# ---------------------------------------------------------- pure-python twins

def _muc(pred, gold):
    def score(sys, key):
        num = den = 0
        for k in key:
            partitions = {frozenset(s) for s in sys if s & k}
            covered = set().union(*[s & k for s in sys if s & k]) if partitions else set()
            num += len(k) - (len(partitions) + len(k - covered))
            den += len(k) - 1
        return num, den

    rn, rd = score(pred, gold)
    pn, pd_ = score(gold, pred)
    return pn / pd_, rn / rd


def _b3(pred, gold):
    def score(sys, key):
        total = 0.0
        n = 0
        for k in key:
            n += len(k)
            for s in sys:
                i = len(s & k)
                total += i * i / len(k)
        return total / n

    return score(gold, pred), score(pred, gold)  # precision, recall


def _phi4(a, b):
    return 2 * len(a & b) / (len(a) + len(b))


def _ceaf(pred, gold):
    small, big = (pred, gold) if len(pred) <= len(gold) else (gold, pred)
    best = 0.0
    for perm in itertools.permutations(range(len(big)), len(small)):
        best = max(best, sum(_phi4(small[i], big[j]) for i, j in enumerate(perm)))
    return best / len(pred), best / len(gold)


def _df(spark, clusterings):
    """clusterings: {conv: [set(mentions), ...]} → (conv_id, cluster_id, doc_pos)."""
    rows = [
        (conv, ci, m)
        for conv, cls in clusterings.items()
        for ci, c in enumerate(cls)
        for m in c
    ]
    return spark.createDataFrame(rows, "conv_id string, cluster_id long, doc_pos long")


CASES = {
    # classic MUC paper example: gold {1..5}, pred splits it
    "paper": (
        {"c": [{1, 2, 3}, {4, 5}]},
        {"c": [{1, 2, 3, 4, 5}]},
    ),
    # exact match
    "exact": (
        {"c": [{1, 2}, {3, 4, 5}]},
        {"c": [{1, 2}, {3, 4, 5}]},
    ),
    # disjoint mentions + multi-conversation
    "multi": (
        {"a": [{1, 2}, {3, 4}], "b": [{10, 11, 12}]},
        {"a": [{1, 2, 3, 4}], "b": [{10, 11}, {12, 13}]},
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_conll_metrics_match_pure_python(spark, name):
    pred_c, gold_c = CASES[name]
    out = {
        r["metric"]: (r["precision"], r["recall"])
        for r in metrics.conll_coref_metrics(_df(spark, pred_c), _df(spark, gold_c)).collect()
    }
    pred_sets = [c for cls in pred_c.values() for c in cls]
    gold_sets = [c for cls in gold_c.values() for c in cls]
    # pure-python scores computed per conversation then micro-averaged via
    # global sums — mentions are globally unique in the fixtures, so scoring
    # the union of conversations at once is equivalent
    mp, mr = _muc(pred_sets, gold_sets)
    bp, br = _b3(pred_sets, gold_sets)
    assert out["muc"] == (round(mp, 4), round(mr, 4))
    assert out["b3"][0] == pytest.approx(round(bp, 4), abs=2e-4)
    assert out["b3"][1] == pytest.approx(round(br, 4), abs=2e-4)

    # CEAF must brute-force per conversation (matching can't cross convs)
    tot = 0.0
    for conv in pred_c:
        p_, g_ = pred_c[conv], gold_c.get(conv, [])
        small, big = (p_, g_) if len(p_) <= len(g_) else (g_, p_)
        best = 0.0
        for perm in itertools.permutations(range(len(big)), len(small)):
            best = max(best, sum(_phi4(small[i], big[j]) for i, j in enumerate(perm)))
        tot += best
    want_p = round(tot / len(pred_sets), 4)
    want_r = round(tot / len(gold_sets), 4)
    row = metrics.ceaf_phi4_metrics(_df(spark, pred_c), _df(spark, gold_c)).head()
    assert (row["precision"], row["recall"]) == (want_p, want_r)


def test_conll_on_synthetic_corpus(spark):
    """End-to-end over the real clustering operators: identical clusterings
    score 1.0 everywhere; gap-limited pred scores strictly below on every
    metric family that sees the segmentation."""
    t = synth_turns(spark, n_convs=12, seed=9)
    gold = coref.clusters_via_components(t)
    same = {
        r["metric"]: r for r in metrics.conll_coref_metrics(gold, gold).collect()
    }
    for m in ("muc", "b3", "mention"):
        assert same[m]["precision"] == 1.0 and same[m]["recall"] == 1.0
    ceaf_same = metrics.ceaf_phi4_metrics(gold, gold).head()
    assert ceaf_same["precision"] == 1.0 and ceaf_same["recall"] == 1.0

    pred = coref.clusters_via_components(t, max_gap=10)
    segd = {
        r["metric"]: r for r in metrics.conll_coref_metrics(pred, gold).collect()
    }
    # segmentation can only hurt recall-side link/cluster agreement
    assert segd["muc"]["recall"] < 1.0
    assert segd["b3"]["recall"] < 1.0
    ceaf_seg = metrics.ceaf_phi4_metrics(pred, gold).head()
    assert ceaf_seg["recall"] < 1.0


def test_conll_average_identity(spark):
    t = synth_turns(spark, n_convs=6, seed=9)
    gold = coref.clusters_via_components(t)
    row = metrics.conll_average(gold, gold).head()
    assert row["conll_coref_f1"] == 1.0 and row["n_components"] == 3


def test_conll_metrics_zero_overlap_is_zero_not_null(spark):
    """Zero mention overlap must report 0.0 everywhere (reference f1.py
    zero-safe convention), never NULL — and the average must still count
    all three components."""
    pred = _df(spark, {"c": [{1, 2}]})
    gold = _df(spark, {"c": [{10, 11}]})
    rows = {r["metric"]: r for r in metrics.conll_coref_metrics(pred, gold).collect()}
    for m in ("muc", "b3", "mention"):
        assert rows[m]["precision"] == 0.0
        assert rows[m]["recall"] == 0.0
        assert rows[m]["f1"] == 0.0
    ceaf = metrics.ceaf_phi4_metrics(pred, gold).head()
    assert (ceaf["precision"], ceaf["recall"], ceaf["f1"]) == (0.0, 0.0, 0.0)
    avg = metrics.conll_average(pred, gold).head()
    assert avg["conll_coref_f1"] == 0.0 and avg["n_components"] == 3


def test_ceaf_wide_component_flags_not_raises(spark):
    """A component wider than the bitmask-DP bound must be scored with the
    greedy lower bound and FLAGGED, never abort the job (skip-and-flag, the
    reference's _FAILED_PREDICTION convention). Chain construction: pred
    P_i = {2i, 2i+1}, gold G_i = {2i+1, 2i+2} — one connected component of
    N×N clusters, every φ4 edge = 0.5, where greedy == optimal (N disjoint
    P_i→G_i matches), so the flagged value is also checkable exactly."""
    n = 40  # small side 40 > MAX_SMALL=18 → greedy path
    pred = {"c": [{2 * i, 2 * i + 1} for i in range(n)]}
    gold = {"c": [{2 * i + 1, 2 * i + 2} for i in range(n)]}
    row = metrics.ceaf_phi4_metrics(_df(spark, pred), _df(spark, gold)).head()
    assert row["wide_components"] == 1
    # greedy == optimal here: n matched pairs at φ4=0.5 over n clusters/side
    assert row["precision"] == round(0.5 * n / n, 4) == 0.5
    assert row["recall"] == 0.5
    # normal (narrow) inputs must be exact and unflagged
    narrow = metrics.ceaf_phi4_metrics(
        _df(spark, CASES["paper"][0]), _df(spark, CASES["paper"][1])
    ).head()
    assert narrow["wide_components"] == 0


def test_repeated_metric_calls_keep_cache_flat(spark):
    """conll/ceaf/pair metrics and the averages persist intermediates
    (the averages share one overlap per call); every call must
    release them (eager materialize + unpersist + plans.cache tracking) so
    a long-lived session doesn't accumulate MEMORY_AND_DISK blocks."""
    from dygiepp_spark import registry

    sf = "/root/testdata/sf0.001"
    for _ in range(2):
        registry.coref_conll_metrics(spark, sf).collect()
        registry.coref_ceaf_metrics(spark, sf).collect()
        registry.coref_pair_metrics(spark, sf).collect()
        registry.conll_avg_no_ceaf(spark, sf).collect()
        registry.coref_conll_avg(spark, sf).collect()
        registry.ceaf_star_metrics(spark, sf).collect()
        registry.coref_conll_avg_star(spark, sf).collect()
    n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_cached == 0, f"{n_cached} persisted RDDs leaked"


def test_near_dup_release_handle(spark):
    """near_dup_pairs' shingle/band persists are tracked; release_tracked()
    must drop them once the result is consumed, and the released frame must
    still be usable (lineage recompute)."""
    from dygiepp_spark.operators import dedup
    from dygiepp_spark.plans import cache
    from dygiepp_spark.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    with cache.scoped():
        out = dedup.near_dup_pairs(docs, persist_shingles=True)
        n1 = out.count()
        # r7: the fused kernel persists ONE profile table (was
        # shingles+bands); global getPersistentRDDs counts are no longer
        # asserted — session-lived localCheckpoint blocks from other tests
        # make them racy — the release contract is what matters:
        assert cache.release_tracked() >= 1
        assert cache.release_tracked() == 0  # scope now empty
    assert out.count() == n1  # recompute after release is identical


def test_wide_component_report_matches_ceaf_flag(spark):
    """The ops-rollup twin (metrics.wide_component_report, surfaced in the
    validation_report registry query per r3 VERDICT #6) must agree with
    ceaf_phi4_metrics' own wide_components flag — pinned on an interlocked
    20×20 pred/gold grid that genuinely trips the real DP bound
    (small side 20 > CEAF_MAX_SMALL 18), plus a healthy conversation that
    must NOT be flagged."""
    from dygiepp_spark.operators import metrics

    # grid conv: mention (i, j) belongs to pred cluster i and gold cluster j
    grid = [
        ("wideconv", i, j, i * 20 + j) for i in range(20) for j in range(20)
    ]
    healthy = [("okconv", 0, 0, 0), ("okconv", 0, 0, 1), ("okconv", 1, 1, 2), ("okconv", 1, 1, 3)]
    rows = grid + healthy
    pred = spark.createDataFrame(
        [(c, p, pos) for c, p, _, pos in rows],
        "conv_id string, cluster_id long, doc_pos long",
    )
    gold = spark.createDataFrame(
        [(c, g, pos) for c, _, g, pos in rows],
        "conv_id string, cluster_id long, doc_pos long",
    )
    report = {
        r["conv_id"]: r["wide_components"]
        for r in metrics.wide_component_report(pred, gold).collect()
    }
    assert report == {"wideconv": 1}
    ceaf = metrics.ceaf_phi4_metrics(pred, gold).collect()[0]
    assert ceaf["wide_components"] == 1 == sum(report.values())
    # tightened bounds flag nothing extra on the healthy conversation alone
    assert (
        metrics.wide_component_report(
            pred.where("conv_id = 'okconv'"), gold.where("conv_id = 'okconv'")
        ).count()
        == 0
    )


def test_ceaf_star_matches_generic_dp(spark):
    """The star-reduction CEAF (oracle-gated twin) must agree with the
    generic bitmask-DP CEAF on the engine's own clusterings — the reduction
    is provably exact there (one gold cluster per intersection component),
    so any drift beyond φ4-quantization error is a bug. Also pins the full
    star CoNLL average against the generic conll_average."""
    from dygiepp_spark.operators import metrics

    t = synth_turns(spark, n_convs=12, seed=9)
    gold = coref.clusters_via_components(t)
    pred = coref.clusters_via_components(t, max_gap=10)

    star = metrics.ceaf_phi4_star_quantized(pred, gold).collect()[0]
    dp = metrics.ceaf_phi4_metrics(pred, gold).collect()[0]
    assert dp["wide_components"] == 0  # reduction precondition holds
    for fld in ("precision", "recall", "f1"):
        assert abs(star[fld] - dp[fld]) <= 2e-4, (fld, star[fld], dp[fld])
    assert star["sum_phi_q"] > 0

    avg_star = metrics.conll_average_star(pred, gold).collect()[0]
    avg_dp = metrics.conll_average(pred, gold).collect()[0]
    assert abs(avg_star["conll_coref_f1_star"] - avg_dp["conll_coref_f1"]) <= 2e-4
    from dygiepp_spark.plans import cache

    cache.release_tracked()


def test_star_guard_on_adversarial_clusterings(spark):
    """r4 VERDICT #4: `ceaf_phi4_star_quantized` must DETECT arbitrary
    cluster tables that break the star invariant (a pred cluster spanning
    several gold clusters) instead of silently returning an approximation.
    Hypothesis sweeps random pred/gold partitions of a mention set; the
    contract under test:
    - `star_violations` equals the exact count of multi-gold pred clusters
      (zero ⟺ every intersection component has exactly one gold cluster);
    - whenever it is zero, the star F1 agrees with the generic-DP CEAF to
      quantization tolerance (the flag is a faithful validity detector,
      not a heuristic);
    - `conll_average_star` fails loud on any violation (the published
      composite never silently embeds an approximate term)."""
    from collections import defaultdict

    from hypothesis import HealthCheck, given, settings, strategies as st

    from dygiepp_spark.operators import metrics
    from dygiepp_spark.plans import cache

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        labels=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 3)),
            min_size=4,
            max_size=12,
        )
    )
    def check(labels):
        pred_df = spark.createDataFrame(
            [("c0", p, pos) for pos, (p, _) in enumerate(labels)],
            "conv_id string, cluster_id long, doc_pos long",
        )
        gold_df = spark.createDataFrame(
            [("c0", g, pos) for pos, (_, g) in enumerate(labels)],
            "conv_id string, cluster_id long, doc_pos long",
        )
        # ground truth for the guard, straight from the definition
        golds_of_pred = defaultdict(set)
        for _pos, (p, g) in enumerate(labels):
            golds_of_pred[p].add(g)
        expected_violations = sum(1 for gs in golds_of_pred.values() if len(gs) > 1)

        star = metrics.ceaf_phi4_star_quantized(pred_df, gold_df).collect()[0]
        assert star["star_violations"] == expected_violations

        if expected_violations == 0:
            dp = metrics.ceaf_phi4_metrics(pred_df, gold_df).collect()[0]
            assert dp["wide_components"] == 0
            for fld in ("precision", "recall", "f1"):
                assert abs(star[fld] - dp[fld]) <= 2e-4, (fld, star[fld], dp[fld])
        else:
            with pytest.raises(ValueError, match="star reduction"):
                metrics.conll_average_star(pred_df, gold_df)
        cache.release_tracked()

    check()
