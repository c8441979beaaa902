"""Micro P/R/F1 metric aggregations (SURVEY.md §2.F).

Reference math: p = matched/predicted, r = matched/gold,
f1 = 2pr/(p+r), all zero-safe (dygie/training/f1.py:6-17). Matching is an
inner join on task-specific keys: NER (doc, sent, span) + label
(ner_metrics.py:30-36), relations both spans + label — the triple-match
criterion (relation_metrics.py:19-27, README.md:419-424), triggers offset
[+ label], arguments (span, event_type, role) (event_metrics.py:47-89).

All metrics are single-pass groupBy aggregations with map-side combine; the
pred↔gold joins run under AQE with skew splitting.

The coreference family (MUC, B³, mention P/R, CEAFφ4 and its star twin,
the CoNLL averages) is scored like the reference's one scorer, which
updates every metric from the same predicted and gold clusters
(dygie/models/coref.py:461-469): each function opens one persisted
cluster-overlap table, ``_overlap``, built on the one pred↔gold mention
join, ``_intersections``, and reads its rows from it. Two P/R/F1
conventions exist, each written once: the counting metrics take F1 from
the unrounded P and R (``_prf``), the coref rows from the 4-decimal P and
R (``_coref_prf``).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F


def _div(num: Column, den: Column) -> Column:
    """Zero-safe division: 0.0 where the denominator is not positive."""
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def _prf(prec: Column, rec: Column) -> list[Column]:
    """precision/recall/f1 columns, each rounded to 4 decimals, F1 from
    the P and R given (the counting metrics pass them unrounded)."""
    return [
        F.round(prec, 4).alias("precision"),
        F.round(rec, 4).alias("recall"),
        F.round(_div(2 * prec * rec, prec + rec), 4).alias("f1"),
    ]


def _coref_prf(prec: Column, rec: Column) -> list[Column]:
    """The coref scorer's convention: P and R round to 4 decimals first and
    F1 comes from the ROUNDED values."""
    return _prf(F.round(prec, 4), F.round(rec, 4))


def _count_prf() -> list[Column]:
    """n_pred/n_gold/n_matched as bigint plus their P/R/F1."""
    return [
        *(F.col(c).cast("bigint") for c in ("n_pred", "n_gold", "n_matched")),
        *_prf(
            _div(F.col("n_matched"), F.col("n_pred")),
            _div(F.col("n_matched"), F.col("n_gold")),
        ),
    ]


@contextmanager
def _matched_keys(
    pred: DataFrame, gold: DataFrame, keys: list[str]
) -> Iterator[tuple[DataFrame, DataFrame, DataFrame]]:
    """The persisted distinct key sets of both sides and their match join;
    the sets release on exit."""
    from pyspark import StorageLevel

    p = pred.select(*keys).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    g = gold.select(*keys).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield p, g, p.join(g, on=keys, how="inner")
    finally:
        p.unpersist()
        g.unpersist()


def micro_prf(
    pred: DataFrame,
    gold: DataFrame,
    keys: list[str],
    dataset: str = "transcripts",
    task: str = "ner",
) -> DataFrame:
    """One metrics row: counts + P/R/F1 (rounded to 4 decimals, matching the
    reference's score rounding convention, document.py:10-11).

    The distinct key sets each feed their own count AND the match join —
    without a persist Catalyst recomputes the upstream extraction pipeline
    once per branch (measured: 8 corpus scans for trigger_metrics). The
    sets persist for the single eager evaluation of the one-row result and
    release before return.

    Contract (r3 ADVICE): this function is EAGER — calling it runs the
    Spark jobs immediately and returns a tiny driver-local DataFrame (the
    whole metric family does; see _eager). Metric outputs are terminal
    scalars, so laziness buys nothing; a caller that ever needs to compose
    metrics into a larger lazy plan should build the aggregation
    expressions directly instead of calling through this wrapper."""
    with _matched_keys(pred, gold, keys) as (p, g, m):
        counts = (
            p.agg(F.count(F.lit(1)).alias("n_pred"))
            .crossJoin(g.agg(F.count(F.lit(1)).alias("n_gold")))
            .crossJoin(m.agg(F.count(F.lit(1)).alias("n_matched")))
        )
        return _eager(
            counts.select(
                F.lit(dataset).alias("dataset"), F.lit(task).alias("task"), *_count_prf()
            )
        )


def per_namespace_metrics(pred: DataFrame, gold: DataFrame, keys: list[str]) -> DataFrame:
    """F7 — metric fan-out per (dataset, task) namespace plus a MEAN__ row
    (reference: dygie/models/dygie.py:336-366). Inputs must carry
    `dataset` and `task` columns.

    Eager like micro_prf (see its contract note): the fan-out materializes
    in driver memory — one row per namespace plus MEAN__, bounded by the
    NAMESPACE count (a handful), never the corpus."""
    ns = ["dataset", "task"]
    with _matched_keys(pred, gold, [*ns, *keys]) as (p, g, m):

        def counts(df: DataFrame, name: str) -> DataFrame:
            return df.groupBy(*ns).agg(F.count(F.lit(1)).alias(name))

        joined = (
            counts(p, "n_pred")
            .join(counts(g, "n_gold"), on=ns, how="full")
            .join(counts(m, "n_matched"), on=ns, how="full")
            .na.fill(0)
        )
        per_ns = joined.select(*ns, *_count_prf())
        mean_row = per_ns.groupBy().agg(
            F.lit("MEAN__").alias("dataset"),
            F.lit("all").alias("task"),
            F.sum("n_pred").cast("bigint").alias("n_pred"),
            F.sum("n_gold").cast("bigint").alias("n_gold"),
            F.sum("n_matched").cast("bigint").alias("n_matched"),
            F.round(F.avg("precision"), 4).alias("precision"),
            F.round(F.avg("recall"), 4).alias("recall"),
            F.round(F.avg("f1"), 4).alias("f1"),
        )
        return _eager(per_ns.unionByName(mean_row))


def multi_trigger_stats(arguments: DataFrame) -> DataFrame:
    """F8 — fraction of argument spans attached to more than one trigger
    (reference event_metrics.py:126-163)."""
    per_arg = arguments.groupBy("conv_id", "turn_idx", "arg_start", "arg_end").agg(
        F.countDistinct("trigger_ix").alias("n_triggers")
    )
    return per_arg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_args"),
        F.sum(F.when(F.col("n_triggers") > 1, 1).otherwise(0)).cast("bigint").alias("n_multi"),
        F.round(F.avg(F.when(F.col("n_triggers") > 1, 1.0).otherwise(0.0)), 4).alias(
            "multi_frac"
        ),
    )


# ------------------------------------------------------------- CoNLL coref

B3_SCALE = 1_000_000  # fixed-point scale for B³ per-cluster terms


def _eager(df: DataFrame) -> DataFrame:
    """Materialize a tiny metric result (a handful of scalar rows) and
    rebuild it as a local DataFrame with the same schema. Metric outputs
    are terminal numbers, so eager evaluation is semantically free — and it
    lets the persisted intermediates release immediately instead of
    accumulating MEMORY_AND_DISK blocks across repeated metric calls in a
    long-lived session (pinned: test_conll_coref.py persistent-RDD test)."""
    spark = df.sparkSession
    return spark.createDataFrame(df.collect(), schema=df.schema)


def _members(pred: DataFrame, gold: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The (conv_id, pc, doc_pos) and (conv_id, gc, doc_pos) member tables
    of the predicted and gold clusterings."""
    return (
        pred.select("conv_id", F.col("cluster_id").alias("pc"), "doc_pos"),
        gold.select("conv_id", F.col("cluster_id").alias("gc"), "doc_pos"),
    )


def _intersections(p: DataFrame, g: DataFrame) -> DataFrame:
    """(conv_id, pc, gc, i): I(p,g) = |P_pc ∩ G_gc| for every intersecting
    cluster pair — the one pred↔gold mention join, an equi-join on
    (conv_id, doc_pos). (conv_id, pc, gc) is its grouping key, so a count
    per pc (or gc) counts DISTINCT partner clusters."""
    return (
        p.join(g, on=["conv_id", "doc_pos"])
        .groupBy("conv_id", "pc", "gc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )


def _star_violations(inter: DataFrame) -> DataFrame:
    """(conv_id, star_violations): pred clusters intersecting more than one
    gold cluster, per conversation with ≥1."""
    return (
        inter.groupBy("conv_id", "pc")
        .agg(F.count(F.lit(1)).alias("n_gc"))
        .where(F.col("n_gc") > 1)
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("star_violations"))
    )


class _Overlap(NamedTuple):
    inter: DataFrame  # (conv_id, pc, gc, i), persisted
    sized: DataFrame  # inter + size_p + size_g
    totals: DataFrame  # one row: n_pred_m, n_pred_cl, n_gold_m, n_gold_cl


@contextmanager
def _overlap(pred: DataFrame, gold: DataFrame) -> Iterator[_Overlap]:
    """The cluster-overlap table every coref metric reads: the member
    tables and the intersections persist (spill-safe) and release on exit.
    Each feeds several aggregates — without the persist, the CALLER's
    clustering pipeline re-runs once per downstream branch (measured: 120
    corpus scans in the un-persisted physical plan)."""
    from pyspark import StorageLevel

    p, g = (m.persist(StorageLevel.MEMORY_AND_DISK) for m in _members(pred, gold))
    inter = _intersections(p, g).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        psz = p.groupBy("conv_id", "pc").agg(F.count(F.lit(1)).cast("bigint").alias("size_p"))
        gsz = g.groupBy("conv_id", "gc").agg(F.count(F.lit(1)).cast("bigint").alias("size_g"))
        yield _Overlap(
            inter,
            inter.join(psz, on=["conv_id", "pc"]).join(gsz, on=["conv_id", "gc"]),
            psz.agg(
                F.sum("size_p").cast("bigint").alias("n_pred_m"),
                F.count(F.lit(1)).cast("bigint").alias("n_pred_cl"),
            ).crossJoin(
                gsz.agg(
                    F.sum("size_g").cast("bigint").alias("n_gold_m"),
                    F.count(F.lit(1)).cast("bigint").alias("n_gold_cl"),
                )
            ),
        )
    finally:
        inter.unpersist()
        p.unpersist()
        g.unpersist()


def _int_mean(*f1s: float) -> float:
    """(Σ round(f1·10⁴)) / (10⁴·n): each 4-decimal F1 requantizes to an
    integer number of 1e-4 units and the mean is one IEEE division of
    exact integers."""
    return sum(round(f * 10_000) for f in f1s) / (10_000.0 * len(f1s))


def _conll_rows(o: _Overlap) -> DataFrame:
    """The muc, b3 and mention rows of `conll_coref_metrics`."""
    c = F.col
    sc = float(B3_SCALE)
    # coalesce every global sum to 0: with ZERO mention overlap the
    # intersection table is empty and sums return NULL — the reference
    # scorer reports 0.0 there, not null (f1.py zero-safe convention)
    inter_agg = o.sized.agg(
        F.coalesce(F.sum("i"), F.lit(0)).cast("bigint").alias("matched"),
        *(
            F.coalesce(
                F.sum(F.round(F.lit(sc) * c("i") * c("i") / c(size)).cast("bigint")), F.lit(0)
            ).alias(name)
            for size, name in (("size_g", "b3_rec_sc"), ("size_p", "b3_prec_sc"))
        ),
    )
    # Σ over clusters of one side of the partner-cluster count k
    k_g, k_p = (
        o.inter.groupBy("conv_id", side)
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("bigint").alias(name))
        for side, name in (("gc", "sum_kg"), ("pc", "sum_kp"))
    )
    s = inter_agg.crossJoin(k_g).crossJoin(k_p).crossJoin(o.totals)

    def row(name, prec, rec):
        return s.select(F.lit(name).alias("metric"), *_coref_prf(prec, rec))

    muc = row(
        "muc",
        _div(c("matched") - c("sum_kp"), c("n_pred_m") - c("n_pred_cl")),
        _div(c("matched") - c("sum_kg"), c("n_gold_m") - c("n_gold_cl")),
    )
    b3 = row(
        "b3",
        _div(c("b3_prec_sc"), F.lit(B3_SCALE) * c("n_pred_m")),
        _div(c("b3_rec_sc"), F.lit(B3_SCALE) * c("n_gold_m")),
    )
    mention = row(
        "mention", _div(c("matched"), c("n_pred_m")), _div(c("matched"), c("n_gold_m"))
    )
    return muc.unionByName(b3).unionByName(mention)


def conll_coref_metrics(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """F6 — CoNLL coreference metrics as pure DataFrame aggregations:
    MUC (link-based) and B³ (mention-based) precision/recall/F1 plus
    mention-level P/R — the components the reference's scorer averages
    (dygie/models/coref.py:15-16, 461-469; CoNLL average = mean of MUC, B³,
    CEAFφ4 — CEAF needs optimal matching, see ceaf_phi4_metrics).

    Inputs: (conv_id, cluster_id, doc_pos) mention rows for predicted and
    gold clusterings (clusters have ≥2 members, reference convention).

    Math, all integer until the final division:
    - intersections I(p,g) = |P_p ∩ G_g| via one equi-join on the mention key;
    - MUC recall = Σ_g (|g| - partitions(g)) / Σ_g (|g| - 1) where
      partitions(g) = (#pred clusters touching g) + (unmatched mentions of g),
      which reduces to (matched - Σ_g k_g) / (N_gold_m - N_gold_cl);
    - B³ recall = Σ_{p,g} I²/|g| / N_gold_m (precision symmetric). Each
      I²/|g| term is fixed-point-quantized to 1e-6 BEFORE summation so the
      sum is an exact integer — float summation order (Spark partial aggs
      vs DuckDB) can never change the result;
    - mention P/R = matched / N_pred_m, matched / N_gold_m.

    One shuffle for the join + tiny scalar aggregates; scale-safe at any
    corpus size (no per-conversation state, no collect). The mention
    tables and the intersection table each feed several aggregates, so
    they persist (spill-safe) — without that, the CALLER's clustering
    pipeline re-runs once per downstream branch (measured: 120 corpus
    scans in the un-persisted physical plan). The result materializes
    eagerly so every persist releases before return (no cache growth
    across repeated calls)."""
    with _overlap(pred, gold) as o:
        return _eager(_conll_rows(o))


CEAF_MAX_SMALL = 18  # bitmask-DP side cap: 2^18 states
CEAF_MAX_WORK = 200_000_000  # |big| × 2^|small| × |small| op bound per component


def wide_component_report(
    pred: DataFrame,
    gold: DataFrame,
    max_small: int = CEAF_MAX_SMALL,
    max_work: int = CEAF_MAX_WORK,
) -> DataFrame:
    """Per-conversation count of CEAF intersection-graph components that
    exceed `ceaf_phi4_metrics`' bitmask-DP bound — the ops-rollup twin of
    that metric's `wide_components` flag (r3 VERDICT #6: a corpus whose
    coref degenerated into greedy-lower-bound components must be visible in
    the one report an operator reads, not only inside the metric row).

    Returns (conv_id, wide_components) for conversations with ≥1 flagged
    component. Same predicate as the metric: a component is wide when its
    smaller cluster side exceeds `max_small` or |big|·2^|small|·|small|
    exceeds `max_work`.

    Shape: the bipartite pred↔gold cluster graph (edge = shared mention) is
    tiny relative to the corpus — one equi-join on the mention key, then
    connected components per conversation via the grouped union-find (one
    shuffle, no iteration). Pred/gold cluster nodes are disambiguated by
    parity (2·id vs 2·id+1) so the two id spaces cannot collide.

    Equivalence pin: tests/test_conll_coref.py asserts the summed count
    equals ceaf_phi4_metrics' wide_components on an interlocked clustering
    that trips the real bound."""
    from dygiepp_spark.operators import graph

    edges = _intersections(*_members(pred, gold)).select(
        "conv_id",
        (F.col("pc") * 2).alias("src"),
        (F.col("gc") * 2 + 1).alias("dst"),
    )
    comp = graph.connected_components_grouped(edges, "conv_id")
    per_comp = comp.groupBy("group", "component").agg(
        F.sum(F.when(F.col("node") % 2 == 0, 1).otherwise(0)).alias("n_p"),
        F.sum(F.when(F.col("node") % 2 == 1, 1).otherwise(0)).alias("n_g"),
    )
    small = F.least("n_p", "n_g")
    big = F.greatest("n_p", "n_g")
    # shiftleft wraps for small > 63, but the first disjunct is already
    # true there (small > max_small), and OR(true, garbage) = true
    pow2_small = F.expr("shiftleft(cast(1 as bigint), cast(least(n_p, n_g) as int))")
    wide = (small > max_small) | (big * pow2_small * small > max_work)
    return (
        per_comp.where(wide)
        .groupBy("group")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wide_components"))
        .select(F.col("group").alias("conv_id"), "wide_components")
    )


def star_violation_report(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Per-conversation count of pred clusters intersecting MORE THAN ONE
    gold cluster — the ops-rollup twin of ceaf_phi4_star_quantized's
    corpus-total `star_violations` guard (r5 VERDICT #8: the guard exists
    and is hypothesis-swept at the operator level; this surfaces it in the
    one report an operator actually reads, next to the wide-component
    rows). Returns (conv_id, star_violations) for conversations with ≥1
    violating pred cluster; empty ⟺ the star reduction's CEAF term is
    exact for every conversation.

    Shape: one mention-key equi-join to the (candidate-pair-sized)
    intersection table, then two partial aggregations — no corpus scan
    beyond the cluster tables themselves."""
    return _star_violations(_intersections(*_members(pred, gold)))


def _ceaf_row(o: _Overlap) -> DataFrame:
    """The one row of `ceaf_phi4_metrics`."""
    import pandas as pd

    from dygiepp_spark.operators.graph import union_find

    def best_matching(pdf: pd.DataFrame) -> pd.DataFrame:
        conv = pdf["conv_id"].iloc[0]
        # intersection-graph components over (pc, gc) edges; each
        # component keeps edge order, which fixes its float sums
        edges = list(zip(pdf["pc"], pdf["gc"], pdf["phi4"]))
        root = union_find((("p", pc), ("g", gc)) for pc, gc, _ in edges)
        comps: dict = {}
        for pc, gc, phi in edges:
            comps.setdefault(root[("p", pc)], []).append((pc, gc, phi))
        total = 0.0
        n_wide = 0
        for comp_edges in comps.values():
            gcs = sorted({gc for _, gc, _ in comp_edges})
            pcs = sorted({pc for pc, _, _ in comp_edges})
            n_small, n_big = sorted((len(gcs), len(pcs)))
            # bound the DP, not just one side: work = big × 2^small × small,
            # so a 22×1000 component would otherwise "pass" the guard and
            # hang the task
            work = n_big * (1 << n_small) * n_small
            if n_small > CEAF_MAX_SMALL or work > CEAF_MAX_WORK:
                # greedy matching lower bound: heaviest edges first,
                # each cluster used at most once; flag the component
                n_wide += 1
                used_p: set = set()
                used_g: set = set()
                for pc, gc, phi in sorted(
                    comp_edges, key=lambda e: (-e[2], e[0], e[1])
                ):
                    if pc in used_p or gc in used_g:
                        continue
                    used_p.add(pc)
                    used_g.add(gc)
                    total += phi
                continue
            # DP over the smaller side as the bitmask
            if len(gcs) <= len(pcs):
                small, big, w = gcs, pcs, {(pc, gc): phi for pc, gc, phi in comp_edges}
                weight = lambda b, s: w.get((b, s), 0.0)  # noqa: E731
            else:
                small, big, w = pcs, gcs, {(pc, gc): phi for pc, gc, phi in comp_edges}
                weight = lambda b, s: w.get((s, b), 0.0)  # noqa: E731
            sidx = {c: k for k, c in enumerate(small)}
            full = 1 << len(small)
            best = [0.0] * full
            for b in big:
                nxt = best[:]
                for mask in range(full):
                    base = best[mask]
                    for s in small:
                        bit = 1 << sidx[s]
                        if mask & bit:
                            continue
                        v = base + weight(b, s)
                        if v > nxt[mask | bit]:
                            nxt[mask | bit] = v
                    if base > nxt[mask]:
                        nxt[mask] = base
                best = nxt
            total += max(best)
        return pd.DataFrame(
            {"conv_id": [conv], "sum_phi4": [total], "wide": [n_wide]}
        )

    per_conv = (
        o.sized.withColumn("phi4", 2.0 * F.col("i") / (F.col("size_p") + F.col("size_g")))
        .groupBy("conv_id")
        .applyInPandas(best_matching, "conv_id string, sum_phi4 double, wide bigint")
    )
    tot = per_conv.agg(
        F.coalesce(F.sum("sum_phi4"), F.lit(0.0)).alias("sum_phi4"),
        F.coalesce(F.sum("wide"), F.lit(0)).cast("bigint").alias("wide_components"),
    ).crossJoin(o.totals)
    return tot.select(
        F.lit("ceaf_phi4").alias("metric"),
        *_coref_prf(
            _div(F.col("sum_phi4"), F.col("n_pred_cl")),
            _div(F.col("sum_phi4"), F.col("n_gold_cl")),
        ),
        F.col("wide_components"),
    )


def ceaf_phi4_metrics(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """F6 — CEAFφ4: optimal one-to-one cluster alignment maximizing
    Σ φ4(P_i, G_j), φ4 = 2|P∩G| / (|P|+|G|); precision = Σφ4 / #pred
    clusters, recall = Σφ4 / #gold clusters (Luo 2005; reference scorer
    dygie/models/coref.py:461-469).

    Optimal matching is per-conversation (the reference scores per document)
    and the φ4 matrix is sparse — only intersecting cluster pairs score.
    The assignment problem therefore decomposes over connected components of
    the intersection graph, each solved exactly by bitmask DP inside one
    applyInPandas group. Components are tiny by construction (a gold entity
    fragments into a handful of predicted segments); a component wider than
    the DP bound is scored with the greedy-matching LOWER BOUND and counted
    in the `wide_components` output column instead of raising — one
    pathological conversation must not abort the whole metrics job
    (skip-and-flag, the reference's _FAILED_PREDICTION convention,
    predictors/dygie.py:57-68, and this repo's inference UDF `_failed`
    batches). Greedy on a φ4 matrix is a ½-approximation, so a nonzero
    flag means "CEAF is a lower bound here", never a silent wrong number.

    The result materializes eagerly so the persisted mention tables release
    before return."""
    with _overlap(pred, gold) as o:
        return _eager(_ceaf_row(o))


PHI4_SCALE = 1_000_000  # fixed-point scale for quantized φ4 terms


def _ceaf_star_row(o: _Overlap) -> DataFrame:
    """The one row of `ceaf_phi4_star_quantized`."""
    # same operation ORDER as the SQL twin: 2e6 · i / (|P|+|G|), one
    # multiply then one divide, round-half-up to int64
    phi_q = F.round(
        F.lit(2.0 * PHI4_SCALE) * F.col("i") / (F.col("size_p") + F.col("size_g"))
    ).cast("bigint")
    star = o.sized.groupBy("conv_id", "gc").agg(F.max(phi_q).alias("best_q"))
    tot = (
        star.agg(F.coalesce(F.sum("best_q"), F.lit(0)).cast("bigint").alias("sum_phi_q"))
        .crossJoin(o.totals)
        .crossJoin(
            _star_violations(o.inter).agg(
                F.coalesce(F.sum("star_violations"), F.lit(0))
                .cast("bigint")
                .alias("star_violations")
            )
        )
    )
    scale = F.lit(float(PHI4_SCALE))
    return tot.select(
        F.lit("ceaf_phi4_star").alias("metric"),
        F.col("sum_phi_q"),
        *_coref_prf(
            _div(F.col("sum_phi_q"), scale * F.col("n_pred_cl")),
            _div(F.col("sum_phi_q"), scale * F.col("n_gold_cl")),
        ),
        F.col("star_violations"),
    )


def ceaf_phi4_star_quantized(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """F6 — CEAFφ4 under the STAR-COMPONENT reduction, cross-engine exact
    (the oracle-gateable CEAF twin; generic optimal assignment stays in
    ceaf_phi4_metrics with its brute-force pytest pin).

    Validity: when every intersection component contains exactly one gold
    cluster — true BY CONSTRUCTION for this engine's surface-form
    clusterings, where a pred cluster is a same-surface gap-segment and the
    gold cluster per (conv, surface) is unique (same invariant the
    validation_report oracle exploits) — the optimal one-to-one assignment
    degenerates to picking the max-φ4 edge per gold cluster: edges of a
    star never compete for a pred cluster. Agreement with the generic DP is
    pinned in pytest to quantization tolerance.

    Hash-exactness: each φ4 = 2i/(|P|+|G|) term is fixed-point-quantized to
    1e-6 BEFORE the max/sum (the proven B³ recipe, see conll_coref_metrics)
    so both engines aggregate identical int64s; the final P/R/F1 divisions
    are single IEEE ops on identical integers. Eager like the rest of the
    metric family.

    Runtime guard (r4 VERDICT #4): the invariant is CHECKED, not assumed —
    `star_violations` counts pred clusters intersecting more than one gold
    cluster. Zero such preds ⟺ every intersection component contains
    exactly one gold cluster (two gold clusters can only share a component
    through a pred that touches both), so on arbitrary cluster tables a
    nonzero count flags the result as an approximation instead of passing
    it off as exact — same skip-and-flag convention as ceaf_phi4_metrics'
    `wide_components`. `conll_average_star` fails loud on it (the
    published composite must never silently embed an approximate term).
    Costs one extra aggregation over the (candidate-pair-sized)
    intersection table; no additional corpus scan."""
    with _overlap(pred, gold) as o:
        return _eager(_ceaf_star_row(o))


def _f1_by_metric(rows: DataFrame) -> dict[str, float]:
    return {r["metric"]: r["f1"] for r in rows.collect()}


def conll_average_star(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """The full CoNLL coref average with the CEAF term supplied by the
    star-reduction twin — every component cross-engine exact, so the
    reference's published number ('conll_coref_f1', dygie/models/
    coref.py:15-16) finally gets a hash-green oracle row (the generic-DP
    `conll_average` stays as the rows-only quality path). Same integer-mean
    recipe as conll_average_no_ceaf: each 4-decimal F1 requantizes to 1e-4
    units and the mean is one IEEE division of exact integers."""
    with _overlap(pred, gold) as o:
        rows = _f1_by_metric(_conll_rows(o))
        ceaf_row = _ceaf_star_row(o).collect()[0]
    if ceaf_row["star_violations"] > 0:
        raise ValueError(
            f"{ceaf_row['star_violations']} pred clusters intersect more "
            "than one gold cluster: the star reduction's CEAF term would "
            "be an approximation, and the published CoNLL average must "
            "not silently embed one — use conll_average (generic-DP CEAF) "
            "for this clustering"
        )
    muc, b3, ceaf = float(rows["muc"]), float(rows["b3"]), float(ceaf_row["f1"])
    return pred.sparkSession.createDataFrame(
        [(_int_mean(muc, b3, ceaf), muc, b3, ceaf)],
        "conll_coref_f1_star double, muc_f1 double, b3_f1 double, ceaf_star_f1 double",
    )


def conll_average(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """The reference's published coref number: the unweighted mean of MUC,
    B³ and CEAFφ4 F1 (dygie/models/coref.py:15-16 'conll_coref_f1').
    `wide_components` > 0 marks the CEAF term as a greedy lower bound
    (see ceaf_phi4_metrics)."""
    with _overlap(pred, gold) as o:
        parts = _eager(_conll_rows(o)).where(F.col("metric").isin("muc", "b3"))
        ceaf = _eager(_ceaf_row(o))
    both = parts.withColumn(
        "wide_components", F.lit(0).cast("bigint")
    ).unionByName(ceaf)
    return both.agg(
        F.round(F.avg("f1"), 4).alias("conll_coref_f1"),
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.sum("wide_components").cast("bigint").alias("wide_components"),
    )


def conll_average_no_ceaf(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """The SQL-expressible part of the CoNLL average: the unweighted mean
    of MUC and B³ F1 only (CEAFφ4 needs optimal assignment, which no SQL
    oracle can replicate — it stays pytest-pinned in ceaf_phi4_metrics).

    Hash-exactness across engines: the two F1 terms are already 4-decimal
    doubles; each is requantized to an integer number of 1e-4 units and the
    mean is computed as one IEEE division of exact integers — both engines
    divide the SAME integers, so the resulting double is bit-identical (no
    round() tie-breaking in play)."""
    with _overlap(pred, gold) as o:
        rows = _f1_by_metric(_conll_rows(o))
    muc, b3 = float(rows["muc"]), float(rows["b3"])
    return pred.sparkSession.createDataFrame(
        [(_int_mean(muc, b3), muc, b3)],
        "conll_avg_no_ceaf double, muc_f1 double, b3_f1 double",
    )
