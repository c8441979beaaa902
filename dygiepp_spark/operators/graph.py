"""Distributed connected components over an edge DataFrame.

Used for coreference cluster formation (E4) and cross-mention
canonicalization (coref ∪ alias edges). The reference forms clusters by a
sequential greedy walk (reference: dygie/models/coref.py:387-459); because
every span emits at most one antecedent edge the edge set is a forest, and
connected components produce exactly the greedy clusters — order-independent
(equivalence pinned by a pytest).

Algorithm: the alternating large-star / small-star method (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public algorithm,
also the basis of GraphFrames' implementation):

  large-star: every node connects its strictly-larger neighbors to the
              minimum of its closed neighborhood;
  small-star: every node connects its smaller-or-equal neighbors (and
              itself) to that minimum.

Each round is two groupBy shuffles; converges in O(log n) rounds even on
long path graphs (naive min-propagation is O(diameter) — measurably
pathological on same-surface mention chains). Lineage is cut per round with
localCheckpoint so plans stay bounded at 10^12-edge scale. No GraphFrames
dependency — plain DataFrame ops, ships with --py-files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """Edges (u,v) → for each node, link larger neighbors to the min of the
    closed neighborhood. One window shuffle (not groupBy + re-join: the
    window reuses the hash partitioning it creates). Output may carry
    duplicate pairs ON PURPOSE: the only consumer is `_small_star`, whose
    min-window is duplicate-insensitive and whose final distinct dedups —
    dropping the dedup shuffle here is a measured ~17% win per CC round
    (2M-edge anchor graph, BENCH.md kg_big)."""
    from pyspark.sql import Window

    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Edges oriented big→small; link each node's small neighbors and itself
    to the minimum small neighbor.

    (r7 note: emitting the two output orientations through one explode
    instead of this union was A/B-measured ~20% SLOWER per round at the
    2M-edge anchor — the generator breaks whole-stage codegen around the
    window, which costs more than the duplicated window evaluation — so
    the union stays.)"""
    from pyspark.sql import Window

    directed = e.select(
        F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
    ).where(F.col("a") != F.col("b"))
    w = Window.partitionBy("a")
    linked = directed.withColumn("m", F.min("b").over(w))
    out = linked.select(F.col("b").alias("u"), F.col("m").alias("v")).unionByName(
        linked.select(F.col("a").alias("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def union_find(pairs) -> dict:
    """{node: min member of its component} over undirected `pairs` of
    orderable nodes, in first-seen node order. Path compression, and each
    union parents the larger root under the smaller, so a root is always
    its component's min member. The one in-worker union-find: grouped
    components, the model pass's coreference and CEAF's matching
    components use it."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def connected_components_grouped(
    edges: DataFrame,
    group_col: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components for graphs that are UNIONS OF SMALL GRAPHS keyed
    by `group_col` (e.g. within-conversation coref: edges never cross
    conversations). One groupBy shuffle + per-group union-find in a pandas
    UDF — no iterative rounds at all. The generic iterative algorithm below
    is for graphs without such a key (cross-document canonicalization).

    Per-group edge counts must fit one task (true for conversations;
    nothing splits a larger group). Returns (group, node, component),
    component = min node id in the component.
    """
    import pandas as pd

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        comp = union_find(zip(pdf["u"], pdf["v"]))
        out = pd.DataFrame({"node": list(comp.keys()), "component": list(comp.values())})
        out.insert(0, "group", pdf["group"].iloc[0])
        return out

    typed = edges.select(
        F.col(group_col).alias("group"), F.col(src).alias("u"), F.col(dst).alias("v")
    ).where(F.col("u") != F.col("v"))
    node_type = dict(typed.dtypes)["u"]
    return typed.groupBy("group").applyInPandas(
        uf, schema=f"group string, node {node_type}, component {node_type}"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    single_task_max_edges: int = 0,
) -> DataFrame:
    """Return (node, component) with component = min node id in the component.

    `edges` needs two same-typed, orderable columns `src`, `dst` (ints or
    strings). Isolated nodes don't appear; callers left-join and coalesce to
    self. Deterministic: the component id is the minimum member.

    ``single_task_max_edges`` > 0 enables a measured-size fast path: the
    iterative rounds pay a fixed ~10-job latency floor regardless of data
    (measured 37–42 s on a 1M-edge giant-component graph where the
    one-shuffle single-task union-find finishes in ~7 s — BENCH.md
    kg_big), so below the threshold the edge set (distinct, so the count
    is the true size) runs `connected_components_grouped` under a
    constant group — same min-member contract. 0 (the default) always
    iterates: the threshold is a per-caller policy (one task must hold
    the edges in memory), not a property of the algorithm."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    if single_task_max_edges > 0:
        # lazy checkpoint shared by the probe and the chosen branch — the
        # upstream lineage (often a full canonicalization) runs once
        e = e.localCheckpoint(eager=False)
        if e.count() <= single_task_max_edges:
            return connected_components_grouped(
                e.withColumn("_g", F.lit("_")), "_g", src="u", dst="v"
            ).select("node", "component")
    nodes = e.select(F.col("u").alias("node")).unionByName(
        e.select(F.col("v").alias("node"))
    ).distinct().localCheckpoint(eager=False)

    def fingerprint(df: DataFrame):
        # one cheap agg job per round instead of two exceptAll shuffles
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).head()
        return (row["n"], row["h"])

    fp = None
    prev = None
    for _ in range(max_iter):
        # lazy checkpoint: the fingerprint action below materializes it —
        # one job per round instead of two, lineage still truncated
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # converged when the edge set is stable (star graphs are fixed
        # points of both transforms); edge sets are distinct() so a
        # (count, hash-sum) fingerprint detects any change
        fp2 = fingerprint(e2)
        if prev is not None:
            # release the superseded round's checkpoint blocks (r7): each
            # localCheckpoint pins its RDD in executor memory; without the
            # unpersist a long convergence run accumulates every round's
            # edge set. Only loop-created checkpoints are released (never
            # the caller's input); the final round's blocks stay — the
            # result reads them.
            prev.unpersist()
        prev = e = e2
        if fp2 == fp:
            break
        fp = fp2

    # fixed point = forest of depth-1 stars: u→root edges; roots map to self
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = nodes.join(
        comp.select(F.col("node").alias("n2")), nodes["node"] == F.col("n2"), "left_anti"
    ).select("node", F.col("node").alias("component"))
    return comp.unionByName(roots)


def merge_components(
    mapping: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    single_task_max_edges: int = 2_000_000,
) -> DataFrame:
    """Incremental connected-components maintenance: fold a NEW edge batch
    into an existing (node, component) mapping without re-running CC over
    the full graph — the graph twin of the canonical-store MERGE
    (canonicalize.merge_canonical).

    Contract (pinned in tests/test_kg.py): for any split of the edge set
    into batches, ``merge_components(cc(batch_0), batch_1 ∪ …)`` ≡
    ``cc(all edges)`` — component ids stay "min member", so incremental
    daily ingest reproduces the full recompute exactly.

    Why it is correct: old components are maximal connected sets, so a
    new edge can merge components but old edges never connect a touched
    component to an untouched one. Contracting each touched component to
    a star (member → component id, the id being a member itself)
    preserves its connectivity; CC over (touched stars ∪ new edges)
    therefore yields the same partition and the same min-member ids as
    the full graph restricted to those nodes, and untouched rows pass
    through verbatim.

    Scale: the delta's node set and the touched-component id set are
    BROADCAST (both are delta-sized, ≪ mapping); the untouched pass-through
    is one broadcast anti-join (no shuffle of the mapping table); CC reruns
    only on touched-star ∪ delta edges — work is proportional to the delta
    and the components it touches, not to the 10^12-turn accumulated graph.
    The subgraph CC picks its physical strategy by measured size: a daily
    delta's subgraph is normally tiny relative to the store, and the
    iterative algorithm's per-round latency floor (~10 jobs regardless of
    data) dwarfs the work, so up to `single_task_max_edges` it runs the
    one-shuffle single-task union-find (`connected_components_grouped`
    with a constant group — same min-member contract); only a delta
    touching a giant component falls back to the iterative rounds. The
    size probe and the chosen branch each evaluate the touched-star join
    once — callers keep `mapping` persisted (it is the stored state)."""
    e = (
        new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    delta_nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    touched_ids = (
        mapping.join(F.broadcast(delta_nodes), "node", "semi")
        .select("component")
        .distinct()
        # r7: the id set is read by THREE consumers (touched semi, untouched
        # anti, and both again in the final execution after the size probe);
        # without the checkpoint each broadcast build re-scans the mapping.
        # Delta-sized by construction, so pinning it is cheap.
        .localCheckpoint(eager=False)
    )
    touched = mapping.join(F.broadcast(touched_ids), "component", "semi")
    untouched = mapping.join(F.broadcast(touched_ids), "component", "left_anti")
    star = touched.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("u"), F.col("component").alias("v")
    )
    # lazy localCheckpoint: the size probe below materializes it, so the
    # chosen branch (and the upstream mapping joins + delta lineage) is
    # evaluated exactly once — sub_edges is delta-scale by construction
    sub_edges = star.unionByName(e).localCheckpoint(eager=False)
    if sub_edges.count() <= single_task_max_edges:
        sub_cc = connected_components_grouped(
            sub_edges.withColumn("_g", F.lit("_")), "_g", src="u", dst="v"
        ).select("node", "component")
    else:
        sub_cc = connected_components(sub_edges, src="u", dst="v", max_iter=max_iter)
    # singleton touched components survive only if they are in the delta's
    # node set (they always are: their sole member is what got touched),
    # so sub_cc covers every touched node and every brand-new node
    return untouched.unionByName(sub_cc)
