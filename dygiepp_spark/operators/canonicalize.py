"""Entity linking + canonicalization (north-star extension; not in the
reference — SURVEY.md §7 phase 3).

Mentions are linked against a broadcast alias dictionary; unlinked surfaces
fall back to a deterministic surface-derived id. Canonical (subj, pred,
obj) triples are the deduplicated rewrite of the extracted triples.

Scale: the alias dictionary is small by construction → explicit
``F.broadcast`` so the link join never shuffles the triple table; the final
dedup is one partial-agg shuffle on the canonical triple key, partitioned by
hash — skewed predicates are handled by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# Deliberate merges + collisions (FIXTURES.md §4): two surfaces → one id.
ALIASES: dict[str, str] = {
    "row": "ENT_RECORD",
    "line": "ENT_RECORD",
    "data": "ENT_DATASET",
    "stream": "ENT_DATASET",
    "order": "ENT_ORDER",
    "customer": "ENT_CUSTOMER",
}


def alias_dict(spark: SparkSession) -> DataFrame:
    # Built from pandas so the plan is a LocalRelation, not a Python-RDD
    # scan: createDataFrame(list) yields LogicalRDD, and every execution
    # that broadcasts it then launches a Python-worker job per broadcast
    # build (two per canonical_triples run — measured as a fixed ~0.5 s of
    # driver latency that dominates short wide-cluster runs). A
    # LocalRelation broadcast collects driver-side with no job, and the
    # two link joins' identical subtrees canonicalize equal, so the
    # exchange is built once and reused.
    import pandas as pd

    rows = [(k, v) for k, v in sorted(ALIASES.items())]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["surface_form", "canonical_id"])
    )


def link_surface(df: DataFrame, surface_col: str, out_col: str, aliases: DataFrame) -> DataFrame:
    """Broadcast-join entity link: alias hit → canonical_id, miss →
    'ENT_' + upper(surface) (case-insensitive match)."""
    a = aliases.select(
        F.lower(F.col("surface_form")).alias("_sf"), F.col("canonical_id").alias("_cid")
    )
    return (
        df.join(F.broadcast(a), F.lower(F.col(surface_col)) == F.col("_sf"), "left")
        .withColumn(
            out_col,
            F.coalesce(
                F.col("_cid"),
                F.concat(F.lit("ENT_"), F.upper(F.regexp_replace(surface_col, " ", "_"))),
            ),
        )
        .drop("_sf", "_cid")
    )


def canonical_triples(triples: DataFrame, aliases: DataFrame) -> DataFrame:
    """Rewrite triples to canonical ids and deduplicate with support counts."""
    linked = link_surface(triples, "subj_surface", "subj_canonical", aliases)
    linked = link_surface(linked, "obj_surface", "obj_canonical", aliases)
    return (
        linked.groupBy("subj_canonical", "pred", "obj_canonical")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_support"))
    )


def merge_canonical(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """Incremental canonical-triple-store maintenance — the EXECUTABLE
    batch twin of the Iceberg MERGE (sources/iceberg.py:
    canonical_triples_merge_sql, same key/accumulator contract imported
    from there): matched keys accumulate n_support, unmatched insert.

    Algebraic contract, pinned in tests/test_canonicalize.py:
    ``merge_canonical(canonical(A), canonical(B)) ≡ canonical(A ∪ B)`` —
    support counts are associative, so incremental maintenance over any
    batch split reproduces the full recompute exactly. At scale this is
    one partial-agg shuffle over existing ∪ updates; the Iceberg MERGE
    form additionally avoids rewriting untouched files, but the EMITTED
    TABLE is identical, which is what this operator proves in-sandbox
    where the runtime jar is absent."""
    from dygiepp_spark.sources.iceberg import MERGE_ACCUM_COL, MERGE_KEY_COLS

    keys = list(MERGE_KEY_COLS)
    cols = keys + [MERGE_ACCUM_COL]
    for df, name in ((existing, "existing"), (updates, "updates")):
        missing = set(cols) - set(df.columns)
        if missing:
            raise ValueError(f"{name} is missing merge columns {sorted(missing)}")
    return (
        existing.select(cols)
        .unionByName(updates.select(cols))
        .groupBy(keys)
        .agg(F.sum(MERGE_ACCUM_COL).cast("bigint").alias(MERGE_ACCUM_COL))
    )


def canonical_triples_temporal(
    triples: DataFrame, turn_times: DataFrame, aliases: DataFrame
) -> DataFrame:
    """Valid-time canonical triple store: canonical (subj, pred, obj) with
    support count AND the event-time envelope — ``first_seen_ts`` /
    ``last_seen_ts`` from the emitting turns' ``ts`` column (the
    transcript schema's event time, which the batch KG otherwise
    ignores; streaming/ already watermarks on it). A transcript KG needs
    this on day one: relation freshness/staleness, entity-drift windows,
    and time-sliced KG views all read the envelope, not the raw corpus.

    ``turn_times`` is any relation carrying (conv_id, turn_idx, ts) —
    normally the turns table itself; only those three columns are read,
    so column pruning reaches the scan. Plan: the same two broadcast
    alias joins as `canonical_triples`, one equi-join to attach ts on
    (conv_id, turn_idx) — both sides hash-partitioned on the same key,
    AQE handles skew — and ONE partial-agg shuffle on the triple key
    (count/min/max all combine map-side)."""
    linked = link_surface(triples, "subj_surface", "subj_canonical", aliases)
    linked = link_surface(linked, "obj_surface", "obj_canonical", aliases)
    with_ts = linked.join(
        turn_times.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
    )
    return with_ts.groupBy("subj_canonical", "pred", "obj_canonical").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_support"),
        F.min("ts").alias("first_seen_ts"),
        F.max("ts").alias("last_seen_ts"),
    )


def canonical_triples_asof(
    triples: DataFrame, turn_times: DataFrame, aliases: DataFrame, as_of_ts: str
) -> DataFrame:
    """Time-travel snapshot of the valid-time store: the canonical table
    recomputed AS OF ``as_of_ts`` — only evidence from turns with
    ``ts <= as_of_ts`` counts. The inner join against the cut turn table
    drops post-cutoff support, so ``n_support`` and the envelope are
    exact as-of values; the accumulated store's envelope alone cannot
    provide this (MIN/MAX accumulators don't subtract — existence at T is
    ``first_seen_ts <= T``, but as-of support needs the corpus or the
    streaming store's per-snapshot history).

    Plan: the cutoff is a plain predicate on the turn table's event-time
    column — it pushes down to the scan (and, on the production Iceberg
    layout partitioned by ingest day, prunes partitions), so the join
    reads only the pre-cutoff slice. When extracting fresh rather than
    snapshotting a materialized triple table, filter the turns BEFORE
    inference instead — same predicate, applied one stage earlier."""
    cut = turn_times.where(F.col("ts") <= F.to_timestamp(F.lit(as_of_ts)))
    return canonical_triples_temporal(triples, cut, aliases)


def merge_canonical_temporal(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """Incremental maintenance of the valid-time store: matched keys
    accumulate support AND widen the time envelope (min of first-seens,
    max of last-seens), unmatched insert. SUM/MIN/MAX are all
    associative and commutative, so the `merge_canonical` contract
    extends verbatim: fold-merge over any K-way batch split ≡ full
    recompute (pinned in tests/test_canonicalize.py). The Iceberg MERGE
    twin gains two accumulator columns
    (``first_seen_ts = least(t.first_seen_ts, s.first_seen_ts)``,
    ``last_seen_ts = greatest(...)``) — same one-shuffle batch shape."""
    from dygiepp_spark.sources.iceberg import MERGE_ACCUM_COL, MERGE_KEY_COLS

    keys = list(MERGE_KEY_COLS)
    cols = keys + [MERGE_ACCUM_COL, "first_seen_ts", "last_seen_ts"]
    for df, name in ((existing, "existing"), (updates, "updates")):
        missing = set(cols) - set(df.columns)
        if missing:
            raise ValueError(f"{name} is missing merge columns {sorted(missing)}")
    return (
        existing.select(cols)
        .unionByName(updates.select(cols))
        .groupBy(keys)
        .agg(
            F.sum(MERGE_ACCUM_COL).cast("bigint").alias(MERGE_ACCUM_COL),
            F.min("first_seen_ts").alias("first_seen_ts"),
            F.max("last_seen_ts").alias("last_seen_ts"),
        )
    )


def deletion_variants(col) -> "F.Column":
    """``{s} ∪ D1(s)`` — the string plus every single-character deletion,
    lowercased and deduplicated. Two strings at edit distance ≤ 1 always
    share a variant (s = t; t ∈ D1(s); s ∈ D1(t); or D1 at the substituted
    position coincides), so an equi-join on variants is a complete blocking
    key for distance-1 matches — the FastSS deletion-neighborhood scheme.

    Pure array algebra: |s|+1 variants per string, no shuffle.
    """
    s = F.lower(col)
    dels = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            s.substr(F.lit(1), i - F.lit(1)),
            s.substr(i + F.lit(1), F.length(s) - i),
        ),
    )
    # sequence(1, 0) would yield [1, 0] (Spark infers step -1): guard empties
    return F.when(F.length(s) == 0, F.array(s)).otherwise(
        F.array_distinct(F.concat(F.array(s), dels))
    )


def fuzzy_alias_map(surfaces: DataFrame, aliases: DataFrame) -> DataFrame:
    """Distance-≤1 surface→canonical mapping via deletion-neighborhood
    blocking + exact Levenshtein verify.

    ``surfaces`` has one column ``surface`` (distinct, lowercase). Returns
    (surface, matched_alias, canonical_id, dist) — at most one row per
    surface, tie-broken deterministically by (dist, matched_alias,
    canonical_id) ascending, so an exact hit always beats a fuzzy one.

    Scale: the variant explode runs over DISTINCT surfaces (vocabulary-
    bounded, not corpus-bounded) and the alias side is broadcast — the
    candidate join is an equi-join on the variant key, never a cross join;
    Levenshtein runs on candidates only.
    """
    sv = surfaces.select(
        F.col("surface").alias("_surf"),
        F.explode(deletion_variants(F.col("surface"))).alias("_var"),
    )
    av = aliases.select(
        F.lower(F.col("surface_form")).alias("_asf"),
        F.col("canonical_id").alias("_cid"),
    ).select("_asf", "_cid", F.explode(deletion_variants(F.col("_asf"))).alias("_var"))
    cand = (
        sv.join(F.broadcast(av), "_var")
        .select("_surf", "_asf", "_cid")
        .distinct()
        .withColumn("_dist", F.levenshtein("_surf", "_asf"))
        .where(F.col("_dist") <= 1)
    )
    best = cand.groupBy("_surf").agg(
        F.min(F.struct("_dist", "_asf", "_cid")).alias("_b")
    )
    return best.select(
        F.col("_surf").alias("surface"),
        F.col("_b._asf").alias("matched_alias"),
        F.col("_b._cid").alias("canonical_id"),
        F.col("_b._dist").cast("bigint").alias("dist"),
    )


def link_surface_fuzzy(
    df: DataFrame, surface_col: str, out_col: str, aliases: DataFrame
) -> DataFrame:
    """Typo-tolerant entity link: exact alias hit → canonical_id; else a
    distance-1 alias hit (deterministic tie-break); else the same
    'ENT_' + upper(surface) fallback as :func:`link_surface`.

    The mapping is resolved once over the distinct surfaces and joined
    back — the per-mention table is never variant-exploded.
    """
    surf = df.select(F.lower(F.col(surface_col)).alias("surface")).distinct()
    mapping = fuzzy_alias_map(surf, aliases).select(
        F.col("surface").alias("_surf"), F.col("canonical_id").alias("_fcid")
    )
    return (
        df.join(mapping, F.lower(F.col(surface_col)) == F.col("_surf"), "left")
        .withColumn(
            out_col,
            F.coalesce(
                F.col("_fcid"),
                F.concat(
                    F.lit("ENT_"), F.upper(F.regexp_replace(surface_col, " ", "_"))
                ),
            ),
        )
        .drop("_surf", "_fcid")
    )


def canonical_triples_fuzzy(triples: DataFrame, aliases: DataFrame) -> DataFrame:
    """Canonical triples with typo-tolerant linking on both endpoints —
    :func:`canonical_triples` with :func:`link_surface_fuzzy` in the link
    slot. Same one-shuffle dedup shape."""
    linked = link_surface_fuzzy(triples, "subj_surface", "subj_canonical", aliases)
    linked = link_surface_fuzzy(linked, "obj_surface", "obj_canonical", aliases)
    return linked.groupBy("subj_canonical", "pred", "obj_canonical").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_support")
    )


def canonicalize_with_coref(
    triples: DataFrame, clusters: DataFrame, aliases: DataFrame
) -> DataFrame:
    """Full north-star canonicalization: components over (coref ∪ alias)
    evidence. A mention inherits its coref cluster's canonical id — the id
    of the cluster-representative surface (min doc_pos member) — then alias
    linking applies on top. Conversation-local rewrite, global dedup.

    The representative is a window aggregate over the cluster, not an
    aggregate joined back to its members: `clusters` (a Python kernel on
    the default coref path) then feeds one plan node and runs once."""
    members = clusters.select(
        "conv_id",
        "turn_idx",
        "start",
        F.min_by("surface", "doc_pos")
        .over(Window.partitionBy("conv_id", "cluster_id"))
        .alias("rep_surface"),
    )
    t = triples
    for side in ("subj", "obj"):
        m = members.select(
            "conv_id",
            "turn_idx",
            F.col("start").alias(f"{side}_start"),
            F.col("rep_surface").alias(f"_{side}_rep"),
        )
        t = t.join(m, on=["conv_id", "turn_idx", f"{side}_start"], how="left")
        t = t.withColumn(
            f"{side}_surface", F.coalesce(F.col(f"_{side}_rep"), F.col(f"{side}_surface"))
        ).drop(f"_{side}_rep")
    return canonical_triples(t, aliases)
