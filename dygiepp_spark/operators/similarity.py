"""Similarity search over embedding columns.

Two paths, as a 100 TB pipeline needs:
- brute-force top-k (the correctness baseline): the collected query set
  against every corpus batch as one exact int64 matmul. Quadratic; used
  for small query sets and for validating the approximate path.
- sign-LSH bucketed ANN (the scale path): deterministic integer hyperplanes
  → bucket signature → candidates share a bucket, so the join is
  equi-partitioned and linear-ish in bucket sizes.

Portability: embeddings are quantized to integers (floor(x·1000)) so dot
products are exact 64-bit integers — bitwise identical in the DuckDB
oracle. A float cosine variant (pandas UDF, numpy-batched) is provided for
real use where cross-engine exactness doesn't matter.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType

QUANT_SCALE = 1000
N_HYPERPLANES = 8


def _n2_bound(threshold_den: int) -> int:
    """Largest per-vector squared norm (over quantized components) for which
    the integer cosine predicate den²·dot² ≥ num²·n2a·n2b cannot overflow
    int64. By Cauchy–Schwarz dot² ≤ n2a·n2b, so with num ≤ den both sides
    are ≤ den²·n2_max² once every vector satisfies n2 ≤ n2_max; solving
    den²·n2_max² ≤ 2⁶³−1 gives the bound. With den = 10 this is ≈ 3.03e8 —
    at dim 64 / QUANT_SCALE 1000 that admits component magnitudes up to
    ~2.17 uniformly (more if mass is concentrated), and anything beyond
    fails LOUDLY in both engines instead of wrapping in Spark while raising
    in DuckDB (r3 ADVICE: the hash-exactness claim must hold by
    construction)."""
    return math.isqrt((2**63 - 1) // (threshold_den * threshold_den))


def quantize(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """embedding float[] → q int64[]: floor(x·1000) with the product in the
    element type, as the DuckDB oracle computes it (FLOAT * INT stays
    FLOAT there). Spark would widen FLOAT * INT to DOUBLE, where a
    component such as 1.504f floors to 1503 instead of 1504, so the scale
    is a FLOAT literal (a DOUBLE element still multiplies in DOUBLE)."""
    scale = F.lit(QUANT_SCALE).cast("float")
    return emb.withColumn(
        "q", F.transform(F.col(vec_col), lambda x: F.floor(x * scale).cast("bigint"))
    )


def _quantize_local(vectors, ftype=np.float32) -> np.ndarray:
    """numpy twin of `quantize` for elements of numpy type `ftype`."""
    return np.floor(np.array(vectors, dtype=ftype) * ftype(QUANT_SCALE)).astype(np.int64)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def dot_topk(
    emb: DataFrame,
    k: int = 3,
    n_queries: int = 32,
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force integer-dot top-k: for each query vec (id < n_queries),
    the k corpus vectors with the largest dot product (self excluded),
    deterministic tie-break on neighbor id.

    The (bounded) query side is collected and the integer dot products
    are computed as one exact int64 matmul per Arrow batch — guide §4.2:
    a zip_with+aggregate JVM dot ran ~4M interpreted lambda evaluations
    for 32×2000 pairs (~10 s CPU at sf0.1). Each batch prunes to its own
    top-k per query (exact under the (dot desc, nid asc) total order), so
    the final window ranks only partitions×queries×k rows. floor(x·1000)
    quantization (in the element type, see `_quantize_local`) and int64
    wraparound match the DuckDB arithmetic bit-for-bit; rows equal the
    ``embedding_dot_topk`` oracle leaf's."""
    if n_queries > 65536:
        raise ValueError(
            f"n_queries={n_queries}: the query matrix is collected to the driver "
            "and broadcast; cap it (or tile the query set) before scaling up"
        )
    rows = emb.where(F.col(id_col) < n_queries).select(id_col, "embedding").collect()
    qids = np.array([r[id_col] for r in rows], dtype=np.int64)
    elem = emb.schema["embedding"].dataType.elementType
    ftype = np.float64 if isinstance(elem, DoubleType) else np.float32
    qm = _quantize_local([r["embedding"] for r in rows], ftype)
    sc = emb.sparkSession.sparkContext
    bq = sc.broadcast((qids, qm))
    kk = int(k)

    def score(batches):
        bqids, bqm = bq.value
        nq = len(bqids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _quantize_local(pdf["embedding"].tolist(), ftype)
            nid = pdf["vec_id"].to_numpy()
            dots = bqm @ cm.T  # exact int64, wraparound == JVM long
            out_q, out_n, out_d = [], [], []
            for qi in range(nq):
                mask = nid != bqids[qi]
                cand_n, cand_d = nid[mask], dots[qi][mask]
                take = np.lexsort((cand_n, -cand_d))[:kk]
                out_q.append(np.full(len(take), bqids[qi], dtype=np.int64))
                out_n.append(cand_n[take])
                out_d.append(cand_d[take])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q) if out_q else np.empty(0, dtype=np.int64),
                    "nid": np.concatenate(out_n) if out_n else np.empty(0, dtype=np.int64),
                    "dot": np.concatenate(out_d) if out_d else np.empty(0, dtype=np.int64),
                }
            )

    scored = emb.select(F.col(id_col).alias("vec_id"), "embedding").mapInPandas(
        score, schema="qid long, nid long, dot long"
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").cast("bigint").alias("vec_id"),
            F.col("rank").cast("bigint"),
            F.col("nid").cast("bigint").alias("neighbor_id"),
            F.col("dot").cast("bigint"),
        )
    )


def cosine_topk_quantized(
    emb: DataFrame, k: int = 3, n_queries: int = 32, id_col: str = "vec_id"
) -> DataFrame:
    """Cosine top-k with cross-engine-exact ordering (the oracle-gated twin
    of cosine_topk_pandas): dots and squared norms are exact int64 over the
    quantized vectors; the cosine sort key dot/sqrt(nq²·nn²) is one IEEE
    multiply + sqrt + divide on identical inputs, so Spark and DuckDB
    compute bit-identical keys and therefore identical ranks (ties broken
    by neighbor id). Output is all-integer: (vec_id, rank, neighbor_id,
    dot, norm2) — hash-exact in the gate."""
    base = quantize(emb, "embedding").select(F.col(id_col).alias("id"), "q")
    base = base.withColumn("n2", _dot(F.col("q"), F.col("q")))
    qs = base.where(F.col("id") < n_queries).select(
        F.col("id").alias("qid"), F.col("q").alias("qv"), F.col("n2").alias("qn2")
    )
    cs = base.select(
        F.col("id").alias("nid"), F.col("q").alias("nv"), F.col("n2").alias("nn2")
    )
    scored = (
        F.broadcast(qs)
        .join(cs, F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            "nn2",
            _dot(F.col("qv"), F.col("nv")).alias("dot"),
            (
                F.col("qn2").cast("double") * F.col("nn2").cast("double")
            ).alias("_n2prod"),
        )
        .withColumn("_key", F.col("dot") / F.sqrt(F.col("_n2prod")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("_key").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").cast("bigint").alias("vec_id"),
            F.col("rank").cast("bigint"),
            F.col("nid").cast("bigint").alias("neighbor_id"),
            F.col("dot").cast("bigint"),
            F.col("nn2").cast("bigint").alias("neighbor_norm2"),
        )
    )


def hyperplane(j: int, dim: int):
    """Deterministic integer hyperplane j (values in [-3, 3])."""
    return [((j * 131 + d * 31) % 7) - 3 for d in range(dim)]


def _bucket_expr(dim: int):
    """Sign-LSH bucket as ONE column expression over the quantized vector
    column `q` — bit j = [dot(q, hyperplane_j) > 0]. Pure projection: no
    join, no extra scan."""
    bucket = F.lit(0).cast("bigint")
    for j in range(N_HYPERPLANES):
        h = F.array(*[F.lit(v) for v in hyperplane(j, dim)])
        bucket = bucket + F.when(_dot(F.col("q"), h) > 0, F.lit(1 << j)).otherwise(0)
    return bucket


def lsh_buckets(emb: DataFrame, dim: int = 64, id_col: str = "vec_id") -> DataFrame:
    """Sign-LSH bucket per vector — a single projection over one corpus
    scan (the r3 rewrite removed a pointless self-join that multiplied
    scans through every downstream embedding operator)."""
    return quantize(emb, "embedding").select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        _bucket_expr(dim).alias("bucket"),
    )


def ann_topk_bucketed(
    emb: DataFrame, k: int = 3, id_col: str = "vec_id", dim: int = 64
) -> DataFrame:
    """Approximate top-k: candidates restricted to the same LSH bucket.
    The scale path — the candidate join is an equi-join on bucket."""
    q = quantize(emb, "embedding").select(
        F.col(id_col).cast("bigint").alias("vec_id"), "q"
    ).withColumn("bucket", _bucket_expr(dim))
    a = q.select(F.col("vec_id").alias("qid"), F.col("q").alias("qv"), "bucket")
    c = q.select(F.col("vec_id").alias("nid"), F.col("q").alias("nv"), "bucket")
    scored = (
        a.join(c, on="bucket")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", _dot(F.col("qv"), F.col("nv")).alias("dot"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("vec_id"), F.col("rank").cast("bigint"),
            F.col("nid").alias("neighbor_id"), "dot",
        )
    )


def ivf_assignments(
    emb: DataFrame,
    n_lists: int = 16,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic k-means over quantized vectors.

    Seeds = the n_lists lowest vec_ids; each Lloyd iteration assigns every
    vector to its max-dot centroid (broadcast join — centroids are tiny)
    and recomputes centroids as floor(mean) (integer, so the whole
    structure is bitwise deterministic). Returns (assignments(vec_id,
    list_id), centroids(list_id, cv)).

    Scale: one broadcast join + one groupBy per iteration over the corpus;
    the inverted lists are then hash-partitioned by list_id, which is the
    IVF search property — queries touch nprobe lists, not the corpus.
    """
    from pyspark import StorageLevel

    from dygiepp_spark.plans import cache

    # q feeds every Lloyd iteration, the seed centroids, the query side and
    # the corpus join — unpersisted, each branch re-scans the corpus
    # (measured: 8 scans in the ivf_topk plan). Tracked for release.
    q = cache.track(
        quantize(emb, "embedding")
        .select(F.col(id_col).cast("bigint").alias("vec_id"), "q")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    centroids = (
        q.orderBy("vec_id").limit(n_lists)
        .select(F.col("vec_id").alias("list_id"), F.col("q").alias("cv"))
    )
    assign = None
    for _ in range(max(lloyd_iterations, 1)):
        scored = q.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "q", "list_id", _dot(F.col("q"), F.col("cv")).alias("cdot")
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("cdot").desc(), F.col("list_id"))
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "q", "list_id")
        )
        # integer centroid update: floor of per-dimension mean
        centroids = (
            assign.select(
                "list_id", F.posexplode("q").alias("d", "val")
            )
            .groupBy("list_id", "d")
            .agg(F.floor(F.avg("val")).cast("bigint").alias("m"))
            .groupBy("list_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
                ).alias("cv")
            )
        )
    # the final assignment feeds both the final centroid table and the
    # inverted-list corpus join; persist so neither replays the k-means
    # chain (CacheManager substitutes the cached subtree in the already-
    # derived centroids plan too)
    assign = cache.track(assign.persist(StorageLevel.MEMORY_AND_DISK))
    return assign.select("vec_id", "list_id"), centroids


def ivf_topk(
    emb: DataFrame,
    k: int = 3,
    n_lists: int = 16,
    nprobe: int = 4,
    n_queries: int = 32,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: probe the nprobe best lists per query, exact integer dot
    within the probed lists only. The candidate join is an equi-join on
    list_id — per-query work scales with nprobe/n_lists of the corpus."""
    assign, centroids = ivf_assignments(emb, n_lists, id_col=id_col)
    q = quantize(emb, "embedding").select(
        F.col(id_col).cast("bigint").alias("vec_id"), "q"
    )
    queries = q.where(F.col("vec_id") < n_queries)
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select("vec_id", "q", "list_id", _dot(F.col("q"), F.col("cv")).alias("cdot"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.col("cdot").desc(), F.col("list_id"))
            ),
        )
        .where(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("qid"), F.col("q").alias("qv"), "list_id")
    )
    corpus = q.join(assign, on="vec_id").select(
        F.col("vec_id").alias("nid"), F.col("q").alias("nv"), "list_id"
    )
    # (qid, nid) pairs are already unique: each corpus vector is assigned to
    # exactly one list (rn == 1 above), so a probe meets a neighbor at most
    # once — no distinct needed (a distinct here is a full extra shuffle).
    scored = (
        probes.join(corpus, on="list_id")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", _dot(F.col("qv"), F.col("nv")).alias("dot"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("vec_id"), F.col("rank").cast("bigint"),
            F.col("nid").alias("neighbor_id"), "dot",
        )
    )


def fixed_centroid(j: int, dim: int) -> list[int]:
    """Deterministic integer centroid j (values in [-8, 8]). The j·d cross
    term breaks the translation symmetry that makes `hyperplane` repeat
    with period 7 in j, and the PRIME modulus 17 guarantees distinctness
    for j < 17 (a composite modulus collides: 15 maps j and j+15 to the
    same vector)."""
    return [((j * 997 + d * 131 + j * d * 31) % 17) - 8 for d in range(dim)]


def ivf_topk_fixed(
    emb: DataFrame,
    k: int = 3,
    n_lists: int = 16,
    nprobe: int = 4,
    n_queries: int = 32,
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """IVF ANN with FIXED deterministic integer centroids — the
    oracle-gateable member of the ANN family (r3 VERDICT #3): the iterated
    k-means was the only part of `ivf_topk` DuckDB could not replicate, so
    seeding centroids from `fixed_centroid` makes assignment + nprobe
    probing pure int64 algebra, bit-identical across engines. The k-means
    variant stays as the quality path (pytest recall vs brute force).

    Scale shape is BETTER than the k-means path: list assignment is a
    per-row argmax over the fixed centroid array — a pure projection, NO
    per-vector window shuffle over the corpus (k-means needs one per Lloyd
    iteration). Probing is a per-query sort of the same 16 dots
    (array_sort over (−dot, list_id) structs — ties resolve to the lower
    list_id, matching the oracle's ``ORDER BY cdot DESC, list_id``). The
    only shuffles are the list_id equi-join and the final per-query top-k
    window; per-query work scales with nprobe/n_lists of the corpus."""
    from pyspark import StorageLevel

    from dygiepp_spark.plans import cache

    cents = [fixed_centroid(j, dim) for j in range(n_lists)]
    dots = F.array(
        *[
            _dot(F.col("q"), F.array(*[F.lit(v) for v in cents[j]]))
            for j in range(n_lists)
        ]
    )
    # `dots` is a named column so the argmax and the probe sort below reuse
    # one evaluation instead of re-expanding 16 aggregate expressions (the
    # HOF re-evaluation trap pinned elsewhere in this repo).
    q = cache.track(
        quantize(emb, "embedding")
        .select(F.col(id_col).cast("bigint").alias("vec_id"), "q")
        .withColumn("dots", dots)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    corpus = q.select(
        F.col("vec_id").alias("nid"),
        F.col("q").alias("nv"),
        # argmax with lowest-list tie-break: array_position finds the FIRST
        # occurrence of the max
        (F.array_position(F.col("dots"), F.array_max("dots")) - 1)
        .cast("bigint")
        .alias("list_id"),
    )
    probe_structs = F.array(
        *[
            F.struct(
                (-F.col("dots")[j]).alias("negdot"),
                F.lit(j).cast("bigint").alias("list_id"),
            )
            for j in range(n_lists)
        ]
    )
    probes = (
        q.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("q").alias("qv"),
            F.explode(F.slice(F.array_sort(probe_structs), 1, nprobe)).alias("pr"),
        )
        .select("qid", "qv", F.col("pr.list_id").alias("list_id"))
    )
    # each corpus vector lives in exactly one list, so a probe meets a
    # neighbor at most once — no distinct needed
    scored = (
        probes.join(corpus, on="list_id")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", _dot(F.col("qv"), F.col("nv")).alias("dot"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("rank").cast("bigint"),
            F.col("nid").alias("neighbor_id"),
            "dot",
        )
    )


def cosine_topk_pandas(
    emb: DataFrame, k: int = 3, n_queries: int = 32, id_col: str = "vec_id"
) -> DataFrame:
    """Float cosine top-k via a numpy-batched pandas UDF (the real-use path:
    one matmul per Arrow batch against a broadcast query matrix)."""
    if n_queries > 65536:
        raise ValueError(
            f"n_queries={n_queries}: the query matrix is collected to the driver "
            "and broadcast; cap it (or tile the query set) before scaling up"
        )
    rows = emb.where(F.col(id_col) < n_queries).select(id_col, "embedding").collect()
    qids = np.array([r[id_col] for r in rows])
    qm = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    sc = emb.sparkSession.sparkContext
    bq = sc.broadcast((qids, qm))

    def score(batches):
        bqids, bqm = bq.value
        for pdf in batches:
            cm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            cm /= np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
            sims = bqm @ cm.T  # [n_queries, batch]
            nid = pdf[id_col].to_numpy()
            out = pd.DataFrame(
                {
                    "vec_id": np.repeat(bqids, len(nid)),
                    "neighbor_id": np.tile(nid, len(bqids)),
                    "cosine": sims.ravel(),
                }
            )
            yield out[out["vec_id"] != out["neighbor_id"]]

    scored = emb.select(id_col, "embedding").mapInPandas(
        score, schema="vec_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 10,
    id_col: str = "vec_id",
    dim: int = 64,
    max_bucket: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS — the dedup-by-embedding
    counterpart of the MinHash text path: candidates share a sign-LSH
    bucket (equi-join, cross-join-bomb cap like the text LSH), verified at
    cosine ≥ num/den with EXACT integer arithmetic over the quantized
    vectors:

        cos(a,b) ≥ t  ⟺  dot > 0  ∧  den²·dot² ≥ num²·|a|²·|b|²

    Every operand is int64 (dim·scale² bounded), so the DuckDB oracle
    hash-matches bit-for-bit — no float comparison anywhere. Output
    (vec_a, vec_b, dot, norm2_a, norm2_b) keeps the integer evidence.

    Scale shape: ONE corpus scan — (id, q, |q|², bucket) is a single
    projection, persisted (tracked, spill-safe) because it feeds both
    sides of the bucket self-join; the cap guard drops oversized buckets
    (recall loss observable via lsh_bucket-style stats if needed);
    verification arithmetic is whole-stage-codegen column algebra on
    candidates only. Release the cache with plans.cache.release_tracked()
    after consuming the result."""
    from pyspark import StorageLevel

    from dygiepp_spark.plans import cache

    # overflow guard (see _n2_bound): every vector's squared norm must stay
    # under the bound or the int64 predicate below is meaningless. The
    # assert_true lives inside a filter so Catalyst cannot prune it; it
    # raises (both engines' fail-loud convention) instead of letting Spark
    # wrap while DuckDB raises.
    n2_bound = _n2_bound(max(threshold_den, threshold_num))
    withq = (
        quantize(emb, "embedding")
        .select(F.col(id_col).cast("bigint").alias("vec_id"), "q")
        .withColumn("n2", _dot(F.col("q"), F.col("q")))
        .where(
            F.assert_true(
                F.col("n2") <= F.lit(n2_bound),
                F.concat(
                    F.lit(
                        "embedding_near_dup_pairs int64 overflow guard: "
                        f"squared norm > {n2_bound} (see _n2_bound) for vec_id "
                    ),
                    F.col("vec_id").cast("string"),
                ),
            ).isNull()
        )
        .withColumn("bucket", _bucket_expr(dim))
        .withColumn(
            "bucket_size", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        )
        .where(F.col("bucket_size") <= max_bucket)
    )
    withq = cache.track(withq.persist(StorageLevel.MEMORY_AND_DISK))
    a = withq.select(
        F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"),
        F.col("n2").alias("norm2_a"), "bucket",
    )
    c = withq.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"),
        F.col("n2").alias("norm2_b"), "bucket",
    )
    cand = a.join(c, on="bucket").where(F.col("vec_a") < F.col("vec_b"))
    scored = cand.select(
        "vec_a", "vec_b", "norm2_a", "norm2_b",
        _dot(F.col("qa"), F.col("qb")).alias("dot"),
    )
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    return scored.where(
        (F.col("dot") > 0)
        & (
            F.lit(den2) * F.col("dot") * F.col("dot")
            >= F.lit(num2) * F.col("norm2_a") * F.col("norm2_b")
        )
    ).select("vec_a", "vec_b", "dot", "norm2_a", "norm2_b")


def embedding_bucket_stats(
    emb: DataFrame, id_col: str = "vec_id", dim: int = 64, max_bucket: int = 256
) -> DataFrame:
    """Observability twin of embedding_near_dup_pairs (mirrors the text
    path's lsh_bucket_stats): one row — total sign-LSH buckets, buckets
    over the cross-join-bomb cap, vectors discarded by the cap, and the
    largest bucket. A clustered embedding space silently loses near-dup
    recall when buckets overflow — surface it instead of guessing."""
    per_bucket = (
        quantize(emb, "embedding")
        .select(_bucket_expr(dim).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("bucket_size"))
    )
    # coalesce the drop counters: on an EMPTY corpus SUM is NULL, but the
    # observability contract is "0 dropped", matching the DuckDB twin
    # (caught by the empty-input cross-engine sweep). max stays NULL-able
    # (max of nothing has no meaningful zero).
    return per_bucket.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.coalesce(
            F.sum(F.when(F.col("bucket_size") > max_bucket, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_dropped_buckets"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("bucket_size") > max_bucket, F.col("bucket_size")
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_dropped_rows"),
        F.max("bucket_size").cast("bigint").alias("max_bucket_size"),
    )
