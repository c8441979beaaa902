"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's scope (its only dedup is triple-level dropDuplicates
— SURVEY.md §2.H), these are first-class corpus operators: exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification.

Portability: every hash is the integer polynomial char hash from
``functions.hashing`` so the DuckDB oracle computes identical values; the
Jaccard threshold test is pure integer arithmetic (k·|∩| ≥ t·|∪|), no
floats anywhere.

Scale design:
- exact dedup: one groupBy on a 64-bit-ish hash — map-side combine, one
  shuffle; canonical id = min doc_id (deterministic).
- MinHash: one scan-local batch kernel (`shingle_profiles`) turns each
  doc into its distinct shingle hashes, permutation minima and band
  hashes. No shingle table is materialized and nothing shuffles.
- LSH: the band rows are exploded from the profiles, and one self-join
  on (band_ix, band_hash) generates the pairs. Bucket sizes are the skew
  risk; huge buckets (degenerate near-identical corpora) are capped by
  `max_bucket`, and `lsh_bucket_stats` reports what the cap dropped — at
  100 TB an uncapped bucket is a cross-join bomb.
- verification joins candidate PAIRS only (LSH keeps this linear-ish), on
  the two docs' shingle hash arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dygiepp_spark.functions.hashing import (
    MINHASH_PERMS,
    MOD,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    char_hash_sql,
)
from dygiepp_spark.plans.cache import maybe_persist


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate grouping by full-text hash. Returns one row per doc:
    (doc_id, text_hash, canonical_doc_id, group_size)."""
    hashed = docs.select(
        F.col(id_col).alias("doc_id").cast("bigint"),
        F.expr(char_hash_sql(text_col, "spark")).alias("text_hash"),
    )
    w = Window.partitionBy("text_hash")
    return hashed.select(
        "doc_id",
        "text_hash",
        F.min("doc_id").over(w).alias("canonical_doc_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("group_size"),
    )


def _token_hash_batch(tokens: list[str]):
    """Vectorized exact twin of the char polynomial hash over a batch of
    strings: returns (hash, 31^len % MOD, len) int64 arrays. Horner runs
    max_len vectorized numpy steps over a codepoint matrix (utf-32 decode =
    exact codepoints, matching Spark's split('')+ascii()); acc starts at 0,
    which equals the SQL NULL-init fold for non-empty strings ((0·31+c)=c)
    AND for empty strings (SQL split('') of '' yields [''] whose ascii is
    0, so the SQL hash of '' is 0 too — pinned by the unicode sweep)."""
    import numpy as np

    m = len(tokens)
    if m == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=m)
    maxlen = int(lens.max())
    pow31 = np.empty(maxlen + 1, dtype=np.int64)
    pow31[0] = 1
    for j in range(1, maxlen + 1):
        pow31[j] = pow31[j - 1] * 31 % MOD
    if maxlen == 0:
        return np.zeros(m, dtype=np.int64), pow31[lens], lens
    buf = np.frombuffer("".join(tokens).encode("utf-32-le"), dtype=np.uint32)
    mat = np.zeros((m, maxlen), dtype=np.int64)
    mask = np.arange(maxlen)[None, :] < lens[:, None]
    mat[mask] = buf  # row-major fill == concatenation order
    acc = np.zeros(m, dtype=np.int64)
    for j in range(maxlen):
        col_mask = mask[:, j]
        acc = np.where(col_mask, (acc * 31 + mat[:, j]) % MOD, acc)
    return acc, pow31[lens], lens


_PROFILE_SCHEMA = (
    "doc_id long, shashes array<long>, minhashes array<long>, bands array<long>"
)


def shingle_profiles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """(doc_id, shashes, minhashes, bands) per doc in ONE scan-local pass —
    the near-dup signature kernel (r6 VERDICT #2 + r7 measurement): the old
    plan posexploded tokens, window-sorted them per doc, hashed every
    shingle character through interpreted higher-order-function lambdas
    (measured ~20 µs/char — 23 s of CPU per MB of text), and re-aggregated
    through two shuffles. This pass is guide-§4.2 vectorization: Arrow
    batches in, numpy Horner over a codepoint matrix for the token hashes,
    and the n-gram hash COMPOSED from token hashes
    (h(a⊕' '⊕b) = ((h(a)·31+32)·31^len(b) + h(b)) mod P — exact modular
    identity, no shingle strings materialized), then the 16 permutation
    minima and 8 band folds as batch matrix ops. Values are bit-identical
    to the SQL formulation (the DuckDB oracle is unchanged and stays
    green). shashes = np.unique per doc (same SET as the old distinct).

    Zero shuffles, zero joins; one Python stage whose batches are bounded
    by arrow.maxRecordsPerBatch."""
    import numpy as np
    import pandas as pd

    perms_a = np.array([a for a, _ in MINHASH_PERMS], dtype=np.int64)
    perms_b = np.array([b for _, b in MINHASH_PERMS], dtype=np.int64)
    n_bands = len(MINHASH_PERMS) // ROWS_PER_BAND

    def kernel(it):
        for pdf in it:
            doc_ids = pdf["doc_id"].to_numpy()
            texts = pdf["text"].tolist()
            tok_lists = [("" if t is None else t).split(" ") for t in texts]
            counts = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64, count=len(tok_lists))
            flat_tokens = [t for tl in tok_lists for t in tl]
            th, tp, _tl = _token_hash_batch(flat_tokens)
            # per-doc shingle hashes by composition over sliding windows
            starts = np.concatenate(([0], np.cumsum(counts)))
            sh_lists, mh_lists, band_lists = [], [], []
            for d in range(len(tok_lists)):
                h = th[starts[d] : starts[d + 1]]
                p = tp[starts[d] : starts[d + 1]]
                if len(h) < n:
                    sh_lists.append(np.empty(0, dtype=np.int64))
                    mh_lists.append([])
                    band_lists.append([])
                    continue
                acc = h[: len(h) - (n - 1)].copy()
                for j in range(1, n):
                    hj = h[j : len(h) - (n - 1) + j]
                    pj = p[j : len(h) - (n - 1) + j]
                    acc = ((acc * 31 + 32) % MOD * pj + hj) % MOD
                sh = np.unique(acc)
                mins = np.min((perms_a[:, None] * sh[None, :] + perms_b[:, None]) % MOD, axis=1)
                bands = np.empty(n_bands, dtype=np.int64)
                for b_ix in range(n_bands):
                    bacc = np.int64(0)
                    for r in range(ROWS_PER_BAND):
                        bacc = (bacc * 31 + mins[b_ix * ROWS_PER_BAND + r]) % MOD
                    bands[b_ix] = bacc
                sh_lists.append(sh)
                mh_lists.append(mins)
                band_lists.append(bands)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "shashes": sh_lists,
                    "minhashes": mh_lists,
                    "bands": band_lists,
                }
            )

    src = docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(kernel, schema=_PROFILE_SCHEMA)


def minhash_rows_from_profiles(profiles: DataFrame, k: int = len(MINHASH_PERMS)) -> DataFrame:
    """(doc_id, perm_ix, minhash) from :func:`shingle_profiles`, zero
    shuffles (gated against the ``minhash_signatures`` oracle leaf)."""
    return (
        profiles.where(F.size("minhashes") > 0)
        .select(
            "doc_id",
            F.posexplode(F.slice("minhashes", 1, k)).alias("perm_ix", "minhash"),
        )
        .select("doc_id", F.col("perm_ix").cast("bigint"), "minhash")
    )


def band_signatures_from_profiles(profiles: DataFrame) -> DataFrame:
    """(doc_id, band_ix, band_hash) from :func:`shingle_profiles`: the
    ROWS_PER_BAND minhashes of each band folded in perm order, zero
    shuffles."""
    return (
        profiles.where(F.size("bands") > 0)
        .select("doc_id", F.posexplode("bands").alias("band_ix", "band_hash"))
        .select("doc_id", F.col("band_ix").cast("bigint"), "band_hash")
    )


def candidate_pairs_from_bands(bands: DataFrame, max_bucket: int = 64) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any band bucket, with the
    bucket-cap guard — the self-join shared by `lsh_candidate_pairs` and
    `near_dup_pairs` (both join sides are the same subtree, so the
    bucket-size window's exchange is built once and reused)."""
    sized = bands.withColumn(
        "bucket_size",
        F.count(F.lit(1)).over(Window.partitionBy("band_ix", "band_hash")),
    ).where(F.col("bucket_size") <= max_bucket)
    a = sized.select("band_ix", "band_hash", F.col("doc_id").alias("doc_a"))
    b = sized.select("band_ix", "band_hash", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, on=["band_ix", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 64,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any LSH band bucket.

    Buckets larger than `max_bucket` are dropped (cross-join bomb guard);
    callers needing exhaustivity raise the cap explicitly. Shingles,
    minhashes and bands come from the scan-local profile kernel and never
    shuffle; the plan's only exchanges are the bucket-size window (reused
    by both self-join sides) and the final distinct."""
    return candidate_pairs_from_bands(
        band_signatures_from_profiles(shingle_profiles(docs, id_col, text_col)),
        max_bucket=max_bucket,
    )


def lsh_bucket_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 64,
) -> DataFrame:
    """Observability twin of `lsh_candidate_pairs`: how much did the
    cross-join-bomb guard drop?  One row: total buckets, buckets over the
    cap, doc-band rows discarded by the cap, and the largest bucket seen.
    A near-duplicate-heavy corpus silently loses recall when buckets
    overflow — surface it instead of guessing."""
    bands = band_signatures_from_profiles(shingle_profiles(docs, id_col, text_col))
    per_bucket = bands.groupBy("band_ix", "band_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("bucket_size")
    )
    # drop counters coalesce to 0 on an empty corpus (SUM over nothing is
    # NULL; "0 dropped" is the observability contract — empty-sweep pin)
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


# Measured crossover for the signature-profile persist (re-recorded every
# round by bench.py near_dup_big / near_dup_small). r7 late
# re-derivation, after two quiet-host bench runs showed auto (threshold
# 4 MB) picking the loser at the cached 5 k-doc anchor: alternating A/B
# (3-4 reps/mode, quiet host) now shows the kernel recompute and the
# persist within ±15% of each other EVERYWHERE below ~2 MB — cached
# 5 k docs (est 1.66 MB): persist 1.76 s vs 1.92 s; the SAME corpus
# file-backed (est 594 KB): persist 2.06 s vs 1.88 s; 500 docs cached
# (est 166 KB): 1.39 s vs 1.66 s — opposite signs at the same doc
# count, i.e. the old decisive low-end crossover was a property of the
# interpreted recompute and is now flat noise. The decisive regimes
# left are the big ones: est 4.6 MB (20 k docs) persist wins 1.57 s vs
# 2.27 s, ~23 MB (100 k) 1.73 s vs 3.22 s, growing with corpus size
# (three kernel recomputes per run without it). Threshold 4 MB → 1 MB:
# every decisively-measured regime picks its winner, the flat zone
# splits by estimate (file-backed small corpora recompute, cached ones
# persist — matching the last two bench anchors at each), and the other
# consumers of this default (coref_propagation's expression-built
# mention table, r4-audited no-persist at tiny scale;
# canonical_merge_increment, A/B 1.72 s vs 1.87 s at sf0.001 — noise)
# keep their tiny-scale plans. (History: r6 pre-kernel crossover was
# real and decisive — 10.2/5.8 s at 5 k, 6.2/13.1 s at 20 k.)
PERSIST_AUTO_THRESHOLD_BYTES = 1024 * 1024


def persist_decision(df: DataFrame, threshold_bytes: int = PERSIST_AUTO_THRESHOLD_BYTES) -> tuple[bool, int]:
    """Decide whether a multi-branch consumer should persist its shared
    input, from Catalyst's driver-side size estimate (file sizes for
    parquet/Iceberg scans, accurate stats for cached inputs — no job is
    triggered). Unknown/unestimable plans return the persist=True branch:
    at production scale the persist is always right, and the only regime
    where it loses is tiny inputs, which file-backed sources estimate
    well."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — py4j/analysis failure → scale-safe default
        return True, -1
    # Catalyst's unknown-size sentinel is Long.MaxValue-ish; treat huge as big
    return est >= threshold_bytes, est


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 1,
    threshold_den: int = 4,
    persist_shingles: bool | str = "auto",
) -> DataFrame:
    """MinHash-LSH candidates verified at Jaccard ≥ num/den (integer test:
    den·|∩| ≥ num·|∪|).

    The profile table (`shingle_profiles`) feeds THREE branches: the band
    self-join and both sides of the verify join. Without
    ``persist_shingles`` Catalyst runs the scan and the profile kernel once
    per branch. Persisting is spill-safe (MEMORY_AND_DISK) and turns that
    into one scan + cache reads.

    ``persist_shingles="auto"`` (default, r4 VERDICT #5): both crossover
    scales are measured every round, so the decision is encoded — persist
    iff Catalyst's size estimate for ``docs`` exceeds
    ``PERSIST_AUTO_THRESHOLD_BYTES`` (see `persist_decision`). Pass
    True/False to override; any other string is an error (r5 ADVICE: a
    typo like ``"false"`` must not silently persist)."""
    # the Jaccard verify is array_intersect on the two candidates'
    # (distinct) shingle sets: two joins of the (small) pair list against
    # the profile table, no corpus-scale row join or aggregation.
    arrs = maybe_persist(
        shingle_profiles(docs, id_col, text_col)
        .select("doc_id", "shashes", "bands")
        .where(F.size("shashes") > 0),
        decide_on=docs,
        persist=persist_shingles,
    )
    cands = candidate_pairs_from_bands(band_signatures_from_profiles(arrs))
    sa = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shashes").alias("_sh_a"),
        F.size("shashes").cast("bigint").alias("_n_a"),
    )
    sb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shashes").alias("_sh_b"),
        F.size("shashes").cast("bigint").alias("_n_b"),
    )
    jc = (
        cands.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("_sh_a", "_sh_b")).cast("bigint")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("_n_a") + F.col("_n_b") - F.col("n_inter")).cast("bigint").alias("n_union"),
        )
    )
    return jc.where(
        F.col("n_inter") * threshold_den >= F.col("n_union") * threshold_num
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash over token hashes: bit b set iff the ±1 ballot of token
    draws is positive. (doc_id, simhash) — integer arithmetic only.

    r7: same guide-§4.2 vectorization as :func:`shingle_profiles` — the old
    plan exploded the token table and ran the char hash + 32 ballot CASEs
    through interpreted HOF/codegen expressions (~23 s CPU per MB of text,
    measured); this computes the identical integers as batch numpy: Horner
    token hashes, a (32 × tokens) parity matrix, per-doc ballot sums via
    reduceat. Empty tokens (consecutive spaces) hash to 0 in BOTH engines
    (split('') of '' is [''] and ascii('') is 0, not NULL — pinned by the
    unicode parity sweep), which the zero-init Horner reproduces. Zero
    shuffles; bit-identical to the DuckDB oracle."""
    import numpy as np
    import pandas as pd

    odd = np.array([2 * b + 3 for b in range(SIMHASH_BITS)], dtype=np.int64)
    weights = np.array([1 << b for b in range(SIMHASH_BITS)], dtype=np.int64)

    def kernel(it):
        for pdf in it:
            doc_ids = pdf["doc_id"].to_numpy()
            tok_lists = [("" if t is None else t).split(" ") for t in pdf["text"]]
            counts = np.fromiter(
                (len(tl) for tl in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            flat = [t for tl in tok_lists for t in tl]
            th, _tp, _tl = _token_hash_batch(flat)
            sign = np.where(((odd[:, None] * th[None, :]) % MOD) % 2 == 0, 1, -1)
            starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
            sums = np.add.reduceat(sign, starts, axis=1)  # split() never yields []
            vals = (weights[:, None] * (sums > 0)).sum(axis=0)
            yield pd.DataFrame({"doc_id": doc_ids, "simhash": vals})

    src = docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(kernel, schema="doc_id long, simhash long")


def hamming_near_pairs(sim: DataFrame, max_hamming: int = 3, prefix_bits: int = 8) -> DataFrame:
    """SimHash near-dup candidates: block on the low `prefix_bits` bits
    (cheap LSH for Hamming space), verify with bit_count of xor."""
    blocked = sim.withColumn("block", F.col("simhash") % (1 << prefix_bits))
    a = blocked.select("block", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    b = blocked.select("block", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    return (
        a.join(b, on="block")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.expr("sim_a ^ sim_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", F.col("hamming").cast("bigint"))
    )
