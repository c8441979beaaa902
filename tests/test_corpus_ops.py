"""Semantic tests for the training-data pipeline operators: the planted
near-duplicates in documents.parquet must be found; ANN results must be a
subset-quality approximation of brute force; multimodal plumbing shapes."""

import pytest
from pyspark.sql import functions as F

from dygiepp_spark.operators import dedup, multimodal, similarity
from dygiepp_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # orderBy: several tests take .limit(n) samples and compare ACROSS
    # separate actions; since the r7 scan-parallelism floor the table is
    # multi-partition, so an unordered limit is not stable between actions
    return load_table(spark, "documents", SF_DIR).orderBy("doc_id")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF_DIR)


def test_exact_dedup_identity(spark, docs):
    out = dedup.exact_dedup(docs)
    assert out.count() == docs.count()
    # corpus has no exact dupes; every group is a singleton
    assert out.where("group_size > 1").count() == 0
    # planting an exact duplicate must group it
    d2 = docs.limit(1).withColumn("doc_id", F.lit(999999)).unionByName(docs)
    out2 = dedup.exact_dedup(d2)
    assert out2.where("group_size = 2").count() == 2


def test_near_dup_finds_planted_duplicates(spark, docs):
    """Docs containing the 'dup' marker are near-copies of other docs;
    MinHash-LSH at Jaccard ≥ 1/4 must surface pairs involving them."""
    pairs = dedup.near_dup_pairs(docs).collect()
    assert len(pairs) > 0
    dup_ids = {r["doc_id"] for r in docs.where("text LIKE '%dup%'").collect()}
    flagged = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert flagged & dup_ids, "planted near-dups not found"
    for r in pairs:
        assert r["n_inter"] * 4 >= r["n_union"]


def test_lsh_candidates_superset_of_high_jaccard(spark, docs):
    """Any pair with Jaccard ≥ 0.75 must be an LSH candidate with
    overwhelming probability (8 bands × 2 rows: P(miss) = (1-j²)⁸ ≈ 0.1%
    at j=0.75); verified exhaustively on this corpus."""
    sh = dedup.shingle_profiles(docs).select("doc_id", F.explode("shashes").alias("shash"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shash")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shash")
    inter = (
        a.join(b, on="shash").where("doc_a < doc_b")
        .groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .where("n_inter * 4 >= (na + nb - n_inter) * 3")
    )
    high = {(r["doc_a"], r["doc_b"]) for r in j.collect()}
    cands = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    missed = high - cands
    assert len(missed) <= 1, f"LSH missed {missed}"


def test_simhash_close_for_near_dups(spark, docs):
    sim = dedup.simhash(docs)
    pairs = dedup.near_dup_pairs(docs).limit(5)
    joined = (
        pairs.join(sim.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("simhash", "sa"), "doc_a")
        .join(sim.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("simhash", "sb"), "doc_b")
        .withColumn("hamming", F.bit_count(F.expr("sa ^ sb")))
    )
    rows = joined.collect()
    assert rows and all(r["hamming"] <= 16 for r in rows)  # near dups → close hashes


def test_ann_bucketed_consistency(spark, emb):
    """Bucketed ANN neighbors must be real same-bucket vectors whose dot
    scores match brute force exactly (the integer dot is shared)."""
    ann = similarity.ann_topk_bucketed(emb, k=2)
    bf = similarity.dot_topk(emb, k=2000, n_queries=4)  # effectively all
    bf_dots = {(r["vec_id"], r["neighbor_id"]): r["dot"] for r in bf.collect()}
    for r in ann.where("vec_id < 4").collect():
        assert bf_dots[(r["vec_id"], r["neighbor_id"])] == r["dot"]


def test_ivf_recall_vs_brute_force(spark, emb):
    """IVF with nprobe=4/16 lists must recover most true top-3 neighbors
    (recall target is structural, not exact — that's the ANN trade)."""
    from pyspark.sql import functions as F

    bf = similarity.dot_topk(emb, k=3, n_queries=16)
    ivf = similarity.ivf_topk(emb, k=3, n_lists=16, nprobe=4, n_queries=16)
    truth = {(r["vec_id"], r["neighbor_id"]) for r in bf.collect()}
    got = {(r["vec_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, recall
    # determinism: identical output across runs
    again = {(r["vec_id"], r["neighbor_id"]) for r in
             similarity.ivf_topk(emb, k=3, n_lists=16, nprobe=4, n_queries=16).collect()}
    assert got == again
    # probed-list scores are exact (shared integer dot)
    bf_dots = {(r["vec_id"], r["neighbor_id"]): r["dot"] for r in bf.collect()}
    for r in ivf.collect():
        key = (r["vec_id"], r["neighbor_id"])
        if key in bf_dots:
            assert bf_dots[key] == r["dot"]


def test_cosine_pandas_topk(spark, emb):
    out = similarity.cosine_topk_pandas(emb, k=3, n_queries=4)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["vec_id"], []).append(r)
    assert set(per_q) == {0, 1, 2, 3}
    for q, rs in per_q.items():
        assert len(rs) == 3
        assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in rs)
        ranks = sorted((r["rank"], r["cosine"]) for r in rs)
        assert ranks[0][1] >= ranks[-1][1]  # rank 1 has highest cosine


def test_multimodal_decode_shapes(spark, docs):
    media = multimodal.attach_binary(docs.limit(10))
    feats = similarity = multimodal.decode_features(media)
    rows = feats.collect()
    assert len(rows) == 10
    for r in rows:
        assert 1 <= r["width"] <= 64 and 1 <= r["height"] <= 48
        assert len(r["features"]) == 8
        assert all(0.0 <= f <= 1.0 for f in r["features"])


def test_multimodal_decode_real_path_raises(spark, docs):
    media = multimodal.attach_binary(docs.limit(1))
    with pytest.raises(NotImplementedError):
        multimodal.decode_features(media, fake=False)


def test_frame_sample_fanout(spark, docs):
    media = multimodal.attach_binary(docs.limit(3))
    frames = multimodal.frame_sample(media, every_n_bytes=50)
    lens = {r["doc_id"]: r["n"] for r in frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    nb = {r["doc_id"]: r["n_bytes"] for r in multimodal.binary_metadata(docs.limit(3)).collect()}
    for d, n in lens.items():
        assert n == (nb[d] + 49) // 50  # ceil(bytes / 50) frames


def test_lsh_bucket_stats_accounts_for_cap(spark, docs):
    """Stats row is consistent: dropped buckets are exactly the >cap ones,
    and with the cap at max_bucket_size nothing drops."""
    row = dedup.lsh_bucket_stats(docs, max_bucket=64).head()
    assert row["n_buckets"] > 0
    assert 0 <= row["n_dropped_buckets"] <= row["n_buckets"]
    # lowering the cap below max_bucket_size must drop at least one bucket
    tight = dedup.lsh_bucket_stats(docs, max_bucket=row["max_bucket_size"] - 1).head()
    assert tight["n_dropped_buckets"] >= 1
    # raising it to the max drops nothing
    loose = dedup.lsh_bucket_stats(docs, max_bucket=row["max_bucket_size"]).head()
    assert loose["n_dropped_buckets"] == 0 and loose["n_dropped_rows"] == 0


def test_quantized_cosine_agrees_with_float_path(spark, emb):
    """The oracle-gated quantized cosine ordering must agree with the
    real-use float path on almost all neighbors (quantization to 1e-3 can
    flip only knife-edge ranks)."""
    qk = {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_quantized(emb, k=3, n_queries=16).collect()
        if r["vec_id"] < 16
    }
    fk = {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_pandas(emb, k=3, n_queries=16).collect()
    }
    assert len(qk & fk) / len(fk) >= 0.9
    # cosine ordering differs from raw dot ordering when norms vary
    dk = {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.dot_topk(emb, k=3, n_queries=16).collect()
    }
    assert qk != dk


def test_embedding_near_dup_pairs_exact_on_candidates(spark, emb):
    """Embedding-cosine near-dup: (a) every emitted pair truly clears the
    integer cosine threshold (den²·dot² ≥ num²·n2a·n2b, dot>0) against an
    independent numpy check; (b) the output equals the brute-force
    threshold pairs RESTRICTED to shared sign-LSH buckets (the documented
    recall trade — LSH candidates only, never all-pairs)."""
    import numpy as np

    out = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs(emb).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    q = {
        r["vec_id"]: similarity._quantize_local(r["embedding"]).astype(np.float64)
        for r in rows
    }
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in similarity.lsh_buckets(emb).collect()
    }
    want = set()
    ids = sorted(q)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if buckets[a] != buckets[b]:
                continue
            dot = float(q[a] @ q[b])
            n2a, n2b = float(q[a] @ q[a]), float(q[b] @ q[b])
            if dot > 0 and 100 * dot * dot >= 9 * n2a * n2b:
                want.add((a, b))
    assert out == want and len(want) > 0


def test_ivf_fixed_recall_and_exactness(spark, emb):
    """Fixed-centroid IVF (the oracle-gated ANN variant, r3 VERDICT #3):
    recall vs brute force holds like the k-means path, probed-list dots are
    exact, and repeated runs are identical (no iteration, no randomness).
    Cross-engine hash parity is covered by test_oracle_parity over the
    registry entry."""
    bf = similarity.dot_topk(emb, k=3, n_queries=16)
    truth = {(r["vec_id"], r["neighbor_id"]) for r in bf.collect()}

    def run(nprobe):
        out = similarity.ivf_topk_fixed(
            emb, k=3, n_lists=16, nprobe=nprobe, n_queries=16
        )
        return {(r["vec_id"], r["neighbor_id"]) for r in out.collect()}

    got = run(4)
    # data-independent centroids trade recall for hash-exactness; the
    # k-means path is the quality variant. Structural pins: useful recall
    # at nprobe=4, monotone in nprobe, exact at nprobe=n_lists (probing
    # every list IS brute force, since each vector lives in exactly one).
    r4 = len(truth & got) / len(truth)
    r8 = len(truth & run(8)) / len(truth)
    assert r4 >= 0.4, r4
    assert r8 >= r4
    assert run(16) == truth
    bf_dots = {(r["vec_id"], r["neighbor_id"]): r["dot"] for r in bf.collect()}
    ivf4 = similarity.ivf_topk_fixed(emb, k=3, n_lists=16, nprobe=4, n_queries=16)
    for r in ivf4.collect():
        key = (r["vec_id"], r["neighbor_id"])
        if key in bf_dots:
            assert bf_dots[key] == r["dot"]
    from dygiepp_spark.plans import cache

    cache.release_tracked()


def test_near_dup_overflow_guard_raises(spark):
    """r3 ADVICE: out-of-range embeddings must fail LOUDLY in Spark (which
    would otherwise silently wrap int64 in non-ANSI mode) instead of
    producing wrong pairs that diverge from the raising DuckDB oracle.
    Components of magnitude 100 give n2 = 64·(100·1000)² ≈ 6.4e11, far over
    the _n2_bound ≈ 3.03e8 cap."""
    big = spark.createDataFrame(
        [(0, [100.0] * 64), (1, [100.0] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="overflow guard"):
        similarity.embedding_near_dup_pairs(big).collect()
    from dygiepp_spark.plans import cache

    cache.release_tracked()


def test_multimodal_decode_check_matches_python(spark, docs):
    """The gated decode-check twin must equal a from-scratch python
    recomputation of the stand-in decode (byte/255 as float32, 1e6
    quantization, zero-padding for short payloads) — so the gate hash
    really pins the UDF's batch shape and byte order."""
    import numpy as np

    sample = docs.limit(20)
    media = multimodal.attach_binary(sample)
    got = {
        r["doc_id"]: (r["width"], r["height"], tuple(r[f"f{i}_q"] for i in range(8)))
        for r in multimodal.decode_check(media).collect()
    }
    for r in sample.collect():
        b = r["text"].encode("utf-8")
        feats = [0] * 8
        for i, by in enumerate(b[:8]):
            feats[i] = round(1_000_000 * float(np.float32(by / 255.0)))
        assert got[r["doc_id"]] == (len(b) % 64 + 1, len(b) % 48 + 1, tuple(feats))


def test_multimodal_decode_check_unicode_cross_engine(spark):
    """The hex-digit byte oracle must track UTF-8 BYTES, not characters —
    pinned cross-engine on adversarial texts (multi-byte chars, emoji,
    empty, exactly-7-bytes) that the synthetic corpus never produces."""
    import duckdb
    import pandas as pd

    texts = ["héllo wörld", "日本語テキスト", "🚀x", "", "1234567", "a" * 200]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    media = multimodal.attach_binary(sdf)
    got = (
        multimodal.decode_check(media)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    from dygiepp_spark.oracle_sql_corpus import MULTIMODAL_CHECK_SQL

    want = (
        con.execute(MULTIMODAL_CHECK_SQL).df().sort_values("doc_id").reset_index(drop=True)
    )
    cols = sorted(got.columns)
    assert got[cols].astype("int64").equals(want[cols].astype("int64"))
    # sanity vs python ground truth on the emoji row (4-byte UTF-8 head)
    import numpy as np

    b = "🚀x".encode("utf-8")
    row = got[got["doc_id"] == 2].iloc[0]
    assert row["width"] == len(b) % 64 + 1
    assert row["f0_q"] == round(1_000_000 * float(np.float32(b[0] / 255.0)))


def test_local_quantize_is_float32_like_the_engines(spark, tmp_path):
    """1.504f·1000 is 1503.99994… in float64 but rounds to 1504.0 in
    float32, the precision of FLOAT * INT in the DuckDB oracle. Both the
    JVM `quantize` and the numpy kernel of `dot_topk` must floor the
    float32 product too: on vectors made of such components the kernel
    leaf and both leaves' DuckDB oracles agree row for row."""
    import duckdb
    import numpy as np
    import pandas as pd

    from dygiepp_spark.registry import QUERIES
    from conftest import rows_match

    x = np.float32(1.504)
    assert np.floor(np.float64(x) * 1000) == 1503
    assert similarity._quantize_local([[x]]).tolist() == [[1504]]

    # components on the 1/1000 grid whose float64 and float32 products
    # floor apart
    grid = (np.arange(-2000, 2000) / 1000).astype(np.float32)
    split = grid[np.floor(grid.astype(np.float64) * 1000) != np.floor(grid * np.float32(1000))]
    base = split[:: len(split) // 64][:64]
    assert len(base) == 64
    vecs = [base.copy() for _ in range(40)]
    for i, v in enumerate(vecs):
        v[i % 64] = np.float32(i / 40)  # distinct, still near-duplicates
    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame(
        {"vec_id": np.arange(40, dtype=np.int64), "embedding": vecs,
         "label": np.zeros(40, dtype=np.int32)}
    ).to_parquet(sf / "embeddings.parquet")

    emb = load_table(spark, "embeddings", str(sf))
    jvm = {tuple(r["q"]) for r in similarity.quantize(emb).collect()}
    assert jvm == {tuple(q) for q in similarity._quantize_local(vecs).tolist()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    for leaf in ("embedding_dot_topk", "embedding_near_dup"):
        got = QUERIES[leaf].build(spark, str(sf))
        assert got.count() > 0
        assert rows_match(got, con.sql(QUERIES[leaf].sql))
    con.close()
