"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting — the per-document hygiene layer of a training-data
pipeline. All JVM-side column expressions (no Python in the hot path);
ratios are int/int divisions rounded to 4 decimals so the DuckDB oracle
matches bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dygiepp_spark.functions.hashing import char_hash_sql
from dygiepp_spark.functions.lexicons import STOPWORDS

PROFILE_SIZE = 20  # top char-bigrams per language profile
WINNOW_WINDOW = 16  # chars per rolling fingerprint window


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc quality signals: token/type counts, stopword ratio,
    type-token ratio, mean token length, and a combined score
    (dyadic weights: q = ttr/2 + (1 − stopword_ratio)/4 + min(n/64,1)/4)."""
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_types"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("bigint").alias("stopword_cnt"),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars"),
    )
    ttr = F.col("n_types") / F.col("n_tokens")
    swr = F.col("stopword_cnt") / F.col("n_tokens")
    lenf = F.least(F.col("n_tokens") / 64.0, F.lit(1.0))
    return base.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "stopword_cnt",
        "n_chars",
        F.round(ttr, 4).alias("type_token_ratio"),
        F.round(swr, 4).alias("stopword_ratio"),
        F.round((F.col("n_chars") - F.col("n_tokens") + 1) / F.col("n_tokens"), 4).alias(
            "mean_token_len"
        ),
        F.round(ttr / 2 + (1 - swr) / 4 + lenf / 4, 4).alias("quality"),
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate
    (ceil(len(token)/4) per token, integer arithmetic)."""
    toks = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_ws_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.floor((F.length(t) + 3) / 4).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_subwords"),
    )


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Full-text polynomial fingerprint + winnowing-style min of rolling
    window hashes (robust to local edits)."""
    full = F.expr(char_hash_sql(text_col, "spark"))
    windows = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - (WINNOW_WINDOW - 1), F.lit(1))),
        lambda i: F.substring(F.col(text_col), i, WINNOW_WINDOW),
    )
    win_hashes = F.transform(
        windows,
        lambda s: F.aggregate(
            F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("bigint")),
            F.lit(-1).cast("bigint"),
            lambda acc, x: F.when(acc == -1, x).otherwise((acc * 31 + x) % 1_000_000_007),
        ),
    )
    return docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        full.alias("fingerprint"),
        F.array_min(win_hashes).alias("winnow_min"),
    )


def _bigram_counter(text):
    """Per-doc bigram occurrence counts, replicating Spark's
    sequence(1, len-1) + substring(i, 2) edge cases verbatim (len 1 →
    [t, t]; len 0 → ['', '', ''] — the descending-sequence quirk)."""
    from collections import Counter

    t = "" if text is None else text
    ln = len(t)
    if ln >= 2:
        return Counter(t[i - 1 : i + 1] for i in range(1, ln))
    if ln == 1:
        return {t: 2}
    return {"": 3}


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            lang_col: str = "lang", max_profile_rows: int = 100_000) -> DataFrame:
    """Predict language by profile-overlap argmax (tie-break lang asc);
    returns (doc_id, pred_lang, actual_lang, is_correct).

    r7 plan (two passes, ~2 jobs): the old plan exploded one row per
    bigram OCCURRENCE through interpreted char expressions (~20 µs/char),
    persisted that table, broadcast the profile table into a scoring join
    and ranked with a second window — 8 jobs / 20 stages of mostly
    latency. Now:
      1. a batch kernel (guide §4.2) counts bigrams per doc and emits one
         row per DISTINCT (doc, bigram); the per-language top-PROFILE_SIZE
         profile is one partial-agg shuffle + window over per-language
         candidates, COLLECTED to the driver — bounded by construction at
         n_languages × PROFILE_SIZE rows (guarded by ``max_profile_rows``
         via a limit'd collect, the similarity.py bounded-collect
         convention);
      2. a second scan-local kernel scores every doc against the in-memory
         profile dict and emits the argmax directly — no join, no
         per-doc window, no persisted intermediate.
    Occurrence counts are preserved exactly (profile cnt = Σ per-doc
    counts; overlap = Σ counts of matched bigrams) and the tie-breaks
    (profile: cnt desc, bigram asc; prediction: overlap desc, lang asc;
    docs with zero overlap emit nothing) replicate the SQL formulation,
    so rows are byte-identical and the DuckDB oracle is unchanged."""
    src = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("actual_lang"),
        F.col(text_col).alias("text"),
    )

    def _gram_counts(it):
        import pandas as pd

        for pdf in it:
            langs, bgs, cnts = [], [], []
            for lang, text in zip(pdf["actual_lang"], pdf["text"]):
                for g, k in _bigram_counter(text).items():
                    langs.append(lang)
                    bgs.append(g)
                    cnts.append(k)
            yield pd.DataFrame({"actual_lang": langs, "bigram": bgs, "cnt": cnts})

    prof_w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("bigram"))
    profiles = (
        src.mapInPandas(_gram_counts, schema="actual_lang string, bigram string, cnt long")
        .groupBy(F.col("actual_lang").alias("lang"), "bigram")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("rnk", F.row_number().over(prof_w))
        .where(F.col("rnk") <= PROFILE_SIZE)
        .select("lang", "bigram")
    )
    rows = profiles.limit(max_profile_rows + 1).collect()
    if len(rows) > max_profile_rows:
        raise ValueError(
            f"language profile table exceeds max_profile_rows="
            f"{max_profile_rows} (lang column cardinality too high for the "
            "driver-side profile dict); raise the cap or pre-bucket langs"
        )
    prof: dict = {}
    for r in rows:
        prof.setdefault(r["lang"], set()).add(r["bigram"])
    # lang asc with NULL first (Spark's asc ordering) — the prediction
    # tie-break; the None guard keeps a NULL-lang corpus from raising
    prof_items = sorted(prof.items(), key=lambda kv: (kv[0] is not None, kv[0] or ""))

    def _score(it):
        import pandas as pd

        for pdf in it:
            ids, preds, actuals, corrects = [], [], [], []
            for doc_id, lang, text in zip(pdf["doc_id"], pdf["actual_lang"], pdf["text"]):
                c = _bigram_counter(text)
                best_lang, best_ov = None, 0
                for lg, bigs in prof_items:  # lang asc → first max wins ties
                    ov = sum(c[g] for g in bigs if g in c)
                    if ov > best_ov:
                        best_lang, best_ov = lg, ov
                if best_lang is None:
                    continue  # zero overlap with every profile → no row
                ids.append(doc_id)
                preds.append(best_lang)
                actuals.append(lang)
                corrects.append(
                    None if lang is None else bool(best_lang == lang)
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "pred_lang": preds,
                    "actual_lang": actuals,
                    "is_correct": pd.array(corrects, dtype="boolean"),
                }
            )

    return src.mapInPandas(
        _score,
        schema="doc_id long, pred_lang string, actual_lang string, is_correct boolean",
    )
