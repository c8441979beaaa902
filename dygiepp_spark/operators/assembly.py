"""Document assembly / restructuring operators (SURVEY.md §2.B).

The reference assembles a ``Document`` object per doc_key with per-sentence
token offsets computed as a shifted cumulative sum
(reference: dygie/data/dataset_readers/document.py:114-118). Here a
"document" is a conversation and a "sentence" is a turn; the offsets are a
window cumsum over stable turn ordering — the per-turn text-equality
invariant lives on this path.

Scale notes: every operator is partitioned by conv_id; window functions use
(conv_id) partitions so a 1000-executor cluster shuffles each conversation
to exactly one task. No driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dygiepp_spark.config import PipelineConfig


def with_token_counts(turns: DataFrame) -> DataFrame:
    """Add n_tokens = whitespace token count of `text`, NULL for NULL text.
    Explicit, because size(NULL) is NULL only under ANSI mode and -1
    without it."""
    text = F.col("text")
    return turns.withColumn(
        "n_tokens", F.when(text.isNotNull(), F.size(F.split(text, " "))).cast("int")
    )


def with_sentence_starts(turns: DataFrame) -> DataFrame:
    """B1 — doc-level token offset per turn.

    Reference semantics: sentence_starts = np.roll(np.cumsum(lengths), 1);
    sentence_starts[0] = 0 (document.py:114-118). Exactly a window sum over
    the *preceding* rows in turn order.
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    df = turns if "n_tokens" in turns.columns else with_token_counts(turns)
    return df.withColumn(
        "sentence_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    )


def assemble_documents(turns: DataFrame, dataset: str = "transcripts") -> DataFrame:
    """B2 — turns → one document row per conversation.

    Re-nesting uses sort_array(collect_list(struct(turn_idx, ...))) so the
    result is deterministic regardless of shuffle arrival order (the
    reference relies on file line order; we rely on the explicit key).
    """
    df = with_token_counts(turns)
    packed = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("turn_idx"),
                F.split(F.col("text"), " ").alias("tokens"),
                F.col("role"),
                F.col("n_tokens"),
            )
        )
    )
    return (
        df.groupBy("conv_id")
        .agg(packed.alias("_turns"))
        .select(
            F.col("conv_id").alias("doc_key"),
            F.lit(dataset).alias("dataset"),
            F.transform("_turns", lambda t: t["tokens"]).alias("sentences"),
            F.transform("_turns", lambda t: t["role"]).alias("roles"),
            # shifted cumsum, array form (document.py:114-118)
            F.expr(
                "transform(_turns, (t, i) -> "
                "aggregate(slice(_turns, 1, i), 0L, (acc, u) -> acc + u.n_tokens))"
            ).alias("sentence_starts"),
        )
    )


def explode_documents(docs: DataFrame) -> DataFrame:
    """B2 inverse — document rows back to one row per turn.

    Round-trip invariant: explode_documents(assemble_documents(t)) matches t
    on (conv_id, turn_idx, text, role) (reference roundtrip test:
    dygie/tests/data/document_test.py:36-56).
    """
    return docs.select(
        F.col("doc_key").alias("conv_id"),
        F.posexplode("sentences").alias("turn_idx", "tokens"),
        "roles",
        "sentence_starts",
    ).select(
        "conv_id",
        F.col("turn_idx").cast("int"),
        F.array_join("tokens", " ").alias("text"),
        F.col("roles")[F.col("turn_idx")].alias("role"),
        F.col("sentence_starts")[F.col("turn_idx")].alias("sentence_start"),
    )


def normalize_text(turns: DataFrame, col: str = "text") -> DataFrame:
    """B8 — token normalization: '/.' → '.', '/?' → '?'
    (reference: dygie/data/dataset_readers/dygie.py:213-218)."""
    return turns.withColumn(
        col,
        F.regexp_replace(F.regexp_replace(F.col(col), r"/\.", "."), r"/\?", "?"),
    )


def length_guard(turns: DataFrame, max_tokens: int = 512) -> DataFrame:
    """B9 — flag turns that break downstream assumptions: single-token
    turns (break coref, reference dygie.py:190-195) and turns longer than
    the encoder limit (reference README.md:123). Returns turns + flag
    columns; callers filter or report."""
    df = with_token_counts(turns)
    return df.withColumn("is_single_token", F.col("n_tokens") <= 1).withColumn(
        "exceeds_encoder_limit", F.col("n_tokens") > max_tokens
    )


def split_documents(turns: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """B5 — split long conversations into ≤max_tokens_per_doc chunks.

    The reference greedily packs sentences and renames '{key}_SPLIT_{i}'
    (document.py:197-251). We use the distributed-friendly equivalent: a
    turn's chunk is floor(preceding_token_cumsum / max_tokens) — one window,
    no sequential scan; turns stay whole. (We do NOT replicate the
    reference bug where `weight` is passed positionally into
    `event_clusters`, document.py:247-249.)
    """
    cfg = cfg or PipelineConfig()
    df = with_sentence_starts(turns)
    return df.withColumn(
        "chunk_id", F.floor(F.col("sentence_start") / cfg.max_tokens_per_doc).cast("int")
    ).withColumn(
        "split_key", F.concat_ws("_SPLIT_", F.col("conv_id"), F.col("chunk_id"))
    )


def locate_spans(doc_spans: DataFrame, turns: DataFrame) -> DataFrame:
    """B3 — map doc-level spans to the turn containing them (range join).

    Input: doc_spans(conv_id, start, end) with doc-level inclusive offsets.
    Spans crossing a turn boundary are dropped, mirroring the reference's
    skip-with-warning for cross-sentence cluster members
    (document.py:685-689). Returns turn-relative coordinates.

    Scale: the join is an equi-join on conv_id plus range predicates, so it
    hash-partitions by conversation; per-conversation turn counts are small,
    keeping the per-key range scan cheap. AQE splits skewed conv_ids.
    """
    sents = with_sentence_starts(turns).select(
        "conv_id",
        "turn_idx",
        F.col("sentence_start"),
        (F.col("sentence_start") + F.col("n_tokens") - 1).alias("sentence_end"),
    )
    return doc_spans.join(sents, on="conv_id", how="inner").where(
        (F.col("start") >= F.col("sentence_start"))
        & (F.col("end") <= F.col("sentence_end"))
    ).select(
        "conv_id",
        "turn_idx",
        (F.col("start") - F.col("sentence_start")).cast("int").alias("rel_start"),
        (F.col("end") - F.col("sentence_start")).cast("int").alias("rel_end"),
        F.col("start").cast("bigint").alias("doc_start"),
        F.col("end").cast("bigint").alias("doc_end"),
    )
