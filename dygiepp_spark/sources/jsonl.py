"""Reference-format JSONL source/sink (SURVEY.md §2 A1/A2).

The reference reads/writes one JSON document per line with fields
{doc_key, dataset, sentences, ner, relations, clusters, events, weight, _*}
(reference: doc/data.md:17-91; reader document.py:77-85, writer 87-91).
This module round-trips that format against the engine's turns/document
DataFrames so a reference-corpus fixture can flow through the Spark
pipeline and predictions can be emitted in the reference's shape
(predicted_* fields per doc/data.md:108-116).

Everything is `from_json`/`to_json` + explode — JVM-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

DOC_JSON_SCHEMA = T.StructType(
    [
        T.StructField("doc_key", T.StringType(), False),
        T.StructField("dataset", T.StringType(), True),
        T.StructField("sentences", T.ArrayType(T.ArrayType(T.StringType())), False),
        T.StructField(
            "ner",
            T.ArrayType(T.ArrayType(T.ArrayType(T.StringType()))),  # [start, end, label]
            True,
        ),
        T.StructField(
            "relations",
            T.ArrayType(T.ArrayType(T.ArrayType(T.StringType()))),  # [s1,e1,s2,e2,label]
            True,
        ),
        T.StructField(
            "clusters",
            T.ArrayType(T.ArrayType(T.ArrayType(T.LongType()))),  # [[start,end],...]
            True,
        ),
        T.StructField(
            # per sentence: list of events; event = [[trigger_tok, type],
            # [arg_start, arg_end, role], ...] (doc/data.md:64-78; trigger
            # is a single token). Mixed-arity inner lists → strings.
            "events",
            T.ArrayType(T.ArrayType(T.ArrayType(T.ArrayType(T.StringType())))),
            True,
        ),
        T.StructField(
            # same shape as clusters, spans are trigger spans (doc/data.md:79-91)
            "event_clusters",
            T.ArrayType(T.ArrayType(T.ArrayType(T.LongType()))),
            True,
        ),
        T.StructField("weight", T.DoubleType(), True),
        T.StructField(
            # prediction-side coref clusters, same shape as `clusters`
            # (dygie/models/dygie.py:289-317)
            "predicted_clusters",
            T.ArrayType(T.ArrayType(T.ArrayType(T.LongType()))),
            True,
        ),
    ]
)

# fields the reference whitelists (document.py:160-173); everything else
# must be _-prefixed user metadata or the document is rejected
KNOWN_DOC_FIELDS = frozenset(
    {
        "doc_key", "dataset", "sentences", "ner", "relations", "clusters",
        "events", "event_clusters", "weight", "sentence_start",
        "predicted_ner", "predicted_relations", "predicted_clusters",
        "predicted_events",
    }
)


def read_jsonl_docs(spark: SparkSession, path: str, with_meta: bool = False) -> DataFrame:
    """A1 — one JSON doc per line → document rows.

    ``with_meta=True`` additionally carries user metadata: `_`-prefixed
    fields pass through untouched (reference document.py:160-173) as a
    ``_meta`` map column (field -> raw JSON snippet; values keep their
    original types when re-emitted by predictions_to_doc_json), and
    ``unknown_fields`` lists any non-whitelisted, non-underscore fields
    (the reference raises on these; callers quarantine via
    doc_field_report)."""
    docs = spark.read.schema(DOC_JSON_SCHEMA).json(path)
    if not with_meta:
        return docs
    # second pass over the raw lines: map<string,string> parsing captures
    # every key with its raw JSON snippet as the value, types preserved
    raw = spark.read.text(path).select(
        F.from_json("value", "map<string,string>").alias("_m")
    )
    known = F.array(*[F.lit(k) for k in sorted(KNOWN_DOC_FIELDS)])
    extras = raw.select(
        # map<string,string> parsing unquotes string values and keeps the
        # raw JSON snippet for nested ones — doc_key joins, _meta round-trips
        F.col("_m")["doc_key"].alias("doc_key"),
        # map of _-field -> raw JSON snippet (nested values) / unquoted
        # string (string values); _splice_meta_json re-emits them typed
        F.map_filter(F.col("_m"), lambda k, v: k.startswith("_")).alias("_meta"),
        F.filter(
            F.map_keys("_m"),
            lambda k: ~F.array_contains(known, k) & ~k.startswith("_"),
        ).alias("unknown_fields"),
    )
    return docs.join(extras, on="doc_key", how="left")


def doc_field_report(docs_with_meta: DataFrame) -> DataFrame:
    """One row per (doc_key, unknown field) — the reference's whitelist
    rejection (document.py:160-173) as a quarantine report instead of a
    hard raise (never silently process garbage, FIXTURES.md §1)."""
    return docs_with_meta.select(
        "doc_key", F.explode("unknown_fields").alias("unknown_field")
    )


def docs_to_turns(docs: DataFrame) -> DataFrame:
    """Reference documents → engine turns (one turn per sentence).

    Mirrors the transcript mapping: doc_key = conv_id, sentence index =
    turn_idx; tokens joined by single spaces (per-turn text equality is
    preserved because reference tokens never contain spaces —
    doc/data.md:29 bans empty tokens)."""
    return docs.select(
        F.col("doc_key").alias("conv_id"),
        F.coalesce(F.col("dataset"), F.lit("transcripts")).alias("dataset"),
        F.posexplode("sentences").alias("turn_idx", "tokens"),
    ).select(
        "conv_id",
        F.col("turn_idx").cast("int"),
        F.lit(None).cast("string").alias("role"),
        F.array_join("tokens", " ").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        "dataset",
    )


def turns_to_doc_json(turns: DataFrame, dataset: str = "transcripts") -> DataFrame:
    """B2 + A2 — turns → one JSON line per document (column `json`)."""
    packed = (
        turns.withColumn("tokens", F.split("text", " "))
        .groupBy("conv_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("turn_idx", "tokens"))).alias("_t")
        )
        .select(
            F.to_json(
                F.struct(
                    F.col("conv_id").alias("doc_key"),
                    F.lit(dataset).alias("dataset"),
                    F.expr("transform(_t, x -> x.tokens)").alias("sentences"),
                )
            ).alias("json")
        )
    )
    return packed


def write_jsonl_docs(turns: DataFrame, path: str, dataset: str = "transcripts") -> None:
    """A2 — JSONL sink (one doc per line). Text-file write so golden files
    diff cleanly against reference-produced JSONL."""
    turns_to_doc_json(turns, dataset).coalesce(1).write.mode("overwrite").text(path)


def annotations_to_doc_json(
    turns: DataFrame,
    ner: DataFrame | None = None,
    relations: DataFrame | None = None,
    events: DataFrame | None = None,
    clusters: DataFrame | None = None,
    dataset: str = "transcripts",
) -> DataFrame:
    """Gold-annotation JSONL sink in the reference's input format
    (doc/data.md:17-91): per-sentence ``ner`` [start, end, "label"],
    ``relations`` [s1, e1, s2, e2, "label"], ``events``
    [[trigger_tok, "TYPE"], [a_start, a_end, "role"], ...] — all DOC-level
    indices — plus doc-level ``clusters`` [[ [s, e], ... ], ...].

    Inputs are the engine's turn-relative row shapes (gold_*_from_docs
    outputs / stand-in extraction): this is the exact inverse of the
    gold_*_from_docs parsers, so write→read round-trips (pinned by the
    events_jsonl_roundtrip gated query). Mixed-type entries are assembled
    as JSON text, all JVM-side."""
    from pyspark import StorageLevel

    from dygiepp_spark.operators.assembly import with_sentence_starts
    from dygiepp_spark.plans import cache

    # same fan-out as predictions_to_doc_json: one offset table, many
    # annotation-family joins — persist (tracked) for one turns scan
    base = cache.track(
        with_sentence_starts(turns)
        .select("conv_id", "turn_idx", "text", "sentence_start")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    offs = base.select("conv_id", "turn_idx", "sentence_start")
    df = base
    parts: list[tuple[str, str]] = []

    if ner is not None:
        m = ner.join(offs, on=["conv_id", "turn_idx"])
        ds = F.col("start") + F.col("sentence_start")
        de = F.col("end") + F.col("sentence_start")
        ent = m.select(
            "conv_id",
            "turn_idx",
            F.struct(
                ds.cast("int").alias("k1"),
                de.cast("int").alias("k2"),
                F.concat(
                    F.lit("["),
                    F.concat_ws(
                        ",", ds.cast("string"), de.cast("string"), _jq(F.col("label"))
                    ),
                    F.lit("]"),
                ).alias("j"),
            ).alias("s"),
        )
        df = df.join(_entry_list(ent, "gner"), on=["conv_id", "turn_idx"], how="left")
        parts.append(("ner", "gner"))

    if relations is not None:
        r = relations.join(offs, on=["conv_id", "turn_idx"])
        cols = [
            (F.col(c) + F.col("sentence_start")).cast("int")
            for c in ("subj_start", "subj_end", "obj_start", "obj_end")
        ]
        ent = r.select(
            "conv_id",
            "turn_idx",
            F.struct(
                *[c.alias(f"k{i}") for i, c in enumerate(cols, 1)],
                F.concat(
                    F.lit("["),
                    F.concat_ws(
                        ",", *[c.cast("string") for c in cols], _jq(F.col("label"))
                    ),
                    F.lit("]"),
                ).alias("j"),
            ).alias("s"),
        )
        df = df.join(_entry_list(ent, "grel"), on=["conv_id", "turn_idx"], how="left")
        parts.append(("relations", "grel"))

    if events is not None:
        # rows: (conv_id, turn_idx, trigger_ix, event_type,
        #        arg_start, arg_end, role) — null args = trigger-only event
        e = events.join(offs, on=["conv_id", "turn_idx"])
        dt = F.col("trigger_ix") + F.col("sentence_start")
        das = F.col("arg_start") + F.col("sentence_start")
        dae = F.col("arg_end") + F.col("sentence_start")
        arg_j = F.when(
            F.col("arg_start").isNotNull(),
            F.struct(
                das.cast("int").alias("k1"),
                dae.cast("int").alias("k2"),
                F.concat(
                    F.lit("["),
                    F.concat_ws(
                        ",", das.cast("string"), dae.cast("string"), _jq(F.col("role"))
                    ),
                    F.lit("]"),
                ).alias("j"),
            ),
        )
        per_trig = (
            e.withColumn("_aj", arg_j)
            .groupBy(
                "conv_id", "turn_idx", F.col("trigger_ix"), dt.alias("_dt"),
                F.col("event_type"),
            )
            .agg(
                F.array_join(
                    F.transform(
                        F.sort_array(F.array_compact(F.collect_list("_aj"))),
                        lambda x: x["j"],
                    ),
                    ",",
                ).alias("args_j")
            )
        )
        ent = per_trig.select(
            "conv_id",
            "turn_idx",
            F.struct(
                F.col("trigger_ix").cast("int").alias("k1"),
                F.concat(
                    F.lit("["),
                    F.concat_ws(
                        ",",
                        F.concat(
                            F.lit("["),
                            F.col("_dt").cast("string"),
                            F.lit(","),
                            _jq(F.col("event_type")),
                            F.lit("]"),
                        ),
                        F.when(F.col("args_j") != "", F.col("args_j")),
                    ),
                    F.lit("]"),
                ).alias("j"),
            ).alias("s"),
        )
        df = df.join(_entry_list(ent, "gev"), on=["conv_id", "turn_idx"], how="left")
        parts.append(("events", "gev"))

    packed = df.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "turn_idx",
                    F.split("text", " ").alias("tokens"),
                    *[F.coalesce(F.col(c), F.lit("[]")).alias(c) for _, c in parts],
                )
            )
        ).alias("_t")
    )
    if clusters is not None:
        packed = packed.join(
            _nested_clusters(clusters, offs, "gclusters"), on="conv_id", how="left"
        )

    head_fields = [
        F.col("conv_id").alias("doc_key"),
        F.lit(dataset).alias("dataset"),
        F.expr("transform(_t, x -> x.tokens)").alias("sentences"),
    ]
    if clusters is not None:
        head_fields.append(
            F.coalesce(F.col("gclusters"), F.array().cast("array<array<array<long>>>"))
            .alias("clusters")
        )
    head = F.to_json(F.struct(*head_fields))
    pieces = [F.substring(head, 1, F.length(head) - F.lit(1))]
    for field, col in parts:
        pieces.append(F.lit(f',"{field}":['))
        pieces.append(F.array_join(F.expr(f"transform(_t, x -> x.{col})"), ","))
        pieces.append(F.lit("]"))
    pieces.append(F.lit("}"))
    return packed.select(F.concat(*pieces).alias("json"), F.col("conv_id"))


def _nested_clusters(clusters: DataFrame, offs: DataFrame, out_col: str) -> DataFrame:
    """(conv_id, cluster_id, turn_idx, start, end) turn-relative member rows
    → one row per conv with doc-level nested cluster lists ordered by
    cluster_id then span (the reference's clusters / predicted_clusters
    shape, doc/data.md:52-62; dygie/models/dygie.py:289-317)."""
    cl = clusters.join(offs, on=["conv_id", "turn_idx"]).select(
        "conv_id",
        "cluster_id",
        F.struct(
            (F.col("start") + F.col("sentence_start")).cast("long").alias("s"),
            (F.col("end") + F.col("sentence_start")).cast("long").alias("e"),
        ).alias("m"),
    )
    return (
        cl.groupBy("conv_id", "cluster_id")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .groupBy("conv_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("cluster_id"), F.col("ms")))
                ),
                lambda x: F.transform(x["ms"], lambda m: F.array(m["s"], m["e"])),
            ).alias(out_col)
        )
    )


def _sentence_offsets(docs: DataFrame) -> DataFrame:
    """(doc_key, sent_ix, sentence_start, n_tokens) via the B1 cumsum."""
    from pyspark.sql import Window

    sent = docs.select(
        "doc_key", F.posexplode("sentences").alias("sent_ix", "tokens")
    ).withColumn("n_tokens", F.size("tokens"))
    w = Window.partitionBy("doc_key").orderBy("sent_ix").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return sent.withColumn(
        "sentence_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).select("doc_key", "sent_ix", "sentence_start", "n_tokens")


def gold_relations_from_docs(docs: DataFrame) -> DataFrame:
    """Reference-format gold relations ([s1,e1,s2,e2,label] with DOC-level
    indices per sentence, doc/data.md:44-51) → turn-relative rows."""
    offs = _sentence_offsets(docs)
    rel = docs.select(
        "doc_key", F.posexplode("relations").alias("sent_ix", "sent_rel")
    ).select("doc_key", "sent_ix", F.explode("sent_rel").alias("r"))
    return rel.join(offs, on=["doc_key", "sent_ix"]).select(
        F.col("doc_key").alias("conv_id"),
        F.col("sent_ix").cast("int").alias("turn_idx"),
        (F.col("r")[0].cast("int") - F.col("sentence_start")).cast("int").alias("subj_start"),
        (F.col("r")[1].cast("int") - F.col("sentence_start")).cast("int").alias("subj_end"),
        (F.col("r")[2].cast("int") - F.col("sentence_start")).cast("int").alias("obj_start"),
        (F.col("r")[3].cast("int") - F.col("sentence_start")).cast("int").alias("obj_end"),
        F.col("r")[4].alias("label"),
    )


def _located_cluster_members(docs: DataFrame, field: str) -> DataFrame:
    """Doc-level cluster member spans → turn-relative rows; members crossing
    a sentence boundary are dropped exactly like the reference
    (document.py:685-689) via the B3 range join."""
    offs = _sentence_offsets(docs)
    members = docs.select(
        "doc_key", F.posexplode(field).alias("cluster_id", "members")
    ).select("doc_key", "cluster_id", F.explode("members").alias("m"))
    located = members.join(offs, on="doc_key").where(
        (F.col("m")[0] >= F.col("sentence_start"))
        & (F.col("m")[1] <= F.col("sentence_start") + F.col("n_tokens") - 1)
    )
    return located.select(
        F.col("doc_key").alias("conv_id"),
        F.col("cluster_id").cast("bigint"),
        F.col("sent_ix").cast("int").alias("turn_idx"),
        (F.col("m")[0] - F.col("sentence_start")).cast("int").alias("start"),
        (F.col("m")[1] - F.col("sentence_start")).cast("int").alias("end"),
    )


def gold_clusters_from_docs(docs: DataFrame) -> DataFrame:
    """Reference-format coref clusters (doc-level spans, cross-sentence;
    cluster id = list index, doc/data.md:52-62) → located turn-relative
    member rows."""
    return _located_cluster_members(docs, "clusters")


def predicted_clusters_from_docs(docs: DataFrame) -> DataFrame:
    """Prediction-side coref clusters (written by predictions_to_doc_json;
    reference merge dygie/models/dygie.py:289-317) → located turn-relative
    member rows, same contract as gold_clusters_from_docs."""
    return _located_cluster_members(docs, "predicted_clusters")


def gold_events_from_docs(docs: DataFrame) -> DataFrame:
    """Reference-format gold events → flattened turn-relative rows.

    Input shape per sentence (doc/data.md:64-78): list of events, each
    ``[[trigger_tok, event_type], [arg_start, arg_end, role], ...]`` with
    DOC-level token indices (triggers single-token in ACE). Output: one row
    per (event, argument) plus one row with null arg columns for
    argument-less events, so trigger-only events survive the flatten —
    (conv_id, turn_idx, event_ix, trigger_ix, event_type,
    arg_start, arg_end, role), all indices turn-relative."""
    offs = _sentence_offsets(docs)
    evs = docs.select(
        "doc_key", F.posexplode("events").alias("sent_ix", "sent_events")
    ).select(
        "doc_key", "sent_ix", F.posexplode("sent_events").alias("event_ix", "ev")
    )
    flat = evs.select(
        "doc_key",
        "sent_ix",
        "event_ix",
        F.col("ev")[0][0].cast("int").alias("trigger_doc_ix"),
        F.col("ev")[0][1].alias("event_type"),
        # arguments: elements 1..n; explode_outer keeps no-arg events
        F.explode_outer(F.slice("ev", 2, F.greatest(F.size("ev") - 1, F.lit(0)))).alias("a"),
    )
    return flat.join(offs, on=["doc_key", "sent_ix"]).select(
        F.col("doc_key").alias("conv_id"),
        F.col("sent_ix").cast("int").alias("turn_idx"),
        F.col("event_ix").cast("int"),
        (F.col("trigger_doc_ix") - F.col("sentence_start")).cast("int").alias("trigger_ix"),
        "event_type",
        (F.col("a")[0].cast("int") - F.col("sentence_start")).cast("int").alias("arg_start"),
        (F.col("a")[1].cast("int") - F.col("sentence_start")).cast("int").alias("arg_end"),
        F.col("a")[2].alias("role"),
    )


def _jq(c):
    """JSON-quote a string column: escape backslash/quote, then the common
    C0 controls (\\n, \\r, \\t) per RFC 8259 — a raw newline inside a string
    would also break the one-doc-per-line JSONL contract. Remaining C0
    controls (vanishingly rare in labels/metadata) are dropped rather than
    emitted invalid."""
    c = F.regexp_replace(c, r'(["\\])', r"\\$1")
    c = F.regexp_replace(c, r"\n", r"\\n")
    c = F.regexp_replace(c, r"\r", r"\\r")
    c = F.regexp_replace(c, r"\t", r"\\t")
    c = F.regexp_replace(c, r"[\x00-\x1f]", "")
    return F.concat(F.lit('"'), c, F.lit('"'))


def _score(c):
    """Score as JSON number text, rounded to 4 decimals (document.py:10-11)."""
    return F.round(c, 4).cast("string")


def _entry_list(entries: DataFrame, name: str) -> DataFrame:
    """(conv_id, turn_idx, s:struct<sort keys..., j:string>) rows →
    (conv_id, turn_idx, <name>: '[e1,e2,...]') with entries sorted by the
    struct's leading fields (numeric span order, not lexicographic)."""
    return entries.groupBy("conv_id", "turn_idx").agg(
        F.concat(
            F.lit("["),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("s")), lambda x: x["j"]), ","
            ),
            F.lit("]"),
        ).alias(name)
    )


def _splice_meta(meta_map):
    """map<_field, raw JSON snippet> → ',"_k":v,...' with values re-emitted
    typed: a snippet splices as JSON only if it BOTH has the shape of a
    JSON literal (regex: nested [/{ prefix, or a FULL-match number/bool/
    null) AND actually parses (try_parse_json alone is too lenient — it
    accepts "3 days" as the number 3). What splices is the re-serialized
    parsed value (to_json of the variant), so the output is guaranteed
    valid JSON even for snippets with odd whitespace; everything else —
    "[draft", "007", "3 days" — re-quotes as a string. (A user string that
    IS valid JSON, e.g. "true", round-trips typed — inherent to the
    snippet representation.)"""
    literal_shape = r"^(\[|\{|true$|false$|null$|-?[0-9]+(\.[0-9]+)?([eE][-+]?[0-9]+)?$)"

    def _emit(v):
        parsed = F.try_parse_json(v)
        return F.when(
            v.rlike(literal_shape) & parsed.isNotNull(), F.to_json(parsed)
        ).otherwise(_jq(v))

    part = F.transform(
        F.map_entries(meta_map),
        lambda e: F.concat(_jq(e["key"]), F.lit(":"), _emit(e["value"])),
    )
    return F.when(
        meta_map.isNotNull() & (F.size(F.map_entries(meta_map)) > 0),
        F.concat(F.lit(","), F.array_join(part, ",")),
    ).otherwise(F.lit(""))


def predictions_to_doc_json(
    turns: DataFrame,
    mentions: DataFrame | None = None,
    triples: DataFrame | None = None,
    triggers: DataFrame | None = None,
    arguments: DataFrame | None = None,
    dataset: str = "transcripts",
    docs_meta: DataFrame | None = None,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """E8 — merge predictions back onto per-document JSON in the reference's
    EXACT prediction format (doc/data.md:108-116; merge
    dygie/models/dygie.py:289-334): DOC-level offsets, mixed-typed entries
    in span order, scores rounded to 4 decimals (document.py:10-11):

    - ``predicted_ner``:       [start, end, "label", logit, softmax]
    - ``predicted_relations``: [s1, e1, s2, e2, "label", logit, softmax]
    - ``predicted_events``:    [[trig_tok, "TYPE", logit, softmax],
                                [a_start, a_end, "role", logit, softmax], ...]
    - ``predicted_clusters``:  doc-level [[start, end], ...] per cluster
                               (dygie.py:289-317; eval-form converter
                               coref.py:702-726), same nesting as gold
                               ``clusters``.

    ``triggers``/``arguments`` are the E5/E6 operator outputs; every trigger
    emits an event even with zero arguments. ``clusters`` takes the E4
    operator output (conv_id, cluster_id, turn_idx, start, end).
    ``docs_meta`` (doc_key, weight, _meta) carries the reference's
    `_`-prefixed user metadata and per-doc loss weight through untouched
    (document.py:155, 160-173).

    Mixed-type JSON arrays can't be a single Spark array type, so entries
    are assembled as JSON text — still all JVM-side column expressions."""
    from pyspark import StorageLevel

    from dygiepp_spark.functions import scoring
    from dygiepp_spark.operators.assembly import with_sentence_starts
    from dygiepp_spark.plans import cache

    # the offset table joins against EVERY prediction family plus the final
    # per-doc pack — unpersisted, each branch replays the turns scan + the
    # sentence-start window (tracked; release after consuming the output)
    base = cache.track(
        with_sentence_starts(turns)
        .select("conv_id", "turn_idx", "text", "sentence_start")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    offs = base.select("conv_id", "turn_idx", "sentence_start")
    df = base
    parts: list[str] = []  # (json field name, per-turn column) in emit order

    if mentions is not None:
        m = mentions.join(offs, on=["conv_id", "turn_idx"])
        ds, de = F.col("start") + F.col("sentence_start"), F.col("end") + F.col(
            "sentence_start"
        )
        ent = m.select(
            "conv_id",
            "turn_idx",
            F.struct(
                ds.cast("int").alias("k1"),
                de.cast("int").alias("k2"),
                F.concat_ws(
                    ",",
                    ds.cast("string"),
                    de.cast("string"),
                    _jq(F.col("label")),
                    _score(F.col("raw_score")),
                    _score(F.col("softmax_score")),
                ).alias("j"),
            ).alias("s"),
        ).withColumn("s", F.struct("s.k1", "s.k2", F.concat(F.lit("["), F.col("s.j"), F.lit("]")).alias("j")))
        df = df.join(_entry_list(ent, "pner"), on=["conv_id", "turn_idx"], how="left")
        parts.append(("predicted_ner", "pner"))

    if triples is not None:
        t = triples.join(offs, on=["conv_id", "turn_idx"])
        s1 = F.col("subj_start") + F.col("sentence_start")
        e1 = F.col("subj_end") + F.col("sentence_start")
        s2 = F.col("obj_start") + F.col("sentence_start")
        e2 = F.col("obj_end") + F.col("sentence_start")
        ent = t.select(
            "conv_id",
            "turn_idx",
            F.struct(
                s1.cast("int").alias("k1"),
                e1.cast("int").alias("k2"),
                s2.cast("int").alias("k3"),
                e2.cast("int").alias("k4"),
                F.concat(
                    F.lit("["),
                    F.concat_ws(
                        ",",
                        s1.cast("string"),
                        e1.cast("string"),
                        s2.cast("string"),
                        e2.cast("string"),
                        _jq(F.col("pred")),
                        _score(F.col("raw_score")),
                        _score(F.col("softmax_score")),
                    ),
                    F.lit("]"),
                ).alias("j"),
            ).alias("s"),
        )
        df = df.join(_entry_list(ent, "prel"), on=["conv_id", "turn_idx"], how="left")
        parts.append(("predicted_relations", "prel"))

    if triggers is not None:
        trig = triggers.join(offs, on=["conv_id", "turn_idx"])
        dt = F.col("trigger_ix") + F.col("sentence_start")
        trig = trig.select(
            "conv_id",
            "turn_idx",
            F.col("trigger_ix"),
            F.concat(
                F.lit("["),
                F.concat_ws(
                    ",",
                    dt.cast("string"),
                    _jq(F.col("event_type")),
                    _score(F.col("raw_score")),
                    _score(F.col("softmax_score")),
                ),
                F.lit("]"),
            ).alias("trig_j"),
        )
        if arguments is not None:
            a = arguments.join(offs, on=["conv_id", "turn_idx"])
            das = F.col("arg_start") + F.col("sentence_start")
            dae = F.col("arg_end") + F.col("sentence_start")
            a = a.select(
                "conv_id",
                "turn_idx",
                "trigger_ix",
                F.struct(
                    F.col("arg_start").cast("int").alias("k1"),
                    F.col("arg_end").cast("int").alias("k2"),
                    F.concat(
                        F.lit("["),
                        F.concat_ws(
                            ",",
                            das.cast("string"),
                            dae.cast("string"),
                            _jq(F.col("role")),
                            _score(scoring.raw_score_col(F.col("arg_surface"), F.lit(1))),
                            _score(
                                scoring.softmax_score_col(F.col("arg_surface"), F.lit(1))
                            ),
                        ),
                        F.lit("]"),
                    ).alias("j"),
                ).alias("s"),
            )
            args_per_trig = a.groupBy("conv_id", "turn_idx", "trigger_ix").agg(
                F.array_join(
                    F.transform(F.sort_array(F.collect_list("s")), lambda x: x["j"]),
                    ",",
                ).alias("args_j")
            )
            trig = trig.join(
                args_per_trig, on=["conv_id", "turn_idx", "trigger_ix"], how="left"
            )
        else:
            trig = trig.withColumn("args_j", F.lit(None).cast("string"))
        ent = trig.select(
            "conv_id",
            "turn_idx",
            F.struct(
                F.col("trigger_ix").cast("int").alias("k1"),
                F.concat(
                    F.lit("["),
                    F.concat_ws(",", F.col("trig_j"), F.col("args_j")),
                    F.lit("]"),
                ).alias("j"),
            ).alias("s"),
        )
        df = df.join(_entry_list(ent, "pev"), on=["conv_id", "turn_idx"], how="left")
        parts.append(("predicted_events", "pev"))

    packed = df.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "turn_idx",
                    F.split("text", " ").alias("tokens"),
                    *[F.coalesce(F.col(c), F.lit("[]")).alias(c) for _, c in parts],
                )
            )
        ).alias("_t")
    )
    if docs_meta is not None:
        packed = packed.join(
            docs_meta.select(
                F.col("doc_key").alias("conv_id"),
                *(["weight"] if "weight" in docs_meta.columns else []),
                *(["_meta"] if "_meta" in docs_meta.columns else []),
            ),
            on="conv_id",
            how="left",
        )
    if clusters is not None:
        packed = packed.join(
            _nested_clusters(clusters, offs, "pclusters"), on="conv_id", how="left"
        )
    head_fields = [
        F.col("conv_id").alias("doc_key"),
        F.lit(dataset).alias("dataset"),
        F.expr("transform(_t, x -> x.tokens)").alias("sentences"),
    ]
    if clusters is not None:
        # a doc with no predicted clusters still carries the key (empty
        # list), matching the reference's always-present predicted_clusters
        # when the coref head runs (dygie.py:311-317)
        head_fields.append(
            F.coalesce(F.col("pclusters"), F.array().cast("array<array<array<long>>>"))
            .alias("predicted_clusters")
        )
    head = F.to_json(F.struct(*head_fields))
    pieces = [F.substring(head, 1, F.length(head) - F.lit(1))]
    for field, col in parts:
        pieces.append(F.lit(f',"{field}":['))
        pieces.append(F.array_join(F.expr(f"transform(_t, x -> x.{col})"), ","))
        pieces.append(F.lit("]"))
    if docs_meta is not None and "weight" in docs_meta.columns:
        pieces.append(
            F.when(
                F.col("weight").isNotNull(),
                F.concat(F.lit(',"weight":'), F.col("weight").cast("string")),
            ).otherwise(F.lit(""))
        )
    if docs_meta is not None and "_meta" in docs_meta.columns:
        pieces.append(_splice_meta(F.col("_meta")))
    pieces.append(F.lit("}"))
    return packed.select(F.concat(*pieces).alias("json"), F.col("conv_id"))


def gold_ner_from_docs(docs: DataFrame) -> DataFrame:
    """Explode reference-format gold NER ([doc-level start, end, label] per
    sentence, doc/data.md:35-43) into engine mention rows with turn-relative
    offsets (uses the sentence-offset cumsum, B1)."""
    sent = docs.select(
        "doc_key",
        F.posexplode("sentences").alias("sent_ix", "tokens"),
    ).withColumn("n_tokens", F.size("tokens"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_key").orderBy("sent_ix").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = sent.withColumn(
        "sentence_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).select("doc_key", "sent_ix", "sentence_start")

    ner = docs.select(
        "doc_key", F.posexplode("ner").alias("sent_ix", "sent_ner")
    ).select("doc_key", "sent_ix", F.explode("sent_ner").alias("m"))
    return ner.join(offs, on=["doc_key", "sent_ix"]).select(
        F.col("doc_key").alias("conv_id"),
        F.col("sent_ix").cast("int").alias("turn_idx"),
        (F.col("m")[0].cast("int") - F.col("sentence_start")).cast("int").alias("start"),
        (F.col("m")[1].cast("int") - F.col("sentence_start")).cast("int").alias("end"),
        F.col("m")[2].alias("label"),
    )
