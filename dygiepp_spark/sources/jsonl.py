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
    base, offs = _offset_base(turns)
    label = [_jq(F.col("label"))]
    families = []
    if ner is not None:
        families.append(("ner", _span_entries(ner, offs, _MENTION_SPAN, label)))
    if relations is not None:
        families.append(
            ("relations", _span_entries(relations, offs, _RELATION_SPAN, label))
        )
    if events is not None:
        # rows: (conv_id, turn_idx, trigger_ix, event_type,
        #        arg_start, arg_end, role) — null args = trigger-only event
        triggers = events.select(*_EVENT_KEY).distinct()
        arguments = events.where(F.col("arg_start").isNotNull())
        families.append(
            (
                "events",
                _event_entries(
                    triggers, arguments, offs,
                    [_jq(F.col("event_type"))], [_jq(F.col("role"))],
                ),
            )
        )
    return _assemble(base, offs, families, dataset, clusters, "clusters")


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


_MENTION_SPAN = ("start", "end")
_RELATION_SPAN = ("subj_start", "subj_end", "obj_start", "obj_end")
_EVENT_KEY = ("conv_id", "turn_idx", "trigger_ix", "event_type")
_TURN_KEY = ("conv_id", "turn_idx")


def _offset_base(turns: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(base, offs): the turns with their doc-level ``sentence_start``, and
    its (conv_id, turn_idx, sentence_start) projection. The offset table
    joins against every annotation family plus the final per-doc pack —
    unpersisted, each branch replays the turns scan + the sentence-start
    window (tracked; release after consuming the output)."""
    from pyspark import StorageLevel

    from dygiepp_spark.operators.assembly import with_sentence_starts
    from dygiepp_spark.plans import cache

    base = cache.track(
        with_sentence_starts(turns)
        .select("conv_id", "turn_idx", "text", "sentence_start")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return base, base.select("conv_id", "turn_idx", "sentence_start")


def _span_entries(rows, offs, spans, tail, keys=_TURN_KEY) -> DataFrame:
    """Turn-relative rows → (*keys, s:struct<k1..kn, j>): the ``spans``
    columns shifted to doc level are the int sort keys k1..kn, and ``j`` is
    the JSON entry '[ints..., tail...]' (``tail`` is JSON-text columns)."""
    ints = [F.col(c) + F.col("sentence_start") for c in spans]
    return rows.join(offs, on=list(_TURN_KEY)).select(
        *keys,
        F.struct(
            *[c.cast("int").alias(f"k{i}") for i, c in enumerate(ints, 1)],
            _json_list(*[c.cast("string") for c in ints], *tail).alias("j"),
        ).alias("s"),
    )


def _event_entries(triggers, arguments, offs, trigger_tail, argument_tail) -> DataFrame:
    """One entry per (trigger, event type): [[trig_tok, "TYPE", ...],
    [a_start, a_end, ...], ...] with the arguments in span order. Arguments
    attach on (conv_id, turn_idx, trigger_ix, event_type); ``arguments=None``
    emits trigger-only events."""
    ev = _span_entries(triggers, offs, ["trigger_ix"], trigger_tail, _EVENT_KEY)
    args = F.lit(None).cast("string")
    if arguments is not None:
        a = _span_entries(
            arguments, offs, ["arg_start", "arg_end"], argument_tail, _EVENT_KEY
        )
        a = a.groupBy(*_EVENT_KEY).agg(_sorted_entries("s").alias("_args"))
        ev = ev.join(a, on=list(_EVENT_KEY), how="left")
        args = F.col("_args")
    return ev.select(
        *_TURN_KEY,
        F.struct("s.k1", _json_list(F.col("s.j"), args).alias("j")).alias("s"),
    )


def _json_list(*items):
    """'[a,b,...]' from JSON-text columns; NULL items are skipped."""
    return F.concat(F.lit("["), F.concat_ws(",", *items), F.lit("]"))


def _sorted_entries(col: str):
    """Aggregate: the entries' ``j`` texts in struct order (numeric span
    order, not lexicographic), comma-joined."""
    return F.array_join(
        F.transform(F.sort_array(F.collect_list(col)), lambda x: x["j"]), ","
    )


def _assemble(base, offs, families, dataset, clusters, clusters_field, docs_meta=None):
    """Per-document JSON lines (columns json, conv_id) in the reference's
    field order: the head {doc_key, dataset, sentences[, clusters_field]},
    then one per-sentence list per family (field, (conv_id, turn_idx, s)
    entries), then ``weight`` and the `_` metadata of ``docs_meta``.

    The head is ``to_json`` of a struct; the families and metadata are
    spliced in as text because their mixed-type entries have no Spark
    array type."""
    df = base
    cols = [f"_f{i}" for i in range(len(families))]
    for (_, ent), c in zip(families, cols):
        per_turn = ent.groupBy(*_TURN_KEY).agg(
            _json_list(_sorted_entries("s")).alias(c)
        )
        df = df.join(per_turn, on=list(_TURN_KEY), how="left")
    packed = df.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "turn_idx",
                    F.split("text", " ").alias("tokens"),
                    *[F.coalesce(F.col(c), F.lit("[]")).alias(c) for c in cols],
                )
            )
        ).alias("_t")
    )
    head_fields = [
        F.col("conv_id").alias("doc_key"),
        F.lit(dataset).alias("dataset"),
        F.expr("transform(_t, x -> x.tokens)").alias("sentences"),
    ]
    if clusters is not None:
        packed = packed.join(
            _nested_clusters(clusters, offs, "_clusters"), on="conv_id", how="left"
        )
        # a doc with no clusters still carries the key (empty list),
        # matching the reference's always-present predicted_clusters when
        # the coref head runs (dygie.py:311-317)
        head_fields.append(
            F.coalesce(F.col("_clusters"), F.array().cast("array<array<array<long>>>"))
            .alias(clusters_field)
        )
    head = F.to_json(F.struct(*head_fields))
    pieces = [F.substring(head, 1, F.length(head) - F.lit(1))]
    for (field, _), c in zip(families, cols):
        pieces.append(F.lit(f',"{field}":['))
        pieces.append(F.array_join(F.expr(f"transform(_t, x -> x.{c})"), ","))
        pieces.append(F.lit("]"))
    if docs_meta is not None:
        meta_cols = [c for c in ("weight", "_meta") if c in docs_meta.columns]
        packed = packed.join(
            docs_meta.select(F.col("doc_key").alias("conv_id"), *meta_cols),
            on="conv_id",
            how="left",
        )
        if "weight" in meta_cols:
            pieces.append(
                F.when(
                    F.col("weight").isNotNull(),
                    F.concat(F.lit(',"weight":'), F.col("weight").cast("string")),
                ).otherwise(F.lit(""))
            )
        if "_meta" in meta_cols:
            pieces.append(_splice_meta(F.col("_meta")))
    pieces.append(F.lit("}"))
    return packed.select(F.concat(*pieces).alias("json"), F.col("conv_id"))


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
    from dygiepp_spark.functions import scoring

    base, offs = _offset_base(turns)
    scores = [_score(F.col("raw_score")), _score(F.col("softmax_score"))]
    families = []
    if mentions is not None:
        tail = [_jq(F.col("label")), *scores]
        families.append(
            ("predicted_ner", _span_entries(mentions, offs, _MENTION_SPAN, tail))
        )
    if triples is not None:
        tail = [_jq(F.col("pred")), *scores]
        families.append(
            ("predicted_relations", _span_entries(triples, offs, _RELATION_SPAN, tail))
        )
    if triggers is not None:
        surface = F.col("arg_surface")
        arg_tail = [
            _jq(F.col("role")),
            _score(scoring.raw_score_col(surface, F.lit(1))),
            _score(scoring.softmax_score_col(surface, F.lit(1))),
        ]
        families.append(
            (
                "predicted_events",
                _event_entries(
                    triggers, arguments, offs, [_jq(F.col("event_type")), *scores],
                    arg_tail,
                ),
            )
        )
    return _assemble(
        base, offs, families, dataset, clusters, "predicted_clusters", docs_meta
    )


def gold_ner_from_docs(docs: DataFrame) -> DataFrame:
    """Explode reference-format gold NER ([doc-level start, end, label] per
    sentence, doc/data.md:35-43) into engine mention rows with turn-relative
    offsets (uses the sentence-offset cumsum, B1)."""
    offs = _sentence_offsets(docs)
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
