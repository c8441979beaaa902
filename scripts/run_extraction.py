#!/usr/bin/env python
"""spark-submit entrypoint: end-to-end KG construction over a turns table.

    spark-submit --py-files dygiepp_spark.zip scripts/run_extraction.py \
        --turns <iceberg table | parquet path | synth:N> \
        --out /path/to/output [--n-partitions 64] \
        [--run-id r1]

Writes: mentions/, triples (checkpointed per-partition with lineage),
canonical/ and a metrics summary. Resumable: re-running with the same
--out skips committed partitions whose input fingerprint is unchanged
(plans/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None, stop_session: bool = True) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--turns", required=True,
                   help="iceberg table name, parquet path, or synth:<n_convs>")
    p.add_argument("--out", required=True)
    p.add_argument("--n-partitions", type=int, default=64)
    p.add_argument("--run-id", default="run")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--jsonl",
        action="store_true",
        help="also write the reference-format prediction JSONL "
        "(predicted_ner/relations/events/clusters) to <out>/data/predictions_jsonl",
    )
    args = p.parse_args(argv)

    from dygiepp_spark.session import get_spark
    from dygiepp_spark.plans import checkpoint as cp
    from dygiepp_spark.operators import canonicalize, coref, extract
    from dygiepp_spark.sources import sinks
    from dygiepp_spark.tables import read_turns

    spark = get_spark("kg-extraction", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.turns.startswith("synth:"):
        from dygiepp_spark.synth import synth_turns

        turns = synth_turns(spark, n_convs=int(args.turns.split(":", 1)[1]))
    else:
        turns = read_turns(spark, source=args.turns)

    # triples: checkpointed per-partition (resumable)
    summary = cp.run_with_checkpoint(
        spark, turns, args.out, run_id=args.run_id,
        stage="triples", n_partitions=args.n_partitions,
    )

    # downstream tables from the committed triples; mentions are the NER
    # head of the model pass, where a NULL text is flagged and decodes to
    # nothing
    triples = cp.read_stage(spark, args.out, "triples").drop("partition_key")
    mentions = extract.ner_mentions(turns)
    clusters = coref.clusters_via_components(turns)
    sinks.write_mentions(mentions, f"{args.out}/data/mentions")
    canonical = canonicalize.canonicalize_with_coref(
        triples, clusters, canonicalize.alias_dict(spark)
    )
    sinks.write_canonical_triples(canonical, f"{args.out}/data/canonical")

    if args.jsonl:
        from dygiepp_spark.sources.jsonl import predictions_to_doc_json

        json_docs = predictions_to_doc_json(
            turns,
            mentions=mentions,
            triples=triples,
            triggers=extract.event_triggers(turns),
            arguments=extract.event_arguments(turns),
            clusters=clusters,
        )
        sinks.write_predictions_jsonl(
            json_docs, f"{args.out}/data/predictions_jsonl"
        )
        summary["n_jsonl_docs"] = (
            spark.read.text(f"{args.out}/data/predictions_jsonl").count()
        )

    summary["n_canonical"] = spark.read.parquet(f"{args.out}/data/canonical").count()
    print(json.dumps(summary))
    if stop_session:  # False for in-process callers (tests) sharing a session
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
