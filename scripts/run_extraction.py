#!/usr/bin/env python
"""spark-submit entrypoint: end-to-end KG construction over a turns table.

    spark-submit --py-files dygiepp_spark.zip scripts/run_extraction.py \
        --turns <iceberg table | parquet path | synth:N> \
        --out /path/to/output [--n-partitions 64] \
        [--run-id r1]

Writes, under <out>/data/: triples/, mentions/, clusters/ and failed/
(the per-turn failure flags), the projections of ONE model pass that
decodes each turn once, committed per partition with lineage
(plans/checkpoint.py); canonical/, built from the committed triples and
clusters; predictions_jsonl/ with --jsonl; and a summary line. Resumable:
re-running with the same --out skips committed partitions whose input
fingerprint is unchanged, so unchanged input runs no model pass.
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
    from dygiepp_spark.inference import udf as iudf
    from dygiepp_spark.plans import cache, checkpoint as cp
    from dygiepp_spark.operators import canonicalize
    from dygiepp_spark.sources import sinks
    from dygiepp_spark.tables import read_turns

    spark = get_spark("kg-extraction", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.turns.startswith("synth:"):
        from dygiepp_spark.synth import synth_turns

        turns = synth_turns(spark, n_convs=int(args.turns.split(":", 1)[1]))
    else:
        turns = read_turns(spark, source=args.turns)

    # every output is a projection of ONE model pass over the partitions to do
    heads = {"triples": iudf.triples_from, "mentions": iudf.mentions_from,
             "clusters": iudf.clusters_from, "failed": iudf.failed_from}

    def model_pass(todo):
        # persisted once for the four writes, released when the scope
        # below exits (a local checkpoint's blocks stay pinned for the
        # session: unpersist does not reach them)
        tall = cache.maybe_persist(iudf.infer(todo), persist=True)
        return {name: head(tall) for name, head in heads.items()}

    with cache.scoped():
        summary = cp.run_with_checkpoint(
            spark, turns, args.out, run_id=args.run_id,
            stage="triples", n_partitions=args.n_partitions, transform=model_pass,
        )

    def committed(name):  # with its schema: an empty output reads as 0 rows
        schema = heads[name](spark.createDataFrame([], iudf.OUTPUT_SCHEMA)).schema
        return spark.read.schema(schema).parquet(f"{args.out}/data/{name}")

    triples, clusters = committed("triples"), committed("clusters")
    canonical = canonicalize.canonicalize_with_coref(
        triples, clusters, canonicalize.alias_dict(spark)
    )
    sinks.write_canonical_triples(canonical, f"{args.out}/data/canonical")

    if args.jsonl:
        from dygiepp_spark.sources.jsonl import predictions_to_doc_json

        tall = iudf.infer_turns(turns)  # events are not committed: their own pass
        json_docs = predictions_to_doc_json(
            turns,
            mentions=committed("mentions"),
            triples=triples,
            triggers=iudf.triggers_from(tall),
            arguments=iudf.arguments_from(tall),
            clusters=clusters,
        )
        path = f"{args.out}/data/predictions_jsonl"
        sinks.write_predictions_jsonl(json_docs, path)
        summary["n_jsonl_docs"] = spark.read.text(path).count()

    summary["n_canonical"] = spark.read.parquet(f"{args.out}/data/canonical").count()
    print(json.dumps(summary))
    if stop_session:  # False for in-process callers (tests) sharing a session
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
