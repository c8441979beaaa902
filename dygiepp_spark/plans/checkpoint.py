"""Per-partition checkpointing with lineage + metrics (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Pattern (the Iceberg-style incremental commit, done with parquet in this
sandbox; swap the writes for Iceberg `df.writeTo(...).overwritePartitions()`
in production — semantics identical):

  1. partition_key = pmod(xxhash64(conv_id), n_partitions): conversations
     never straddle partitions (the reference's document-at-a-time unit).
  2. lineage table records (run_id, stage, partition_key, counts, status,
     input_fingerprint) for every COMMITTED partition.
  3. a (re)run processes only partitions missing from lineage, writing data
     with dynamic-partition overwrite (idempotent: a partition interrupted
     mid-write is simply rewritten), then appends lineage in one atomic-ish
     append AFTER the data commit — once, after every output when a
     transform returns several (the shipped job's heads of one pass).
  4. input_fingerprint = order-insensitive xor of row hashes per partition;
     resume verifies it so stale checkpoints of changed inputs recompute.

Each quantity is computed once. The fingerprints are one aggregate over
the input, collected (one row per partition); the driver compares them
with the collected lineage keys to pick the partitions to do. One job
per output writes all of them (no per-partition driver loop — at 4096
partitions a loop of jobs would dominate wall clock). The committed row counts are
read back in one aggregate, and the new lineage rows are built on the
driver from those two collected results.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Mapping
from urllib.parse import urlparse

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

# note: not "_lineage" — Spark's file source silently ignores _-prefixed paths
LINEAGE_DIR = "lineage"
PART_COL = "partition_key"
LINEAGE_SCHEMA = (
    f"run_id string, stage string, {PART_COL} bigint, n_conversations bigint, "
    "n_turns bigint, n_rows_out bigint, status string, input_fingerprint bigint"
)


def with_partition_key(turns: DataFrame, n_partitions: int) -> DataFrame:
    return turns.withColumn(
        PART_COL, F.pmod(F.xxhash64("conv_id"), F.lit(n_partitions)).cast("bigint")
    )


def partition_fingerprints(keyed_turns: DataFrame) -> DataFrame:
    """(partition_key, input_fingerprint, n_conversations, n_turns)."""
    return keyed_turns.groupBy(PART_COL).agg(
        F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))").alias("input_fingerprint"),
        F.countDistinct("conv_id").cast("bigint").alias("n_conversations"),
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
    )


def local_path(uri: str) -> str:
    """The local-FS path of a parquet-on-FS stand-in location: a plain
    path, or a file:// URI with its scheme stripped (os.path probes on a
    URI are always False, which would silently skip a purge or a resume).
    Any other scheme raises: the stand-ins list, purge and prune with
    os/shutil, so remote storage needs the Iceberg backend
    (overwritePartitions, MERGE INTO)."""
    if uri.startswith("file://"):
        return urlparse(uri).path
    if "://" in uri:
        raise NotImplementedError(
            f"{uri}: the parquet-on-FS stand-ins are local-FS only; use the "
            "Iceberg backend (overwritePartitions / MERGE INTO) for remote storage"
        )
    return uri


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    path = os.path.join(out_dir, LINEAGE_DIR)
    if not os.path.isdir(local_path(path)):  # first run: no lineage yet (local FS /
        return None  # driver-visible DFS mount; Iceberg catalogs instead)
    try:
        return spark.read.parquet(path)
    except Exception:  # noqa: BLE001 — dir exists but no committed files
        return None


def run_with_checkpoint(
    spark: SparkSession,
    turns: DataFrame,
    out_dir: str,
    run_id: str,
    stage: str = "triples",
    n_partitions: int = 16,
    transform: Callable[[DataFrame], DataFrame | Mapping[str, DataFrame]] | None = None,
) -> dict:
    """Run `transform` (default: relation-triple extraction) over only the
    partitions not yet committed for `stage`; returns a summary dict.

    `transform` returns one DataFrame, committed as `stage`, or a mapping
    name → DataFrame that includes `stage`. Each output lands in
    {out_dir}/data/{name}/ partitioned by partition_key; lineage, one row
    per partition under `stage` with `stage`'s row count, lands in
    {out_dir}/lineage/ after every output is written.
    """
    if transform is None:
        from dygiepp_spark.operators.extract import relation_triples

        transform = relation_triples

    keyed = with_partition_key(turns, n_partitions)
    # one row per partition: collected once, reused for `todo` and lineage
    fps = {r[PART_COL]: r for r in partition_fingerprints(keyed).collect()}

    lineage = read_lineage(spark, out_dir)
    done: set = set()
    if lineage is not None:
        # a partition is skippable iff SOME committed lineage row matches
        # the current input fingerprint (recomputed partitions leave their
        # stale rows behind — append-only lineage)
        done = {
            (r[PART_COL], r["input_fingerprint"])
            for r in lineage.where(
                (F.col("stage") == stage) & (F.col("status") == "done")
            )
            .select(PART_COL, "input_fingerprint")
            .collect()
        }
    todo = [k for k, r in fps.items() if (k, r["input_fingerprint"]) not in done]
    summary = {
        "run_id": run_id,
        "stage": stage,
        "n_partitions": n_partitions,
        "n_todo": len(todo),
        "n_skipped": n_partitions - len(todo),
    }
    if not todo:
        return summary

    out = transform(keyed.where(F.col(PART_COL).isin(todo)).drop(PART_COL))
    outputs = out if isinstance(out, Mapping) else {stage: out}
    for name, df in outputs.items():
        data_path = os.path.join(out_dir, "data", name)
        # Dynamic overwrite only replaces partitions PRESENT in the new
        # output: a todo partition whose recompute yields zero rows would
        # keep its stale files (and the lineage row below would record the
        # stale count). Purge every todo partition explicitly before the
        # write — an interrupted run just recomputes them (lineage commits
        # last). Iceberg's overwritePartitions() does this with delete
        # predicates; the parquet-on-FS stand-in needs an explicit local
        # delete, and it must FAIL LOUDLY if it can't delete — a swallowed
        # error here would resurrect the stale-data bug silently.
        for k in todo:
            part_dir = os.path.join(local_path(data_path), f"{PART_COL}={k}")
            if os.path.exists(part_dir):
                shutil.rmtree(part_dir)  # raises on failure — never skip silently
        (
            with_partition_key(df, n_partitions)
            .repartition(PART_COL)
            .write.mode("overwrite")
            # per-write option, NOT session conf: mutating the shared
            # session's partitionOverwriteMode would change overwrite
            # semantics for unrelated writes in the same session
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PART_COL)
            .parquet(data_path)
        )

    # lineage append AFTER the data commit (metrics per partition): the
    # committed row counts are read back once, and the lineage rows are
    # built on the driver from them and the collected fingerprints
    try:
        n_rows_out = {
            r[PART_COL]: r["n_rows_out"]
            for r in read_stage(spark, out_dir, stage)
            .where(F.col(PART_COL).isin(todo))
            .groupBy(PART_COL)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows_out"))
            .collect()
        }
    except AnalysisException:  # zero output rows: the dir has no partition
        # files to infer a schema from; lineage still commits (n_rows_out =
        # 0) so the empty partitions skip on resume
        n_rows_out = {}
    new_lineage = pd.DataFrame(
        [
            (
                run_id, stage, k, fps[k]["n_conversations"], fps[k]["n_turns"],
                n_rows_out.get(k, 0), "done", fps[k]["input_fingerprint"],
            )
            for k in todo
        ],
        columns=[
            "run_id", "stage", PART_COL, "n_conversations", "n_turns",
            "n_rows_out", "status", "input_fingerprint",
        ],
    )
    spark.createDataFrame(new_lineage, LINEAGE_SCHEMA).write.mode("append").parquet(
        os.path.join(out_dir, LINEAGE_DIR)
    )
    summary["n_rows_out"] = sum(n_rows_out.values())
    return summary


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data", stage))
