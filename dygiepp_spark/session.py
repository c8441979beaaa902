"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (multi-executor cluster, ~10^12 turns) but
testable on local[N]. Every knob here is a plain Spark conf so the same code
ships via ``spark-submit --py-files`` unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the engine's workload shape:
# - AQE on: runtime coalescing of post-shuffle partitions + skew-join
#   splitting (mega-conversations are the known skew source, SURVEY.md §4).
# - Arrow on + bounded batch size: all model inference flows through
#   pandas/Arrow UDFs; batch size caps peak Python-worker memory the same
#   way the reference caps spans-per-document in its collator
#   (reference: scripts/data/shared/collate.py:33-40).
# - shuffle partitions: overridden per-session; on a real cluster this is
#   sized to ~2-3x total cores with AQE coalescing down.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE's coalescing floor is byte-based (default minPartitionSize 1 MB),
    # but this engine's post-shuffle stages are compute-heavy per byte
    # (char-level hashing, array-algebra extraction, per-group Python
    # union-find): a 3 MB shuffle coalesced to 3 partitions serializes that
    # compute on 3 of 32 cores (measured on the near-dup shingle stages —
    # guide §2.5: AQE is blind to CPU skew). 64 KB keeps parallelismFirst
    # able to fan small-but-expensive shuffles out to defaultParallelism;
    # at production shuffle sizes bytes/parallelism >> 64 KB, so large-scale
    # coalescing behavior is unchanged.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Joins (guide §3.1/§9): let the planner pick shuffled-hash over
    # sort-merge when its size conditions hold, and let AQE rewrite
    # sort-merge to shuffled-hash when every post-shuffle partition's map
    # output is under the threshold — the KG message-passing and triangle
    # joins are equi-joins on entity strings whose per-partition build
    # sides are far below 128 MB, and the sort dominates their stages.
    # Skew safety: AQE skew-join splitting (above) still applies; the
    # threshold bounds per-task build memory.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.session.timeZone": "UTC",
    # Spark 4's default, pinned: the NULL-text token counts and coref
    # offsets are written to be mode-independent, and the pin keeps any
    # other expression from depending on the mode.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # JVM <-> Python-worker data channel over AF_UNIX instead of TCP
    # loopback (Spark 4 feature). Root-cause fix for the wedged-job class
    # observed in r6 scaling runs: under host CPU steal the guest kernel
    # drops loopback TCP segments, and the connection collapses into
    # exponential retransmission backoff (observed live: backoff:13 →
    # RTO 120 s, cwnd:1, ~4 MB stranded in Send-Q both directions, worker
    # blocked in send(), executor blocked in EPoll — a de-facto deadlock
    # killed only by the ladder's hard timeout). Unix domain sockets are
    # lossless by construction, so the failure mode is structurally gone;
    # they also skip TCP/IP stack overhead on every Arrow batch.
    "spark.python.unix.domain.socket.enabled": "true",
}


def get_spark(
    app_name: str = "dygiepp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so bench harnesses can pin parallelism for scaling runs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
