"""SparkSession factory tuned for the dedup workload.

Local-mode settings follow the sandbox (single JVM, N threads); the same
config keys are what you'd set on a real multi-executor cluster, where
``spark.sql.shuffle.partitions`` scales with total cores and AQE coalesces /
splits at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "cargo_dupes_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        # 2x cores: enough slack for uneven task times; AQE coalesces
        # (parallelism-first) so small shuffles don't fragment.
        shuffle_partitions = max(2 * parallelism, 16)

    builder = SparkSession.builder
    # under spark-submit the master (and executor topology) comes from the
    # submit command line — only force local[N] when none was provided, so
    # the same code path serves `spark-submit --master yarn --py-files ...`
    # (north_rule packaging) and in-process local runs
    from pyspark import SparkConf

    if not SparkConf().contains("spark.master") and "MASTER" not in os.environ:
        builder = builder.master(f"local[{parallelism}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # partition by DATA SIZE, not core count: parallelism-first keeps
        # shuffle_partitions tasks alive even when a stage moves 6 MB (each
        # CC round paid ~32 near-empty tasks × 2 shuffles), while big
        # shuffles still fan out to shuffle_partitions. Size-based targets
        # hold at any cluster size: tiny stages coalesce to a task or two,
        # heavy stages keep straggler slack.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # 4 MB advisory: this workload's shuffle bytes are CPU-dense (lz4
        # text + shingle arrays feeding collect_list/verify kernels), so a
        # 32 MB target coalesced the candidate-expansion and verify-
        # reassembly exchanges to 1-2 tasks and serialized their compute
        # (measured: candidate_pairs stage 6.0s -> 3.0s at 8 MB; a further
        # 8 -> 4 MB step re-measured the 13-query suite at -1.7 s on the
        # 600k-row tables and -1.2 s on a 10x synthetic set, pipeline
        # neutral — the win is the same shape: the embedding re-rank and
        # window exchanges move 8-15 MB of CPU-dense rows that 8 MB
        # coalesced to 1-2 tasks). Sub-advisory shuffles (CC rounds,
        # trailing stages) still coalesce to a task or two, and AQE can
        # only MERGE partitions, so on a real cluster — where partition
        # count is capped by spark.sql.shuffle.partitions and
        # per-partition bytes are far above 4 MB — this knob never
        # engages; it is a small-shuffle shaping choice, not a cluster tune.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(4 * 1024 * 1024))
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", str(2 * 1024 * 1024))
        # dedup work is CPU-heavy per byte (regex normalize, shingle windows,
        # sketch UDFs): 128 MB scan splits cap narrow stages over checkpoint
        # tables at a handful of tasks and leave cores idle. 16 MB gives
        # ~2-4 splits per core at bench scale; a 1000-executor 100 TB run
        # has thousands of files and would raise this back toward 128-256 MB.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # open-cost padding sizes scan splits as max(openCost, bytes/cores):
        # the default 4 MB floor packs small-but-CPU-dense tables (zstd
        # checkpoint tables compress norm_text/shingles ~8x) into 2-3 read
        # tasks, serializing the shingle/sketch stages that scan them. 256 KB
        # keeps the floor for truly tiny files while letting compressed stage
        # tables split to one task per core (bytes/cores term). At 100 TB
        # files are >=128 MB and openCost never binds, so this is local-safe
        # and cluster-neutral.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # zstd checkpoint tables: stage outputs are text-heavy (norm_text,
        # shingles) and every stage boundary is a write+read — zstd's ~2x
        # better ratio on text converts memory/IO bandwidth (the resource
        # that does NOT scale with cores on this host — ~19 GB/s at any
        # worker count) into compression CPU (which does), and is the
        # standard codec for petabyte-scale parquet anyway
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # straggler armor: this host intermittently wedges a single Python
        # UDF worker (observed: one signature-stage task at ~0% CPU for 17
        # minutes while its JVM reader polls — the same shape as a sick
        # executor on a real cluster). Speculation re-launches the laggard
        # copy; maxFailures>1 (local default is 1!) lets a killed/failed
        # task retry instead of failing the job. Both are standard
        # large-cluster settings — parquet's commit protocol already
        # handles speculative duplicates.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        .config("spark.task.maxFailures", "4")
        # generated-class cache sized above one streaming micro-batch: a
        # warm (exact, near) trigger compiles ~120 distinct whole-stage
        # classes and the default 100-entry LRU evicted each before the
        # next trigger reused it. Measured on a 6-trigger, 300-doc-per-
        # trigger drain at local[4]: 760 -> 214 compilations and 12-14 s
        # -> 4.5-5.6 s of Janino time; the wall-time change was within this
        # host's run-to-run noise. Static conf: set before the JVM starts.
        .config("spark.sql.codegen.cache.maxEntries", "512")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
