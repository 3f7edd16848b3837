"""SparkSession and SparkContext factories with the engine's standard
configuration.

``spark_conf`` holds the settings, tuned for correctness-at-scale defaults:
AQE on (runtime re-planning + skew-join splitting), Arrow transfer for every
pandas UDF stage, and shuffle-partition counts sized by the caller (tests
use small counts so 60k-row inputs don't fragment into thousands of empty
tasks; the 100 TB deployment sets this to ~2-3x total cores via
spark-submit conf). ``get_spark`` builds the SparkSession every DataFrame
path uses. ``get_context`` builds only the SparkContext from the same
settings, for file-parallel jobs with no relational work, such as the one
RDD job of ``cli convert``. Cold, a session starts about 1 s slower than a
bare context, and a first job through Arrow ``mapInPandas`` takes about
1.1 s longer than the same work as an RDD job (BENCH.md "Cold `cli
convert`").
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Driver-JVM heap derived from the host, not a fixed aggressive value:
    ~half of physical RAM, floored at 2g and capped at 32g. A library entry
    point must not assume a 128 GiB bench host (ADVICE r1); callers that know
    better set SPARK_GRAFT_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
        gb = max(2, min(32, total_kb // (2 * 1024 * 1024)))
    except (OSError, ValueError, IndexError):
        gb = 4
    return f"{gb}g"


def spark_conf(app_name: str = "openapi-to-rdf-spark", cores: int | None = None,
               shuffle_partitions: int | None = None, extra_conf: dict | None = None,
               master: str | None = None) -> dict:
    """The engine's Spark configuration as ``{key: value}``, ``extra_conf``
    last so it overrides."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        # local mode: match cores; cluster deployments override via conf
        shuffle_partitions = max(cores, 8)
    conf = {
        "spark.app.name": app_name,
        "spark.master": master or f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # post-shuffle work here (URI minting, explode, parquet compression)
        # inflates ~10x over its compact shuffle bytes, so the default 64m
        # advisory coalesces to far too few partitions and serializes the
        # stage (measured 3x slowdown); 8m keeps reduce-side parallelism
        # while still merging tiny partitions
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.driver.memory":
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        # v2 file-output commit: task-side renames land directly in the
        # destination, so job commit is O(1) instead of a driver-serial
        # walk of every task directory — the parquet-sink share of the
        # N-vs-4N scaling gap is commit serialization, not encode (r5;
        # BENCH.md "scaling"). Semantics note: concurrent writers to one
        # path lose all-or-nothing job atomicity; the engine's sinks are
        # single-writer-per-path (snapshot dirs are batch_id-partitioned).
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    conf.update(extra_conf or {})
    return conf


def get_spark(app_name: str = "openapi-to-rdf-spark", cores: int | None = None,
              shuffle_partitions: int | None = None, extra_conf: dict | None = None,
              master: str | None = None) -> SparkSession:
    conf = spark_conf(app_name, cores, shuffle_partitions, extra_conf, master)
    return SparkSession.builder.config(map=conf).getOrCreate()


def get_context(app_name: str = "openapi-to-rdf-spark",
                cores: int | None = None) -> SparkContext:
    """A bare SparkContext with the same configuration, for file-parallel
    jobs that do no relational work (``cli convert``): no SQL engine or
    Arrow boundary to start. ``getOrCreate`` reuses a running context, so
    under spark-submit, or beside a session, its conf wins."""
    conf = SparkConf().setAll(spark_conf(app_name, cores).items())
    return SparkContext.getOrCreate(conf)
