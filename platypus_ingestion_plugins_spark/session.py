"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we'd ship
on a multi-executor cluster (AQE, skew-join handling, Arrow transfers,
UTC session time so results are oracle-comparable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def s3a_options(
    warehouse_path: str,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = False,
) -> dict[str, str]:
    """Translate warehouse/S3 settings into ``spark.hadoop.fs.s3a.*``
    session confs (reference S4, PaimonIngestor.java:180-225; behavior
    pinned by PaimonIngestorS3ConfigTest.java:40-227).

    - non-``s3a://`` warehouse: no S3A confs at all.
    - any ``s3a://`` warehouse gets the universal tuning the reference
      applies unconditionally: 256 max connections, 128 threads, 64M
      blocks, explicit S3AFileSystem impl.
    - an ``endpoint`` marks a test/local stack (S3Mock): static
      credentials via SimpleAWSCredentialsProvider, optional
      path-style access.
    - no endpoint marks production: the default AWS credentials
      provider chain (IAM roles), and NO static keys even if passed.
    """
    if not warehouse_path.startswith("s3a://"):
        return {}
    pfx = "spark.hadoop.fs.s3a."
    opts = {
        pfx + "impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        pfx + "connection.maximum": "256",
        pfx + "threads.max": "128",
        pfx + "block.size": "64M",
    }
    if endpoint:
        opts[pfx + "endpoint"] = endpoint
        opts[pfx + "access.key"] = access_key or ""
        opts[pfx + "secret.key"] = secret_key or ""
        opts[pfx + "aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        )
        if path_style_access:
            opts[pfx + "path.style.access"] = "true"
    else:
        opts[pfx + "aws.credentials.provider"] = (
            "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
        )
    return opts


def apply_s3a(spark: SparkSession, options: dict[str, str]) -> None:
    """Apply s3a_options to a live session's Hadoop configuration (new
    filesystem instances pick them up; pass to get_spark's extra_confs
    instead when building the session)."""
    hconf = spark._jsc.hadoopConfiguration()
    for k, v in options.items():
        hconf.set(k.removeprefix("spark.hadoop."), v)


def _driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else half of the host's
    ``MemTotal`` capped at 16g (16g where meminfo is unreadable): a
    heap the host cannot back is a bug, not a default."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{min(kb // 2048, 16 * 1024)}m"


def get_spark(
    app_name: str = "platypus_spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``spark.sql.shuffle.partitions`` defaults to the local core count:
    the 200-partition default over-parallelizes small local runs and
    under-parallelizes 100 TB ones — on a real cluster this is set to
    ~2-3x total executor cores, or left to AQE coalescing.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # driver testdata carries TIMESTAMP(NANOS) parquet columns, which
        # Spark rejects by default; read them as raw nanosecond longs
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        # a serving-table read names its snapshot's files explicitly;
        # past the default 32 paths Spark would list them in a job
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_parallelism(df, min_partitions: int | None = None):
    """Round-robin repartition IFF the plan is under-parallelized.

    Heavy per-row compute (tokenize/shingle/hash over text, vector
    math over embeddings) inherits the scan's split count; a small
    single-row-group parquet file yields ONE task and serializes the
    whole stage on one core. At 100 TB inputs arrive as thousands of
    splits and this is a no-op — the repartition (and its shuffle)
    only fires when the source has fewer partitions than cores, i.e.
    exactly the small-input regime where the shuffle is cheap.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
