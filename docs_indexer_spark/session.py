"""SparkSession builder with the engine's tuned defaults.

Tuned for correctness at local[*] and for scale at 100 TB / 1000 executors:
AQE on (runtime coalescing + skew-join splitting), Arrow transport for every
pandas-UDF stage, shuffle partitions sized by the caller (tests: 32; a real
cluster: ~2-3× total cores).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "docs-indexer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128k-row Arrow batches: the block-encode kernel is per-batch
        # vectorized numpy, so bigger batches amortize the Arrow↔numpy
        # boundary (measured: encode stage −15% vs 10k-row batches at
        # 1M docs); ~4 MB per batch at 28 B/row keeps memory trivial
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@functools.lru_cache(maxsize=32)
def _ddl_schemas(schema: str):
    """(StructType, Arrow schema) of a DDL string.  Parsing goes through
    the JVM (~3 ms), and every local result of one kind has the same
    schema, so each string is parsed once per process."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    return struct, to_arrow_schema(struct)


def local_frame(spark: SparkSession, schema: str, columns=None):
    """A small driver-side result — ``columns`` maps each field of the
    DDL ``schema`` to its values, already in result order; None is the
    empty answer — as a DataFrame that runs NO Spark job.  It is built
    from an Arrow table, which Spark plans as a LocalTableScan.  A
    Python-list ``createDataFrame`` starts a job at collect, and an
    ``orderBy``/``limit``/``filter`` on top of any local relation starts
    jobs again, so callers hand over the final rows."""
    import pyarrow as pa

    struct, arrow = _ddl_schemas(schema)
    if columns is None:
        table = arrow.empty_table()
    else:
        table = pa.table([columns[f.name] for f in struct.fields], schema=arrow)
    return spark.createDataFrame(table, schema=struct)


def spread(df, min_partitions: int | None = None, key: str | None = None):
    """Ensure a compute-heavy map stage has at least core-count partitions.

    A small parquet input scans as a handful of partitions (often ONE —
    parquet can't split below a row group), which serializes every
    tokenizer / hash / HOF map fused above it no matter how many cores the
    executor has.  At the 100-TB target the scan has thousands of
    partitions and this is a no-op; the repartition only fires when the
    input is narrower than the session's parallelism, so it never adds a
    shuffle at scale.  The partition-count probe below is NOT free:
    under AQE it runs the stages beneath ``df``'s first exchange as one
    Spark job (2.8-3.4 s on the first call in a fresh JVM, measured on a
    2,100-document ingest corpus with 3 local cores of a 4-core machine).

    Pass ``key`` (a column name) when the result feeds both sides of a
    self-join: hash partitioning is deterministic, so the two subtrees stay
    canonically equal and Spark's ReusedExchange computes them ONCE; a
    round-robin repartition is non-deterministic and defeats the reuse.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:  # rdd-lint: allow
        if key is not None and key in df.columns:
            from pyspark.sql import functions as F

            return df.repartition(target, F.col(key))
        return df.repartition(target)
    return df
