"""SparkSession builder with the engine's tuned defaults.

Tuned for correctness at local[*] and for scale at 100 TB / 1000 executors:
AQE on (runtime coalescing + skew-join splitting), Arrow transport for every
pandas-UDF stage, shuffle partitions sized by the caller (tests: 32; a real
cluster: ~2-3× total cores).
"""

from __future__ import annotations

import functools
import os
import string
import threading
import unicodedata

import pyarrow as pa
from pyspark.sql import Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)


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


# Spark types whose collected Python values equal the values of their
# Arrow column's ``to_pylist()`` (no conversion on either side)
_FLAT_TYPES = (
    BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, StringType,
)


@functools.lru_cache(maxsize=32)
def _ddl_schemas(schema: str):
    """(StructType, Arrow schema) of a DDL string.  Parsing goes through
    the JVM (~3 ms), and every local result of one kind has the same
    schema, so each string is parsed once per process."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    other = [f.name for f in struct.fields
             if not isinstance(f.dataType, _FLAT_TYPES)]
    if other:
        raise ValueError(
            f"local_frame holds only numbers, booleans and strings: {other}"
        )
    return struct, to_arrow_schema(struct)


class LazyFrame(DataFrame):
    """A DataFrame whose JVM side is built on first use, that answers what
    the driver already holds without the JVM.

    ``build()`` returns the DataFrame this one stands for; the first
    method that needs the JVM relation (any transformation, a join on
    either side, ``schema``, ``explain``, ``toPandas``, ...) runs it once,
    under a lock, and from then on the frame behaves as that DataFrame.
    Two methods are answered on the driver instead, when their answer is
    given:

    - ``collect()`` returns ``rows``, a copy of the list.  It starts no
      job and posts no SQL-execution event;
    - ``inputFiles()`` returns ``files``, the relation's data files as
      the URIs Spark reports.
    """

    def __new__(cls, *args, **kwargs):
        # DataFrame.__new__ runs DataFrame.__init__ with a JVM handle
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, build, rows=None, files=None):
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._builder = build
        self._built = None
        self._build_lock = threading.Lock()
        self._rows = rows
        self._files = files

    @property
    def _jdf(self):
        if self._built is None:
            with self._build_lock:
                if self._built is None:
                    try:
                        self._built = self._builder()._jdf
                    except AttributeError as e:
                        # an AttributeError raised from here would reach
                        # DataFrame.__getattr__, which reads the schema
                        # and so builds again, without end
                        raise RuntimeError(
                            f"building the relation failed: {e}"
                        ) from e
        return self._built

    def collect(self) -> list[Row]:
        if self._rows is None:
            return super().collect()
        return list(self._rows)

    def inputFiles(self) -> list[str]:
        if self._files is None:
            return super().inputFiles()
        return list(self._files)


def local_frame(spark: SparkSession, schema: str, columns=None) -> LazyFrame:
    """A small driver-side result — ``columns`` maps each field of the
    DDL ``schema`` (numbers, booleans and strings) to its values, already
    in result order; None is the empty answer — as a :class:`LazyFrame`.

    ``collect()`` returns the rows from the driver, no JVM call and no
    Spark job: ``Row``s made from the Arrow columns through
    ``StructType.fromInternal``, as Spark's own collect makes them.
    Anything else builds the relation from the same Arrow table
    (``createDataFrame``, planned as a LocalTableScan: 0 jobs) on first
    use.  An ``orderBy``/``limit``/``filter`` on top of it starts jobs
    again, so callers hand over the final rows."""
    struct, arrow = _ddl_schemas(schema)
    if columns is None:
        table = arrow.empty_table()
    else:
        table = pa.table([columns[f.name] for f in struct.fields], schema=arrow)
    rows = [
        struct.fromInternal(values)
        for values in zip(*(c.to_pylist() for c in table.columns))
    ]
    return LazyFrame(
        spark, lambda: spark.createDataFrame(table, schema=struct), rows=rows
    )


# the ASCII characters java.net.URI leaves unquoted in a path (it also
# leaves every non-ASCII character but spaces and controls)
_URI_PATH_CHARS = frozenset(
    string.ascii_letters + string.digits + "-_.!~*'();:@&=+$,/"
)


def file_uri(path: str) -> str:
    """The URI Spark's ``DataFrame.inputFiles()`` reports for the local
    file ``path``: ``file://`` and the absolute path, quoted as
    ``java.net.URI`` quotes a path (ASCII outside its legal set, and
    non-ASCII spaces and controls, as %-escaped UTF-8)."""
    out = []
    for ch in os.path.abspath(path):
        if ch in _URI_PATH_CHARS or (
            ord(ch) > 127
            and unicodedata.category(ch) not in ("Zs", "Zl", "Zp", "Cc")
        ):
            out.append(ch)
        else:
            out += [f"%{b:02X}" for b in ch.encode("utf-8", "surrogateescape")]
    return "file://" + "".join(out)


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
