"""Sources and sinks (SURVEY.md §2.1, S1-S7).

The reference reads one CSV from GCS with header+inferSchema
(``notebook_to_py/data-understanding.py:42-43``) and writes CSV results
(``performance_py/2-cores-6-instances.py:1462-1465``). Our engine keeps both
but defaults to parquet (columnar scan, predicate pushdown, column pruning
— SURVEY.md §4) and explicit schemas. Any Hadoop-compatible FS path works
unchanged (file://, hdfs://, gs://, s3a://) — path handling is delegated to
Spark's Hadoop FS layer, so the same code runs on a laptop and a 1000-node
cluster.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan; Catalyst prunes columns and pushes filters down."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer_schema: bool = False,
    permissive: bool = True,
    multi_line: bool = False,
) -> DataFrame:
    """CSV scan (S1). Explicit schema by default — ``inferSchema`` costs a
    full extra pass over the data (reference pays it at every load,
    data-understanding.py:43); pass ``infer_schema=True`` only for
    exploration parity.

    ``multi_line`` is its OWN opt-in (r9 review): multiLine=true makes
    CSV files non-splittable — one task parses the whole file however
    large the cluster — so it must never ride along silently with the
    error-tolerance flag. Enable it only for quoted-embedded-newline
    files (the reference's messy vehicles CSV is the canonical case)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    if permissive:
        reader = reader.option("mode", "PERMISSIVE").option("escape", '"')
    if multi_line:
        reader = reader.option("multiLine", "true")
    return reader.csv(path)


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (S2; performance_py/2-cores-6-instances.py:1462-1465)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def fetch_rows(df: DataFrame, limit: int | None = None) -> list:
    """S6 explicit driver fetch (collect/take). The limit-less form pulls
    EVERYTHING to the driver — reserve for aggregated results; the
    reference scatters bare collect()s through query code
    (data-understanding.py:92,229)."""
    return df.take(limit) if limit is not None else df.collect()


def fetch_pandas(df: DataFrame, limit: int | None = None):
    """S6 driver fetch as pandas (Arrow-accelerated toPandas)."""
    return (df.limit(limit) if limit is not None else df).toPandas()


def normalize_timestamps_ingest(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    dest: str,
    partition_by_date: str | None = None,
) -> DataFrame:
    """One-time ingest rewrite: read a testdata table (nanos columns become
    micros TimestampType via ``load_table``) and persist it as micros-typed
    parquet, optionally partitioned by the DATE of a timestamp column.

    Why: ``load_table``'s post-scan nanos→micros conversion wraps the
    column in an expression, so predicates on the converted timestamp can
    NOT push down to the original file scan — every time-sliced query pays
    a full scan. Reading the REWRITTEN table restores scan-level pruning on
    two axes: parquet row-group min/max pushdown on the (now natively
    typed) timestamp, and Hive partition pruning on the derived date
    column when ``partition_by_date`` is set. At 100 TB the partition
    prune is the difference between touching one day and touching three
    years. (Plan shapes asserted in tests/test_io.py.)

    Returns the normalized DataFrame read back from ``dest``."""
    df = load_table(spark, sf_dir, name)
    if partition_by_date is not None:
        df = df.withColumn(f"{partition_by_date}_date", F.to_date(partition_by_date))
        df.write.mode("overwrite").partitionBy(f"{partition_by_date}_date").parquet(dest)
    else:
        df.write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest)


# Per-session parquet schema cache for load_table: session -> {absolute
# table path -> ((st_mtime_ns, st_size), schema)}. Weak keys, so a new or
# stopped-and-rebuilt session starts empty and a dropped one frees its
# entries; one entry per path, so a regenerated file replaces its entry.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _read_testdata(spark: SparkSession, path: str) -> tuple[DataFrame, T.StructType]:
    """Scan ``path`` and return it with its schema, inferring the schema
    (one Spark job over the footers) only the first time this session sees
    the file at its current mtime and size. A path ``os.stat`` cannot see
    (a missing directory, a non-local URI) is read uncached, so Spark still
    raises its own AnalysisException for a missing one."""
    try:
        st = os.stat(path)
    except OSError:
        df = spark.read.parquet(path)
        return df, df.schema
    key, stamp = os.path.abspath(path), (st.st_mtime_ns, st.st_size)
    cache = _SCHEMAS.setdefault(spark, {})
    hit = cache.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    schema = df.schema
    cache[key] = (stamp, schema)
    return df, schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one harness testdata table (TESTDATA.md) by name.

    The parquet schema is resolved once per session: the first call for a
    file infers it (a Spark job over the footers) and caches it on the
    session, keyed on the file's absolute path, ``st_mtime_ns`` and
    ``st_size``; later calls pass the cached schema to the reader and launch
    no job. A rewritten file gets a new mtime and is inferred again. Paths
    ``os.stat`` cannot see (non-local URIs) are read uncached.

    Timestamp columns (e.g. events.ts) are normalized to the declared
    micros TimestampType regardless of how the harness generated the file
    — generators have shipped BOTH layouts across rounds; which one a file
    has is decided from the (cached) schema:

    - INT64 TIMESTAMP(NANOS): surfaces as long under ``nanosAsLong``
      (set here at runtime because callers — e.g. the driver harness —
      hand us plain SparkSessions; without it the scan dies with
      PARQUET_TYPE_ILLEGAL) and is truncated to micros, matching
      Arrow/DuckDB ns→us.
    - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces natively
      as TIMESTAMP_NTZ and is cast to TimestampType. Engine sessions pin
      UTC (session.py), where the cast is epoch-preserving; the naive
      wall-clock value is identical to what the DuckDB oracle reads
      either way."""
    if name not in TESTDATA:
        raise KeyError(f"unknown testdata table {name!r}; have {sorted(TESTDATA)}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, schema = _read_testdata(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for field in TESTDATA[name].fields:
        if not isinstance(field.dataType, T.TimestampType):
            continue
        actual = schema[field.name].dataType
        if isinstance(actual, T.LongType):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000"))
            )
        elif isinstance(actual, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def write_compacted(
    df: DataFrame,
    path: str,
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Compaction-aware parquet sink: bound BOTH file-count and file-size
    pathologies. Small-files (thousands of kilobyte files from an
    over-partitioned upstream) destroy scan parallelism setup time and
    metadata handling at 100 TB; monster files resist splitting for some
    consumers. A count() pre-pass (cheap columnar metadata scan for
    parquet-backed frames, one aggregate otherwise) sizes an explicit
    repartition; maxRecordsPerFile caps per-task output as a backstop
    when partition_by skews rows into one task's partition.

    The repartition is round-robin (no key) — compaction must not
    concentrate hot keys; callers wanting co-location pass partition_by
    which becomes the directory layout, not the shuffle key."""
    n = df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    writer = (
        df.repartition(n_files)
        .write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_binary_files(
    spark: SparkSession, directory: str, glob: str = "*"
) -> DataFrame:
    """Binary-file source (images/audio/any blob as rows): one row per
    file with (path, modificationTime, length, content) — the ingest edge
    of the multimodal pipeline (ext/multimodal.py consumes the content
    column). File listing parallelizes across the driver's listing
    threads and rows are read where they're scheduled, so a directory of
    millions of objects behaves like any other scan; pair with
    write_compacted-style consolidation upstream because per-file
    overhead, not bytes, dominates small-blob corpora."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(directory)
    )


def read_jsonl_permissive(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """JSONL reader that QUARANTINES malformed lines instead of failing
    the job or silently dropping them: PERMISSIVE mode parses what it
    can and lands the raw text of any broken line in ``_corrupt_record``
    (NULL for clean rows). At corpus scale some fraction of a crawl is
    always malformed — dying at row 3 billion (FAILFAST) or dropping
    silently (DROPMALFORMED) are both wrong for auditable pipelines; the
    quarantine column makes the bad fraction measurable and routable.
    The schema is explicit, as everywhere in sources/ (inference is a
    full extra pass)."""
    full = schema.rstrip() + ", _corrupt_record STRING"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
