"""Input readers (SURVEY §2.1 S1-S4, S6).

The reference reads directories of text lines and hand-parses each line
(quote-aware splitter ``Program/Delay.java:144-162``; whitespace
``StringTokenizer`` ``WebLog1.java:28-32``). Here each input becomes a typed
DataFrame at scan time; Catalyst pushes filters/pruning into the source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schema as S


def _as_instants(df: DataFrame, declared: T.StructType) -> DataFrame:
    """Cast the declared TIMESTAMP_NTZ columns (the test data store
    timestamp_ntz micros) to TZ-aware TIMESTAMP, so instant functions
    (``unix_micros``, watermarks) work uniformly. Under the UTC session
    TZ the cast is value-preserving."""
    ntz = [f.name for f in declared if isinstance(f.dataType, T.TimestampNTZType)]
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz}) if ntz else df


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Primary scan path: one Parquet table from a scale-factor dir, read
    through its declared schema (``schema.TABLES``; an undeclared name
    raises ``ValueError``). No footer inference, so building the read
    launches no Spark job.

    Defensive session conf: the engine's own sessions (session.get_spark)
    already pin the UTC session TZ, but the driver harness may hand us a
    bare session, and UTC makes timestamp↔string behavior match the
    UTC-naive oracle. It is a runtime-settable SQL conf; setting it is
    idempotent.
    """
    declared = S.table_schema(name)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.schema(declared).parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _as_instants(df, declared)


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One declared table as a bounded file-source stream (real
    deployments swap in Kafka or a landing directory with the same
    downstream plan). FileStreamSource needs a directory, so the stream
    is scoped to the table's file with a glob filter; columns are typed
    exactly as :func:`read_parquet_table` types them."""
    declared = S.table_schema(name)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(declared)
        .format("parquet")
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )
    return _as_instants(stream, declared)


def read_synthetic(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All driver-provided synthetic tables (TESTDATA.md) as a dict."""
    return {t: read_parquet_table(spark, sf_dir, t) for t in S.SYNTHETIC_TABLES}


def read_flight_csv(spark: SparkSession, path: str) -> DataFrame:
    """UK CAA punctuality CSV → typed DataFrame.

    Reproduces the observable behavior of the reference's dialect
    (SURVEY §1.3) without its quote-retention bug:

    - header row handled by the source (the reference drops it only as a
      side effect of the ``scheduled_charter=='S'`` filter,
      ``Program/Delay.java:48-50``);
    - blank lines dropped (``s.length != 0``, ``Program/Delay.java:51``);
    - space-padded fields trimmed (the reference ``.trim()``s at every use
      site, ``Program/Delay.java:53-56``): the parser trims unquoted
      whitespace and types each field straight into
      ``FLIGHT_PUNCTUALITY``; the string columns are trimmed once more,
      so a quoted ``" AIR "`` reads as ``AIR``;
    - quoted fields parsed with standard CSV quoting.

    The parse is FAILFAST: a malformed number (``abc``, or ``1.5`` in an
    int column) and a row with fewer or more fields than the schema raise
    when the frame is evaluated, instead of reading as NULLs. A quoted
    number keeps its padding (``" 109 "``) and raises too; an empty or
    all-blank unquoted field reads as NULL.
    """
    df = spark.read.csv(
        path,
        schema=S.FLIGHT_PUNCTUALITY,
        header=True,
        quote='"',
        mode="FAILFAST",
        ignoreLeadingWhiteSpace=True,
        ignoreTrailingWhiteSpace=True,
    )
    strings = {
        f.name: F.trim(f.name)
        for f in S.FLIGHT_PUNCTUALITY
        if isinstance(f.dataType, T.StringType)
    }
    # An all-empty row parses to NULLs; the reference's non-empty-row guard.
    return df.withColumns(strings).filter(F.col("reporting_airport").isNotNull())


def read_weblog(spark: SparkSession, path: str) -> DataFrame:
    """Whitespace-delimited ``username date url`` triples → typed DataFrame
    (``WebLog1.java:28-32``). Tokenizes with a single JVM-side split."""
    lines = spark.read.text(path)
    toks = F.split(F.trim(F.col("value")), r"\s+")
    return (
        lines.filter(F.trim(F.col("value")) != "")
        .select(
            toks.getItem(0).alias("username"),
            toks.getItem(1).alias("date"),
            toks.getItem(2).alias("url"),
        )
    )


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Plain text, one line per row (WordCount input)."""
    return spark.read.text(path).withColumnRenamed("value", "line")


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — symmetric with :func:`write_orc`; Catalyst pushes
    filters and prunes columns exactly as for parquet (asserted in
    test_sources)."""
    return spark.read.orc(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines source read through ``schema`` (extension tier).

    A 100 TB pipeline NEVER lets the JSON source infer its schema — sampling
    reads the data twice and a drifting field type silently re-types the
    whole column — so the schema is required. Malformed lines land in
    ``_corrupt_record`` (PERMISSIVE mode) instead of failing the job, so bad
    rows are quantifiable and quarantinable downstream.
    """
    schema = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    return spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)
