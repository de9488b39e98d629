"""Typed schemas for every dataset the engine reads.

The reference is schema-on-read: positional, untyped ``String[]`` addressed
by ordinal (``s[2]``, ``s[8]``, ``s[16]`` — reference ``Program/Delay.java:53-56``).
Here every input gets a named, typed ``StructType``; Catalyst then prunes and
pushes down against real column metadata (free with Parquet).

These declarations are the read path's source of truth, not documentation:
``sources.readers`` scans every table in ``TABLES`` through its declared
schema (no footer inference, so building a read launches no Spark job) and
parses the CAA CSV straight into ``FLIGHT_PUNCTUALITY``. An undeclared
table name raises. ``tests/test_sources.py`` checks each declaration
against the footers of the test data, so generator drift fails there.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# UK CAA flight punctuality table (reference native input).
# Column order/names from the fixture header embedded in the reference jar
# (Jar/UKFlightAnalysis.jar!org/leicester/smallinput.csv:1); ordinals are the
# positions the reference addresses (Program/Delay.java:51-56,
# Program/Late.java:57-61). Full column notes in FIXTURES.md §1.
# ---------------------------------------------------------------------------
FLIGHT_PUNCTUALITY = T.StructType(
    [
        T.StructField("run_date", T.StringType()),                 # 0
        T.StructField("reporting_period", T.StringType()),         # 1  YYYYMM
        T.StructField("reporting_airport", T.StringType()),        # 2
        T.StructField("origin_destination_country", T.StringType()),  # 3
        T.StructField("origin_destination", T.StringType()),       # 4
        T.StructField("airline_name", T.StringType()),             # 5
        T.StructField("arrival_departure", T.StringType()),        # 6  'A'/'D'
        T.StructField("scheduled_charter", T.StringType()),        # 7  'S'/'C'
        T.StructField("number_flights_matched", T.IntegerType()),  # 8
        T.StructField("actual_flights_unmatched", T.IntegerType()),  # 9
        T.StructField("early_to_15_mins_late_percent", T.DoubleType()),    # 10
        T.StructField("flts_16_to_30_mins_late_percent", T.DoubleType()),  # 11
        T.StructField("flts_31_to_60_mins_late_percent", T.DoubleType()),  # 12
        T.StructField("flts_61_to_180_mins_late_percent", T.DoubleType()),  # 13
        T.StructField("flts_181_to_360_mins_late_percent", T.DoubleType()),  # 14
        T.StructField("more_than_360_mins_late_percent", T.DoubleType()),  # 15
        T.StructField("average_delay_mins", T.DoubleType()),       # 16
        T.StructField("planned_flights_unmatched", T.IntegerType()),  # 17
        T.StructField("previous_year_month_flights_matched", T.IntegerType()),  # 18
        T.StructField(
            "previous_year_month_early_to_15_mins_late_percent", T.DoubleType()
        ),  # 19
        T.StructField("previous_year_month_average_delay", T.DoubleType()),  # 20
    ]
)

# Whitespace-delimited access-log triples (WebLog1/2 input;
# Jar/…!org/leicester/WebLog1.java:28-32).
WEBLOG = T.StructType(
    [
        T.StructField("username", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)

# Free-text corpus, one line per row (WordCount input).
TEXT_CORPUS = T.StructType([T.StructField("line", T.StringType())])


def _struct(**cols: T.DataType) -> T.StructType:
    """A nullable ``StructType`` from ``name=type`` pairs, in order."""
    return T.StructType([T.StructField(n, t) for n, t in cols.items()])


_LONG, _INT, _DOUBLE, _STR = T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType()
#: The test data store timestamps as TIMESTAMP_NTZ micros; the readers cast
#: them to TZ-aware TIMESTAMP (value-preserving under the UTC session TZ).
_NTZ = T.TimestampNTZType()

# ---------------------------------------------------------------------------
# Driver-provided synthetic tables (TESTDATA.md), as their parquet footers
# declare them.
# ---------------------------------------------------------------------------
REGION = _struct(r_regionkey=_INT, r_name=_STR)
NATION = _struct(n_nationkey=_INT, n_name=_STR, n_regionkey=_INT)
CUSTOMER = _struct(
    c_custkey=_LONG, c_name=_STR, c_nationkey=_INT, c_acctbal=_DOUBLE,
    c_mktsegment=_STR,
)
SUPPLIER = _struct(s_suppkey=_LONG, s_name=_STR, s_nationkey=_INT, s_acctbal=_DOUBLE)
PART = _struct(
    p_partkey=_LONG, p_name=_STR, p_brand=_STR, p_type=_STR, p_size=_INT,
    p_retailprice=_DOUBLE,
)
ORDERS = _struct(
    o_orderkey=_LONG, o_custkey=_LONG, o_orderstatus=_STR, o_totalprice=_DOUBLE,
    o_orderdate=_NTZ, o_orderpriority=_STR,
)
LINEITEM = _struct(
    l_orderkey=_LONG, l_partkey=_LONG, l_suppkey=_LONG, l_linenumber=_INT,
    l_quantity=_DOUBLE, l_extendedprice=_DOUBLE, l_discount=_DOUBLE, l_tax=_DOUBLE,
    l_returnflag=_STR, l_linestatus=_STR, l_shipdate=_NTZ,
)
EVENTS = _struct(
    event_id=_LONG, ts=_NTZ, user_id=_LONG, event_type=_STR, value=_DOUBLE, props=_STR
)
DOCUMENTS = _struct(doc_id=_LONG, text=_STR, lang=_STR, source=_STR, n_chars=_LONG)
EMBEDDINGS = _struct(vec_id=_LONG, embedding=T.ArrayType(T.FloatType()), label=_INT)

# Multimodal asset table (extension tier): opaque binary payload + typed
# metadata. No driver-side fixture exists; operators.multimodal builds these.
MULTIMODAL_ASSET = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # 'image' | 'audio' | 'video'
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)

#: Every parquet table the engine reads, by name: the synthetic tables, then
#: ``flights``, the CAA punctuality parquet the ingest writes.
TABLES: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
    "flights": FLIGHT_PUNCTUALITY,
}

SYNTHETIC_TABLES = tuple(t for t in TABLES if t != "flights")


def table_schema(name: str) -> T.StructType:
    """The declared schema of table ``name``; ``ValueError`` if undeclared."""
    try:
        return TABLES[name]
    except KeyError:
        raise ValueError(
            f"undeclared table {name!r}; declared: {', '.join(TABLES)}"
        ) from None
