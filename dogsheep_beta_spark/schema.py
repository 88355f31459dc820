"""Canonical schemas for the engine.

The reference keeps one denormalized fact table ``search_index``
(/root/reference/dogsheep_beta/utils.py:5-21) with composite pk
``(type, key)`` and a 3-row ``categories`` dimension (utils.py:23-27).

Spark mapping (SURVEY.md §1.2): fixed StructType, Parquet at rest.
``timestamp`` is deliberately a *string* (ISO-8601 text) — the reference
orders lexicographically on the raw text (SURVEY.md §2 F4) and we must
reproduce that ordering, so only ``to_date()`` ever parses it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, DataFrame
from pyspark.sql import types as T

# Column order matters: it is the canonical projection order used by the
# conform layer and by oracle SQL.  (reference: utils.py:5-15)
SEARCH_INDEX_COLUMNS = [
    "type",
    "key",
    "title",
    "timestamp",
    "category",
    "is_public",
    "search_1",
    "search_2",
    "search_3",
]

SEARCH_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("category", T.IntegerType(), True),
        # NOT NULL DEFAULT 0 in the reference (utils.py:18-21)
        T.StructField("is_public", T.IntegerType(), False),
        T.StructField("search_1", T.StringType(), True),
        T.StructField("search_2", T.StringType(), True),
        T.StructField("search_3", T.StringType(), True),
    ]
)

# File schemas of the three streamed live tables (streaming/incremental.py
# writes them, server.load_live_snapshot reads them).  Each is written
# ``partitionBy("type")``, so its parquet files hold every column but
# ``type``.  Readers pass these instead of inferring from footers: no
# inference job per read, and a table with no partition yet still has a
# schema.  Change them together with ``conform`` / ``postings_and_lengths``
# (tests/test_streaming.py compares them with the written footers).
LIVE_INDEX_FILE_SCHEMA = T.StructType(
    [f for f in SEARCH_INDEX_SCHEMA.fields if f.name != "type"]
)
LIVE_POSTINGS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("field", T.StringType(), True),
        T.StructField("tf", T.LongType(), True),
        T.StructField("positions", T.ArrayType(T.IntegerType()), True),
    ]
)
LIVE_DOC_LENGTHS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("dl", T.LongType(), True),
    ]
)


def with_type_column(file_schema: T.StructType) -> T.StructType:
    """A live table's file schema plus its ``type`` partition column,
    last, where a partitioned read puts it (the ``basePath`` reads)."""
    return T.StructType(
        file_schema.fields + [T.StructField("type", T.StringType(), True)]
    )


LIVE_INDEX_SCHEMA = with_type_column(LIVE_INDEX_FILE_SCHEMA)
LIVE_POSTINGS_SCHEMA = with_type_column(LIVE_POSTINGS_FILE_SCHEMA)
LIVE_DOC_LENGTHS_SCHEMA = with_type_column(LIVE_DOC_LENGTHS_FILE_SCHEMA)

# Seed dimension rows, re-planted on every index run (utils.py:23-27,74).
CATEGORIES = [
    {"id": 1, "name": "created"},
    {"id": 2, "name": "saved"},
    {"id": 3, "name": "received"},
]

CATEGORIES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)

# Fields participating in full-text search — ONLY title and search_1
# (utils.py:90; SURVEY.md §1.3 invariant 3).
FTS_FIELDS = ("title", "search_1")


def categories_df(spark: SparkSession) -> DataFrame:
    """The `categories` dimension as a (tiny, broadcastable) DataFrame.

    Built from a VALUES literal plan rather than ``createDataFrame``:
    the first ``createDataFrame`` in a session pays ~3 s of local-RDD
    machinery init, while a literal LocalRelation is pure Catalyst.
    """
    rows = ", ".join(f"({c['id']}, '{c['name']}')" for c in CATEGORIES)
    return spark.sql(
        f"SELECT CAST(id AS INT) AS id, name FROM VALUES {rows} AS t(id, name)"
    )
