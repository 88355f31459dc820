"""Count + facet aggregations (SURVEY.md §2 D1-D4, C4).

The reference computes a filtered total count plus three column facets
(type, category, is_public) and one date facet over ``timestamp`` —
delegated to Datasette's ColumnFacet/DateFacet, which run one
``GROUP BY col ORDER BY count DESC LIMIT facet_size`` each
(__init__.py:200-215).

Key improvement over the reference (SURVEY.md §3.3): the reference
computes results and facets via two independent execution paths that can
disagree; here every aggregate derives from ONE ``filtered_df``, which the
query layer persists across the top-k and the page aggregate.

The request path (``count_and_facets``) goes one step further: the
count and all four facets come out of ONE grouping-sets aggregate —
one Expand, one shuffle, one collect — instead of five separate
aggregations with a shuffle each.  ``column_facet`` / ``date_facet`` /
``filtered_count`` remain as the single-facet building blocks.

Determinism: ties in count are broken by the facet value ascending so
hash-comparison against the oracle is stable.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_FACET_SIZE = 30  # Datasette default facet_size

FACET_COLUMNS = ("type", "category", "is_public")  # __init__.py:44,202
DATE_FACET = "timestamp"  # __init__.py:203 (_facet_date)


def filtered_count(df: DataFrame) -> int:
    """D1 — exact count of the filtered set."""
    return df.count()


def column_facet(
    df: DataFrame, column: str, limit: int = DEFAULT_FACET_SIZE
) -> DataFrame:
    """D2 — value distribution of one column over the filtered set.

    Partial (map-side) aggregation then a single shuffle on the facet
    column; the final limit is a TakeOrdered, not a global sort.
    """
    return (
        df.groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc_nulls_last("value"))
        .limit(limit)
    )


def date_facet(
    df: DataFrame, column: str = "timestamp", limit: int = DEFAULT_FACET_SIZE
) -> DataFrame:
    """D3 — counts bucketed by ``date(timestamp)`` (Datasette DateFacet).

    ``to_date`` parses the ISO-8601 text with either ``T`` or space
    separator, matching SQLite's ``date()`` (SURVEY §2 B4/D3/H2).
    """
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(F.to_date(F.col(column)).alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc_nulls_last("value"))
        .limit(limit)
    )


class FacetCounts(NamedTuple):
    """The count and the four facets of one filtered set.

    ``columns`` maps each facet name (``FACET_COLUMNS`` then
    ``DATE_FACET``) to its top ``facet_size`` ``(value, count)`` pairs,
    NULL values excluded, ordered by count desc then value asc; the
    date facet's values are ``datetime.date``."""

    count: int
    columns: dict[str, list[tuple]]


def count_and_facets(
    df: DataFrame, facet_size: int = DEFAULT_FACET_SIZE
) -> FacetCounts:
    """D1-D4 in ONE aggregate: the filtered count and all four facets.

    ``GROUPING SETS ((type), (category), (is_public), (__day), ())``
    with ``grouping_id()`` tagging each output row with its set; the
    empty set ``()`` is the count.  Each facet's domain is small (rule
    tags, categories, two flags, calendar days), so the collected
    result stays bounded however many rows are filtered, and the
    per-facet top-k runs on the driver.

    NULL values are dropped BEFORE the top-k cut, as Datasette's
    ColumnFacet/DateFacet filter ``col is not null`` before ``LIMIT``:
    a NULL group never takes one of the ``facet_size`` slots.  The date
    bucket is ``try_to_date`` (SQLite ``date()``: unparseable text is
    NULL, not an error), so a malformed timestamp is simply unfaceted.

    Pitfall: the day bucket is added with ``withColumn`` and grouped by
    NAME.  Passing an aliased expression (``to_date(...).alias(...)``)
    to ``groupingSets`` adds an extra grouping column, so
    ``grouping_id`` carries one more bit than the decode below expects
    and rows get attributed to the wrong set.  A NULL value is told
    apart from a rolled-up column only by ``grouping_id``, never by the
    value itself.
    """
    day = "__day"
    keys = (*FACET_COLUMNS, day)
    names = (*FACET_COLUMNS, DATE_FACET)
    rows = (
        df.withColumn(day, F.try_to_date(F.col(DATE_FACET)))
        .groupingSets([[k] for k in keys] + [[]], *keys)
        .agg(F.count(F.lit(1)).alias("__n"), F.grouping_id().alias("__gid"))
        .collect()
    )
    # grouping_id: bit (n-1-i) is set when keys[i] is rolled up, so the
    # single-column set (keys[i]) leaves exactly that bit clear
    full = (1 << len(keys)) - 1
    set_of = {full ^ (1 << (len(keys) - 1 - i)): i for i in range(len(keys))}
    count = 0
    groups: dict[str, list[tuple]] = {name: [] for name in names}
    for r in rows:
        gid = r["__gid"]
        if gid == full:
            count = r["__n"]
            continue
        i = set_of[gid]
        value = r[keys[i]]
        if value is not None:
            groups[names[i]].append((value, r["__n"]))
    columns = {
        name: sorted(pairs, key=lambda p: (-p[1], p[0]))[:facet_size]
        for name, pairs in groups.items()
    }
    return FacetCounts(count, columns)


def facet_with_labels(facet_df: DataFrame, categories_df: DataFrame) -> DataFrame:
    """C4 — expand the ``category`` FK to its label via a broadcast join."""
    return (
        facet_df.join(
            F.broadcast(categories_df),
            facet_df.value == categories_df.id,
            "left",
        )
        .select(
            facet_df.value,
            categories_df.name.alias("label"),
            facet_df["count"],
        )
        .orderBy(F.desc("count"), F.asc_nulls_last("value"))
    )
