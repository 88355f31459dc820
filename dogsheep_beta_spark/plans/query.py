"""Query-layer compiler — phase 2 of the engine (SURVEY.md §3.2).

The reference's entire "query compiler" is ~18 lines that pick one of two
SQL templates (TIMELINE_SQL / SEARCH_SQL, __init__.py:8-43) and append
equality/date where-clauses (__init__.py:123-140).  Here a ``QueryPlan``
dataclass captures the request and ``compile_plan`` emits DataFrame plans:

    filtered = search_index.filter(...)            (B3/B4)
    scored   = filtered ⋈ bm25(match(q))           (B5/C2, search mode only)
    results  = orderBy(...).limit(k)               (F1-F3 → TakeOrderedAndProject)
    facets   = ONE grouping-sets aggregate over the SAME filtered set:
               the count and all four facets, collected once, on
               first use (D1-D4)

Semantics pinned by the reference:
- no q  → timeline: ORDER BY timestamp DESC LIMIT 40 (__init__.py:8-24,120)
- q     → search:  ORDER BY rank ASC, timestamp DESC LIMIT 100, where
  rank = -BM25 (more relevant = more negative) (__init__.py:26-43)
- sort=newest/oldest overrides relevance (__init__.py:45-48,117-121)
- timestamp ordering is *lexicographic text* ordering (SURVEY §2 F4)
- blank/whitespace q ≡ no q (__init__.py:64,115)
- deterministic tie-break: (type, key) appended to every sort
  (SURVEY §7.3 item 3; the reference relies on rowid insertion order).
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from dogsheep_beta_spark.operators.facets import (
    DEFAULT_FACET_SIZE,
    FacetCounts,
    count_and_facets,
)

SEARCH_LIMIT = 100  # __init__.py:42
TIMELINE_LIMIT = 40  # __init__.py:23

SORT_ORDERS = ("relevance", "newest", "oldest")  # __init__.py:45-48


@dataclass
class QueryPlan:
    """One /-/beta request (q, sort, filters) as data."""

    q: str | None = None
    sort: str | None = None  # None→default; "newest"/"oldest"
    type: str | None = None
    category: int | None = None
    is_public: int | None = None
    date: str | None = None  # timestamp__date=YYYY-MM-DD

    def __post_init__(self):
        # blank-query normalization (B7): whitespace-only q == no q
        if self.q is not None:
            self.q = self.q.strip() or None
        if self.sort is not None and self.sort not in ("newest", "oldest"):
            self.sort = None

    @property
    def is_search(self) -> bool:
        return self.q is not None


def apply_filters(df: DataFrame, plan: QueryPlan) -> DataFrame:
    """B3 equality filters + B4 date filter, AND-combined.

    Values arrive as strings in the reference and SQLite affinity coerces
    them; our columns are typed so we cast the *values* (SURVEY §2 B3).
    These filters sit directly on the Parquet scan → predicate pushdown,
    and partition pruning when the index is partitioned by type.
    """
    def int_eq(col: str, value):
        # request args arrive as strings; SQLite's NUMERIC AFFINITY is
        # the reference semantics: a numeric-like string compares
        # numerically ('1.0' and ' 1e0' match category 1), anything
        # else matches NOTHING and renders a normal 0-result page —
        # int() raising here used to turn ?category=abc into a 500,
        # and int()-only parsing wrongly zeroed out ?category=1.0
        try:
            fv = float(value)
        except (TypeError, ValueError):
            return F.lit(False)
        # integral values compare as int so the predicate stays
        # parquet-pushable (an int-column = double-literal comparison
        # wraps the column in a cast and loses pushdown); fractional
        # values fall through to the float compare (no int row matches,
        # same as SQLite)
        if fv.is_integer() and -(2**63) <= fv < 2**63:
            return F.col(col) == int(fv)
        return F.col(col) == fv

    def date_eq(value):
        # SQLite compares date(timestamp) TEXT with the arg text, so an
        # unparseable timestamp (NULL date) and an arg that is not a
        # canonical YYYY-MM-DD both match nothing — a normal 0-result
        # page, not an ANSI cast error (try_to_date, as the date facet)
        try:
            day = datetime.date.fromisoformat(value)
        except ValueError:
            return F.lit(False)
        if day.isoformat() != value:  # 20240101, 2024-W01-1, ...
            return F.lit(False)
        return F.try_to_date(F.col("timestamp")) == F.lit(day)

    if plan.type is not None:
        df = df.filter(F.col("type") == str(plan.type))
    if plan.category is not None:
        df = df.filter(int_eq("category", plan.category))
    if plan.is_public is not None:
        df = df.filter(int_eq("is_public", plan.is_public))
    if plan.date is not None:
        df = df.filter(date_eq(str(plan.date)))
    return df


def order_results(df: DataFrame, plan: QueryPlan, has_rank: bool) -> DataFrame:
    """F1-F4 — pick the sort; always append (type, key) as tie-break."""
    tie = [F.asc("type"), F.asc("key")]
    if plan.sort == "newest":
        order = [F.desc("timestamp")]
    elif plan.sort == "oldest":
        order = [F.asc("timestamp")]
    elif has_rank:
        # rank = -bm25 → ascending = most relevant first (__init__.py:41)
        order = [F.asc("rank"), F.desc("timestamp")]
    else:
        order = [F.desc("timestamp")]
    limit = SEARCH_LIMIT if has_rank or plan.is_search else TIMELINE_LIMIT
    return df.orderBy(*order, *tie).limit(limit)


def timeline_query(search_index: DataFrame, plan: QueryPlan) -> DataFrame:
    """No-q mode: filter → ORDER BY timestamp DESC LIMIT 40 (F2)."""
    filtered = apply_filters(search_index, plan)
    return order_results(filtered, plan, has_rank=False)


@dataclass
class QueryResult:
    """All outputs of one request, derived from one filtered set.

    When ``compile_plan(persist=True)`` built it, ``filtered`` is a
    persisted DataFrame shared by the top-k ``results`` and the page
    aggregate ``facets`` (+ any hydration the caller adds): the
    filter/join subtree executes once per request instead of once per
    consumed output (SURVEY §7.5).

    ``facets`` is the count + four facets of ``filtered`` from ONE
    grouping-sets aggregate (``operators.facets.count_and_facets``).
    It runs on first access and is memoized, so a request path that
    never renders facets (the top-k search/hydration/rerank consumers)
    pays neither the plan nor the job, and a page that reads both the
    count and the facets pays one aggregate.

    ``unpersist()`` is the teardown hook — idempotent, safe to call
    whether or not the request path persisted anything; the class is
    also a context manager so request handlers can ``with`` it.
    """

    results: DataFrame
    filtered: DataFrame
    facet_size: int = DEFAULT_FACET_SIZE
    persisted: bool = False
    _facets: FacetCounts | None = field(default=None, init=False, repr=False)

    @property
    def facets(self) -> FacetCounts:
        # not functools.cached_property: on Python < 3.12 it holds one
        # lock per class, which would serialize concurrent requests
        if self._facets is None:
            self._facets = count_and_facets(self.filtered, self.facet_size)
        return self._facets

    def unpersist(self) -> None:
        if self.persisted:
            self.filtered.unpersist()
            self.persisted = False

    # context-manager protocol: `with search_query(...) as res:`
    def __enter__(self) -> "QueryResult":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()


def compile_plan(
    search_index: DataFrame,
    plan: QueryPlan,
    scored: DataFrame | None = None,
    facet_size: int = DEFAULT_FACET_SIZE,
    persist: bool = True,
) -> QueryResult:
    """Compile a full request: results + the count/facets aggregate off
    one filtered set (collapsing the reference's dual execution path,
    SURVEY §3.3).

    ``scored`` is the (type, key, rank) DataFrame from the FTS layer for
    search mode; None for timeline mode.

    ``persist=True`` (the request-path default) persists the filtered
    set so the scan→filter→score-join subtree runs ONCE per request no
    matter how many of the outputs (results, count, facets, hydration)
    the caller collects — the reference re-executes its WHERE clause
    per output query instead (__init__.py:193-258).  Spark's cache
    manager keys the entry on the canonicalized plan, so a repeated
    identical request also reuses it.  Callers that consume exactly one
    output (e.g. results only) should pass persist=False to keep the
    top-k limit pushdown against the raw scan and skip the cache
    bookkeeping.  Teardown: ``QueryResult.unpersist()``.
    """
    filtered = apply_filters(search_index, plan)
    if scored is not None:
        # C2 — attach relevance by joining scored docs back on the pk.
        filtered = filtered.join(scored, on=["type", "key"], how="inner")
    if persist:
        filtered = filtered.persist(StorageLevel.MEMORY_AND_DISK)
    return QueryResult(
        results=order_results(filtered, plan, has_rank=scored is not None),
        filtered=filtered,
        facet_size=facet_size,
        persisted=persist,
    )
