"""Timeline / filter / facet semantics (SURVEY §2 B3-B4, D1-D4, F2-F4)."""

from pyspark.sql import functions as F

from dogsheep_beta_spark.plans.query import QueryPlan, timeline_query, compile_plan
from dogsheep_beta_spark.operators import facets as facet_ops
from dogsheep_beta_spark.schema import categories_df


def keys(df):
    return [f"{r['type'].split('.')[0]}:{r['key']}" for r in df.collect()]


def test_timeline_order(plugin_index):
    # FIXTURES.md §5: timestamp desc; the two rows sharing
    # 2020-08-01T00:05:02 tie-break deterministically on (type, key).
    out = timeline_query(plugin_index, QueryPlan())
    got = [(r["timestamp"], r["key"]) for r in out.collect()]
    assert [t for t, _ in got] == sorted([t for t, _ in got], reverse=True)
    assert len(got) == 4


def test_timeline_lexicographic_timestamps(spark):
    # F4 gotcha: 'T' (0x54) sorts AFTER ' ' (0x20); string order, not
    # timestamp order, must be reproduced.
    from dogsheep_beta_spark.indexer import build_search_index

    spark.createDataFrame(
        [(1, "2020-08-01T00:05:02"), (2, "2020-08-01 23:59:59")],
        "id int, ts string",
    ).createOrReplaceTempView("tsrc")
    idx = build_search_index(
        spark, {"d": {"r": {"sql": "select id as key, ts as timestamp from tsrc"}}}
    )
    out = timeline_query(idx, QueryPlan())
    # "2020-08-01T..." > "2020-08-01 23:59:59" lexicographically
    assert [r["key"] for r in out.collect()] == ["1", "2"]


def test_equality_and_date_filters(plugin_index):
    q = QueryPlan(is_public=1)
    out = timeline_query(plugin_index, q)
    assert all(r["is_public"] == 1 for r in out.collect())

    q = QueryPlan(date="2020-08-01")
    out = timeline_query(plugin_index, q)
    assert sorted(r["timestamp"] for r in out.collect()) == [
        "2020-08-01T00:05:02",
        "2020-08-01T00:05:02",
    ]


def _bad_timestamp_index(spark):
    from dogsheep_beta_spark.indexer import build_search_index

    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "not a date"), (3, "2024-01-02")],
        "id int, ts string",
    ).createOrReplaceTempView("bad_ts_src")
    return build_search_index(
        spark, {"d": {"r": {"sql": "select id as key, ts as timestamp from bad_ts_src"}}}
    )


def test_date_filter_skips_unparseable_timestamps(spark):
    """SQLite compares date(timestamp) text with the arg: a row whose
    timestamp does not parse has a NULL date and simply never matches.
    Under ANSI casts a plain to_date raised CAST_INVALID_INPUT at
    collect (an HTTP 500 for ?timestamp__date=)."""
    res = compile_plan(_bad_timestamp_index(spark), QueryPlan(date="2024-01-01"))
    with res:
        assert [r["key"] for r in res.results.collect()] == ["1"]
        assert res.facets.count == 1


def test_date_filter_non_canonical_arg_matches_nothing(spark, plugin_index):
    """An arg that is not a canonical YYYY-MM-DD matches no row (SQLite
    text comparison) instead of failing the ANSI cast at persist."""
    for arg in ("garbage", "2020-8-1", "20200801", "2020-02-30"):
        res = compile_plan(plugin_index, QueryPlan(date=arg))
        with res:
            assert res.results.collect() == [], arg
            assert res.facets.count == 0, arg


def test_page_context_garbage_date_is_an_empty_page(spark, plugin_index):
    from dogsheep_beta_spark.page import page_context

    ctx = page_context(spark, plugin_index, None, {"timestamp__date": "garbage"})
    assert ctx["count"] == 0 and ctx["results"] == []


def test_sort_overrides(plugin_index):
    newest = timeline_query(plugin_index, QueryPlan(sort="newest"))
    oldest = timeline_query(plugin_index, QueryPlan(sort="oldest"))
    ts_new = [r["timestamp"] for r in newest.collect()]
    ts_old = [r["timestamp"] for r in oldest.collect()]
    assert ts_new == sorted(ts_new, reverse=True)
    assert ts_old == sorted(ts_old)


def test_count_and_facets(plugin_index, spark):
    res = compile_plan(plugin_index, QueryPlan())
    assert facet_ops.filtered_count(res.filtered) == 4
    assert res.facets.count == 4

    type_facet = dict(res.facets.columns["type"])
    assert type_facet == {"emails.db/emails": 2, "github.db/commits": 2}

    is_public_facet = dict(res.facets.columns["is_public"])
    assert is_public_facet == {0: 2, 1: 2}

    date_facet = {str(v): n for v, n in res.facets.columns["timestamp"]}
    assert date_facet == {"2020-08-01": 2, "2020-08-02": 2}


def test_category_facet_labels(plugin_index, spark):
    # C4: FK label expansion via broadcast join — facet shows "created".
    res = compile_plan(plugin_index, QueryPlan())
    facet = facet_ops.column_facet(res.filtered, "category")
    labeled = facet_ops.facet_with_labels(facet, categories_df(spark))
    rows = {r["label"]: r["count"] for r in labeled.collect() if r["value"] is not None}
    assert rows == {"created": 2}
    assert res.facets.columns["category"] == [(1, 2)]


def test_search_and_facets_share_one_filtered_set(plugin_index):
    """Intentional deviation from the reference, pinned.

    The reference runs search and facets as two separate Datasette
    calls with DIVERGENT error fallbacks: the facet call retries
    without ``_searchmode=raw`` on any non-200
    (/root/reference/dogsheep_beta/__init__.py:241-244), while the
    search call falls back per-query — so for a query that errors only
    in raw mode the two paths can disagree about which docs were
    matched.  This engine deliberately collapses both onto ONE
    ``filtered`` DataFrame (plans/query.py:compile_plan), so the facet
    counts always sum over exactly the docs the search returned — for
    every query, including ones that take the escape fallback.
    """
    from dogsheep_beta_spark.plans.search import search_query

    # "#dogfest" is a ParseError → escape fallback (the class of query
    # where the reference's two paths could diverge).
    res = search_query(plugin_index, _fts(plugin_index), QueryPlan(q="#dogfest"))
    result_keys = {
        (r["type"], r["key"]) for r in res.results.select("type", "key").collect()
    }
    filtered_keys = {
        (r["type"], r["key"]) for r in res.filtered.select("type", "key").collect()
    }
    assert result_keys == filtered_keys  # same doc set feeds both
    type_facet = dict(res.facets.columns["type"])
    assert sum(type_facet.values()) == len(filtered_keys)
    assert type_facet == {"emails.db/emails": 1}


def _fts(idx):
    from dogsheep_beta_spark.operators.fts_index import build_fts_index

    return build_fts_index(idx, mode="unicode61", stem=True)


def test_non_numeric_facet_args_match_nothing(spark, plugin_index):
    """?category=abc must render 0 results, not crash — the reference
    binds the raw string into SQLite whose affinity finds no rows."""
    from dogsheep_beta_spark.plans.query import QueryPlan, apply_filters

    out = apply_filters(plugin_index, QueryPlan(category="abc"))
    assert out.count() == 0
    out2 = apply_filters(plugin_index, QueryPlan(is_public=""))
    assert out2.count() == 0
    # SQLite numeric affinity: '1.0' and ' 1e0' compare numerically
    base = apply_filters(plugin_index, QueryPlan(category=1)).count()
    assert base > 0
    for v in ("1.0", " 1e0"):
        assert apply_filters(plugin_index, QueryPlan(category=v)).count() == base
    # fractional value matches no integer category (not a 500)
    assert apply_filters(plugin_index, QueryPlan(category="1.5")).count() == 0


def _next_job_id(spark) -> int:
    # the DAG scheduler's id counter moves synchronously at job
    # submission (the status tracker lags behind the listener bus)
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_facets_built_lazily_and_exactly_once(spark, plugin_index):
    """Request-path contract (plans/query.py:QueryResult.facets): a
    request that never consumes facets must not pay their plan or
    job; a request that does gets the count and all four facets from
    ONE aggregate, run once however many times it is read."""
    from dogsheep_beta_spark.plans.query import compile_plan

    calls = []
    real = facet_ops.count_and_facets

    def counting(df, facet_size):
        calls.append(facet_size)
        return real(df, facet_size)

    import dogsheep_beta_spark.plans.query as query_mod

    query_mod.count_and_facets = counting
    try:
        before = _next_job_id(spark)
        res = compile_plan(plugin_index, QueryPlan(), persist=False)
        assert calls == []  # untouched until a consumer asks
        assert _next_job_id(spark) == before  # compiling starts no job
        agg = res.facets
        assert res.facets is agg and res.facets.count == agg.count
        assert calls == [30]  # every read shares ONE aggregate
    finally:
        query_mod.count_and_facets = real

    # ... and the facets equal the eager single-column facets
    assert isinstance(agg, facet_ops.FacetCounts)
    want_df = facet_ops.column_facet(res.filtered, "type", 30)
    want = [(r["value"], r["count"]) for r in want_df.collect()]
    assert agg.columns["type"] == want
    assert agg.count == facet_ops.filtered_count(res.filtered)
    assert list(agg.columns) == [*facet_ops.FACET_COLUMNS, "timestamp"]


def _without_null(facet_df) -> list:
    return [(r["value"], r["count"]) for r in facet_df.collect() if r["value"] is not None]


def test_null_facet_values_stay_outside_the_top_k(spark):
    from types import SimpleNamespace

    from dogsheep_beta_spark.page import build_page_facets

    """Datasette's ColumnFacet filters ``col is not null`` BEFORE its
    LIMIT: a NULL group must not take one of the facet_size slots, even
    when it is the largest group."""
    size = 5
    rows = [(f"t{i:02d}", i, "2020-01-01") for i in range(8)]
    rows += [(None, None, None)] * 20  # the biggest group is NULL
    df = spark.createDataFrame(rows, "type string, category int, timestamp string")
    df = df.withColumn("is_public", F.lit(None).cast("int"))
    agg = facet_ops.count_and_facets(df, size)
    want = _without_null(facet_ops.column_facet(df, "type", 100))[:size]
    assert len(agg.columns["type"]) == size
    assert agg.columns["type"] == want
    assert agg.columns["is_public"] == []  # all-NULL column: no values
    assert agg.count == 28
    # ... and the page shows exactly facet_size values
    blocks = build_page_facets(SimpleNamespace(facets=agg), {}, "")
    assert [len(b["results"]) for b in blocks] == [size, size, 0, 1]


def test_grouping_id_decode_matches_single_facets(spark):
    """Pin the grouping_id decode of count_and_facets: rows with NULL in
    every facet column, NULL and unparseable timestamps, and more than
    facet_size distinct days with tied counts.  The count must equal
    df.count() and each facet must equal column_facet/date_facet minus
    NULL — a NULL value is never read as a rolled-up total."""
    import datetime

    rows = []
    for d in range(40):  # 40 days: counts 1..3, many ties across days
        day = datetime.date(2020, 1, 1) + datetime.timedelta(days=d)
        sep = "T" if d % 2 else " "
        for k in range(1 + d % 3):
            rows.append((f"db/r{d % 7}", d % 4, k % 2, f"{day}{sep}0{k}:00:00"))
    rows += [(None, None, None, None)] * 3  # NULL in every facet column
    rows += [("db/r1", None, 1, "not a date"), (None, 2, None, "")]
    df = spark.createDataFrame(
        rows, "type string, category int, is_public int, timestamp string"
    )
    agg = facet_ops.count_and_facets(df)
    assert agg.count == df.count() == len(rows)
    for c in facet_ops.FACET_COLUMNS:
        want = _without_null(facet_ops.column_facet(df, c, 100))
        assert agg.columns[c] == want[: facet_ops.DEFAULT_FACET_SIZE], c
    # date_facet under ANSI casts raises on unparseable text; without
    # ANSI its to_date yields NULL, the SQLite date() semantics that
    # count_and_facets reproduces with try_to_date
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = _without_null(facet_ops.date_facet(df, "timestamp", 100))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert len(want) == 40
    assert agg.columns["timestamp"] == want[: facet_ops.DEFAULT_FACET_SIZE]
