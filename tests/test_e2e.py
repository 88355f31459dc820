"""Capstone end-to-end: the full reference request lifecycle in one test
(tests/test_plugin.py analog) — index two sources with display rules,
run a search, compute count+facets off the same filtered set, hydrate
each result with its display_sql, render per-type templates."""

from pyspark.sql import functions as F

from dogsheep_beta_spark import (
    QueryPlan,
    build_fts_index,
    build_search_index,
    search_query,
)
from dogsheep_beta_spark.operators import facets as facet_ops
from dogsheep_beta_spark.plans.hydrate import hydrate_results
from dogsheep_beta_spark.presentation import intcomma, process_results

CONFIG = {
    "emails.db": {
        "emails": {
            "sql": """
                select id as key, subject as title, date as timestamp,
                       0 as is_public, body as search_1
                from emails
            """,
            "display_sql": "select * from emails where id = :key",
            "display": "<p>{{ display.from_ }}: {{ display.subject }}</p>",
        }
    },
    "commits.db": {
        "commits": {
            "sql": """
                select sha as key, message as title, commit_date as timestamp,
                       0 as is_public, message as search_1
                from commits
            """,
            "display_sql": "select * from commits where sha = :key",
            "display": "<p>Commit {{ display.sha }}: {{ display.message }}</p>",
        }
    },
}


def test_full_request_lifecycle(spark):
    spark.createDataFrame(
        [
            (1, "Hey there #dogfest", "An email about things", "a@x.com",
             "2020-08-01T00:05:02"),
            (2, "What's going on", "Another email about things", "a@x.com",
             "2020-08-02T00:05:02"),
        ],
        "id int, subject string, body string, from_ string, date string",
    ).createOrReplaceTempView("emails")
    spark.createDataFrame(
        [("c1", "Fixed things", "2020-08-22 04:41:33")],
        "sha string, message string, commit_date string",
    ).createOrReplaceTempView("commits")

    # index build (G1 union across DBs, A5 upsert)
    idx = build_search_index(spark, CONFIG).persist()
    assert idx.count() == 3
    fts = build_fts_index(idx, mode="portable", stem=True)

    # search: porter stems 'things' across both types
    res = search_query(idx, fts, QueryPlan(q="things"))
    rows = [r.asDict() for r in res.results.collect()]
    assert {(r["type"], r["key"]) for r in rows} == {
        ("emails.db/emails", "1"),
        ("emails.db/emails", "2"),
        ("commits.db/commits", "c1"),
    }

    # NOT excludes the emails (reference golden: 'things NOT email')
    res_not = search_query(idx, fts, QueryPlan(q="things NOT email"))
    assert [r["key"] for r in res_not.results.collect()] == ["c1"]

    # count + facets off the SAME filtered set
    count = facet_ops.filtered_count(res.filtered)
    assert count == 3 and intcomma(count) == "3"
    assert res.facets.count == count
    type_facet = dict(res.facets.columns["type"])
    assert type_facet == {"emails.db/emails": 2, "commits.db/commits": 1}

    # hydration: one batched query per type, not per row (C3)
    display_sqls = {
        f"{db}/{name}": rule["display_sql"]
        for db, rules in CONFIG.items()
        for name, rule in rules.items()
    }
    hydrated = hydrate_results(spark, rows, display_sqls, q="things")
    by_key = {r["key"]: r for r in hydrated}
    assert by_key["1"]["display"]["from_"] == "a@x.com"
    assert by_key["c1"]["display"]["message"] == "Fixed things"

    # render per-type templates (J1) with autoescape
    templates = {
        f"{db}/{name}": rule["display"]
        for db, rules in CONFIG.items()
        for name, rule in rules.items()
    }
    rendered = process_results(hydrated, templates)
    outs = {r["key"]: r["output"] for r in rendered}
    assert outs["1"] == "<p>a@x.com: Hey there #dogfest</p>"
    assert outs["c1"] == "<p>Commit c1: Fixed things</p>"
    idx.unpersist()


def test_oracle_compare_keeps_literal_nan_strings():
    """The gate must not mask a real string 'nan'/'None'/'NaT' as NULL:
    a Spark result of literal 'nan' vs an oracle NULL is a genuine
    mismatch (round-6 review)."""
    import pandas as pd

    from tools.check_oracle import compare

    spark_pd = pd.DataFrame({"v": ["nan", "ok"]})
    duck_pd = pd.DataFrame({"v": [None, "ok"]})
    assert compare("t", spark_pd, duck_pd)  # must report a problem
    # and actual NULLs on both sides still compare equal
    assert compare("t", pd.DataFrame({"v": [None]}), pd.DataFrame({"v": [None]})) == []


def test_oracle_canon_dates_and_float32_nan():
    """DATE-vs-midnight-DATETIME must compare equal across engines
    (duckdb widens DATE to datetime64), and a float32 NaN is NULL."""
    import datetime

    import numpy as np
    import pandas as pd

    from tools.check_oracle import compare

    spark_pd = pd.DataFrame({"d": [datetime.date(2024, 1, 15)]})
    duck_pd = pd.DataFrame(
        {"d": pd.to_datetime(["2024-01-15"]).astype("datetime64[us]")}
    )
    assert compare("t", spark_pd, duck_pd) == []
    a = pd.DataFrame({"v": np.array([np.nan], dtype="float32")})
    b = pd.DataFrame({"v": [None]}).astype("float64")
    assert compare("t", a, b) == []


def test_python_oracle_compression_ratio_strict(spark):
    """The zlib query's Python oracle (VERDICT r11 #2): the oracle
    recomputes n_bytes/zlib_bytes/ratio driver-side over DuckDB's own
    parquet rows and must strict-hash-match the engine's mapInPandas
    output — plus a negative control proving the comparison would
    actually catch a divergence."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools.check_oracle import compare, compare_strict, register_duck_views

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    register_duck_views(con, sf_dir)
    sdf = entrymod.queries()["text_compression_ratio"](spark, sf_dir).toPandas()
    ddf = entrymod.oracle_py()["text_compression_ratio"](con, sf_dir)
    assert len(sdf) and len(sdf) == len(ddf)
    assert compare("text_compression_ratio", sdf, ddf) == []
    assert compare_strict("text_compression_ratio", sdf, ddf) == []
    # negative control: a one-cell perturbation must be reported by
    # BOTH the tolerant diff and the strict CSV hash
    bad = ddf.copy()
    bad.loc[0, "zlib_bytes"] = bad.loc[0, "zlib_bytes"] + 1
    assert compare("text_compression_ratio", sdf, bad)
    assert compare_strict("text_compression_ratio", sdf, bad)
