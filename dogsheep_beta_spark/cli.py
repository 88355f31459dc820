"""CLI — the Spark analog of ``dogsheep-beta index`` (reference
cli.py:5-41) plus a ``search`` command covering the Datasette page's
query surface (reference __init__.py:22-60: q, sort, type/category/
is_public/date filters, count, facets).

    python -m dogsheep_beta_spark.cli index OUTPUT_PATH CONFIG \\
        [--tokenize porter|none] [-d DB ...] [--sources DIR] \\
        [--partition-by-type] [--term-buckets N]

    python -m dogsheep_beta_spark.cli search INDEX_PATH [QUERY] \\
        [--sort newest|oldest] [--type T] [--category N] \\
        [--is-public 0|1] [--date YYYY-MM-DD] [--limit N] \\
        [--count] [--facets]

Differences from the reference, by design (SURVEY §7.0): the "index DB"
is a Parquet directory (``search_index/`` + ``fts/postings`` +
``fts/doc_lengths``), sources are Parquet tables registered as views
(``--sources`` points at a directory of ``<table>.parquet``), and the
whole build is one Spark job graph instead of per-rule SQLite
statements.  argparse instead of click (no extra dependency).
"""

from __future__ import annotations

import argparse
import os
import sys


def _positive_int(s: str) -> int:
    """argparse type for ``--limit``: reject <1 with a friendly message
    BEFORE a Spark session spins up (a negative value would otherwise
    surface as a raw IllegalArgumentException from DataFrame.limit, and
    0 would silently print nothing)."""
    v = int(s)
    if v < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {v}")
    return v


def _build_session(cpus: str | None = None):
    from pyspark.sql import SparkSession

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dogsheep_beta_spark_index")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _register_sources(spark, sources_dir: str | None) -> None:
    """Register every source in ``sources_dir`` as a view: parquet
    tables via the registry, plus any ``.db`` file ATTACHed through the
    partitioned rowid-range reader (sources/sqlite.py) — so rule SQL
    reads sqlite and parquet sources identically.  The ONE registration
    path for index/page/serve (three diverging copies before round 6)."""
    if not sources_dir:
        return
    import glob

    from dogsheep_beta_spark.sources.registry import register_testdata
    from dogsheep_beta_spark.sources.sqlite import register_sqlite_db

    register_testdata(spark, sources_dir)
    for db in sorted(glob.glob(os.path.join(sources_dir, "*.db"))):
        register_sqlite_db(spark, db)


def _load_rules(args) -> dict:
    """Parse the rules config named by ``args.config`` ('-' = stdin);
    {} when absent."""
    from dogsheep_beta_spark.config import parse_metadata

    if not getattr(args, "config", None):
        return {}
    with open(args.config) if args.config != "-" else sys.stdin as f:
        return parse_metadata(f.read())


def cmd_index(args) -> int:
    from dogsheep_beta_spark.indexer import run_indexer
    from dogsheep_beta_spark.operators.fts_index import (
        build_fts_index,
        write_fts_index,
    )

    rules = _load_rules(args)
    spark = _build_session()
    _register_sources(spark, args.sources)

    index_path = os.path.join(args.output, "search_index")
    df = run_indexer(
        spark,
        rules,
        index_path,
        databases=list(args.database) or None,
        partition_by_type=args.partition_by_type,
        zorder=args.zorder,
    )
    # FTS rebuild after the bulk load, like the reference (utils.py:57-63).
    # The --tokenize string is forwarded the way the reference forwards it
    # into FTS5 (reference cli.py:22-26): "porter"/"none", optionally with
    # a base + unicode61-style arguments, e.g.
    #   --tokenize "porter unicode61 tokenchars '#'"
    from dogsheep_beta_spark.functions.tokenizer import parse_fts5_tokenize

    mode, stem = parse_fts5_tokenize(args.tokenize)
    fts = build_fts_index(df, mode=mode, stem=stem)
    write_fts_index(fts, os.path.join(args.output, "fts"), args.term_buckets)
    n = df.count()
    print(f"indexed {n} rows -> {args.output} (tokenize={args.tokenize})")
    return 0


def cmd_search(args) -> int:
    """Query a written index directory — the CLI twin of the Datasette
    ``/-/beta`` page.  Results print as JSON lines (stable field order);
    ``--count``/``--facets`` add the page's count and facet blocks."""
    import json

    from dogsheep_beta_spark.operators.fts_index import read_fts_index
    from dogsheep_beta_spark.plans.query import QueryPlan
    from dogsheep_beta_spark.plans.search import search_query

    spark = _build_session()
    index_df = spark.read.parquet(os.path.join(args.index, "search_index"))
    fts = read_fts_index(spark, os.path.join(args.index, "fts"))

    plan = QueryPlan(
        q=args.query,
        sort=args.sort,
        type=args.type,
        category=args.category,
        is_public=args.is_public,
        date=args.date,
    )
    result = search_query(index_df, fts, plan)
    # the compiled plan itself caps at the reference's page limits
    # (__init__.py:23,42: 40 timeline / 100 search) — clamp and say so
    # rather than silently returning fewer rows than asked
    from dogsheep_beta_spark.plans.query import SEARCH_LIMIT, TIMELINE_LIMIT

    cap = SEARCH_LIMIT if plan.is_search else TIMELINE_LIMIT
    if args.limit > cap:
        print(
            f"note: limit capped at {cap} (reference page limit)",
            file=sys.stderr,
        )
    rows = result.results.limit(min(args.limit, cap)).collect()
    for r in rows:
        d = r.asDict()
        print(json.dumps(d, default=str, sort_keys=True))
    # count and facets come from the one aggregate the page uses
    if args.count:
        print(json.dumps({"count": result.facets.count}))
    if args.facets:
        for name, pairs in result.facets.columns.items():
            vals = [{"value": v, "count": n} for v, n in pairs]
            print(json.dumps({"facet": name, "values": vals}, default=str))
    return 0


def cmd_page(args) -> int:
    """Render the full /-/beta page (reference templates/beta.html:
    form, count + sort links, facet sidebar, rendered results) for one
    request against a written index — HTML to stdout or ``-o``.

    ``--config`` + ``--sources`` enable per-type display templates and
    display_sql hydration (the rule views must be registered for the
    :key/:q point queries to run); without them results fall back to
    the ``<pre>`` JSON rendering, like the reference."""
    from dogsheep_beta_spark.page import beta_page

    spark, index_df, fts, rules = _load_index_ctx(args)
    req = {}
    if args.query:
        req["q"] = args.query
    for k in ("sort", "type", "category", "is_public", "date"):
        v = getattr(args, k)
        if v is not None:
            req["timestamp__date" if k == "date" else k] = str(v)
    html_out = beta_page(
        spark, index_df, fts, req, rules, template_debug=args.template_debug
    )
    if args.output and args.output != "-":
        with open(args.output, "w") as f:
            f.write(html_out)
        print(f"wrote {args.output}", file=sys.stderr)
    else:
        print(html_out)
    return 0


def _load_index_ctx(args):
    """Shared loader for page/serve: session + index + FTS + rules,
    with optional source registration for display_sql hydration."""
    from dogsheep_beta_spark.operators.fts_index import read_fts_index

    spark = _build_session()
    rules = _load_rules(args)
    _register_sources(spark, getattr(args, "sources", None))
    index_df = spark.read.parquet(os.path.join(args.index, "search_index"))
    fts = read_fts_index(spark, os.path.join(args.index, "fts"))
    return spark, index_df, fts, rules


def cmd_serve(args) -> int:
    """Serve ``GET /-/beta`` over a written index with the stdlib HTTP
    server (server.py) — the literal counterpart of the reference's
    Datasette route (reference __init__.py:261-263).  The session, the
    loaded index (persisted) and the FTS postings are built ONCE and
    reused by every request."""
    from dogsheep_beta_spark.server import make_live_server, make_server

    if getattr(args, "live", False):
        # serve-while-indexing: INDEX is the streaming merge's layout
        # (incremental_fts_stream index_path; --fts its fts_path) and
        # every request re-pins the current committed generation —
        # docs appended by the running stream become searchable with
        # no restart (server.load_live_snapshot).
        from dogsheep_beta_spark.functions.tokenizer import parse_fts5_tokenize

        spark = _build_session()
        rules = _load_rules(args)
        # display_sql hydration needs the source views in live mode
        # exactly like the static path
        _register_sources(spark, getattr(args, "sources", None))
        mode, stem = parse_fts5_tokenize(args.tokenize or "none")
        srv = make_live_server(
            spark,
            args.index,
            args.fts or os.path.join(os.path.dirname(args.index.rstrip("/")), "fts"),
            rules,
            host=args.host,
            port=args.port,
            mode=mode,
            stem=stem,
        )
        host, port = srv.server_address[:2]
        print(f"serving LIVE on http://{host}:{port}/-/beta", file=sys.stderr)
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            srv.server_close()
        return 0

    spark, index_df, fts, rules = _load_index_ctx(args)
    index_df = index_df.persist()
    index_df.count()  # materialize before the first request arrives
    # persist-then-count so request-time term lookups hit executor
    # cache (a bare count would scan the postings and cache nothing);
    # doc_lengths is scanned per request too (BM25 length norm)
    fts.postings = fts.postings.persist()
    fts.postings.count()
    fts.doc_lengths = fts.doc_lengths.persist()
    fts.doc_lengths.count()
    srv = make_server(
        spark, index_df, fts, rules, host=args.host, port=args.port
    )
    host, port = srv.server_address[:2]
    print(f"serving on http://{host}:{port}/-/beta", file=sys.stderr)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()
    return 0


def cmd_explain(args) -> int:
    """Print the formatted physical plan for a declared query — the
    per-query view of PLANS.md, for auditing a plan change without
    regenerating the whole artifact.  ``--run`` also executes it and
    prints row count + wall time."""
    import time

    import __spark_entry__ as entry

    qs = entry.queries()
    if args.name not in qs:
        known = ", ".join(sorted(qs))
        print(f"unknown query {args.name!r}; one of: {known}",
              file=sys.stderr)
        return 2
    spark = _build_session()
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[args.name](spark, args.sf_dir)
    print(df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), args.mode))
    if args.run:
        t = time.time()
        n = df.count()
        print(f"rows={n} wall={time.time() - t:.2f}s", file=sys.stderr)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dogsheep-beta-spark")
    sub = p.add_subparsers(dest="command", required=True)
    ix = sub.add_parser("index", help="build the search index from a rules config")
    ix.add_argument("output", help="output directory (Parquet index)")
    ix.add_argument("config", help="rules YAML/JSON file, or - for stdin")
    ix.add_argument(
        "--tokenize",
        default="porter",
        help=(
            "FTS5-style tokenizer spec, forwarded like the reference: "
            "porter (default) stems indexed terms, none disables "
            "stemming; either may carry unicode61 arguments, e.g. "
            "\"porter unicode61 tokenchars '#'\" or "
            "\"none unicode61 separators 'X'\""
        ),
    )
    ix.add_argument(
        "-d",
        "--database",
        action="append",
        default=[],
        help="databases to index - defaults to all (repeatable)",
    )
    ix.add_argument(
        "--sources",
        help="directory of <table>.parquet files to register as source views",
    )
    ix.add_argument(
        "--partition-by-type",
        action="store_true",
        help="write search_index hive-partitioned by type (scale layout)",
    )
    ix.add_argument(
        "--term-buckets",
        type=int,
        default=0,
        help="repartition postings by term into N buckets on write",
    )
    ix.add_argument(
        "--zorder",
        action="store_true",
        help="cluster index files in Morton order over (type, day) so "
        "type AND date filters both prune via file stats",
    )
    ix.set_defaults(func=cmd_index)

    se = sub.add_parser("search", help="query a written index directory")
    se.add_argument("index", help="index directory written by `index`")
    se.add_argument("query", nargs="?", default=None, help="MATCH query (omit for timeline)")
    se.add_argument("--sort", choices=["newest", "oldest"], default=None)
    se.add_argument("--type", default=None, help="filter: type equals")
    se.add_argument("--category", type=int, default=None)
    se.add_argument("--is-public", dest="is_public", type=int, default=None)
    se.add_argument("--date", default=None, help="timestamp date YYYY-MM-DD")
    se.add_argument(
        "--limit",
        type=_positive_int,
        default=40,
        help="max rows, >= 1 (capped at the reference page limits: "
        "40 timeline / 100 search)",
    )
    se.add_argument("--count", action="store_true", help="print filtered count")
    se.add_argument("--facets", action="store_true", help="print facet blocks")
    se.set_defaults(func=cmd_search)

    pg = sub.add_parser(
        "page", help="render the full beta.html page for one request"
    )
    pg.add_argument("index", help="index directory written by `index`")
    pg.add_argument("query", nargs="?", default=None, help="MATCH query (omit for timeline)")
    pg.add_argument("--sort", choices=["newest", "oldest"], default=None)
    pg.add_argument("--type", default=None, help="filter: type equals")
    pg.add_argument("--category", type=int, default=None)
    pg.add_argument("--is-public", dest="is_public", type=int, default=None)
    pg.add_argument("--date", default=None, help="timestamp date YYYY-MM-DD")
    pg.add_argument("--config", default=None, help="rules file for display templates")
    pg.add_argument("--sources", default=None, help="source dir for display_sql hydration")
    pg.add_argument("--template-debug", action="store_true")
    pg.add_argument("-o", "--output", default=None, help="write HTML here instead of stdout")
    pg.set_defaults(func=cmd_page)

    sv = sub.add_parser(
        "serve", help="serve GET /-/beta over a written index (stdlib HTTP)"
    )
    sv.add_argument("index", help="index directory written by `index`")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8001, help="0 = ephemeral")
    sv.add_argument("--config", default=None, help="rules file for display templates")
    sv.add_argument("--sources", default=None, help="source dir for display_sql hydration")
    sv.add_argument(
        "--live",
        action="store_true",
        help=(
            "serve-while-indexing: INDEX is a streaming merge layout "
            "(incremental_fts_stream index_path); each request re-pins "
            "the current committed generation"
        ),
    )
    sv.add_argument(
        "--fts",
        default=None,
        help="--live only: the stream's fts_path (default: sibling 'fts' dir)",
    )
    sv.add_argument(
        "--tokenize",
        default=None,
        help="--live only: tokenizer spec for query analysis (default none)",
    )
    sv.set_defaults(func=cmd_serve)

    ex = sub.add_parser(
        "explain", help="print the physical plan of a declared query"
    )
    ex.add_argument("name", help="query name from __spark_entry__.queries()")
    ex.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="testdata scale-factor directory",
    )
    ex.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
    )
    ex.add_argument(
        "--run", action="store_true", help="also execute and time the query"
    )
    ex.set_defaults(func=cmd_explain)

    args = p.parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
