"""Full-text search entry point — SEARCH_SQL semantics (SURVEY.md §3.2).

Reference flow (__init__.py:111-146): build where-clauses, run the
MATCH query joined to search_index, order by rank (= -bm25) then
timestamp desc, limit 100; on FTS syntax error retry with escape_fts.

Spark flow: parse q → compile MATCH over postings → BM25-score the
phrase hits → semi-join to the boolean doc-set → join back to
search_index on the pk (C2) → filters + order + limit via the shared
QueryPlan compiler.  Count + facets reuse the same filtered set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dogsheep_beta_spark.functions.bm25 import score_phrase_hits
from dogsheep_beta_spark.functions.tokenizer import analyze_py, mode_tokenchars
from dogsheep_beta_spark.operators.fts_index import FtsIndex
from dogsheep_beta_spark.plans.match import (
    ParseError,
    compile_match,
    escape_match,
    parse_match,
)
from dogsheep_beta_spark.plans.query import QueryPlan, QueryResult, compile_plan


def _compile_q(fts: FtsIndex, q: str):
    """(docset, hits) for q: analyze with the index's own spec, parse
    the MATCH grammar, fall back to the escaped literal on a syntax
    error (B6/H8), compile over the postings."""

    def analyze(s: str) -> list[str]:
        return analyze_py(s, fts.mode, fts.stem)

    try:
        ast = parse_match(
            q, analyze, columns=fts.fields,
            word_chars=mode_tokenchars(fts.mode),
        )
    except ParseError:
        ast = escape_match(q, analyze)
    return compile_match(ast, fts)


def scored_docs(fts: FtsIndex, q: str, type_filter: str | None = None) -> DataFrame:
    """(type, key, rank) for every doc matching q (two-phase compile).

    ``type_filter`` pushes a ``?type=`` equality below the scoring
    aggregation (hits of other sources never reach the per-doc sum);
    BM25 stats remain corpus-global so ranks are unchanged — see
    functions/bm25.score_phrase_hits."""
    docset, hits = _compile_q(fts, q)
    if type_filter is not None:
        docset = docset.filter(F.col("type") == type_filter)
    scored = score_phrase_hits(
        hits, fts.doc_lengths, fts.n_docs, fts.avgdl, type_filter=type_filter
    )
    # No broadcast hint here on purpose: a MATCH docset is unbounded
    # (OR of frequent terms can approach the corpus), so the compile
    # keeps the shuffle-safe (type, key) equi-join and lets AQE convert
    # to broadcast at runtime when the materialized docset is small.
    # Simple term/AND docsets collapse into broadcast joins statically
    # (pinned by tests/test_plans.py); positional queries (NEAR) keep
    # the sort-merge fallback — selective but not provably bounded.
    return scored.join(docset, ["type", "key"], "left_semi")


def matching_docs(fts: FtsIndex, q: str) -> DataFrame:
    """(type, key) of every doc matching q — the boolean docset WITHOUT
    BM25 scoring.  Count/facet-only requests (D1/D2 under search) go
    through this: the per-doc rank aggregation is pure waste when no
    output orders by relevance."""
    return _compile_q(fts, q)[0]


def search_query(
    index_df: DataFrame,
    fts: FtsIndex,
    plan: QueryPlan,
    facet_size: int = 30,
    persist: bool = True,
) -> QueryResult:
    """Compile one search request end-to-end (results/count/facets)."""
    scored = scored_docs(fts, plan.q, type_filter=plan.type) if plan.is_search else None
    return compile_plan(
        index_df, plan, scored=scored, facet_size=facet_size, persist=persist
    )


def search(index_df: DataFrame, fts: FtsIndex, q: str, **plan_kwargs) -> DataFrame:
    """Convenience: just the top-k results DataFrame for a query string."""
    return search_query(index_df, fts, QueryPlan(q=q, **plan_kwargs)).results
