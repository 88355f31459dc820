"""Independent page check: DuckDB over the same source parquet.

The oracle rebuilds the search_index rows with plain SQL (the DuckDB
twin of ``workload.RULES``, same timestamp formatting and string keys),
tokenizes them with the portable analyzer (lower-case, split on
``[^a-z0-9]+``) into a positional token table, and evaluates every
request from its structured MATCH tree, never from the query string.
For the ingest workload it applies each batch as an upsert, so the
oracle always describes the generation the live server should serve.

``check_page`` compares one rendered page with the oracle:

- the count line equals the oracle's count;
- the ``type`` facet equals the oracle's per-type counts;
- the page shows min(count, limit) distinct results, all of them
  matching docs;
- timeline pages, single-term search pages and explicitly sorted
  search pages show exactly the oracle's ordered keys (BM25 recomputed
  here for the single-term case);
- every templated result shows its current title and text, and its
  hydrated field equals the source row's value.
"""

from __future__ import annotations

import os
import re

import duckdb
from markupsafe import escape

from workload import DOCS, EVENTS, HYDRATED, ORDERS

SEARCH_LIMIT, TIMELINE_LIMIT = 100, 40
K1, B, IDF_FLOOR = 1.2, 0.75, 1e-6

_TOKENS = "list_filter(regexp_split_to_array(lower(coalesce({c}, '')), '[^a-z0-9]+'), x -> x <> '')"
_TOK_SQL = f"""
    with f as (
        select type, key, 'title' as field, {_TOKENS.format(c='title')} as toks from si {{w}}
        union all
        select type, key, 'search_1', {_TOKENS.format(c='search_1')} from si {{w}}
    )
    select type, key, field, unnest(toks) as term,
           unnest(generate_series(0, len(toks) - 1)) as pos
    from f
"""


def _lit(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


class Oracle:
    def __init__(self, src_dir: str):
        self.db = duckdb.connect()
        p = {t: _lit(os.path.join(src_dir, f"{t}.parquet")) for t in ("documents", "events", "orders")}
        for t, path in p.items():
            self.db.execute(f"create view {t} as select * from read_parquet({path})")
        self.db.execute(
            f"""
            create table si as
            select '{DOCS}' as type, cast(doc_id as varchar) as key, source as title,
                   cast(null as varchar) as timestamp, 1 as category, 1 as is_public,
                   text as search_1
            from documents
            union all
            select '{EVENTS}', cast(event_id as varchar), event_type,
                   strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), 3, 0, props
            from events
            union all
            select '{ORDERS}', cast(o_orderkey as varchar), o_orderpriority,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f'), 2, 0, o_orderstatus
            from orders
            """
        )
        self.db.execute("create table tok as " + _TOK_SQL.format(w=""))

    def upsert(self, type_tag: str, rows: list[dict]) -> None:
        """Apply one ingest batch: last writer wins per (type, key)."""
        keys = ", ".join(_lit(r["key"]) for r in rows)
        where = f"type = {_lit(type_tag)} and key in ({keys})"
        self.db.execute(f"delete from si where {where}")
        self.db.execute(f"delete from tok where {where}")
        self.db.executemany(
            "insert into si values (?, ?, ?, ?, ?, ?, ?)",
            [
                (type_tag, str(r["key"]), r["title"], r["timestamp"], r["category"], r["is_public"], r["search_1"])
                for r in rows
            ],
        )
        self.db.execute("insert into tok " + _TOK_SQL.format(w="where " + where))

    # -- MATCH evaluation -------------------------------------------------

    def _phrase_sql(self, ph: dict) -> str:
        """(type, key) of docs containing the phrase in one field."""
        toks = ph["tokens"]
        joins, conds = [], []
        for i, t in enumerate(toks):
            if i:
                joins.append(
                    f"join tok a{i} on a{i}.type = a0.type and a{i}.key = a0.key "
                    f"and a{i}.field = a0.field and a{i}.pos = a0.pos + {i}"
                )
            last_prefix = ph["prefix"] and i == len(toks) - 1
            conds.append(f"a{i}.term like {_lit(t + '%')}" if last_prefix else f"a{i}.term = {_lit(t)}")
        if ph["field"]:
            conds.append(f"a0.field = {_lit(ph['field'])}")
        return f"select distinct a0.type, a0.key from tok a0 {' '.join(joins)} where {' and '.join(conds)}"

    def _match_sql(self, node) -> str:
        if isinstance(node, dict):
            return self._phrase_sql(node)
        op = {"and": "intersect", "or": "union", "not": "except"}[node[0]]
        return f"({self._match_sql(node[1])}) {op} ({self._match_sql(node[2])})"

    @staticmethod
    def _filters(args: dict) -> str:
        conds = ["true"]
        if "type" in args:
            conds.append(f"s.type = {_lit(args['type'])}")
        if "category" in args:
            conds.append(f"s.category = {int(args['category'])}")
        if "timestamp__date" in args:
            conds.append(f"try_cast(substr(s.timestamp, 1, 10) as date) = date {_lit(args['timestamp__date'])}")
        return " and ".join(conds)

    def _filtered_sql(self, req: dict) -> str:
        """Rows of search_index the page filters to (before ordering)."""
        where = f"where {self._filters(req['args'])}"
        if req["match"] is None:
            return f"select s.* from si s {where}"
        return f"select s.* from si s join ({self._match_sql(req['match'])}) m using (type, key) {where}"

    def _ordered_sql(self, req: dict) -> str | None:
        """Ordered top-k keys, for the page shapes whose order is
        recomputed here (None: compare membership only)."""
        args, match = req["args"], req["match"]
        filtered = self._filtered_sql(req)
        tie = "type asc, key asc"
        if match is None or args.get("sort") in ("newest", "oldest"):
            limit = TIMELINE_LIMIT if match is None else SEARCH_LIMIT
            if args.get("sort") == "oldest":
                order = "timestamp asc nulls first"
            else:
                order = "timestamp desc nulls last"
            return f"select type, key from ({filtered}) order by {order}, {tie} limit {limit}"
        if not isinstance(match, dict) or len(match["tokens"]) != 1 or match["prefix"]:
            return None
        # single-term BM25, FTS5 flattened-column model: tf and dl sum
        # over the indexed fields; a column filter restricts tf and df
        field = f"and field = {_lit(match['field'])}" if match["field"] else ""
        term = _lit(match["tokens"][0])
        return f"""
            with hits as (
                select type, key, count(*) as tf from tok
                where term = {term} {field} group by type, key
            ),
            dls as (select type, key, count(*) as dl from tok group by type, key),
            n as (select count(*) as n from si where key is not null),
            tot as (select count(*) as total from tok),
            dfs as (select count(*) as df from hits),
            scored as (
                select h.type, h.key,
                       -(greatest(ln((n.n - dfs.df + 0.5) / (dfs.df + 0.5)), {IDF_FLOOR})
                         * (h.tf * {K1 + 1!r})
                         / (h.tf + {K1!r} * ({1 - B!r} + {B!r} * coalesce(d.dl, 0)
                                               / (tot.total / n.n)))) as rank
                from hits h left join dls d using (type, key), n, tot, dfs
            )
            select f.type, f.key from ({filtered}) f join scored using (type, key)
            order by rank asc, timestamp desc nulls last, {tie} limit {SEARCH_LIMIT}
        """

    def expect(self, req: dict) -> dict:
        """The oracle's view of one page."""
        filtered = self._filtered_sql(req)
        count = self.db.execute(f"select count(*) from ({filtered})").fetchone()[0]
        type_facet = dict(self.db.execute(f"select type, count(*) from ({filtered}) group by type").fetchall())
        members = {
            (t, k) for t, k in self.db.execute(f"select type, key from ({filtered})").fetchall()
        } if req["match"] is not None else None
        osql = self._ordered_sql(req)
        ordered = [tuple(r) for r in self.db.execute(osql).fetchall()] if osql else None
        limit = SEARCH_LIMIT if req["match"] is not None else TIMELINE_LIMIT
        return {"count": count, "type_facet": type_facet, "members": members,
                "ordered": ordered, "n_results": min(count, limit)}

    def rows(self, keys: list[tuple[str, str]]) -> dict:
        """Current (title, search_1) and hydrated value per (type, key)."""
        out = {}
        for type_tag, key in keys:
            r = self.db.execute(
                "select title, search_1 from si where type = ? and key = ?", [type_tag, key]
            ).fetchone()
            hyd = ""
            if type_tag in HYDRATED:
                table, kcol, vcol = HYDRATED[type_tag]
                h = self.db.execute(
                    f"select {vcol} from {table} where cast({kcol} as varchar) = ?", [key]
                ).fetchone()
                hyd = "" if h is None else str(h[0])
            out[(type_tag, key)] = (r, hyd)
        return out


# -- rendered page parsing ---------------------------------------------------

_COUNT = re.compile(r"Got ([\d,]+) results?")
_RESULT = re.compile(r'<div class="result" data-table-key="([^"]*)">(.*?)</div>', re.S)
_TYPE_FACET = re.compile(r"<h2>type</h2>(.*?)</ul>", re.S)
_FACET_ITEM = re.compile(r'class="label">([^<]*)<.*?<span class="count">([\d,]+)</span>', re.S)
_TEXT = re.compile(r'<p class="text">(.*?)</p><p class="hydrated">(.*?)</p>', re.S)


def parse_page(html: str) -> dict:
    m = _COUNT.search(html)
    results = []
    for tk, body in _RESULT.findall(html):
        type_tag, key = tk.split(":", 1)
        results.append((type_tag, key, body))
    facet = {}
    fm = _TYPE_FACET.search(html)
    if fm:
        facet = {label: int(c.replace(",", "")) for label, c in _FACET_ITEM.findall(fm.group(1))}
    return {
        "count": int(m.group(1).replace(",", "")) if m else None,
        "results": results,
        "type_facet": facet,
    }


def check_page(oracle: Oracle, req: dict, html: str) -> list[str]:
    """Every way the page differs from the oracle (empty: correct)."""
    exp = oracle.expect(req)
    page = parse_page(html)
    errs = []
    if page["count"] != exp["count"]:
        errs.append(f"count {page['count']} != {exp['count']}")
    if page["type_facet"] != exp["type_facet"]:
        errs.append(f"type facet {page['type_facet']} != {exp['type_facet']}")
    keys = [(t, k) for t, k, _ in page["results"]]
    if len(keys) != exp["n_results"] or len(set(keys)) != len(keys):
        errs.append(f"{len(keys)} results ({len(set(keys))} distinct), expected {exp['n_results']}")
    if exp["members"] is not None and not set(keys) <= exp["members"]:
        errs.append(f"non-matching results {sorted(set(keys) - exp['members'])[:3]}")
    if exp["ordered"] is not None and keys != exp["ordered"]:
        errs.append("result order differs from oracle")
    current = oracle.rows([(t, k) for t, k in keys if t in HYDRATED])
    for t, k, body in page["results"]:
        if t not in HYDRATED:
            continue
        (row, hyd) = current[(t, k)]
        m = _TEXT.search(body)
        want_text = str(escape(f"{row[0]} {row[1]}")) if row else None
        if not m or m.group(1) != want_text or m.group(2) != str(escape(hyd)):
            errs.append(f"result {t}:{k} renders {body.strip()[:80]!r}")
            break
    return errs
