"""Seeded inputs: the rules config, the /-/beta request mix and the
ingest batches.  Everything here is pure Python and depends only on
its arguments, so the same seed always yields the same requests and
batches (pinned by test_perfbench.py).  The /-/beta requests come
from a fixed query log; the seed draws their order.

A request is a dict with the query-string ``args`` the client sends,
its ``kind`` (timeline or search), its ``shape`` and, for search
pages, ``match``: the MATCH expression as a tree the DuckDB oracle
evaluates without parsing the query string.  A phrase is
``{"tokens": [...], "prefix": bool, "field": None | "title"}``; a tree
is a phrase, ``["and", a, b]``, ``["or", a, b]`` or ``["not", a, b]``.
"""

from __future__ import annotations

import random

from corpus import DOC_WORDS, EVENT_TYPES, N_PROPS, N_SOURCES

EVENTS = "events.db/events"
ORDERS = "orders.db/orders"
DOCS = "docs.db/documents"
TYPES = (DOCS, EVENTS, ORDERS)

# Rule SQL of the index: the three sources of the project's test data,
# with display_sql (hydration) and a display template for the two
# sources that have a natural point lookup.  The templates print the
# indexed text, so a page shows each result's current version.
RULES = {
    "docs.db": {
        "documents": {
            "sql": "select doc_id as key, source as title, "
            "cast(null as string) as timestamp, 1 as category, "
            "1 as is_public, text as search_1 from documents"
        }
    },
    "events.db": {
        "events": {
            "sql": "select event_id as key, event_type as title, "
            "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') as timestamp, "
            "3 as category, 0 as is_public, props as search_1 from events",
            "display_sql": "select event_id, user_id from events "
            "where event_id = :key",
            "display": '<p class="text">{{ title }} {{ search_1 }}</p>'
            '<p class="hydrated">{{ display.user_id if display else "" }}</p>',
        }
    },
    "orders.db": {
        "orders": {
            "sql": "select o_orderkey as key, o_orderpriority as title, "
            "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss.SSSSSS') as timestamp, "
            "2 as category, 0 as is_public, o_orderstatus as search_1 from orders",
            "display_sql": "select o_orderkey, o_custkey from orders "
            "where o_orderkey = :key",
            "display": '<p class="text">{{ title }} {{ search_1 }}</p>'
            '<p class="hydrated">{{ display.o_custkey if display else "" }}</p>',
        }
    },
}

# Hydrated field shown by each type's template (checked per result).
HYDRATED = {EVENTS: ("events", "event_id", "user_id"), ORDERS: ("orders", "o_orderkey", "o_custkey")}

# Query vocabulary, most frequent first (Zipf draws favour the head).
TERMS = (
    list(DOC_WORDS)
    + list(EVENT_TYPES)
    + ["urgent", "high", "medium", "low", "not", "specified", "k"]
    + [f"src{i}" for i in range(N_SOURCES)]
    + [str(i) for i in range(N_PROPS)]
)
TITLE_TERMS = list(EVENT_TYPES) + ["urgent", "high", "medium", "low"] + [
    f"src{i}" for i in range(N_SOURCES)
]
ZIPF_S = 1.1

# One block of the mix: a third timeline pages, two thirds search
# pages, each shape a fixed number of times per block.  Blocks are
# shuffled per seed; the seed also draws every term, type and date.
TIMELINE_SHAPES = ("newest", "type", "category_oldest", "date")
SEARCH_SHAPES = (
    "term", "and_newest", "phrase", "or", "not_type", "prefix",
    "title", "escape",
)


def _block_shapes() -> list[tuple[str, str]]:
    """The (kind, shape) slots of one block: 4 timeline, 8 search."""
    return [("timeline", s) for s in TIMELINE_SHAPES] + [("search", s) for s in SEARCH_SHAPES]


BLOCK = len(_block_shapes())  # pages per block


def _zipf(rng: random.Random, items) -> str:
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(items))]
    return rng.choices(items, weights)[0]


def _phrase(tokens, prefix=False, field=None) -> dict:
    return {"tokens": list(tokens), "prefix": prefix, "field": field}


def _search(rng: random.Random, shape: str) -> tuple[dict, object]:
    t1 = _zipf(rng, TERMS)
    t2 = _zipf(rng, [t for t in TERMS if t != t1])
    if shape == "term":
        return {"q": t1}, _phrase([t1])
    if shape == "and_newest":
        return {"q": f"{t1} {t2}", "sort": "newest"}, ["and", _phrase([t1]), _phrase([t2])]
    if shape == "phrase":
        w1, w2 = rng.choice(DOC_WORDS), rng.choice(DOC_WORDS)
        return {"q": f'"{w1} {w2}"'}, _phrase([w1, w2])
    if shape == "or":
        return {"q": f"{t1} OR {t2}"}, ["or", _phrase([t1]), _phrase([t2])]
    if shape == "not_type":
        return {"q": f"{t1} NOT {t2}", "type": rng.choice(TYPES)}, ["not", _phrase([t1]), _phrase([t2])]
    if shape == "prefix":
        w = rng.choice(DOC_WORDS + list(EVENT_TYPES))
        pfx = w[:2]
        return {"q": pfx + "*"}, _phrase([pfx], prefix=True)
    if shape == "title":
        t = rng.choice(TITLE_TERMS)
        return {"q": f"title:{t}"}, _phrase([t], field="title")
    if shape == "escape":
        # '-' is not a MATCH operator, so the parser rejects the query
        # and the escape fallback searches the two words as a phrase
        w1, w2 = rng.choice(DOC_WORDS), rng.choice(DOC_WORDS)
        return {"q": f"{w1}-{w2}"}, _phrase([w1, w2])
    raise ValueError(shape)


def _timeline(rng: random.Random, shape: str) -> dict:
    if shape == "newest":
        return {}
    if shape == "type":
        return {"type": rng.choice(TYPES)}
    if shape == "category_oldest":
        return {"category": str(rng.choice((1, 2, 3))), "sort": "oldest"}
    if shape == "date":
        return {"timestamp__date": f"2024-01-{rng.randint(1, 30):02d}"}
    raise ValueError(shape)


def _request(rng: random.Random, kind: str, shape: str) -> dict:
    if kind == "timeline":
        return {"kind": kind, "shape": shape, "args": _timeline(rng, shape), "match": None}
    args, match = _search(rng, shape)
    return {"kind": kind, "shape": shape, "args": args, "match": match}


def serve_requests(seed: int, n_blocks: int) -> list[dict]:
    """``n_blocks`` blocks of the same requests, each in an order drawn
    from ``seed``.  The requests (one per slot of a block: terms, types,
    dates) are a fixed query log, so every run does the same work: with
    per-seed terms, the run median moved with the terms a seed happened
    to draw.  Repeating the block lets a run compare each request with
    itself later in the window."""
    log = random.Random("serve-query-log")
    requests = [_request(log, kind, shape) for kind, shape in _block_shapes()]
    rng = random.Random(f"serve-{seed}")
    out = []
    for _ in range(n_blocks):
        block = list(requests)
        rng.shuffle(block)
        out.extend(block)
    return out


def marker(seed: int, batch: int) -> str:
    """A token that occurs in batch ``batch`` and nowhere else."""
    return f"mk{seed}x{batch}q"


def ingest_batches(
    seed: int, n_batches: int, n_new: int, n_upd: int, n_events: int
) -> list[dict]:
    """Fixed-size ``events`` batches: ``n_new`` new event ids past the
    corpus and ``n_upd`` distinct existing ids rewritten with new text.
    Rows carry the rule's output columns (key, title, timestamp,
    category, is_public, search_1); every row's text holds the batch's
    marker token."""
    rng = random.Random(f"ingest-{seed}")
    batches = []
    for b in range(n_batches):
        mk = marker(seed, b)
        new_keys = [n_events + b * n_new + i for i in range(n_new)]
        upd_keys = rng.sample(range(n_events), n_upd)
        rows = []
        for i, key in enumerate(new_keys + upd_keys):
            rows.append(
                {
                    "key": key,
                    "title": rng.choice(EVENT_TYPES),
                    "timestamp": f"2024-02-{1 + b % 28:02d} 12:{i % 60:02d}:00.000000",
                    "category": 3,
                    "is_public": 0,
                    "search_1": f'{{"k": {rng.randrange(N_PROPS)}, "tag": "{mk}"}}',
                }
            )
        batches.append({"marker": mk, "rows": rows, "new": new_keys, "updated": upd_keys})
    return batches
