"""The benchmark's own tests: seeded inputs repeat exactly, and the
page check passes a correct page and flags corrupted ones.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started: pages are rendered with the package's
own template code (``page.render_page`` / ``presentation.process_results``)
from the oracle's rows, then corrupted one way at a time.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import workload  # noqa: E402
from oracle import HYDRATED, Oracle, check_page  # noqa: E402


def test_requests_repeat_for_a_seed():
    assert workload.serve_requests(7, 2) == workload.serve_requests(7, 2)
    assert workload.serve_requests(7, 2) != workload.serve_requests(8, 2)


def test_seeds_reorder_the_same_requests():
    def key(r):
        return json.dumps(r, sort_keys=True)

    assert sorted(map(key, workload.serve_requests(7, 2))) == sorted(map(key, workload.serve_requests(8, 2)))


def test_every_block_has_the_same_shapes():
    measured = workload.serve_requests(3, 3)
    blocks = [measured[i:i + workload.BLOCK] for i in range(0, len(measured), workload.BLOCK)]
    shapes = [sorted((r["kind"], r["shape"]) for r in b) for b in blocks]
    assert shapes[0] == shapes[1] == shapes[2]
    assert 3 * sum(k == "timeline" for k, _ in shapes[0]) == workload.BLOCK


def test_batches_repeat_and_markers_are_unique():
    a = workload.ingest_batches(5, 3, 12, 8, 2000)
    assert a == workload.ingest_batches(5, 3, 12, 8, 2000)
    assert a != workload.ingest_batches(6, 3, 12, 8, 2000)
    assert len({b["marker"] for b in a}) == 3
    for b in a:
        keys = [r["key"] for r in b["rows"]]
        assert len(keys) == len(set(keys)) == 20
        assert all(b["marker"] in r["search_1"] for r in b["rows"])
        assert all(k >= 2000 for k in b["new"]) and all(k < 2000 for k in b["updated"])


def test_corpus_is_deterministic(tmp_path):
    corpus.write_corpus(str(tmp_path / "a"), 0.0005)
    corpus.write_corpus(str(tmp_path / "b"), 0.0005)
    for t in ("documents", "events", "orders"):
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == (tmp_path / "b" / f"{t}.parquet").read_bytes()


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = tmp_path_factory.mktemp("src")
    corpus.write_corpus(str(d), 0.001)
    return Oracle(str(d))


def render(oracle: Oracle, req: dict, keys: list[tuple[str, str]]) -> str:
    """The page the server should return, via the package's renderer."""
    from dogsheep_beta_spark.page import render_page, rules_templates
    from dogsheep_beta_spark.presentation import process_results

    exp = oracle.expect(req)
    rows = []
    for (t, k), (row, hyd) in oracle.rows(keys).items():
        display = None
        if hyd:
            display = {HYDRATED[t][2]: int(hyd)}
        rows.append({"type": t, "key": k, "title": row[0], "search_1": row[1], "display": display})
    templates, _ = rules_templates(workload.RULES)
    facets = [{"name": "type", "results": [
        {"label": t, "count": n, "selected": False, "toggle_url": "?"} for t, n in exp["type_facet"].items()
    ]}]
    return render_page({
        "q": req["args"].get("q", ""), "count": exp["count"], "results": process_results(rows, templates),
        "facets": facets, "hiddens": [], "sorted_by": "newest", "other_sort_orders": [],
    })


TIMELINE = {"kind": "timeline", "shape": "type", "args": {"type": workload.EVENTS}, "match": None}


def test_correct_page_passes(oracle):
    keys = oracle.expect(TIMELINE)["ordered"]
    assert check_page(oracle, TIMELINE, render(oracle, TIMELINE, keys)) == []


def test_single_term_search_order_is_checked(oracle):
    req = {"kind": "search", "shape": "term", "args": {"q": "urgent"},
           "match": {"tokens": ["urgent"], "prefix": False, "field": None}}
    keys = oracle.expect(req)["ordered"]
    assert keys
    assert check_page(oracle, req, render(oracle, req, keys)) == []
    assert check_page(oracle, req, render(oracle, req, keys[::-1])) != []


@pytest.mark.parametrize("corrupt", [
    lambda h: h.replace("Got 1,000 results", "Got 999 results"),
    lambda h: h.replace('<div class="result"', '<div class="x"', 1),
    lambda h: h.replace('<span class="count">1,000</span>', '<span class="count">7</span>'),
    lambda h: h.replace('<p class="hydrated">', '<p class="hydrated">9', 1),
    lambda h: h.replace("signup", "sign-up", 1),
])
def test_corrupted_page_is_flagged(oracle, corrupt):
    keys = oracle.expect(TIMELINE)["ordered"]
    html = render(oracle, TIMELINE, keys)
    bad = corrupt(html)
    assert bad != html
    assert check_page(oracle, TIMELINE, bad) != []


def test_reordered_page_is_flagged(oracle):
    keys = oracle.expect(TIMELINE)["ordered"]
    assert check_page(oracle, TIMELINE, render(oracle, TIMELINE, keys[1:] + keys[:1])) != []


def test_upsert_changes_what_the_oracle_expects(tmp_path):
    corpus.write_corpus(str(tmp_path), 0.001)
    oracle = Oracle(str(tmp_path))
    batch = workload.ingest_batches(1, 1, 3, 2, 1000)[0]
    req = {"kind": "search", "shape": "marker", "args": {"q": batch["marker"]},
           "match": {"tokens": [batch["marker"]], "prefix": False, "field": None}}
    assert oracle.expect(req)["count"] == 0
    oracle.upsert(workload.EVENTS, batch["rows"])
    assert oracle.expect(req)["count"] == 5
