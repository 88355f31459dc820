"""Ported page goldens — the reference's BeautifulSoup assertions over
the rendered /-/beta page (reference tests/test_plugin.py:11-230),
re-targeted at ``page.beta_page``'s HTML output.

Fixture = the reference's ds fixture verbatim (tests/test_plugin.py:
250-358): emails.db/emails ×2 + github.db/commits ×2, the same YAML
rules (display + display_sql with :key/:q), porter tokenization.

One documented deviation: the reference breaks equal-timestamp ties by
SQLite rowid (an insertion-order artifact); this engine's declared
deterministic tie-break is ascending (type, key) (SURVEY §7.3 item 3),
so the two 2020-08-01T00:05:02 rows order emails-before-commits here.
Expected lists below encode OUR tie-break; every non-tied ordering is
the reference's.
"""

from html.parser import HTMLParser

import pytest

from dogsheep_beta_spark import build_fts_index, build_search_index
from dogsheep_beta_spark.page import beta_page

CONFIG = {
    "emails.db": {
        "emails": {
            "display_sql": "select * from emails where id = :key",
            "display": (
                "<p>Email from {{ display.from_ }}, "
                "subject {{ display.subject }}"
            ),
            "sql": """
                select
                    id as key,
                    subject as title,
                    date as timestamp,
                    0 as is_public,
                    body as search_1
                from
                    emails
            """,
        }
    },
    "github.db": {
        "commits": {
            "display_sql": """
                select
                    commits.sha,
                    commits.message,
                    commits.committer_date,
                    commits.repo_name,
                    :q as their_query
                from commits where sha = :key
            """,
            "display": (
                "<p>Commit to {{ display.repo_name }} on "
                "{{ display.committer_date }}</p>\n"
                '<p>{{ display.message }} - {{ display.sha }}</p>\n'
                '<p>User searched for: "{{ display.their_query }}"</p>'
            ),
            "sql": """
                select
                    sha as key,
                    'Commit to ' || commits.repo_name as title,
                    committer_date as timestamp,
                    1 as category,
                    1 as is_public,
                    message as search_1
                from
                    commits
            """,
        }
    },
}

SHA1 = "a5b39c5049b28997528bb0eca52730ab6febabeaba54cfcba0ab5d70e7207523"
SHA2 = "5becbf70d64951e2910314ef5227d19b11c25b0c9586934941366da8997e57cb"


@pytest.fixture()
def page_ctx(spark):
    spark.createDataFrame(
        [
            (SHA1, "Another commit to things", "dogsheep/dogsheep-beta",
             "2020-08-01T00:05:02"),
            (SHA2, "Added some tests", "dogsheep/dogsheep-beta",
             "2020-08-02T12:35:48"),
        ],
        "sha string, message string, repo_name string, committer_date string",
    ).createOrReplaceTempView("commits")
    spark.createDataFrame(
        [
            (1, "Hey there #dogfest", "An email about things",
             "blah@example.com", "2020-08-01T00:05:02"),
            (2, "What's going on", "Another email about things",
             "blah@example.com", "2020-08-02T00:05:02"),
        ],
        "id int, subject string, body string, from_ string, date string",
    ).createOrReplaceTempView("emails")
    idx = build_search_index(spark, CONFIG).persist()
    fts = build_fts_index(idx, mode="portable", stem=True)  # porter default
    yield spark, idx, fts
    idx.unpersist()
    for df in (fts.postings, fts.doc_lengths):
        df.unpersist()


class _PageScrape(HTMLParser):
    """Stdlib stand-in for the reference's BeautifulSoup queries (no
    bs4 in this environment): collects the facet structure exactly as
    test_plugin.py:29-44 does — h2 name; per-li selected flag, first
    <a> href, .label text, .count text — plus data-table-key values in
    document order."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.facets = []
        self.table_keys = []
        self._in_facet = False
        self._li = None
        self._capture = None  # "h2" | "label" | "count"

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        cls = (a.get("class") or "").split()
        if "data-table-key" in a:
            self.table_keys.append(a["data-table-key"])
        if tag == "div" and "facet" in cls:
            self._in_facet = True
            self.facets.append({"name": "", "values": []})
            return
        if not self._in_facet:
            return
        if tag == "h2":
            self._capture = "h2"
        elif tag == "li":
            self._li = {
                "selected": "selected" in cls,
                "count": None,
                "url": None,
                "label": "",
            }
            self.facets[-1]["values"].append(self._li)
        elif self._li is not None and tag == "a":
            if self._li["url"] is None:  # li.find("a")["href"] = first a
                self._li["url"] = a.get("href")
            if "label" in cls:
                self._capture = "label"
        elif self._li is not None and tag == "span":
            if "label" in cls:
                self._capture = "label"
            elif "count" in cls:
                self._capture = "count"

    def handle_endtag(self, tag):
        if tag in ("h2", "a", "span"):
            self._capture = None
        elif tag == "li":
            self._li = None
        elif tag == "div" and self._in_facet and self._li is None:
            self._in_facet = False

    def handle_data(self, data):
        if self._capture == "h2" and self._in_facet:
            self.facets[-1]["name"] += data.strip()
        elif self._capture == "label" and self._li is not None:
            self._li["label"] += data.strip()
        elif self._capture == "count" and self._li is not None:
            c = data.strip()
            if c:
                self._li["count"] = int(c.replace(",", ""))


def scrape(html_text):
    p = _PageScrape()
    p.feed(html_text)
    return p


def test_search_page_fragments_and_facet_golden(page_ctx):
    """reference tests/test_plugin.py:11-108 (test_search)."""
    spark, idx, fts = page_ctx
    html_blank = beta_page(spark, idx, fts, {}, CONFIG)
    assert '<input type="search" name="q" value="" id="q">' in html_blank

    html = beta_page(spark, idx, fts, {"q": "things"}, CONFIG)
    for fragment in (
        "<p>Got 3 results",
        "<p>Email from blah@example.com, subject Hey there",
        "<p>Email from blah@example.com, subject What&#39;s going on",
        "<p>Commit to dogsheep/dogsheep-beta on 2020-08-01T00:05:02",
        '<p>User searched for: "things"</p>',
    ):
        assert fragment in html, fragment

    got = [
        {
            "name": f["name"],
            "values": [
                {
                    "selected": v["selected"],
                    "count": v["count"],
                    "url": v["url"],
                    "label": v["label"],
                }
                for v in f["values"]
            ],
        }
        for f in scrape(html).facets
    ]
    assert got == [
        {
            "name": "type",
            "values": [
                {
                    "selected": False,
                    "count": 2,
                    "url": "?type=emails.db%2Femails&q=things",
                    "label": "emails.db/emails",
                },
                {
                    "selected": False,
                    "count": 1,
                    "url": "?type=github.db%2Fcommits&q=things",
                    "label": "github.db/commits",
                },
            ],
        },
        {
            "name": "category",
            "values": [
                {
                    "selected": False,
                    "count": 1,
                    "url": "?category=1&q=things",
                    "label": "created",
                }
            ],
        },
        {
            "name": "is_public",
            "values": [
                {
                    "selected": False,
                    "count": 2,
                    "url": "?is_public=0&q=things",
                    "label": "0",
                },
                {
                    "selected": False,
                    "count": 1,
                    "url": "?is_public=1&q=things",
                    "label": "1",
                },
            ],
        },
        {
            "name": "timestamp",
            "values": [
                {
                    "selected": False,
                    "count": 2,
                    "url": "?timestamp__date=2020-08-01&q=things",
                    "label": "2020-08-01",
                },
                {
                    "selected": False,
                    "count": 1,
                    "url": "?timestamp__date=2020-08-02&q=things",
                    "label": "2020-08-02",
                },
            ],
        },
    ]


# our deterministic (type, key) tie-break orders the two
# 2020-08-01T00:05:02 rows emails-before-commits (see module docstring)
ALL_RESULTS = [
    f"github.db/commits:{SHA2}",
    "emails.db/emails:2",
    "emails.db/emails:1",
    f"github.db/commits:{SHA1}",
]


@pytest.mark.parametrize(
    "q,expected",
    (
        ("", ALL_RESULTS),
        (" ", ALL_RESULTS),
        ("things NOT email", [f"github.db/commits:{SHA1}"]),
        ("#dogfest", ["emails.db/emails:1"]),
        ("github-to-sqlite", []),
    ),
)
def test_advanced_search(page_ctx, q, expected):
    """reference tests/test_plugin.py:119-152 (FTS query-language
    corpus incl. the escape-fts fallback path)."""
    spark, idx, fts = page_ctx
    html = beta_page(spark, idx, fts, {"q": q}, CONFIG)
    page = scrape(html)
    assert page.table_keys == expected
    if expected:
        assert any(f["values"] for f in page.facets), "no facet results"


@pytest.mark.parametrize(
    "sort,expected",
    (
        ("", ["emails.db/emails:1", "emails.db/emails:2"]),
        ("newest", ["emails.db/emails:2", "emails.db/emails:1"]),
        ("oldest", ["emails.db/emails:1", "emails.db/emails:2"]),
    ),
)
def test_search_order(page_ctx, sort, expected):
    """reference tests/test_plugin.py:155-193: relevance ranks the
    shorter doc first (real BM25 dl effect), explicit sorts override,
    sort links + hidden-field preservation."""
    spark, idx, fts = page_ctx
    args = {"q": "email"}
    if sort:
        args["sort"] = sort
    html = beta_page(spark, idx, fts, args, CONFIG)
    assert scrape(html).table_keys == expected
    sort_label = sort or "relevance"
    assert f"<strong>{sort_label}</strong>" in html
    if sort_label != "relevance":
        assert (
            f'<input type="hidden" name="sort" value="{sort_label}">' in html
        )
    for sort_order in ("relevance", "newest", "oldest"):
        if sort_order != sort_label:
            assert f">{sort_order}</a>" in html


OLDEST_RESULTS = [
    "emails.db/emails:1",
    f"github.db/commits:{SHA1}",
    "emails.db/emails:2",
    f"github.db/commits:{SHA2}",
]


@pytest.mark.parametrize(
    "sort,expected",
    (
        ("", ALL_RESULTS),
        ("newest", ALL_RESULTS),
        ("oldest", OLDEST_RESULTS),
    ),
)
def test_search_order_for_timeline(page_ctx, sort, expected):
    """reference tests/test_plugin.py:204-230: timeline mode never
    offers a relevance link; default label is newest."""
    spark, idx, fts = page_ctx
    args = {"sort": sort} if sort else {}
    html = beta_page(spark, idx, fts, args, CONFIG)
    assert scrape(html).table_keys == expected
    sort_label = sort or "newest"
    assert f"<strong>{sort_label}</strong>" in html
    assert ">relevance</a>" not in html
    other = "oldest" if sort_label == "newest" else "newest"
    assert f">{other}</a>" in html


@pytest.mark.parametrize(
    "args",
    [{}, {"q": "things"}, {"q": "things", "type": "emails.db/emails"}],
)
def test_count_and_facets_take_at_most_two_jobs(page_ctx, monkeypatch, args):
    """Job-count guard: a page's count and four facets are ONE
    aggregate, run inside build_page_facets — at most 2 Spark jobs
    (AQE's shuffle-map stage + the result stage) — and no count job
    follows it before hydration."""
    import dogsheep_beta_spark.page as page
    import dogsheep_beta_spark.plans.hydrate as hydrate

    spark, idx, fts = page_ctx
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    real_build, real_hydrate = page.build_page_facets, hydrate.hydrate_results

    def build(*a, **k):
        start = scheduler.nextJobId()
        out = real_build(*a, **k)
        jobs["facets"], jobs["end"] = scheduler.nextJobId() - start, scheduler.nextJobId()
        return out

    def hydrate_results(*a, **k):
        jobs["after"] = scheduler.nextJobId() - jobs["end"]
        return real_hydrate(*a, **k)

    monkeypatch.setattr(page, "build_page_facets", build)
    monkeypatch.setattr(hydrate, "hydrate_results", hydrate_results)
    ctx = page.page_context(spark, idx, fts, args, CONFIG)
    assert 1 <= jobs["facets"] <= 2
    assert jobs["after"] == 0
    assert ctx["count"] == sum(v["count"] for v in ctx["facets"][0]["results"])


def test_selected_facet_toggle_removes_filter(page_ctx):
    """A selected facet value renders with the ✖ toggle whose URL drops
    the filter (templates/beta.html:67-72, __init__.py:246-257), and
    the active filter is preserved as a hidden form field."""
    spark, idx, fts = page_ctx
    html = beta_page(
        spark, idx, fts, {"q": "things", "type": "emails.db/emails"}, CONFIG
    )
    page = scrape(html)
    # relevance: email 1 (dl=7) outscores email 2 (dl=8) on BM25
    assert page.table_keys == ["emails.db/emails:1", "emails.db/emails:2"]
    type_facet = next(f for f in page.facets if f["name"] == "type")
    assert type_facet["values"] == [
        {
            "selected": True,
            "count": 2,
            "url": "?q=things",
            "label": "emails.db/emails",
        }
    ]
    assert (
        '<input type="hidden" name="type" value="emails.db/emails">' in html
    )
    assert "Got 2 results" in html


def test_http_serve_e2e(page_ctx):
    """E2E over a real socket: the stdlib serving mode (server.py,
    `cli serve`) must return the SAME golden page for
    GET /-/beta?q=things that beta_page renders directly — the literal
    counterpart of the reference's /-/beta route registration
    (reference __init__.py:261-263)."""
    import threading
    import urllib.request

    from dogsheep_beta_spark.server import make_server

    spark, idx, fts = page_ctx
    srv = make_server(spark, idx, fts, CONFIG, port=0)  # ephemeral port
    host, port = srv.server_address[:2]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://{host}:{port}/-/beta?q=things", timeout=60
        ) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/html")
            html = resp.read().decode("utf-8")
        for fragment in (
            "<p>Got 3 results",
            "<p>Email from blah@example.com, subject Hey there",
            "<p>Email from blah@example.com, subject What&#39;s going on",
            "<p>Commit to dogsheep/dogsheep-beta on 2020-08-01T00:05:02",
            '<p>User searched for: "things"</p>',
        ):
            assert fragment in html, fragment
        # unknown path -> 404, server stays alive for the next request
        try:
            urllib.request.urlopen(f"http://{host}:{port}/nope", timeout=60)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
        with urllib.request.urlopen(
            f"http://{host}:{port}/-/beta", timeout=60
        ) as resp:
            assert resp.status == 200
            assert '<input type="search" name="q" value="" id="q">' in (
                resp.read().decode("utf-8")
            )
    finally:
        srv.shutdown()
        srv.server_close()


def test_serve_while_indexing_e2e(spark):
    """Serve-while-indexing (round 6): a LIVE server whose index + FTS
    layouts are being appended by the streaming foreachBatch merge —
    the reference's trigger-maintained-FTS story (utils.py:90: SQLite
    triggers keep the FTS table in sync while Datasette serves from
    the same file) at engine scale.  Asserts: (1) a new batch becomes
    searchable WITHOUT restart; (2) no request observes a partial
    generation — result counts only ever take complete-batch values
    (docs arrive 5 per batch, so any count outside {5, 10} is a torn
    read); (3) the server survives the concurrent publish; (4) the
    BM25 corpus scalars track the published generation (the layout's
    top-level realpath never changes — its per-partition symlink
    targets are the cache key since round 6)."""
    import os
    import re
    import shutil
    import tempfile
    import threading
    import urllib.request

    from dogsheep_beta_spark.server import make_live_server
    from dogsheep_beta_spark.streaming.incremental import (
        incremental_fts_stream,
    )

    root = tempfile.mkdtemp(prefix="dbs_live_", dir="/tmp")
    try:
        src = os.path.join(root, "src")
        index_path = os.path.join(root, "index")
        fts_path = os.path.join(root, "fts")
        ckpt = os.path.join(root, "ckpt")
        schema = "key int, title string, search_1 string"

        def run_batch(rows):
            spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)
            q = incremental_fts_stream(
                spark, stream, index_path, fts_path, "live.db/docs", ckpt,
            )
            q.awaitTermination(120)

        run_batch([(i, f"needle doc {i}", "filler words") for i in range(5)])

        srv = make_live_server(spark, index_path, fts_path, port=0)
        host, port = srv.server_address[:2]
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()

        def fetch_count():
            with urllib.request.urlopen(
                f"http://{host}:{port}/-/beta?q=needle", timeout=120
            ) as resp:
                assert resp.status == 200
                html = resp.read().decode("utf-8")
            m = re.search(r"Got (\d+) results", html)
            assert m, html[:500]
            return int(m.group(1))

        try:
            assert fetch_count() == 5

            observed, errors = [], []
            stop = threading.Event()

            def hammer():
                while not stop.is_set():
                    try:
                        observed.append(fetch_count())
                    except Exception as e:  # noqa: BLE001
                        errors.append(e)
                        return

            h = threading.Thread(target=hammer, daemon=True)
            h.start()
            # the live append: second batch through the SAME checkpoint
            run_batch([(i, f"needle doc {i}", "filler words") for i in range(5, 10)])
            stop.set()
            h.join(timeout=180)
            assert not errors, errors
            # (2) every concurrent observation is a complete generation
            assert observed and all(c in (5, 10) for c in observed), observed
            # (1) the new docs are searchable now, no restart
            assert fetch_count() == 10
            # (4) the per-request snapshot's BM25 scalars follow the
            # publish — a stale cache froze n_docs at the first
            # request's generation forever
            from dogsheep_beta_spark.server import load_live_snapshot

            _, live_fts = load_live_snapshot(spark, index_path, fts_path)
            assert live_fts.n_docs == 10
        finally:
            srv.shutdown()
            srv.server_close()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_snapshot_pins_survive_publish_storm(spark):
    """Fault injection for the round-7 pin protocol (VERDICT r6 #1):
    a request acquires its snapshot, then MULTIPLE publishes land
    BEFORE the request executes a single Spark job — exactly the
    resolve-to-execute window of the torn-read race.  Without pins the
    retention sweep deletes the acquired generation after the second
    publish and the request's jobs die on missing files; with pins the
    request must still read its own complete committed generation.
    Releasing the snapshot must then let the very next publish reclaim
    the superseded dirs (no version-dir leak)."""
    import os
    import shutil
    import tempfile

    from dogsheep_beta_spark.server import (
        _resolve_parts,
        load_live_snapshot,
        release_snapshot,
    )
    from dogsheep_beta_spark.streaming.incremental import merge_fts_batch_scoped

    root = tempfile.mkdtemp(prefix="dbs_pins_", dir="/tmp")
    try:
        index_path = os.path.join(root, "index")
        fts_path = os.path.join(root, "fts")
        schema = "key int, title string, search_1 string"

        def publish(lo, hi):
            bdf = spark.createDataFrame(
                [(i, f"needle doc {i}", "filler") for i in range(lo, hi)],
                schema,
            )
            merge_fts_batch_scoped(
                spark, bdf, lo, index_path, fts_path, "live.db/docs"
            )

        publish(0, 5)
        # the request resolves + pins its snapshot ... and then stalls
        index_df, fts = load_live_snapshot(spark, index_path, fts_path)
        pinned = [
            vdir
            for p in (
                index_path,
                os.path.join(fts_path, "postings"),
                os.path.join(fts_path, "doc_lengths"),
            )
            for vdir, _ in _resolve_parts(p)
        ]
        # ... while three more generations publish (two would already
        # sweep the pinned one under the old retain-exactly-one policy)
        publish(5, 10)
        publish(10, 15)
        publish(15, 20)
        # the stalled request finally executes: it must see ITS OWN
        # generation (5 docs), complete, with working FTS scoring
        assert index_df.count() == 5
        assert fts.n_docs == 5
        assert {r["key"] for r in index_df.select("key").collect()} == {
            str(i) for i in range(5)
        }  # conform casts key to string
        assert all(os.path.isdir(v) for v in pinned)
        # release → the next publish's sweep reclaims the old dirs
        release_snapshot(fts)
        publish(20, 25)
        swept = [v for v in pinned if not os.path.isdir(v)]
        assert swept, pinned  # superseded generations no longer leak
        # and a fresh snapshot sees the full 25-doc corpus
        fresh_df, fresh_fts = load_live_snapshot(spark, index_path, fts_path)
        assert fresh_df.count() == 25
        release_snapshot(fresh_fts)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stale_pins_do_not_block_retention(tmpdir):
    """A crash-leaked pin (dead pid, or over TTL) must not pin a
    generation forever: _generation_is_pinned ignores and collects it,
    while a live in-process pin holds until released."""
    import os
    import time

    from dogsheep_beta_spark.streaming import incremental as inc

    vdir = os.path.join(str(tmpdir), "idx.__v1__")
    os.makedirs(vdir)
    pin = inc.pin_generation(vdir)
    assert pin is not None and os.path.exists(pin)
    assert inc._generation_is_pinned(vdir)

    # dead-pid pin: ignored AND garbage-collected
    inc.release_pin(pin)
    ghost = os.path.join(
        os.path.dirname(vdir), ".__pins__", "idx.__v1__.deadbeef.pin"
    )
    with open(ghost, "w") as fh:
        fh.write(f"999999999 {time.time()}")
    assert not inc._generation_is_pinned(vdir)
    assert not os.path.exists(ghost)

    # over-TTL pin from a live pid: ignored too
    with open(ghost, "w") as fh:
        fh.write(f"{os.getpid()} {time.time() - inc._PIN_TTL_SECONDS - 1}")
    assert not inc._generation_is_pinned(vdir)

    # non-version dirs have no retention to defend: no pin is created
    plain = os.path.join(str(tmpdir), "plain")
    os.makedirs(plain)
    assert inc.pin_generation(plain) is None


def test_pin_ttl_env_override_and_refresh(tmpdir, monkeypatch):
    """ADVICE r7: the pin TTL is a crash-leak backstop, not a request
    deadline — it must be configurable (DBS_PIN_TTL_SECONDS) and a
    long-running reader must be able to refresh_pin() to stay
    protected past any TTL."""
    import os
    import time

    from dogsheep_beta_spark.streaming import incremental as inc

    vdir = os.path.join(str(tmpdir), "idx.__v1__")
    os.makedirs(vdir)

    # a pin 30s old is stale under a 10s TTL override...
    pin = inc.pin_generation(vdir)
    with open(pin, "w") as fh:
        fh.write(f"{os.getpid()} {time.time() - 30}")
    monkeypatch.setenv("DBS_PIN_TTL_SECONDS", "10")
    assert not inc._generation_is_pinned(vdir)
    assert not os.path.exists(pin)  # collected as stale

    # ...but a refreshed pin survives: refresh re-stamps the timestamp
    pin = inc.pin_generation(vdir)
    with open(pin, "w") as fh:
        fh.write(f"{os.getpid()} {time.time() - 30}")
    inc.refresh_pin(pin)
    assert inc._generation_is_pinned(vdir)
    inc.release_pin(pin)

    # malformed override falls back to the default TTL
    monkeypatch.setenv("DBS_PIN_TTL_SECONDS", "not-a-number")
    assert inc._pin_ttl() == inc._PIN_TTL_SECONDS
    # refresh of a released/None pin is a no-op
    inc.refresh_pin(None)

    # ADVICE r8: refresh must NOT resurrect a pin that release_pin
    # deleted (or the sweep collected) — that would defer retention of
    # the generation by one TTL after the reader already let go
    pin = inc.pin_generation(vdir)
    inc.release_pin(pin)
    inc.refresh_pin(pin)
    assert not os.path.exists(pin)
    # ...nor re-create a pin whose generation dir is gone
    pin = inc.pin_generation(vdir)
    import shutil

    shutil.rmtree(vdir)
    os.unlink(pin)
    inc.refresh_pin(pin)
    assert not os.path.exists(pin)
    os.makedirs(vdir)  # restore for any later assertions


def test_concurrent_search_requests_shared_index(page_ctx):
    """ThreadingHTTPServer handlers share one FtsIndex: concurrent
    requests with overlapping and distinct phrases must all succeed
    and leave the phrase LRU bounded (thread-safety of
    cached_phrase_hits)."""
    import threading
    import urllib.request

    from dogsheep_beta_spark.server import make_server

    spark, idx, fts = page_ctx
    fts.hit_cache_max = 4
    srv = make_server(spark, idx, fts, CONFIG, port=0)
    host, port = srv.server_address[:2]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    qs = ["things", "email", "dogfest", "tests", "commit",
          "things", "email", "things OR tests"]
    errors = []

    def hit(q):
        try:
            with urllib.request.urlopen(
                f"http://{host}:{port}/-/beta?q={q.replace(' ', '+')}",
                timeout=120,
            ) as resp:
                assert resp.status == 200
        except Exception as e:  # noqa: BLE001
            errors.append((q, e))

    try:
        threads = [threading.Thread(target=hit, args=(q,)) for q in qs]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=180)
        assert not errors, errors
        assert len(fts.hit_caches) <= 4
    finally:
        srv.shutdown()
        srv.server_close()
        fts.release_hit_caches()


def test_display_sql_with_limit_is_per_key(spark, page_ctx):
    """A display_sql carrying ORDER BY/LIMIT runs per key (the
    reference's execution model) — batching would apply the limit
    globally and drop all but one key's display row."""
    from dogsheep_beta_spark.plans.hydrate import hydrate_results

    spark.createDataFrame(
        [(1, "old1", "2020-01-01"), (1, "new1", "2020-02-01"),
         (2, "old2", "2020-01-01"), (2, "new2", "2020-02-01")],
        "user int, note string, d string",
    ).createOrReplaceTempView("notes")
    rows = [
        {"type": "n.db/notes", "key": "1"},
        {"type": "n.db/notes", "key": "2"},
    ]
    sql = "select * from notes where user = :key order by d desc limit 1"
    out = hydrate_results(spark, rows, {"n.db/notes": sql})
    got = {r["key"]: r["display"]["note"] for r in out}
    assert got == {"1": "new1", "2": "new2"}


def test_hydrate_backslash_values_safe(spark, page_ctx):
    """Keys/q containing backslashes must neither crash nor inject."""
    from dogsheep_beta_spark.plans.hydrate import hydrate_results

    spark.createDataFrame(
        [("a\\", "payload")], "k string, v string"
    ).createOrReplaceTempView("bs")
    rows = [{"type": "b.db/bs", "key": "a\\"}]
    out = hydrate_results(
        spark, rows, {"b.db/bs": "select * from bs where k = :key"},
        q="x\\' or 1=1 --",
    )
    assert out[0]["display"]["v"] == "payload"


def test_live_snapshot_scalars_refresh_partitioned_layout(spark, tmp_path):
    """BM25 corpus scalars must refresh when a PARTITIONED layout
    publishes: its top-level dirs are plain directories (realpath never
    changes), only the per-partition type=* symlinks cut over — the
    cache key has to include the links' targets (round-6 review)."""
    import os

    from dogsheep_beta_spark.server import load_live_snapshot

    root = str(tmp_path)
    index_path = os.path.join(root, "index")
    fts_path = os.path.join(root, "fts")
    post_path = os.path.join(fts_path, "postings")
    len_path = os.path.join(fts_path, "doc_lengths")
    for d in (index_path, post_path, len_path):
        os.makedirs(d)

    def write_gen(gen, n):
        vi = os.path.join(root, f"idx_v{gen}")
        vp = os.path.join(root, f"post_v{gen}")
        vl = os.path.join(root, f"len_v{gen}")
        spark.range(n).selectExpr(
            "cast(id as string) as key", "'t' as title"
        ).write.mode("overwrite").parquet(vi)
        spark.range(n).selectExpr(
            "'term' as term", "cast(id as string) as key",
            "'title' as field", "1 as tf", "array(0) as positions",
        ).write.mode("overwrite").parquet(vp)
        spark.range(n).selectExpr(
            "cast(id as string) as key", "int(10) as dl"
        ).write.mode("overwrite").parquet(vl)
        for link_dir, target in (
            (index_path, vi), (post_path, vp), (len_path, vl),
        ):
            link = os.path.join(link_dir, "type=t")
            if os.path.lexists(link):
                os.remove(link)
            os.symlink(target, link)

    write_gen(1, 4)
    _, fts1 = load_live_snapshot(spark, index_path, fts_path)
    assert fts1.n_docs == 4
    write_gen(2, 8)  # publish: only the type=* symlinks change
    _, fts2 = load_live_snapshot(spark, index_path, fts_path)
    assert fts2.n_docs == 8  # stale-cache bug froze this at 4


def test_read_parts_rejects_unknown_partition_column(spark, tmpdir):
    """ADVICE r7: _read_parts re-injects partition values as STRING
    literals; a non-string partition layout (e.g. shard=3) must fail
    loudly instead of silently string-typing the column."""
    import os

    import pytest

    from dogsheep_beta_spark import server as srv

    d = os.path.join(str(tmpdir), "p")
    os.makedirs(d)
    spark.range(2).write.mode("overwrite").parquet(d)
    file_schema = spark.range(0).schema  # the files' declared schema
    with pytest.raises(ValueError, match="not a known string-typed"):
        srv._read_parts(spark, [(d, "shard=3")], file_schema)
    # the known string layout still reads, with the column re-injected
    df = srv._read_parts(spark, [(d, "type=docs")], file_schema)
    assert df.schema["type"].dataType.simpleString() == "string"
    assert {r["type"] for r in df.collect()} == {"docs"}


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _live_merge(spark, index_path, fts_path, rows, type_tag):
    from dogsheep_beta_spark.streaming.incremental import merge_fts_batch_scoped

    merge_fts_batch_scoped(
        spark,
        spark.createDataFrame(rows, "key int, title string, search_1 string"),
        0, index_path, fts_path, type_tag,
    )


def _acquire(spark, index_path, fts_path):
    """One live snapshot: (Spark jobs load_live_snapshot started,
    (n_docs, avgdl) it reports, (n_docs, avgdl) of a full recount over
    the same snapshot)."""
    from pyspark.sql import functions as F

    from dogsheep_beta_spark.server import load_live_snapshot, release_snapshot

    start = _next_job_id(spark)
    index_df, fts = load_live_snapshot(spark, index_path, fts_path)
    jobs = _next_job_id(spark) - start
    try:
        n = index_df.where(F.col("key").isNotNull()).count()
        total = fts.doc_lengths.agg(F.sum("dl")).collect()[0][0] or 0
        return jobs, (fts.n_docs, fts.avgdl), (n, (total / n) if n else 0.0)
    finally:
        release_snapshot(fts)


def test_live_acquire_jobs_and_exact_scalars(spark, tmp_path, monkeypatch):
    """Acquire job guard: schema-pinned reads start no inference job and
    the BM25 scalars are memoized per partition version, so a snapshot
    of an unchanged generation starts 0 Spark jobs and one after a
    one-type publish starts one aggregate (≤ 2 jobs: AQE's map stage +
    the result stage).  The summed scalars must stay exactly a full
    recount through merges, an update and a delete — with a NULL-key
    row (outside the FTS doc universe) and a zero-token doc (dl 0, still
    counted) in the corpus."""
    from collections import OrderedDict

    from dogsheep_beta_spark import server
    from dogsheep_beta_spark.streaming.incremental import delete_fts_docs

    monkeypatch.setattr(server, "_SCALAR_MEMO", OrderedDict())
    index_path, fts_path = str(tmp_path / "index"), str(tmp_path / "fts")
    _live_merge(spark, index_path, fts_path, [
        (1, "alpha beta", "gamma"), (2, None, None), (None, "orphan", "row"),
    ], "a.db/t")
    _live_merge(spark, index_path, fts_path, [(10, "zeta", "omega")], "b.db/t")

    _, scalars, recount = _acquire(spark, index_path, fts_path)
    assert scalars == recount == (3, 5 / 3)
    jobs, scalars, recount = _acquire(spark, index_path, fts_path)
    assert jobs == 0  # unchanged generation: every share is memoized
    assert scalars == recount

    # an update (key 1 loses two tokens) and a new doc, into one type
    _live_merge(spark, index_path, fts_path, [
        (1, "alpha", None), (3, "delta epsilon", "x"),
    ], "a.db/t")
    jobs, scalars, recount = _acquire(spark, index_path, fts_path)
    assert jobs <= 2
    assert scalars == recount == (4, 6 / 4)

    delete_fts_docs(
        spark,
        spark.createDataFrame([("b.db/t", "10")], "type string, key string"),
        index_path, fts_path,
    )
    _, scalars, recount = _acquire(spark, index_path, fts_path)
    assert scalars == recount == (3, 4 / 3)
    assert _acquire(spark, index_path, fts_path)[0] == 0


def test_scalar_memo_is_a_bounded_lru(spark, tmp_path, monkeypatch):
    """The per-partition scalar memo grows with publishes, so it is
    bounded; it is an LRU, so a hot partition that no publish touches
    (type a) outlives another type's publish churn, which a
    first-in-first-out bound would evict.  Scalars stay exact."""
    from collections import OrderedDict

    from dogsheep_beta_spark import server

    monkeypatch.setattr(server, "_SCALAR_MEMO", OrderedDict())
    monkeypatch.setattr(server, "_SCALAR_MEMO_MAX", 4)
    index_path, fts_path = str(tmp_path / "index"), str(tmp_path / "fts")
    len_path = str(tmp_path / "fts" / "doc_lengths")
    _live_merge(spark, index_path, fts_path, [(1, "hot doc", None)], "a.db/t")
    hot = None
    for i in range(3):  # 6 new b partition versions against a cap of 4
        _live_merge(
            spark, index_path, fts_path, [(10 + i, "churn " * (i + 1), None)],
            "b.db/t",
        )
        _, scalars, recount = _acquire(spark, index_path, fts_path)
        assert scalars == recount
        assert len(server._SCALAR_MEMO) <= 4
        now = {
            vdir
            for p in (index_path, len_path)
            for vdir, e in server._resolve_parts(p)
            if e.startswith("type=a")
        }
        assert hot is None or now == hot  # type a was never republished
        hot = now
    assert scalars == (4, (2 + 1 + 2 + 3) / 4)
    assert len(hot) == 2 and hot <= set(server._SCALAR_MEMO)


def test_scalar_memo_under_concurrent_snapshots(spark, tmp_path, monkeypatch):
    """ThreadingHTTPServer handlers share the memo.  With a cap below one
    snapshot's four partition versions, concurrent snapshots keep
    evicting and recounting each other's entries; each must still
    report the exact scalars, and the memo must end within its bound."""
    import sys
    import threading
    from collections import OrderedDict

    from dogsheep_beta_spark import server

    monkeypatch.setattr(server, "_SCALAR_MEMO", OrderedDict())
    monkeypatch.setattr(server, "_SCALAR_MEMO_MAX", 2)
    index_path, fts_path = str(tmp_path / "index"), str(tmp_path / "fts")
    _live_merge(spark, index_path, fts_path, [
        (1, "alpha beta", None), (2, "gamma", None),
    ], "a.db/t")
    _live_merge(spark, index_path, fts_path, [(3, "delta epsilon zeta", None)], "b.db/t")
    results, errors = [], []

    def snapshots():
        try:
            for _ in range(3):
                _, fts = server.load_live_snapshot(spark, index_path, fts_path)
                results.append((fts.n_docs, fts.avgdl))
                server.release_snapshot(fts)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=snapshots) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    assert len(results) == 24 and set(results) == {(3, 6 / 3)}
    assert len(server._SCALAR_MEMO) <= 2


@pytest.mark.parametrize("emptied_by", ["missing", "delete"])
def test_live_server_serves_an_empty_layout(spark, tmp_path, emptied_by):
    """A streamed layout with no type= partition — before the first
    batch, or after a delete retired every partition — is an empty
    corpus: a normal HTTP 200 "Got 0 results" page with n_docs 0 and
    avgdl 0.0, not a schema-inference 500."""
    import threading
    import urllib.request

    from dogsheep_beta_spark.server import make_live_server
    from dogsheep_beta_spark.streaming.incremental import delete_fts_docs

    index_path, fts_path = str(tmp_path / "index"), str(tmp_path / "fts")
    if emptied_by == "delete":
        _live_merge(spark, index_path, fts_path, [(1, "needle", None)], "a.db/t")
        delete_fts_docs(
            spark,
            spark.createDataFrame([("a.db/t", "1")], "type string, key string"),
            index_path, fts_path,
        )
    jobs, scalars, recount = _acquire(spark, index_path, fts_path)
    assert jobs == 0
    assert scalars == recount == (0, 0.0)

    srv = make_live_server(spark, index_path, fts_path, port=0)
    host, port = srv.server_address[:2]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        for query in ("?q=needle", ""):
            with urllib.request.urlopen(
                f"http://{host}:{port}/-/beta{query}", timeout=120
            ) as resp:
                assert resp.status == 200
                assert "Got 0 results" in resp.read().decode("utf-8")
    finally:
        srv.shutdown()
        srv.server_close()


def test_resolve_parts_rejects_an_unpartitioned_dir(tmp_path):
    """A dir of parquet files with no type= partition (a batch-written
    index) is not a streamed layout: the live server must refuse it
    rather than serve it as an empty corpus."""
    from dogsheep_beta_spark.server import _resolve_parts

    (tmp_path / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="no type= partition"):
        _resolve_parts(str(tmp_path))
    assert _resolve_parts(str(tmp_path / "missing")) == []
