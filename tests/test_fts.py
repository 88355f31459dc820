"""FTS semantics: tokenizer/Porter, MATCH goldens pinned by the
reference tests, and direct rank parity against real SQLite FTS5
(the exact engine the reference delegates to)."""

import math
import sqlite3

import pytest

from dogsheep_beta_spark.functions.tokenizer import (
    analyze_py,
    porter_stem,
    tokenize_py,
)
from dogsheep_beta_spark.operators.fts_index import build_fts_index
from dogsheep_beta_spark.plans.match import ParseError, parse_match, escape_match, Phrase, And, Not
from dogsheep_beta_spark.plans.query import QueryPlan
from dogsheep_beta_spark.plans.search import search, search_query


def result_ids(df):
    return [f"{r['type']}:{r['key']}" for r in df.collect()]


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------


def test_tokenize():
    assert tokenize_py("Hey there #dogfest") == ["hey", "there", "dogfest"]
    assert tokenize_py("github-to-sqlite") == ["github", "to", "sqlite"]
    assert tokenize_py("") == [] and tokenize_py(None) == []


PORTER_WORDS = [
    "caresses", "ponies", "ties", "caress", "cats", "feed", "agreed",
    "plastered", "bled", "motoring", "sing", "conflated", "troubled",
    "sized", "hopping", "tanned", "falling", "hissing", "fizzed", "failing",
    "filing", "happy", "sky", "relational", "conditional", "rational",
    "valenci", "hesitanci", "digitizer", "conformabli", "radicalli",
    "differentli", "vileli", "analogousli", "vietnamization", "predication",
    "operator", "feudalism", "decisiveness", "hopefulness", "callousness",
    "formaliti", "sensitiviti", "sensibiliti", "triplicate", "formative",
    "formalize", "electriciti", "electrical", "hopeful", "goodness",
    "revival", "allowance", "inference", "airliner", "gyroscopic",
    "adjustable", "defensible", "irritant", "replacement", "adjustment",
    "dependent", "adoption", "homologou", "communism", "activate",
    "angulariti", "homologous", "effective", "bowdlerize", "probate",
    "rate", "cease", "controll", "roll", "running", "things", "apples",
    "generalization", "oscillators", "partitioning", "shuffles",
    "aggregation", "tokenizer", "searching", "indexes", "queries",
]


def test_porter_matches_fts5_porter():
    """Ground truth: FTS5's own porter tokenizer (via fts5vocab)."""
    con = sqlite3.connect(":memory:")
    con.execute("CREATE VIRTUAL TABLE t USING fts5(a, tokenize='porter')")
    con.execute("CREATE VIRTUAL TABLE v USING fts5vocab(t, 'row')")
    for w in PORTER_WORDS:
        con.execute("DELETE FROM t")
        con.execute("INSERT INTO t VALUES (?)", (w,))
        expect = con.execute("SELECT term FROM v").fetchone()[0]
        assert porter_stem(w) == expect, f"{w}: got {porter_stem(w)}, want {expect}"
    con.close()


def test_analyze_with_stem():
    assert analyze_py("running things", stem=True) == ["run", "thing"]


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def _an(s):
    return analyze_py(s, stem=False)


def test_parse_boolean():
    ast = parse_match("things NOT email", _an)
    assert isinstance(ast, Not)
    assert ast.left.tokens == ["things"] and ast.right.tokens == ["email"]


def test_parse_errors_and_escape():
    with pytest.raises(ParseError):
        parse_match("#dogfest", _an)
    esc = escape_match("#dogfest", _an)
    assert isinstance(esc, And) and esc.items[0].tokens == ["dogfest"]
    esc2 = escape_match("github-to-sqlite", _an)
    assert esc2.items[0].tokens == ["github", "to", "sqlite"]


def test_parse_phrase_prefix():
    ast = parse_match('"about things" OR dog*', _an)
    assert ast.items[0].tokens == ["about", "things"]
    assert ast.items[1].prefix is True


def test_parse_column_filters():
    from dogsheep_beta_spark.plans.match import Near, Or

    ast = parse_match("title:dogfest", _an)
    assert isinstance(ast, Phrase) and ast.fields == ("title",)
    ast = parse_match("{title search_1}:things", _an)
    assert ast.fields == ("title", "search_1")
    ast = parse_match("-title:things", _an)
    assert ast.fields == ("search_1",)
    # colset distributes over a parenthesized expression
    ast = parse_match("title:(a OR b)", _an)
    assert isinstance(ast, Or)
    assert all(p.fields == ("title",) for p in ast.items)
    # unknown column = FTS5 "no such column" -> syntax error -> escape
    with pytest.raises(ParseError):
        parse_match("badcol:foo", _an)


def test_parse_near():
    from dogsheep_beta_spark.plans.match import Near

    ast = parse_match("NEAR(hash join, 3)", _an)
    assert isinstance(ast, Near) and ast.n == 3
    assert [p.tokens for p in ast.phrases] == [["hash"], ["join"]]
    ast = parse_match('NEAR("big hash" join)', _an)
    assert ast.n == 10  # FTS5 default distance
    assert ast.phrases[0].tokens == ["big", "hash"]
    # lowercase near is an ordinary term, not the operator
    ast = parse_match("near miss", _an)
    assert not isinstance(ast, Near)
    with pytest.raises(ParseError):
        parse_match("NEAR()", _an)
    with pytest.raises(ParseError):
        parse_match("NEAR(a,)", _an)


def test_fts5_punctuation_is_syntax_error():
    # FTS5 unicode61 treats ` { | } ~ , : as separators/syntax; all must
    # raise ParseError so the escape_fts fallback fires (reference
    # behavior pinned by tests/test_plugin.py:131-139 semantics).
    for q in ["foo~bar", "x|y", "a{b", "a}b", "a`b", "a , b", "github-to-sqlite"]:
        with pytest.raises(ParseError):
            parse_match(q, _an)
        assert escape_match(q, _an)  # fallback always parses


# ---------------------------------------------------------------------------
# golden query corpus (reference tests/test_plugin.py:119-149 semantics)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fts(plugin_index):
    return build_fts_index(plugin_index, mode="unicode61", stem=True)


def test_match_not(plugin_index, fts):
    # "things NOT email" → only the commit mentioning things
    from tests.conftest import SHA_COMMIT_1

    ids = result_ids(search(plugin_index, fts, "things NOT email"))
    assert ids == [f"github.db/commits:{SHA_COMMIT_1}"]


def test_match_escape_fallback(plugin_index, fts):
    # "#dogfest" → ParseError → escaped → matches tokenized dogfest
    ids = result_ids(search(plugin_index, fts, "#dogfest"))
    assert ids == ["emails.db/emails:1"]


def test_match_escaped_phrase_miss(plugin_index, fts):
    # "github-to-sqlite" → escaped → 3-token phrase → no match
    assert result_ids(search(plugin_index, fts, "github-to-sqlite")) == []


def test_match_phrase(plugin_index, fts):
    ids = result_ids(search(plugin_index, fts, '"about things"'))
    assert set(ids) == {"emails.db/emails:1", "emails.db/emails:2"}


def test_match_or(plugin_index, fts):
    from tests.conftest import SHA_COMMIT_2

    ids = result_ids(search(plugin_index, fts, "dogfest OR tests"))
    assert set(ids) == {"emails.db/emails:1", f"github.db/commits:{SHA_COMMIT_2}"}


def test_match_column_filter(plugin_index, fts):
    # dogfest only occurs in email 1's TITLE; the search_1-scoped query
    # must therefore miss while the title-scoped one hits.
    assert result_ids(search(plugin_index, fts, "title:dogfest")) == [
        "emails.db/emails:1"
    ]
    assert result_ids(search(plugin_index, fts, "search_1:dogfest")) == []
    # 'things' occurs only in search_1 fields (bodies + commit message)
    assert result_ids(search(plugin_index, fts, "title:things")) == []
    ids = set(result_ids(search(plugin_index, fts, "-title:things")))
    from tests.conftest import SHA_COMMIT_1

    assert ids == {
        "emails.db/emails:1",
        "emails.db/emails:2",
        f"github.db/commits:{SHA_COMMIT_1}",
    }


def test_match_near(plugin_index, fts):
    # "An email about things": email@1 .. things@3 -> 1 separating
    # token ('about') -> NEAR(email things, 1) hits, NEAR(..., 0) misses.
    ids = set(result_ids(search(plugin_index, fts, "NEAR(email things, 1)")))
    assert ids == {"emails.db/emails:1", "emails.db/emails:2"}
    assert result_ids(search(plugin_index, fts, "NEAR(email things, 0)")) == []
    # default N=10 is generous enough for the whole sentence
    assert set(
        result_ids(search(plugin_index, fts, "NEAR(an things)"))
    ) == {"emails.db/emails:1"}


def test_porter_run_matches_running(spark, dogs_index):
    # reference tests/test_cli.py:104-122: porter stems running→run
    fts_porter = build_fts_index(dogs_index, mode="unicode61", stem=True)
    assert result_ids(search(dogs_index, fts_porter, "run")) == ["dogs.db/dogs:1"]
    fts_none = build_fts_index(dogs_index, mode="unicode61", stem=False)
    assert result_ids(search(dogs_index, fts_none, "run")) == []


def test_search_with_filters_and_sort(plugin_index, fts):
    # sort=oldest overrides relevance even with q (__init__.py:117-121)
    res = search_query(plugin_index, fts, QueryPlan(q="things", sort="oldest"))
    ts = [r["timestamp"] for r in res.results.collect()]
    assert ts == sorted(ts)
    # facets computed on the same filtered (matched) set
    type_facet = dict(res.facets.columns["type"])
    assert type_facet == {"emails.db/emails": 2, "github.db/commits": 1}


# ---------------------------------------------------------------------------
# rank parity vs real SQLite FTS5 (the engine the reference delegates to)
# ---------------------------------------------------------------------------


def _fts5_ranks(rows, query, tokenize="porter"):
    """Run MATCH against genuine FTS5 over (title, search_1)."""
    con = sqlite3.connect(":memory:")
    con.execute(
        f"CREATE VIRTUAL TABLE idx USING fts5(title, search_1, tokenize='{tokenize}')"
    )
    con.executemany("INSERT INTO idx VALUES (?, ?)", rows)
    try:
        return con.execute(
            "SELECT rowid, rank FROM idx WHERE idx MATCH ? ORDER BY rowid", (query,)
        ).fetchall()
    finally:
        con.close()


PARITY_CORPUS = [
    ("Hey there #dogfest", "An email about things"),
    ("What's going on", "Another email about things"),
    ("Commit to dogsheep/dogsheep-beta", "Another commit to things"),
    ("Commit to dogsheep/dogsheep-beta", "Added some tests"),
    ("running fast", "the quick brown fox jumps over the lazy dog"),
    ("slow walking", "a slow email about nothing much at all"),
    (None, "only search text here, no title"),
    ("only a title here", None),
]

PARITY_QUERIES = [
    "things",
    "email",
    "commit",
    "dogsheep",
    "things NOT email",
    "email OR commit",
    '"about things"',
    "slow email",
    "run",
    "fast OR slow",
]


@pytest.fixture(scope="module")
def parity_index(spark):
    from dogsheep_beta_spark.indexer import build_search_index

    rows = [(i + 1, t, s) for i, (t, s) in enumerate(PARITY_CORPUS)]
    spark.createDataFrame(
        rows, "id int, title string, search_1 string"
    ).createOrReplaceTempView("parity_src")
    idx = build_search_index(
        spark,
        {
            "p.db": {
                "p": {
                    "sql": "select id as key, title, search_1 from parity_src"
                }
            }
        },
    )
    return idx, build_fts_index(idx, mode="unicode61", stem=True)


@pytest.mark.parametrize("q", PARITY_QUERIES)
def test_bm25_rank_parity_with_fts5(parity_index, q):
    idx, fts = parity_index
    ours = {
        int(r["key"]): r["rank"]
        for r in search(idx, fts, q).collect()
    }
    theirs = dict(_fts5_ranks(PARITY_CORPUS, q))
    assert set(ours) == set(theirs), f"doc sets differ for {q!r}"
    for rowid, their_rank in theirs.items():
        assert math.isclose(ours[rowid], their_rank, rel_tol=1e-6, abs_tol=1e-9), (
            f"rank mismatch for {q!r} doc {rowid}: ours={ours[rowid]} fts5={their_rank}"
        )


# ---------------------------------------------------------------------------
# unicode61 diacritic folding (FTS5 defaults to remove_diacritics=1;
# reference delegates tokenizer choice at utils.py:90 — café must match
# cafe exactly as it does in FTS5)
# ---------------------------------------------------------------------------

ACCENT_TEXTS = [
    "Café au lait",
    "naïve résumé",
    "Zürich Straße",           # ß is NOT a diacritic — must survive
    "El Niño año",
    "Crème brûlée",
    "Łódź",                    # Ł has no combining decomposition — survives
    "Tōkyō",
    "café decomposed",   # NFD input folds identically to NFC
    "señor FRANÇAIS",
]


@pytest.mark.parametrize("text", ACCENT_TEXTS)
def test_unicode61_diacritic_folding_matches_fts5(text):
    assert tokenize_py(text, "unicode61") == _fts5_terms_diacritics(text)


def _fts5_terms_diacritics(text):
    con = sqlite3.connect(":memory:")
    con.execute("CREATE VIRTUAL TABLE t USING fts5(a, tokenize='unicode61')")
    con.execute("CREATE VIRTUAL TABLE v USING fts5vocab(t, 'instance')")
    con.execute("INSERT INTO t VALUES (?)", (text,))
    terms = [r[0] for r in con.execute("SELECT term FROM v ORDER BY offset")]
    con.close()
    return terms


def test_unicode61_expr_folds_like_py(spark):
    """JVM translate-based folding ≡ the Python twin on real rows."""
    from dogsheep_beta_spark.functions.tokenizer import tokenize_expr

    df = spark.createDataFrame([(t,) for t in ACCENT_TEXTS], "text string")
    got = [
        r["toks"]
        for r in df.select(tokenize_expr(df.text, "unicode61").alias("toks"))
        .collect()
    ]
    assert got == [tokenize_py(t, "unicode61") for t in ACCENT_TEXTS]


def test_search_cafe_matches_accented_doc(spark):
    """End-to-end: an accented doc is found by its unaccented query and
    vice versa, through a unicode61-mode index."""
    from dogsheep_beta_spark.indexer import build_search_index

    rows = [(1, "Le menu", "Un café excellent", "2020-01-01"),
            (2, "Plain", "a cafe downtown", "2020-01-02")]
    spark.createDataFrame(
        rows, "id int, title string, body string, date string"
    ).createOrReplaceTempView("menus")
    idx = build_search_index(
        spark,
        {"menus.db": {"menus": {"sql": """
            select id as key, title, date as timestamp, body as search_1
            from menus
        """}}},
    )
    fts = build_fts_index(idx, mode="unicode61", stem=False)
    for q in ("cafe", "café"):
        assert sorted(result_ids(search(idx, fts, q))) == [
            "menus.db/menus:1",
            "menus.db/menus:2",
        ], q


# ---------------------------------------------------------------------------
# derived porter index: stemming the term dictionary of a built index
# must equal re-tokenizing the corpus with stem=True
# ---------------------------------------------------------------------------


def test_stem_fts_index_equals_full_rebuild(plugin_index):
    from dogsheep_beta_spark.operators.fts_index import stem_fts_index

    base = build_fts_index(plugin_index, mode="unicode61", stem=False)
    derived = stem_fts_index(base, persist=False)
    full = build_fts_index(plugin_index, mode="unicode61", stem=True)

    def rows(fts):
        return sorted(
            (r["term"], r["type"], r["key"], r["field"], r["tf"],
             tuple(r["positions"]))
            for r in fts.postings.collect()
        )

    assert rows(derived) == rows(full)
    assert derived.n_docs == full.n_docs
    assert math.isclose(derived.avgdl, full.avgdl)


@pytest.mark.parametrize("text", ACCENT_TEXTS + ["Café running", "naïvely matching résumés"])
def test_porter_analyze_folds_then_stems_like_fts5(text):
    """FTS5's default 'porter' tokenizer = unicode61 (diacritics
    removed) + Porter; our analyze_py(mode='unicode61', stem=True)
    must produce the identical term stream on accented input."""
    assert analyze_py(text, "unicode61", stem=True) == _fts5_terms_porter(text)


def _fts5_terms_porter(text):
    con = sqlite3.connect(":memory:")
    con.execute("CREATE VIRTUAL TABLE t USING fts5(a, tokenize='porter')")
    con.execute("CREATE VIRTUAL TABLE v USING fts5vocab(t, 'instance')")
    con.execute("INSERT INTO t VALUES (?)", (text,))
    terms = [r[0] for r in con.execute("SELECT term FROM v ORDER BY offset")]
    con.close()
    return terms


def test_porter_proper_suffix_parity_goldens():
    """FTS5's fts5PorterEndsWith only matches PROPER suffixes, so
    bare-suffix words fall through to shorter rules ('ies'->'ie' via
    the s-rule, 'sses'->'sse', 'eed'->'e' via the ed-rule).  Probed
    against real FTS5 (hypothesis counterexample 'iès' round 3)."""
    from dogsheep_beta_spark.functions.tokenizer import analyze_py, porter_stem

    goldens = {
        "ies": "ie", "sses": "sse", "eed": "e", "ed": "ed", "ing": "ing",
        "ties": "ti", "caresses": "caress", "agreed": "agre",
        "as": "as", "gas": "ga", "this": "thi", "atlas": "atla",
        "ational": "ation", "eing": "e", "ooed": "oo",
    }
    for w, exp in goldens.items():
        assert porter_stem(w) == exp, (w, porter_stem(w), exp)
    # the original counterexample: diacritic fold then byte-Porter
    assert analyze_py("iès", "unicode61", stem=True) == ["ie"]


# ---------------------------------------------------------------------------
# phrase-hit LRU (round-6 serve-mode fix: bounded persisted caches)
# ---------------------------------------------------------------------------


def test_phrase_hit_cache_lru_bounded_and_reused(plugin_index):
    """Long-running serve mode: repeated phrases must reuse ONE
    persisted base (cache size stays flat), distinct phrases beyond
    hit_cache_max must LRU-evict, and results stay correct after
    eviction (evicted plans just recompute)."""
    from dogsheep_beta_spark.plans.match import compile_match, parse_match

    fts_small = build_fts_index(plugin_index, mode="unicode61", stem=False)
    fts_small.hit_cache_max = 3

    def an(s):
        return analyze_py(s, mode=fts_small.mode, stem=fts_small.stem)

    def run(q):
        docset, _ = compile_match(parse_match(q, an), fts_small)
        return {f"{r['type']}:{r['key']}" for r in docset.collect()}

    first = run("email")
    assert len(fts_small.hit_caches) == 1
    base = next(iter(fts_small.hit_caches.values()))
    assert run("email") == first  # repeat: same entry, not a new one
    assert len(fts_small.hit_caches) == 1
    assert next(iter(fts_small.hit_caches.values())) is base
    # distinct phrases roll the LRU over its bound
    for q in ["things", "dogfest", "commit"]:
        run(q)
    assert len(fts_small.hit_caches) == 3  # "email" evicted
    assert ("email",) not in {k[0] for k in fts_small.hit_caches}
    # evicted phrase still answers correctly (recompute, re-cached)
    assert run("email") == first
    assert len(fts_small.hit_caches) == 3
    fts_small.release_hit_caches()
    assert not fts_small.hit_caches


# ---------------------------------------------------------------------------
# FTS5 tokenizer-argument passthrough (round 6: tokenchars/separators)
# ---------------------------------------------------------------------------


def test_tokenize_tokenchars_matches_fts5():
    """Ground truth: FTS5's own unicode61 with tokenchars/separators."""
    texts = [
        "Hey there #dogfest",
        "a#b c_d e-f",
        "#tag ##double end#",
        "clicky business c",
    ]
    for spec_sqlite, spec_mode in [
        ("unicode61 tokenchars '#'", "unicode61 tokenchars '#'"),
        ("unicode61 separators 'c'", "unicode61 separators 'c'"),
        ("unicode61 tokenchars '#_' separators 'e'",
         "unicode61 tokenchars '#_' separators 'e'"),
    ]:
        con = sqlite3.connect(":memory:")
        con.execute(
            f'CREATE VIRTUAL TABLE t USING fts5(a, tokenize="{spec_sqlite}")'
        )
        con.execute("CREATE VIRTUAL TABLE v USING fts5vocab(t, 'instance')")
        from dogsheep_beta_spark.functions.tokenizer import tokenize_py

        for text in texts:
            con.execute("DELETE FROM t")
            con.execute("INSERT INTO t VALUES (?)", (text,))
            fts5 = [
                r[0] for r in con.execute(
                    "SELECT term FROM v ORDER BY offset"
                ).fetchall()
            ]
            assert tokenize_py(text, spec_mode) == fts5, (spec_mode, text)


def test_tokenize_expr_matches_py_twin(spark):
    """JVM expression and the driver-side twin must agree on extended
    specs (the index is built by one, queries analyzed by the other)."""
    from pyspark.sql import functions as F

    from dogsheep_beta_spark.functions.tokenizer import tokenize_py

    texts = ["Hey there #dogfest", "a#b c_d e-f", "clicky C Canary", ""]
    for mode in (
        "portable tokenchars '#'",
        "portable tokenchars '_' separators 'c'",
        "unicode61 tokenchars '#'",
    ):
        from dogsheep_beta_spark.functions.tokenizer import tokenize_expr

        df = spark.createDataFrame([(t,) for t in texts], "t string")
        got = [
            r["toks"]
            for r in df.select(tokenize_expr(F.col("t"), mode).alias("toks")).collect()
        ]
        want = [tokenize_py(t, mode) for t in texts]
        assert got == want, mode


def test_parse_fts5_tokenize():
    from dogsheep_beta_spark.functions.tokenizer import parse_fts5_tokenize

    assert parse_fts5_tokenize("porter") == ("portable", True)
    assert parse_fts5_tokenize("none") == ("portable", False)
    assert parse_fts5_tokenize("porter unicode61 tokenchars '#'") == (
        "unicode61 tokenchars '#'", True
    )
    # shlex.quote only quotes when needed: X is shell-safe, # is not
    assert parse_fts5_tokenize("none unicode61 separators 'X'") == (
        "unicode61 separators X", False
    )
    # bare args after porter/none — FTS5's default underlying
    # tokenizer is unicode61 in BOTH cases (same args, same charset)
    assert parse_fts5_tokenize("porter tokenchars '#'") == (
        "unicode61 tokenchars '#'", True
    )
    assert parse_fts5_tokenize("none tokenchars '#'") == (
        "unicode61 tokenchars '#'", False
    )
    with pytest.raises(ValueError):
        parse_fts5_tokenize("porter frobnicate '1'")
    with pytest.raises(ValueError):
        parse_fts5_tokenize("porter unicode61 tokenchars")  # dangling


def test_tokenchars_index_matches_hashtag_without_fallback(plugin_index):
    """Reference parity target (cli.py:22-26 forwards tokenizer args):
    with ``tokenchars '#'`` the term "#dogfest" is indexed INCLUDING
    the hash, the MATCH lexer accepts it as a bareword (no escape
    fallback), and the bare "dogfest" no longer matches."""
    from dogsheep_beta_spark.functions.tokenizer import analyze_py
    from dogsheep_beta_spark.plans.match import parse_match
    from dogsheep_beta_spark.plans.search import search

    mode = "unicode61 tokenchars '#'"
    fts_tc = build_fts_index(plugin_index, mode=mode, stem=False)

    def an(s):
        return analyze_py(s, mode=mode, stem=False)

    # lexes as one bareword under the widened charset — NOT a ParseError
    ast = parse_match("#dogfest", an, word_chars="#")
    assert ast.tokens == ["#dogfest"]
    ids = result_ids(search(plugin_index, fts_tc, "#dogfest"))
    assert ids == ["emails.db/emails:1"]
    assert result_ids(search(plugin_index, fts_tc, "dogfest")) == []
    # default index behavior unchanged: '#' still error → escape fallback
    with pytest.raises(ParseError):
        parse_match("#dogfest", an)


def test_caret_before_near_is_parse_error():
    """FTS5 rejects '^' before anything but a phrase; setting .initial
    on a Near node was silently ignored (round-6 review) — it must
    raise so the escape fallback takes over."""
    with pytest.raises(ParseError):
        parse_match("^NEAR(alpha beta)", _an)
    assert escape_match("^NEAR(alpha beta)", _an)  # fallback parses
    # '^' before a plain phrase still anchors
    ast = parse_match("^alpha", _an)
    assert isinstance(ast, Phrase) and ast.initial


def test_extended_tokenizer_marks_parity(spark):
    """Extended-spec query-side tokenization must keep combining marks
    OUTSIDE U+0300-036F attached, exactly like the JVM index side
    (\\w-based splitting broke Hebrew niqqud / Cyrillic titlo)."""
    from pyspark.sql import functions as SF

    from dogsheep_beta_spark.functions.tokenizer import (
        tokenize_expr,
        tokenize_py,
    )

    texts = ["שָׁlom test", "a҃b c", "café #tag x_y"]
    mode = "unicode61 tokenchars '#'"
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    jvm = [r[0] for r in df.select(tokenize_expr(SF.col("t"), mode)).collect()]
    py = [tokenize_py(t, mode) for t in texts]
    assert jvm == py
    assert py[1][0] == "a҃b"  # titlo kept inside the token


def test_tokenizer_jvm_py_unicode_fuzz_parity(spark):
    """Seeded unicode fuzz: the JVM index tokenizer and the Python
    query tokenizer must agree token-for-token across scripts,
    combining marks (all blocks), digits, punctuation, and explicit
    tokenchars/separators — one DataFrame pass per mode, 300 strings."""
    import random

    from pyspark.sql import functions as SF

    from dogsheep_beta_spark.functions.tokenizer import (
        tokenize_expr,
        tokenize_py,
    )

    rng = random.Random(4242)
    alphabet = (
        "abcXYZ012 _-#.'\"\t "
        "éçñüα βγДжص ضहिनאְ҃́ा"
        "漢字かカ​€"
    )
    cases = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
        for _ in range(300)
    ]
    for mode in (
        "portable",
        "unicode61",
        "unicode61 tokenchars '#'",
        "unicode61 separators 'c' remove_diacritics '0'",
        "portable tokenchars '_' separators 'x'",
    ):
        df = spark.createDataFrame([(t,) for t in cases], "t string")
        jvm = [
            r[0]
            for r in df.select(tokenize_expr(SF.col("t"), mode)).collect()
        ]
        py = [tokenize_py(t, mode) for t in cases]
        mismatches = [
            (t, j, p) for t, j, p in zip(cases, jvm, py) if j != p
        ]
        assert not mismatches, (mode, mismatches[:3])
