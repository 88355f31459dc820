"""The package surface the serving benchmark (``perfbench/``) relies on.

``perfbench/run.py`` calls ``incremental_fts_stream(..., partitioned=True)``
and ``server.make_live_server``, and ``perfbench/tracing.py``
(``--trace 1``) replaces the module attributes listed in its ``WRAPPED``
table plus ``FtsIndex.cached_phrase_hits``.  A refactor that renames or
re-signs any of them breaks the benchmark; these checks make it fail here
first.  ``perfbench/`` is only read: the import writes no bytecode into it.
"""

import importlib
import inspect
import os
import sys

import pytest

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


@pytest.fixture(scope="module")
def tracing():
    saved_path, saved_flag = list(sys.path), sys.dont_write_bytecode
    sys.path.insert(0, PERFBENCH)
    sys.dont_write_bytecode = True
    try:
        mod = importlib.import_module("tracing")
        assert os.path.dirname(os.path.abspath(mod.__file__)) == PERFBENCH
        yield mod
    finally:
        sys.path[:] = saved_path
        sys.dont_write_bytecode = saved_flag


def test_every_wrapped_attribute_resolves(tracing):
    assert tracing.WRAPPED
    for mod_name, attr, _span in tracing.WRAPPED:
        mod = importlib.import_module(mod_name)
        assert callable(getattr(mod, attr, None)), f"{mod_name}.{attr}"


def test_phrase_cache_hook_exists():
    from dogsheep_beta_spark.operators.fts_index import FtsIndex

    assert callable(getattr(FtsIndex, "cached_phrase_hits", None))


def test_incremental_fts_stream_takes_the_benchmark_call():
    from dogsheep_beta_spark.streaming.incremental import incremental_fts_stream

    # the keyword shape of perfbench/run.py's ingest_live seed/batch call
    inspect.signature(incremental_fts_stream).bind(
        None, None, "index", "fts", "db/t", "ckpt",
        partitioned=True, mode="portable", stem=False,
    )


def test_make_live_server_takes_the_benchmark_call():
    from dogsheep_beta_spark.server import make_live_server

    # perfbench/run.py's ingest_live call: (spark, index_path, fts_path,
    # RULES, port=0, mode=..., stem=...)
    inspect.signature(make_live_server).bind(
        None, "index", "fts", {}, port=0, mode="portable", stem=False,
    )
