"""Minimal HTTP serving mode — the literal counterpart of the
reference's route registration (reference dogsheep_beta/__init__.py:
261-263 registers ``/-/beta`` via Datasette's ``register_routes``).

The engine's page layer already produces the complete beta.html
document (``page.beta_page``, golden-tested against the reference's
BeautifulSoup assertions); this module only puts a socket in front of
it, with the stdlib ``http.server`` — no web framework, matching the
repo's no-extra-dependency stance.

One SparkSession, one loaded index, one FTS build serve EVERY request
(the reference's one-index-many-queries lifecycle): the caller passes
them in, the handler closes over them.  ``ThreadingHTTPServer`` +
Spark's thread-safe job submission means concurrent requests simply
become concurrent Spark jobs; per-request work is the compiled page
plan (persisted filtered set, broadcast hydration joins), so request
latency is the same as one ``beta_page`` call.

The live mode (``make_live_server``) instead re-pins the streamed
layout per request.  Its reads are schema-pinned (``schema.LIVE_*``:
no footer-inference job) and its BM25 corpus scalars are memoized per
immutable partition version, so a request on an unchanged generation
starts no Spark job before its page plan, and one after a publish
starts one aggregate over the partitions that publish touched.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

ROUTES = ("/-/beta", "/")  # reference path + a convenience root alias

# Per-partition BM25 scalar memo (see _corpus_scalars): a published
# version dir → its share of the corpus scalars, the keyed-doc count of
# an index partition or the Σdl of a doc_lengths partition.  An LRU
# bounded at _SCALAR_MEMO_MAX entries; guarded by a lock, since
# ThreadingHTTPServer handlers share it.
_SCALAR_MEMO: OrderedDict[str, int] = OrderedDict()
_SCALAR_MEMO_MAX = 256
_SCALAR_LOCK = threading.Lock()


def _make_handler_class(spark, acquire, release, rules, template_debug):
    """The ONE request-handler shape for both serve modes: route check,
    args parsing, page render, response — the modes differ only in how
    a request acquires (index_df, fts) and what it releases after.
    (Two hand-maintained near-copies had already drifted before
    round 6.)"""
    from dogsheep_beta_spark.page import beta_page

    class BetaHandler(BaseHTTPRequestHandler):
        server_version = "dogsheep-beta-spark"

        def do_GET(self):  # noqa: N802 (stdlib naming)
            u = urlparse(self.path)
            if u.path not in ROUTES:
                self._respond(404, "not found\n", "text/plain")
                return
            # first value wins per key, like Datasette's request.args
            args = {k: v[0] for k, v in parse_qs(u.query).items()}
            fts = None
            try:
                index_df, fts = acquire()
                html = beta_page(
                    spark, index_df, fts, args, rules, template_debug
                )
            except Exception as e:  # surface, don't kill the server
                self._respond(500, f"error: {e}\n", "text/plain")
                return
            finally:
                if fts is not None:
                    release(fts)  # even on failed requests
            self._respond(200, html, "text/html; charset=utf-8")

        def _respond(self, code: int, body: str, ctype: str) -> None:
            data = body.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, fmt, *args):  # quiet by default
            pass

    return BetaHandler


def make_handler(spark, index_df, fts, rules=None, template_debug=False):
    """Static-index handler: one loaded (index_df, fts) serves every
    request; nothing to release per request (phrase-hit caches are
    bounded by the FtsIndex-level LRU)."""
    return _make_handler_class(
        spark,
        acquire=lambda: (index_df, fts),
        release=lambda fts: None,
        rules=rules,
        template_debug=template_debug,
    )


def make_server(
    spark,
    index_df,
    fts,
    rules=None,
    host: str = "127.0.0.1",
    port: int = 8001,
    template_debug: bool = False,
) -> ThreadingHTTPServer:
    """Bound-but-not-running server (port 0 → ephemeral, for tests);
    call ``serve_forever()`` / ``shutdown()`` on the result."""
    handler = make_handler(spark, index_df, fts, rules, template_debug)
    return ThreadingHTTPServer((host, port), handler)


def _resolve_parts(path: str) -> list[tuple[str, str]]:
    """The CONCRETE directories a snapshot of ``path`` must read, as
    ``(resolved_dir, partition_dirname)`` pairs — the reader never
    keeps a path that traverses a mutable symlink.

    One entry per ``col=value`` child of the partition-by-type stream
    layout — symlink children resolve to their version dirs, legacy
    plain-dir children (batch-written partitions the stream has not
    touched) pass through as-is.  A missing dir, or one with no
    partition (before the first batch, or after a delete retired every
    partition), resolves to no parts: an empty table.  A dir holding
    parquet files but no partition is not a streamed layout and raises.

    Round 7 (VERDICT r6 #1): reading ``spark.read.parquet(live_dir)``
    listed files THROUGH the ``type=`` symlinks, so a publish between
    a request's analysis and its job execution re-pointed those paths
    into the NEW version dir where the listed file names no longer
    exist — the torn-read race.  Resolved dirs are immutable once
    published (every publish renames a fresh dir into place), so a
    plan built on them cannot tear; pins (pin_generation) keep them
    alive past further publishes until the request releases."""
    base = os.path.abspath(path.rstrip("/"))
    try:
        entries = sorted(os.listdir(base))
    except OSError:
        return []
    parts: list[tuple[str, str]] = []
    for e in entries:
        if e.startswith((".", "_")) or "=" not in e:
            continue
        child = os.path.join(base, e)
        if os.path.islink(child):
            parts.append((os.path.realpath(child), e))
        elif os.path.isdir(child):
            parts.append((child, e))
    if not parts and any(e.endswith(".parquet") for e in entries):
        raise ValueError(
            f"{path} holds parquet files but no type= partition: the "
            "live server reads only the streamed partition-by-type layout"
        )
    return parts


def _unescape_partition_value(raw: str):
    """Hive partition-dir value → column value (Spark escapes special
    chars as %XX; the null sentinel dirname means NULL)."""
    from urllib.parse import unquote

    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    return unquote(raw)


# Partition columns _read_parts may re-inject as STRING literals.  The
# engine's only partitioned live layouts are ``type=`` (a string
# column); re-injecting any other column here would silently coerce a
# numeric/date partition value to string versus a normal partitioned
# read (ADVICE r7) — extend this set ONLY with columns that are
# string-typed in the batch-written schema.
_STRING_PARTITION_COLS = frozenset({"type"})


def _read_part(spark, vdir, dirname, file_schema):
    """One resolved partition dir, read with its table's declared file
    schema (no footer inference), the partition column re-injected as
    a string literal."""
    from pyspark.sql import functions as F

    col, raw = dirname.split("=", 1)
    if col not in _STRING_PARTITION_COLS:
        raise ValueError(
            f"_read_parts: partition column {col!r} is not a "
            f"known string-typed live layout "
            f"({sorted(_STRING_PARTITION_COLS)}); re-injecting "
            "it as a string literal would silently change its "
            "type vs a normal partitioned read — add it here "
            "only if it is string-typed in the written schema"
        )
    val = _unescape_partition_value(raw)
    return spark.read.schema(file_schema).parquet(vdir).withColumn(
        col,
        F.lit(val) if val is not None else F.lit(None).cast("string"),
    )


def _read_parts(spark, parts, file_schema):
    """Union of the resolved partition dirs, each read with
    ``file_schema`` (one of ``schema.LIVE_*_FILE_SCHEMA``: a declared
    schema starts no footer-inference job, and a column the files lack
    reads as NULL) and the partition column re-injected as a literal
    (string-typed — the engine's only partitioned live layouts are
    ``type=``, a string column), column order matching a normal
    partitioned read (partition col last).  No parts: an empty frame
    of that shape.  Fails loudly on a partition column outside the
    known string-typed layouts rather than silently changing its
    type."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from dogsheep_beta_spark.schema import with_type_column

    if not parts:  # a path-less read of a declared schema is empty
        return spark.read.schema(with_type_column(file_schema)).parquet()
    return reduce(
        DataFrame.unionByName,
        [_read_part(spark, vdir, e, file_schema) for vdir, e in parts],
    )


def _corpus_scalars(spark, index_parts, len_parts) -> tuple[int, float]:
    """BM25 ``(n_docs, avgdl)`` of a pinned snapshot, summed from
    per-partition shares: n_docs is the sum of the index partitions'
    keyed-doc counts (NULL-key rows are outside the FTS doc universe —
    see fts_index.postings_and_lengths — so live scalars equal the
    static build's), avgdl the doc_lengths partitions' Σdl over it.

    Shares of published version dirs come from the LRU memo (a hit
    refreshes recency, so a hot untouched partition outlives another
    type's publish churn).  Every miss is computed in ONE grouped
    aggregate; misses that are published version dirs are memoized,
    legacy plain dirs (mutable in place) are recounted per request.
    The shares are integers, so the sums are exactly a full recount."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from dogsheep_beta_spark.schema import (
        LIVE_DOC_LENGTHS_FILE_SCHEMA,
        LIVE_INDEX_FILE_SCHEMA,
    )
    from dogsheep_beta_spark.streaming.incremental import is_version_dir

    shares: dict[str, int] = {}
    with _SCALAR_LOCK:
        for vdir, _ in (*index_parts, *len_parts):
            if vdir in _SCALAR_MEMO:
                _SCALAR_MEMO.move_to_end(vdir)
                shares[vdir] = _SCALAR_MEMO[vdir]
    counted: dict[str, int] = {}
    misses = []
    for parts, file_schema, share in (
        (index_parts, LIVE_INDEX_FILE_SCHEMA, F.when(F.col("key").isNotNull(), 1)),
        (len_parts, LIVE_DOC_LENGTHS_FILE_SCHEMA, F.col("dl")),
    ):
        for vdir, e in parts:
            if vdir not in shares:
                counted[vdir] = 0  # an empty partition has no group
                misses.append(
                    _read_part(spark, vdir, e, file_schema).select(
                        F.lit(vdir).alias("part"), share.cast("long").alias("n")
                    )
                )
    if misses:
        rows = (
            reduce(DataFrame.unionByName, misses)
            .groupBy("part")
            .agg(F.sum("n"))
            .collect()
        )
        counted.update({r[0]: r[1] or 0 for r in rows})
        shares.update(counted)
        with _SCALAR_LOCK:
            for vdir, n in counted.items():
                if is_version_dir(vdir):
                    _SCALAR_MEMO[vdir] = n
                    _SCALAR_MEMO.move_to_end(vdir)
            while len(_SCALAR_MEMO) > _SCALAR_MEMO_MAX:
                _SCALAR_MEMO.popitem(last=False)
    n_docs = sum(shares[vdir] for vdir, _ in index_parts)
    total = sum(shares[vdir] for vdir, _ in len_parts)
    return n_docs, (total / n_docs) if n_docs else 0.0


def load_live_snapshot(spark, index_path, fts_path, mode="portable", stem=False):
    """(index_df, FtsIndex) pinned to the CURRENT committed generation
    of a layout that a streaming merge (``merge_fts_batch_scoped``) is
    actively appending to.

    Each ``type=`` partition publishes via atomic symlink cutover
    (``_publish_dir``), so resolving each partition's symlink ONCE and
    reading the resolved version dirs yields complete partition
    generations — never a half-written file set.  A publish during the
    request is invisible, and (round 7) the resolved dirs are PINNED
    (``pin_generation``) until release, so no number of further
    publishes or compactions can sweep them out from under an
    executing job.  Every read is schema-pinned (``schema.LIVE_*``), so
    building the snapshot starts no inference job, and a table with no
    partition yet (or none left after deletes) is an empty frame: an
    empty corpus serves a 0-result page.  Corpus scalars (n_docs,
    avgdl) are summed from per-partition-version shares memoized by
    ``_corpus_scalars``: a request on an unchanged generation pays zero
    extra jobs, and one after a publish pays one aggregate over the
    partitions that publish touched.

    This is the reference's trigger-maintained-FTS story
    (reference dogsheep_beta/utils.py:90: SQLite triggers keep
    search_index_fts in sync while Datasette serves from the same db
    file) made real at engine scale: writer and server share nothing
    but the published layout.

    Isolation is per partition: a request that resolves mid-publish
    can pair partition A at batch N with B at N−1, or one type's new
    postings with its old index partition, for an instant — the level
    Hive dynamic partition overwrite gives, documented at
    _publish_partitions.  Whole-snapshot isolation is what the
    object-store backend's one-record commit buys
    (``storage/objectstore.py``)."""
    from dogsheep_beta_spark.operators.fts_index import FtsIndex
    from dogsheep_beta_spark.schema import (
        LIVE_DOC_LENGTHS_FILE_SCHEMA,
        LIVE_INDEX_FILE_SCHEMA,
        LIVE_POSTINGS_FILE_SCHEMA,
    )
    from dogsheep_beta_spark.streaming.incremental import (
        pin_generation,
        release_pin,
    )

    paths3 = (
        index_path.rstrip("/"),
        os.path.join(fts_path, "postings"),
        os.path.join(fts_path, "doc_lengths"),
    )

    # Round 7 (VERDICT r6 #1): resolve → PIN → verify → read.  The
    # snapshot's read plans are built only on resolved, immutable
    # version dirs (_resolve_parts), each pinned against the retention
    # sweep, and the resolution is re-verified after pinning so a
    # cutover landing inside the resolve-to-pin window retries instead
    # of pinning a half-old half-new mixture.  From the verified pin
    # onward, no concurrent publish, compaction, or sweep can change
    # or delete anything the plans reference — the request reads one
    # complete committed generation, full stop.  Pins release on
    # request teardown (make_live_handler), or by pid/TTL staleness if
    # the reader crashed.
    parts3 = None
    pins: list = []
    for attempt in range(6):
        cand = tuple(tuple(_resolve_parts(p)) for p in paths3)
        pins = [
            pin_generation(vdir) for group in cand for vdir, _ in group
        ]
        stable = tuple(
            tuple(_resolve_parts(p)) for p in paths3
        ) == cand and all(
            os.path.isdir(vdir) for group in cand for vdir, _ in group
        )
        if stable:
            parts3 = cand
            break
        for p in pins:
            release_pin(p)
        pins = []
    if parts3 is None:  # six consecutive mid-resolve cutovers
        raise RuntimeError(
            f"could not pin a stable generation of {index_path} after "
            "6 attempts (publish storm?)"
        )
    try:
        index_df = _read_parts(spark, parts3[0], LIVE_INDEX_FILE_SCHEMA)
        postings = _read_parts(spark, parts3[1], LIVE_POSTINGS_FILE_SCHEMA)
        doc_lengths = _read_parts(
            spark, parts3[2], LIVE_DOC_LENGTHS_FILE_SCHEMA
        )
        # the scalars are counted from the same pinned dirs the reads
        # above use, so a publish landing mid-count cannot skew them
        n_docs, avgdl = _corpus_scalars(spark, parts3[0], parts3[2])
    except BaseException:
        for p in pins:
            release_pin(p)
        raise
    fts = FtsIndex(
        postings=postings,
        doc_lengths=doc_lengths,
        n_docs=n_docs,
        avgdl=avgdl,
        mode=mode,
        stem=stem,
    )
    fts._snapshot_pins = pins
    return index_df, fts


def release_snapshot(fts) -> None:
    """Request-teardown pair of load_live_snapshot: unpersist the
    per-request phrase-hit caches AND release the generation pins so
    the retention sweep may reclaim superseded version dirs."""
    from dogsheep_beta_spark.streaming.incremental import release_pin

    fts.release_hit_caches()
    for p in getattr(fts, "_snapshot_pins", ()):
        release_pin(p)
    fts._snapshot_pins = []


def make_live_handler(
    spark, index_path, fts_path, rules=None, mode="portable",
    stem=False, template_debug=False,
):
    """Handler that re-pins the index + FTS generation PER REQUEST —
    serve-while-indexing: docs appended by a concurrently running
    ``incremental_fts_stream`` become searchable on the next request,
    no restart, and no request ever reads a partial generation (the
    symlink resolution in load_live_snapshot is the isolation
    boundary)."""
    return _make_handler_class(
        spark,
        acquire=lambda: load_live_snapshot(
            spark, index_path, fts_path, mode, stem
        ),
        # per-request FtsIndex objects are throwaway: their phrase-hit
        # caches must unpersist and their generation PINS must release
        # on request teardown or the server leaks caches and version
        # dirs alike
        release=release_snapshot,
        rules=rules,
        template_debug=template_debug,
    )


def make_live_server(
    spark,
    index_path,
    fts_path,
    rules=None,
    host: str = "127.0.0.1",
    port: int = 8001,
    mode: str = "portable",
    stem: bool = False,
    template_debug: bool = False,
) -> ThreadingHTTPServer:
    """Bound-but-not-running live server (see make_live_handler)."""
    handler = make_live_handler(
        spark, index_path, fts_path, rules, mode, stem, template_debug
    )
    return ThreadingHTTPServer((host, port), handler)
