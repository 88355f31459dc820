"""Structured Streaming extension: incremental index maintenance must
converge to exactly the batch indexer's output; windowed facet counts
respect watermarked tumbling windows."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dogsheep_beta_spark.streaming.incremental import (
    incremental_index_stream,
    windowed_event_counts,
)


def _abs_tmp_root():
    # A relative TMPDIR (e.g. "s/tmp") would land mkdtemp inside the repo
    # and get swept into git; always anchor at an absolute system temp dir.
    root = tempfile.gettempdir()
    return root if os.path.isabs(root) else "/tmp"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dbs_stream_", dir=_abs_tmp_root())
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_incremental_merge_converges_to_batch(spark, tmpdir):
    src = os.path.join(tmpdir, "src")
    index_path = os.path.join(tmpdir, "index")
    ckpt = os.path.join(tmpdir, "ckpt")

    rows1 = [(1, "one", "2024-01-01"), (2, "two", "2024-01-02")]
    rows2 = [(2, "two-updated", "2024-01-03"), (3, "three", "2024-01-04")]
    schema = "key int, title string, timestamp string"

    # batch 1 arrives, stream starts, merges it
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = incremental_index_stream(spark, stream, index_path, "s.db/items", ckpt)
    q.awaitTermination(60)

    spark.catalog.refreshByPath(index_path)
    got1 = {r["key"]: r["title"] for r in spark.read.parquet(index_path).collect()}
    assert got1 == {"1": "one", "2": "two"}

    # batch 2 arrives with an update for key 2 — restart the availableNow
    # stream (same checkpoint: only new files are processed)
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = incremental_index_stream(spark, stream, index_path, "s.db/items", ckpt)
    q.awaitTermination(60)

    spark.catalog.refreshByPath(index_path)
    final = {r["key"]: r["title"] for r in spark.read.parquet(index_path).collect()}
    assert final == {"1": "one", "2": "two-updated", "3": "three"}

    # convergence: identical to a single batch build over the same rows
    # (last writer wins on key 2)
    from dogsheep_beta_spark.operators.conform import conform
    from dogsheep_beta_spark.operators.upsert import last_writer_wins, union_conformed

    b1 = conform(spark.createDataFrame(rows1, schema), "s.db/items").withColumn(
        "load_seq", F.lit(0)
    )
    b2 = conform(spark.createDataFrame(rows2, schema), "s.db/items").withColumn(
        "load_seq", F.lit(1)
    )
    batch = {
        r["key"]: r["title"]
        for r in last_writer_wins(union_conformed([b1, b2])).collect()
    }
    assert final == batch


def test_incremental_fts_converges_to_batch(spark, tmpdir):
    """Streamed postings maintenance == full batch FTS rebuild over the
    same final corpus (the invariant the reference's triggers cannot
    give for cross-db loads, utils.py:57-63)."""
    import pyspark.sql.functions as SF

    from dogsheep_beta_spark.operators.fts_index import build_fts_index
    from dogsheep_beta_spark.streaming.incremental import incremental_fts_stream

    src = os.path.join(tmpdir, "src")
    index_path = os.path.join(tmpdir, "index")
    fts_path = os.path.join(tmpdir, "fts")
    ckpt = os.path.join(tmpdir, "ckpt")
    schema = "key int, title string, search_1 string"

    rows1 = [(1, "alpha beta", "gamma"), (2, "beta beta", None)]
    rows2 = [(2, "delta", "beta gamma"), (3, "alpha", "alpha")]  # updates 2, adds 3

    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = incremental_fts_stream(spark, stream, index_path, fts_path, "s.db/t", ckpt)
    q.awaitTermination(60)

    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = incremental_fts_stream(spark, stream, index_path, fts_path, "s.db/t", ckpt)
    q.awaitTermination(60)

    def canon(df):
        return sorted(
            (r["term"], r["key"], r["field"], r["tf"], tuple(r["positions"]))
            for r in df.collect()
        )

    streamed = canon(spark.read.parquet(os.path.join(fts_path, "postings")))
    batch_fts = build_fts_index(
        spark.read.parquet(index_path), persist=False
    )
    assert streamed == canon(batch_fts.postings)
    got_len = {
        r["key"]: r["dl"]
        for r in spark.read.parquet(os.path.join(fts_path, "doc_lengths")).collect()
    }
    assert got_len == {r["key"]: r["dl"] for r in batch_fts.doc_lengths.collect()}
    # the updated doc 2 must reflect ONLY its new text
    idx = {r["key"]: r["title"] for r in spark.read.parquet(index_path).collect()}
    assert idx == {"1": "alpha beta", "2": "delta", "3": "alpha"}
    assert ("beta", "2", "title", 2, (0, 1)) not in streamed


def test_incremental_fts_stream_rejects_monolithic_layout():
    """The partition-by-type layout is the only maintained one: asking
    for the removed whole-table layout fails before any stream starts."""
    from dogsheep_beta_spark.streaming.incremental import incremental_fts_stream

    with pytest.raises(ValueError, match="partition-by-type"):
        incremental_fts_stream(
            None, None, "index", "fts", "s.db/t", "ckpt", partitioned=False
        )


def test_windowed_event_counts(spark, tmpdir):
    src = os.path.join(tmpdir, "events")
    rows = [
        ("2024-01-01 00:10:00", "click"),
        ("2024-01-01 00:20:00", "click"),
        ("2024-01-01 00:40:00", "view"),
        ("2024-01-01 01:10:00", "click"),
        # sentinel: advances the watermark to 03:00 so the asserted
        # windows (ending 01:00 / 02:00) are finalized and emitted —
        # append mode only outputs windows the watermark has passed.
        ("2024-01-01 05:00:00", "sentinel"),
    ]
    df = spark.createDataFrame(rows, "ts_s string, event_type string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
    )
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    counts = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        (str(r["window_start"]), r["event_type"]): r["count"]
        for r in spark.sql("select * from win_counts").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == 2
    assert got[("2024-01-01 00:00:00", "view")] == 1
    assert got[("2024-01-01 01:00:00", "click")] == 1


def test_streaming_sessionize_closed_sessions_match_batch(spark, tmpdir):
    """applyInPandasWithState sessionization emits exactly the batch
    sessionizer's CLOSED sessions (each user's final open session stays
    in state)."""
    from datetime import datetime

    from dogsheep_beta_spark.operators.temporal import session_stats
    from dogsheep_beta_spark.streaming.incremental import streaming_sessionize

    def ts(s):
        return datetime.fromisoformat(s)

    rows = [
        # user 1: three sessions (gaps > 60s)
        (1, ts("2024-01-01 10:00:00")),
        (1, ts("2024-01-01 10:00:30")),
        (1, ts("2024-01-01 10:05:00")),
        (1, ts("2024-01-01 11:00:00")),
        # user 2: one session only (never emitted — still open)
        (2, ts("2024-01-01 10:00:00")),
        (2, ts("2024-01-01 10:00:10")),
    ]
    src = os.path.join(tmpdir, "sess_src")
    batch_df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    batch_df.write.parquet(src)

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = streaming_sessionize(stream, "user_id", "ts", gap_seconds=60)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"],
            r["session_start"],
            r["session_end"],
        )
        for r in spark.table("sess_test").collect()
    }

    batch = session_stats(batch_df, "user_id", "ts", gap_seconds=60)
    last = {
        r["user_id"]: r["m"]
        for r in batch.groupBy("user_id")
        .agg(F.max("session_seq").alias("m"))
        .collect()
    }
    expected = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"],
            r["session_start"],
            r["session_end"],
        )
        for r in batch.collect()
        if r["session_seq"] < last[r["user_id"]]
    }
    assert got == expected and len(got) == 2


def test_merge_batch_raises_on_corrupt_index(spark, tmpdir):
    """A transient/corrupt read of the batch's existing type partition
    must RAISE, not be treated as 'first batch' — an old bare-except
    path overwrote the whole index with just the micro-batch (silent
    data loss)."""
    from dogsheep_beta_spark.streaming.incremental import merge_batch_scoped

    part = os.path.join(tmpdir, "index", "type=db%2Ft")
    os.makedirs(part)
    with open(os.path.join(part, "part-00000.parquet"), "w") as f:
        f.write("this is not parquet")
    batch = spark.createDataFrame(
        [(1, "t", "2020-01-01", "x")], "key int, title string, timestamp string, search_1 string"
    )
    with pytest.raises(Exception):
        merge_batch_scoped(spark, batch, 0, os.path.join(tmpdir, "index"), "db/t")
    # the corrupt partition is untouched (no destructive overwrite)
    assert os.path.exists(os.path.join(part, "part-00000.parquet"))
    assert not os.path.islink(part)


def test_merge_batch_missing_path_is_first_batch(spark, tmpdir):
    from dogsheep_beta_spark.streaming.incremental import merge_batch_scoped

    index_path = os.path.join(tmpdir, "fresh_index")
    batch = spark.createDataFrame(
        [(1, "t", "2020-01-01", "x")], "key int, title string, timestamp string, search_1 string"
    )
    merge_batch_scoped(spark, batch, 0, index_path, "db/t")
    assert spark.read.parquet(index_path).count() == 1


def test_atomic_swap_path_always_resolvable(spark, tmpdir):
    """The publish cutover is one atomic symlink rename: between any
    two publishes the index path exists and reads as a complete
    snapshot (old or new, never missing/partial), and the prior
    generation's files survive one swap for in-flight readers."""
    from dogsheep_beta_spark.streaming.incremental import _atomic_swap_write

    path = os.path.join(str(tmpdir), "idx")
    df1 = spark.range(5).withColumnRenamed("id", "v")
    df2 = spark.range(10).withColumnRenamed("id", "v")
    df3 = spark.range(3).withColumnRenamed("id", "v")

    _atomic_swap_write(df1, path)
    assert os.path.islink(path)
    assert spark.read.parquet(path).count() == 5
    v1_target = os.path.realpath(path)

    _atomic_swap_write(df2, path)
    assert spark.read.parquet(path).count() == 10
    # prior generation retained for readers that resolved the old link
    assert os.path.isdir(v1_target)

    _atomic_swap_write(df3, path)
    assert spark.read.parquet(path).count() == 3
    assert not os.path.isdir(v1_target)  # dropped after one generation


def test_atomic_swap_migrates_legacy_real_dir(spark, tmpdir):
    """A pre-existing plain directory index (written before the
    pointer scheme) is migrated into the version sequence on the first
    publish instead of hitting the non-atomic two-rename path."""
    from dogsheep_beta_spark.streaming.incremental import _atomic_swap_write

    path = os.path.join(str(tmpdir), "idx")
    spark.range(7).write.parquet(path)  # legacy layout: real dir
    assert not os.path.islink(path)

    _atomic_swap_write(spark.range(4), path)
    assert os.path.islink(path)
    assert spark.read.parquet(path).count() == 4


def test_delete_fts_docs_tombstones(spark, tmpdir):
    """delete_fts_docs removes the doc from index + postings +
    doc_lengths of the streamed (partition-by-type) layout; the
    surviving index equals a batch rebuild over the surviving corpus
    (so BM25 stats follow)."""
    from dogsheep_beta_spark.operators.fts_index import build_fts_index
    from dogsheep_beta_spark.streaming.incremental import (
        delete_fts_docs,
        incremental_fts_stream,
    )

    src = os.path.join(tmpdir, "src")
    index_path = os.path.join(tmpdir, "index")
    fts_path = os.path.join(tmpdir, "fts")
    ckpt = os.path.join(tmpdir, "ckpt")
    schema = "key int, title string, search_1 string"
    rows = [(1, "alpha beta", "gamma"), (2, "beta beta", None), (3, "alpha", "x")]
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = incremental_fts_stream(spark, stream, index_path, fts_path, "s.db/t", ckpt)
    q.awaitTermination(60)

    deletes = spark.createDataFrame(
        [("s.db/t", "2")], "type string, key string"
    )
    delete_fts_docs(spark, deletes, index_path, fts_path)
    _refresh(spark, index_path, fts_path)

    idx = {r["key"] for r in spark.read.parquet(index_path).collect()}
    assert idx == {"1", "3"}
    post_keys = {
        r["key"]
        for r in spark.read.parquet(os.path.join(fts_path, "postings")).collect()
    }
    assert "2" not in post_keys
    # survivors' postings identical to a batch rebuild of the survivors
    def canon(df):
        return sorted(
            (r["term"], r["key"], r["field"], r["tf"])
            for r in df.collect()
        )
    rebuilt = build_fts_index(spark.read.parquet(index_path), persist=False)
    assert canon(spark.read.parquet(os.path.join(fts_path, "postings"))) == canon(
        rebuilt.postings
    )
    lens = {
        r["key"]: r["dl"]
        for r in spark.read.parquet(os.path.join(fts_path, "doc_lengths")).collect()
    }
    assert lens == {r["key"]: r["dl"] for r in rebuilt.doc_lengths.collect()}
    # idempotent: deleting an absent key is a no-op
    delete_fts_docs(spark, deletes, index_path, fts_path)
    _refresh(spark, index_path, fts_path)
    assert {r["key"] for r in spark.read.parquet(index_path).collect()} == {"1", "3"}


def _refresh(spark, index_path, fts_path):
    """Drop the session's cached file listings of the three FTS tables
    (a publish re-points their ``type=`` symlinks)."""
    for p in (index_path, os.path.join(fts_path, "postings"),
              os.path.join(fts_path, "doc_lengths")):
        spark.catalog.refreshByPath(p)


def _two_type_fts(spark, tmpdir):
    """index + fts paths holding two types: s.db/t (keys 1-3) and
    o.db/t (key 50), maintained by merge_fts_batch_scoped."""
    from dogsheep_beta_spark.streaming.incremental import merge_fts_batch_scoped

    index_path = os.path.join(tmpdir, "index")
    fts_path = os.path.join(tmpdir, "fts")
    schema = "key int, title string, search_1 string"
    for bid, (rows, tag) in enumerate([
        ([(1, "alpha beta", "gamma"), (2, "beta beta", None),
          (3, "alpha", "x")], "s.db/t"),
        ([(50, "zeta omega", "psi")], "o.db/t"),
    ]):
        merge_fts_batch_scoped(
            spark, spark.createDataFrame(rows, schema), bid,
            index_path, fts_path, tag,
        )
    tables = [index_path, os.path.join(fts_path, "postings"),
              os.path.join(fts_path, "doc_lengths")]
    return index_path, fts_path, tables


def _spark_type_name(t) -> str:
    """pyarrow footer type → Spark simpleString (the types the streamed
    tables use; anything else fails the lookup loudly)."""
    import pyarrow as pa

    if pa.types.is_list(t):
        return f"array<{_spark_type_name(t.value_type)}>"
    return {pa.string(): "string", pa.int64(): "bigint", pa.int32(): "int"}[t]


def test_streamed_footers_match_declared_schemas(spark, tmpdir):
    """Live reads of the streamed tables are schema-pinned
    (schema.LIVE_*_FILE_SCHEMA), so writer/reader drift must fail here:
    every parquet footer merge_fts_batch_scoped writes has exactly the
    declared column names and types — a column added to ``conform`` or
    ``postings_and_lengths`` would otherwise read as nothing at all."""
    import pyarrow.parquet as pq

    from dogsheep_beta_spark.schema import (
        LIVE_DOC_LENGTHS_FILE_SCHEMA,
        LIVE_INDEX_FILE_SCHEMA,
        LIVE_POSTINGS_FILE_SCHEMA,
    )

    _, _, tables = _two_type_fts(spark, tmpdir)
    declared = (
        LIVE_INDEX_FILE_SCHEMA,
        LIVE_POSTINGS_FILE_SCHEMA,
        LIVE_DOC_LENGTHS_FILE_SCHEMA,
    )
    for table, file_schema in zip(tables, declared):
        want = [(f.name, f.dataType.simpleString()) for f in file_schema]
        files = []
        for root, dirs, names in os.walk(table, followlinks=True):
            # the live type= links only, not retained hidden versions
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            files += [os.path.join(root, f) for f in names if f.endswith(".parquet")]
        assert files, table
        for f in files:
            got = [(c.name, _spark_type_name(c.type)) for c in pq.read_schema(f)]
            assert got == want, f


def test_delete_every_doc_of_a_type_retires_its_partitions(spark, tmpdir):
    """Tombstoning every doc of one type leaves no rows of that type in
    any of the three tables, and no ``type=`` partition for it (an
    empty stage publishes nothing, so the partition is retired)."""
    from dogsheep_beta_spark.streaming.incremental import delete_fts_docs

    index_path, fts_path, tables = _two_type_fts(spark, tmpdir)
    deletes = spark.createDataFrame(
        [("o.db/t", "50")], "type string, key string"
    )
    delete_fts_docs(spark, deletes, index_path, fts_path)
    _refresh(spark, index_path, fts_path)
    for t in tables:
        assert not [e for e in os.listdir(t) if e.startswith("type=o.db")], t
        types = {r["type"] for r in spark.read.parquet(t).collect()}
        assert types == {"s.db/t"}, t


def test_delete_leaves_untouched_type_byte_identical(spark, tmpdir):
    """A delete scoped to type s never rewrites type o: in all three
    tables o's partition resolves to the same version dir, with the
    same files, sizes and mtimes."""
    from dogsheep_beta_spark.streaming.incremental import delete_fts_docs

    index_path, fts_path, tables = _two_type_fts(spark, tmpdir)

    def o_part(t):
        return os.path.join(
            t, next(e for e in os.listdir(t) if e.startswith("type=o.db"))
        )

    before = {t: os.path.realpath(o_part(t)) for t in tables}
    stats = {t: _file_stats(v) for t, v in before.items()}
    deletes = spark.createDataFrame(
        [("s.db/t", "2")], "type string, key string"
    )
    delete_fts_docs(spark, deletes, index_path, fts_path)
    _refresh(spark, index_path, fts_path)
    for t in tables:
        assert os.path.realpath(o_part(t)) == before[t], t
        assert _file_stats(before[t]) == stats[t], t
    idx = {(r["type"], r["key"]) for r in spark.read.parquet(index_path).collect()}
    assert idx == {("s.db/t", "1"), ("s.db/t", "3"), ("o.db/t", "50")}


def test_snapshot_pinned_before_delete_reads_its_generation(spark, tmpdir):
    """A live-server snapshot taken before a delete (and a later merge
    into the same type, which would sweep an unpinned generation) still
    reads its own generation: the deleted doc, the old corpus stats."""
    from dogsheep_beta_spark.server import load_live_snapshot, release_snapshot
    from dogsheep_beta_spark.streaming.incremental import (
        delete_fts_docs,
        merge_fts_batch_scoped,
    )

    index_path, fts_path, _ = _two_type_fts(spark, tmpdir)
    index_df, fts = load_live_snapshot(spark, index_path, fts_path)
    try:
        deletes = spark.createDataFrame(
            [("s.db/t", "2"), ("o.db/t", "50")], "type string, key string"
        )
        delete_fts_docs(spark, deletes, index_path, fts_path)
        merge_fts_batch_scoped(
            spark,
            spark.createDataFrame(
                [(4, "delta", None)], "key int, title string, search_1 string"
            ),
            2, index_path, fts_path, "s.db/t",
        )
        assert {r["key"] for r in index_df.collect()} == {"1", "2", "3", "50"}
        assert fts.n_docs == 4
        assert {r["key"] for r in fts.doc_lengths.collect()} == {
            "1", "2", "3", "50"
        }
    finally:
        release_snapshot(fts)
    fresh_df, fresh = load_live_snapshot(spark, index_path, fts_path)
    try:
        assert {r["key"] for r in fresh_df.collect()} == {"1", "3", "4"}
        assert fresh.n_docs == 3
    finally:
        release_snapshot(fresh)


def test_streaming_ivf_upsert_converges_to_batch(spark, tmpdir):
    """Micro-batched embedding ingest (maxFilesPerTrigger=1, so the
    assignment genuinely happens incrementally) must leave the same
    cell-partitioned state as one batch Voronoi assignment."""
    import numpy as np

    from dogsheep_beta_spark.operators.similarity import (
        centroids,
        voronoi_assign,
    )
    from dogsheep_beta_spark.streaming.incremental import streaming_ivf_upsert

    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        cell = i % 4
        base = np.zeros(8)
        base[cell] = 1.0
        v = base + rng.standard_normal(8) * 0.05
        rows.append((i, [float(x) for x in v], cell))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cents = centroids(df, "embedding", "label")

    src = os.path.join(tmpdir, "src")
    df.repartition(4).write.parquet(src)  # several files -> several batches
    layout = os.path.join(tmpdir, "cells")
    ckpt = os.path.join(tmpdir, "ckpt")
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_ivf_upsert(stream, cents, layout, ckpt)
    q.awaitTermination(120)

    streamed = {
        (r["vec_id"], int(r["cell"]))
        for r in spark.read.parquet(layout).select("vec_id", "cell").collect()
    }
    batch = {
        (r["vec_id"], int(r["cell"]))
        for r in voronoi_assign(df, "vec_id", "embedding", cents)
        .select("vec_id", "cell")
        .collect()
    }
    assert streamed == batch and len(streamed) == 40
    # the at-rest layout is hive-partitioned by cell (probe prunes dirs)
    assert any(d.startswith("cell=") for d in os.listdir(layout))


def test_compact_ivf_layout_shrinks_files_preserves_content(spark, tmpdir):
    """After many micro-batch appends, compaction must cut the file
    count per cell to the target while leaving the row set untouched,
    and the layout must remain hive-partitioned (probe still prunes)."""
    import glob

    from dogsheep_beta_spark.streaming.incremental import compact_ivf_layout

    layout = os.path.join(tmpdir, "cells")
    df = spark.createDataFrame(
        [(i, [float(i), 0.0], i % 3) for i in range(30)],
        "vec_id long, embedding array<double>, cell int",
    )
    # simulate 5 streamed appends: one file per cell per batch
    for b in range(5):
        (
            df.where(F.col("vec_id") % 5 == b)
            .repartition(1)
            .write.mode("append")
            .partitionBy("cell")
            .parquet(layout)
        )
    before = set(
        (r["vec_id"], int(r["cell"])) for r in spark.read.parquet(layout).collect()
    )
    n_files_before = len(glob.glob(os.path.join(layout, "cell=*", "*.parquet")))
    assert n_files_before >= 15  # ≥1 file per (cell, batch)

    compact_ivf_layout(spark, layout, files_per_cell=1)
    spark.catalog.refreshByPath(layout)
    after = set(
        (r["vec_id"], int(r["cell"])) for r in spark.read.parquet(layout).collect()
    )
    assert after == before and len(after) == 30
    n_files_after = len(
        glob.glob(os.path.join(layout + "/", "cell=*", "*.parquet"))
    )
    assert n_files_after == 3  # one file per cell


def test_compact_ivf_migrates_concurrent_appends(spark, tmpdir, monkeypatch):
    """A file appended by the stream WHILE compaction runs (after the
    snapshot listing, before publish) must survive into the new
    generation — the re-list-at-publish migration.  Simulated by
    injecting an append just before the publish-time re-list."""
    import glob

    from dogsheep_beta_spark.streaming import incremental as inc

    layout = os.path.join(tmpdir, "cells")
    df = spark.createDataFrame(
        [(i, [float(i), 0.0], i % 3) for i in range(12)],
        "vec_id long, embedding array<double>, cell int",
    )
    for b in range(3):
        (
            df.where(F.col("vec_id") % 3 == b)
            .repartition(1)
            .write.mode("append")
            .partitionBy("cell")
            .parquet(layout)
        )
    # a "late" batch staged aside, to be dropped in mid-compaction
    late_src = os.path.join(tmpdir, "late")
    spark.createDataFrame(
        [(99, [9.0, 9.0])], "vec_id long, embedding array<double>"
    ).repartition(1).write.parquet(late_src)
    late_part = glob.glob(os.path.join(late_src, "part-*.parquet"))[0]

    real_list = inc._list_data_files
    calls = {"n": 0}

    def listing_with_append(root):
        calls["n"] += 1
        if calls["n"] == 2:  # the publish-time re-list
            dst = os.path.join(root, "cell=1", "late-append.parquet")
            shutil.copy2(late_part, dst)
        return real_list(root)

    monkeypatch.setattr(inc, "_list_data_files", listing_with_append)
    inc.compact_ivf_layout(spark, layout, files_per_cell=1)
    spark.catalog.refreshByPath(layout)
    got = {
        (r["vec_id"], int(r["cell"]))
        for r in spark.read.parquet(layout).select("vec_id", "cell").collect()
    }
    assert (99, 1) in got and len(got) == 13


def test_manifest_append_during_compaction_zero_loss(spark, tmpdir):
    """The manifest-commit protocol's contract: appends racing real
    compactions lose ZERO rows.  One thread runs merge_ivf_batch
    appends (the streaming foreachBatch body, with its manifest
    commit), the main thread runs repeated compactions; every appended
    vec_id must be present in the manifest-pinned scan afterwards, and
    the manifest must reference only live files."""
    import threading

    from dogsheep_beta_spark.operators.similarity import centroids
    from dogsheep_beta_spark.streaming import incremental as inc

    layout = os.path.join(tmpdir, "cells")
    seed = spark.createDataFrame(
        [(i, [float(i % 3), 1.0], i % 3) for i in range(9)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = centroids(seed, "embedding", "label")

    n_appends, per_batch = 6, 5
    errors = []

    def appender():
        try:
            for b in range(n_appends):
                ids = range(100 + b * per_batch, 100 + (b + 1) * per_batch)
                bdf = spark.createDataFrame(
                    [(i, [float(i % 3), 1.0]) for i in ids],
                    "vec_id long, embedding array<double>",
                )
                inc.merge_ivf_batch(bdf, cents, layout)
        except Exception as e:  # surface thread failures to the assert
            errors.append(e)

    # seed one committed batch so compaction has something to chew on
    inc.merge_ivf_batch(
        seed.select("vec_id", "embedding"), cents, layout
    )
    t = threading.Thread(target=appender)
    t.start()
    while t.is_alive():
        inc.compact_ivf_layout(spark, layout, files_per_cell=1)
    t.join(120)
    inc.compact_ivf_layout(spark, layout, files_per_cell=1)

    assert not errors, errors
    got = {
        r["vec_id"]
        for r in inc.read_layout(spark, layout).select("vec_id").collect()
    }
    expect = set(range(9)) | set(range(100, 100 + n_appends * per_batch))
    assert got == expect
    # manifest references exactly the files on disk in the live gen
    rels = set(inc.read_manifest(layout))
    real = os.path.realpath(layout)
    assert rels == set(inc._list_data_files(real).keys())


def _file_stats(root):
    """(relpath, size, mtime_ns) of every data file under root,
    following symlinks — the byte-identity fingerprint for untouched
    partitions."""
    out = set()
    for dirpath, _dirs, files in os.walk(root, followlinks=True):
        for f in files:
            if f.startswith("_") or f.startswith("."):
                continue
            full = os.path.join(dirpath, f)
            st = os.stat(full)
            out.add((os.path.relpath(full, root), st.st_size, st.st_mtime_ns))
    return out


def test_scoped_merge_converges_and_leaves_other_partitions_untouched(
    spark, tmpdir
):
    """Partition-scoped merge: (1) converges to the batch build exactly
    like the monolithic merge; (2) a batch for type B does ZERO I/O
    against type A's partition — its files (and the version dir the
    symlink resolves to) are byte-identical afterwards."""
    from dogsheep_beta_spark.operators.conform import conform
    from dogsheep_beta_spark.operators.upsert import (
        last_writer_wins,
        union_conformed,
    )
    from dogsheep_beta_spark.streaming.incremental import merge_batch_scoped

    index_path = os.path.join(tmpdir, "pidx")
    schema = "key int, title string, timestamp string"
    rows_a1 = [(1, "one", "2024-01-01"), (2, "two", "2024-01-02")]
    rows_b = [(7, "seven", "2024-01-05")]
    rows_a2 = [(2, "two-updated", "2024-01-03"), (3, "three", "2024-01-04")]

    merge_batch_scoped(
        spark, spark.createDataFrame(rows_a1, schema), 0, index_path, "a.db/t"
    )
    merge_batch_scoped(
        spark, spark.createDataFrame(rows_b, schema), 1, index_path, "b.db/t"
    )
    # fingerprint type A's partition before an unrelated type-B merge
    # and a type-A update merge
    a_dir = next(
        os.path.join(index_path, e)
        for e in os.listdir(index_path)
        if e.startswith("type=a.db")
    )
    a_real_before = os.path.realpath(a_dir)
    a_stats_before = _file_stats(a_real_before)

    merge_batch_scoped(
        spark, spark.createDataFrame(rows_a2, schema), 2, index_path, "a.db/t"
    )
    # type B untouched by the type-A merge
    b_dir = next(
        os.path.join(index_path, e)
        for e in os.listdir(index_path)
        if e.startswith("type=b.db")
    )
    # type A's OLD version dir still has identical bytes (retained one
    # generation), and the symlink moved to a NEW version
    assert _file_stats(a_real_before) == a_stats_before
    assert os.path.realpath(a_dir) != a_real_before

    spark.catalog.refreshByPath(index_path)
    got = {
        (r["type"], r["key"]): r["title"]
        for r in spark.read.parquet(index_path).collect()
    }
    b1 = conform(spark.createDataFrame(rows_a1, schema), "a.db/t").withColumn(
        "load_seq", F.lit(0)
    )
    b2 = conform(spark.createDataFrame(rows_a2, schema), "a.db/t").withColumn(
        "load_seq", F.lit(1)
    )
    bb = conform(spark.createDataFrame(rows_b, schema), "b.db/t").withColumn(
        "load_seq", F.lit(0)
    )
    expected = {
        (r["type"], r["key"]): r["title"]
        for r in last_writer_wins(union_conformed([b1, b2, bb])).collect()
    }
    assert got == expected and len(got) == 4
    del b_dir


def test_scoped_merge_untouched_partition_not_even_opened(spark, tmpdir):
    """Stronger than byte-identity: a type-B merge must not READ type
    A's files.  Corrupt type A's partition on disk; the type-B merge
    still succeeds (a full-index rewrite would throw)."""
    from dogsheep_beta_spark.streaming.incremental import merge_batch_scoped

    index_path = os.path.join(tmpdir, "pidx2")
    schema = "key int, title string, timestamp string"
    merge_batch_scoped(
        spark, spark.createDataFrame([(1, "x", "2024-01-01")], schema),
        0, index_path, "a.db/t",
    )
    a_dir = next(
        os.path.join(index_path, e)
        for e in os.listdir(index_path)
        if e.startswith("type=a.db")
    )
    for f in os.listdir(os.path.realpath(a_dir)):
        if f.endswith(".parquet"):
            with open(os.path.join(os.path.realpath(a_dir), f), "w") as fh:
                fh.write("corrupt")
    # partition-pruned merge for b never opens a.db's files
    merge_batch_scoped(
        spark, spark.createDataFrame([(9, "y", "2024-01-02")], schema),
        1, index_path, "b.db/t",
    )


def test_scoped_incremental_index_stream(spark, tmpdir):
    """The stream wiring writes the partition-by-type layout — each
    ``type=`` child a symlink to a hidden version dir — and converges
    across restarts."""
    src = os.path.join(tmpdir, "src")
    index_path = os.path.join(tmpdir, "index")
    ckpt = os.path.join(tmpdir, "ckpt")
    rows1 = [(1, "one", "2024-01-01"), (2, "two", "2024-01-02")]
    rows2 = [(2, "two-updated", "2024-01-03"), (3, "three", "2024-01-04")]
    schema = "key int, title string, timestamp string"

    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = incremental_index_stream(spark, stream, index_path, "s.db/items", ckpt)
    q.awaitTermination(60)
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = incremental_index_stream(spark, stream, index_path, "s.db/items", ckpt)
    q.awaitTermination(60)

    visible = [e for e in os.listdir(index_path) if not e.startswith(".")]
    assert visible == ["type=s.db%2Fitems"]
    assert os.path.islink(os.path.join(index_path, visible[0]))

    spark.catalog.refreshByPath(index_path)
    final = {r["key"]: r["title"] for r in spark.read.parquet(index_path).collect()}
    assert final == {"1": "one", "2": "two-updated", "3": "three"}


def test_scoped_fts_converges_to_batch(spark, tmpdir):
    """Partition-scoped FTS maintenance == full batch rebuild over the
    same final corpus, and another type's postings partition is
    byte-identical after an unrelated merge."""
    from dogsheep_beta_spark.operators.fts_index import build_fts_index
    from dogsheep_beta_spark.streaming.incremental import merge_fts_batch_scoped

    index_path = os.path.join(tmpdir, "index")
    fts_path = os.path.join(tmpdir, "fts")
    schema = "key int, title string, search_1 string"
    rows1 = [(1, "alpha beta", "gamma"), (2, "beta beta", None)]
    rows_other = [(50, "zeta omega", "psi")]
    rows2 = [(2, "delta", "beta gamma"), (3, "alpha", "alpha")]

    merge_fts_batch_scoped(
        spark, spark.createDataFrame(rows1, schema), 0,
        index_path, fts_path, "s.db/t",
    )
    merge_fts_batch_scoped(
        spark, spark.createDataFrame(rows_other, schema), 1,
        index_path, fts_path, "o.db/t",
    )
    post_live = os.path.join(fts_path, "postings")
    o_dir = next(
        os.path.join(post_live, e)
        for e in os.listdir(post_live)
        if e.startswith("type=o.db")
    )
    o_real = os.path.realpath(o_dir)
    o_stats = _file_stats(o_real)

    merge_fts_batch_scoped(
        spark, spark.createDataFrame(rows2, schema), 2,
        index_path, fts_path, "s.db/t",
    )
    # o.db's postings partition: same version dir, same bytes
    assert os.path.realpath(o_dir) == o_real
    assert _file_stats(o_real) == o_stats

    spark.catalog.refreshByPath(index_path)
    spark.catalog.refreshByPath(post_live)
    spark.catalog.refreshByPath(os.path.join(fts_path, "doc_lengths"))

    def canon(df):
        return sorted(
            (r["term"], r["type"], r["key"], r["field"], r["tf"],
             tuple(r["positions"]))
            for r in df.collect()
        )

    streamed = canon(spark.read.parquet(post_live))
    batch_fts = build_fts_index(spark.read.parquet(index_path), persist=False)
    assert streamed == canon(batch_fts.postings)
    got_len = {
        (r["type"], r["key"]): r["dl"]
        for r in spark.read.parquet(
            os.path.join(fts_path, "doc_lengths")
        ).collect()
    }
    assert got_len == {
        (r["type"], r["key"]): r["dl"]
        for r in batch_fts.doc_lengths.collect()
    }
    idx = {
        (r["type"], r["key"]): r["title"]
        for r in spark.read.parquet(index_path).collect()
    }
    assert idx == {
        ("s.db/t", "1"): "alpha beta",
        ("s.db/t", "2"): "delta",
        ("s.db/t", "3"): "alpha",
        ("o.db/t", "50"): "zeta omega",
    }


def test_streaming_interval_join_converges_across_batches(spark, tmpdir):
    """Pairs spanning micro-batch boundaries must still match (the
    watermark buffers the right side until the left arrives): three
    single-file batches, left/right events interleaved across them,
    result == the batch inequality join."""
    from datetime import datetime, timezone

    from dogsheep_beta_spark.streaming.incremental import (
        streaming_interval_join,
    )

    def ts(minute):
        return datetime(2024, 1, 1, 10, minute, tzinfo=timezone.utc)

    # (user, ts, side, id) — right rows arrive in EARLIER batches than
    # the left rows that match them, and vice versa.
    rows = [
        (1, ts(0), "r", 100),
        (1, ts(4), "l", 200),   # matches 100 (4 min lookback window: 5m)
        (2, ts(1), "r", 101),
        (1, ts(20), "l", 201),  # matches nothing (100 too old)
        (2, ts(5), "l", 202),   # matches 101 (arrives one batch earlier)
        (2, ts(6), "r", 102),   # after 202: must NOT match it
        (2, ts(9), "l", 203),   # 101 is 8 min old (> 5m): only 102
    ]
    batches = [rows[:3], rows[3:5], rows[5:]]
    # NOTE: this module's tmpdir fixture yields a plain str, not
    # pytest's py.path — tmpdir.join("x") here would be str.join,
    # silently interleaving the tmpdir between the characters of "x"
    # and writing a RELATIVE "s/tmp/..." tree into the repo cwd (the
    # round-7 `s/` debris).
    src = os.path.join(tmpdir, "ssj_src")
    os.makedirs(src)
    schema = "user_id long, ts timestamp, side string, id long"
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}"), mode="overwrite"
        )
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    )
    flat = os.path.join(tmpdir, "ssj_flat")
    os.makedirs(flat)
    for i, f in enumerate(files):
        shutil.copy(f, os.path.join(flat, f"part-{i}.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
    )
    left = stream.where(F.col("side") == "l").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("id").alias("l_id")
    )
    right = stream.where(F.col("side") == "r").select(
        "user_id", F.col("ts").alias("r_ts"), F.col("id").alias("r_id")
    )
    joined = streaming_interval_join(
        left, right, "user_id", "l_ts", "r_ts", lookback_seconds=300
    ).select(F.col("l.l_id").alias("l_id"), F.col("r.r_id").alias("r_id"))
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_conv")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["l_id"], r["r_id"]) for r in spark.table("ssj_conv").collect()
    }
    assert got == {(200, 100), (202, 101), (203, 102)}


def test_manifest_time_travel_and_retention_horizon(spark, tmpdir):
    """Generation history: each commit appends to the manifest log;
    read_layout(generation=N) reproduces that snapshot while its
    version dir survives retention, and fails LOUDLY beyond the
    horizon (never partial data)."""
    import pytest

    from dogsheep_beta_spark.operators.similarity import centroids
    from dogsheep_beta_spark.streaming import incremental as inc

    layout = os.path.join(tmpdir, "cells")
    seed = spark.createDataFrame(
        [(i, [float(i % 2), 1.0], i % 2) for i in range(4)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = centroids(seed, "embedding", "label")

    def append(ids):
        bdf = spark.createDataFrame(
            [(i, [float(i % 2), 1.0]) for i in ids],
            "vec_id long, embedding array<double>",
        )
        inc.merge_ivf_batch(bdf, cents, layout)

    append(range(0, 4))       # gen 1 (adoption of the empty dir) + 2
    append(range(10, 14))     # gen 3
    inc.compact_ivf_layout(spark, layout)  # gen 4, new vdir
    append(range(20, 24))     # gen 5

    # gen 1 is the first commit's ADOPTION entry (r10: the pre-move
    # snapshot of whatever the dir held — empty here — persisted
    # BEFORE any file moves so a crashed first commit can never be
    # double-adopted by its replay's dir-listing fallback)
    hist = inc.manifest_history(layout)
    assert [e["generation"] for e in hist] == [1, 2, 3, 4, 5]
    assert hist[0]["files"] == []

    gen2 = {
        r["vec_id"]
        for r in inc.read_layout(spark, layout, generation=3)
        .select("vec_id").collect()
    }
    assert gen2 == set(range(0, 4)) | set(range(10, 14))
    now = {
        r["vec_id"]
        for r in inc.read_layout(spark, layout).select("vec_id").collect()
    }
    assert now == gen2 | set(range(20, 24))

    # a second compaction sweeps the pre-compaction version dir:
    # generations 1-3 fall beyond the retention horizon and must FAIL
    inc.compact_ivf_layout(spark, layout)
    with pytest.raises(FileNotFoundError, match="retention horizon"):
        inc.read_layout(spark, layout, generation=3).collect()
    with pytest.raises(ValueError, match="no generation 99"):
        inc.read_layout(spark, layout, generation=99)


def test_streaming_entity_link_converges_to_batch(spark, tmpdir):
    """Three arrival waves, ids deliberately OUT of arrival order (a
    later wave carries a smaller id that becomes the better match for
    an earlier record): the final match table must equal
    best_match(link_entities(...)) over the union."""
    from dogsheep_beta_spark.operators.linkage import (
        best_match,
        link_entities,
    )
    from dogsheep_beta_spark.streaming.incremental import (
        streaming_entity_link,
    )

    src = os.path.join(tmpdir, "recs")
    store = os.path.join(tmpdir, "store")
    matches = os.path.join(tmpdir, "matches")
    ckpt = os.path.join(tmpdir, "lckpt")
    schema = "id long, name string, ctry string"

    waves = [
        [(10, "jon smith", "us"), (11, "jon smyth", "us")],
        # 12 matches 10/11; 2 arrives LATE but is the minimal id —
        # it must retroactively become 10/11/12's best match target
        [(12, "jon smith", "us"), (30, "ann chu", "de")],
        [(2, "jon smith", "us"), (31, "ann chu ", "de")],
    ]
    kw = dict(
        id_col="id", name_col="name", block_cols=("ctry",),
        prefix_len=6, max_dist=1, max_block=100,
    )
    for wave in waves:
        spark.createDataFrame(wave, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = streaming_entity_link(stream, store, matches, ckpt, **kw)
        q.awaitTermination(60)

    got = {
        (r["entity_id"], r["match_id"], r["dist"])
        for r in spark.read.parquet(matches).collect()
    }
    all_recs = spark.createDataFrame(
        [r for w in waves for r in w], schema
    )
    want = {
        (r["entity_id"], r["match_id"], r["dist"])
        for r in best_match(link_entities(all_recs, **kw)).collect()
    }
    assert got == want
    assert (2, 12, 0) not in got  # orientation: 2 is the EARLIER id
    assert (12, 2, 0) in got      # later record points at min-id match


def test_streaming_entity_link_cap_crossing_deletes_matches(spark, tmpdir):
    """A block that crosses max_block mid-stream must drop its matches
    (the batch cap measured on cumulative data), while other blocks'
    matches survive."""
    from dogsheep_beta_spark.streaming.incremental import (
        streaming_entity_link,
    )

    src = os.path.join(tmpdir, "recs2")
    store = os.path.join(tmpdir, "store2")
    matches = os.path.join(tmpdir, "matches2")
    ckpt = os.path.join(tmpdir, "lckpt2")
    schema = "id long, name string, ctry string"

    kw = dict(
        id_col="id", name_col="name", block_cols=("ctry",),
        prefix_len=6, max_dist=1, max_block=4,
    )
    waves = [
        [(i, "junk x", "us") for i in range(3)]          # under cap
        + [(100, "alice a", "de"), (101, "alice b", "de")],
        [(i, "junk x", "us") for i in range(3, 8)],       # crosses cap
    ]
    for wave in waves:
        spark.createDataFrame(wave, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = streaming_entity_link(stream, store, matches, ckpt, **kw)
        q.awaitTermination(60)

    got = {
        (r["entity_id"], r["match_id"])
        for r in spark.read.parquet(matches).collect()
    }
    assert got == {(101, 100)}  # junk block's matches were deleted


def test_manifest_lock_dead_owner_reclaimed(tmpdir):
    """A lockfile whose recorded owner pid is dead must be taken over
    automatically instead of wedging every commit until a manual rm
    (the crashed-committer scenario: acquire, then kill -9)."""
    import json
    import socket
    import subprocess
    import time

    from dogsheep_beta_spark.streaming import incremental as inc

    base = os.path.join(tmpdir, "layout")
    lock = base + ".manifest.lock"
    # a real process, exited AND reaped → provably dead pid
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead_pid = proc.pid
    with open(lock, "w") as f:
        json.dump(
            {
                "pid": dead_pid,
                "host": socket.gethostname(),
                "acquired_unix": time.time(),
            },
            f,
        )
    t0 = time.monotonic()
    with inc._manifest_lock(base, timeout=5.0):
        pass  # acquired despite the pre-existing lockfile
    assert time.monotonic() - t0 < 2.0  # takeover, not timeout
    assert not os.path.exists(lock)


def test_manifest_lock_live_owner_still_blocks(tmpdir):
    """A lock held by a LIVE process must still block (and time out)
    — staleness is owner-death, not mere existence."""
    import json
    import socket
    import time

    from dogsheep_beta_spark.streaming import incremental as inc

    base = os.path.join(tmpdir, "layout")
    with open(base + ".manifest.lock", "w") as f:
        json.dump(
            {
                "pid": os.getpid(),  # this very process: alive
                "host": socket.gethostname(),
                "acquired_unix": time.time(),
            },
            f,
        )
    with pytest.raises(TimeoutError):
        with inc._manifest_lock(base, timeout=0.3):
            pass
    assert inc.force_unlock(base)  # documented escape hatch
    with inc._manifest_lock(base, timeout=1.0):
        pass


def test_empty_manifest_not_treated_as_missing(spark, tmpdir):
    """A committed manifest with files: [] is a real (empty) snapshot:
    commit_appended_files must NOT fall back to directory listing,
    which would resurrect files the manifest deliberately excludes."""
    import pandas as pd

    from dogsheep_beta_spark.streaming import incremental as inc

    base = os.path.join(tmpdir, "layout")
    os.makedirs(base)
    # a stray data file on disk that the (empty) manifest excludes
    pd.DataFrame({"vec_id": [999], "cell": [0]}).to_parquet(
        os.path.join(base, "stray.parquet")
    )
    with inc._manifest_lock(base):
        inc._write_manifest(base, [])
    assert inc.read_manifest(base) == []
    # an append commit must carry forward ONLY the manifest's file set
    staging = os.path.join(tmpdir, "staging")
    os.makedirs(staging)
    pd.DataFrame({"vec_id": [1], "cell": [0]}).to_parquet(
        os.path.join(staging, "batch0.parquet")
    )
    inc.commit_appended_files(base, staging)
    assert inc.read_manifest(base) == ["batch0.parquet"]  # no stray
    got = {r["vec_id"] for r in inc.read_layout(spark, base).collect()}
    assert got == {1}


def test_incremental_fts_honors_analyzer_spec(spark, tmpdir):
    """Round-6: the streamed postings delta must tokenize with the
    index's OWN analyzer spec — a default-tokenized delta against a
    porter/tokenchars index would silently fork the term dictionary.
    Convergence vs the batch build under a porter + tokenchars spec."""
    from dogsheep_beta_spark.operators.fts_index import build_fts_index
    from dogsheep_beta_spark.streaming.incremental import (
        incremental_fts_stream,
    )

    mode = "unicode61 tokenchars '#'"
    src = os.path.join(tmpdir, "src")
    index_path = os.path.join(tmpdir, "index")
    fts_path = os.path.join(tmpdir, "fts")
    ckpt = os.path.join(tmpdir, "ckpt")
    schema = "key int, title string, search_1 string"
    rows = [
        (1, "running #dogfest", "searching things"),
        (2, "#dogfest parties", None),
    ]
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = incremental_fts_stream(
        spark, stream, index_path, fts_path, "s.db/t", ckpt,
        mode=mode, stem=True,
    )
    q.awaitTermination(60)

    def canon(df):
        return sorted(
            (r["term"], r["key"], r["field"], r["tf"], tuple(r["positions"]))
            for r in df.collect()
        )

    streamed = canon(spark.read.parquet(os.path.join(fts_path, "postings")))
    batch_fts = build_fts_index(
        spark.read.parquet(index_path), mode=mode, stem=True, persist=False
    )
    assert streamed == canon(batch_fts.postings)
    terms = {t for t, *_ in streamed}
    assert "#dogfest" in terms  # tokenchars respected
    assert "run" in terms and "search" in terms  # porter respected


def test_manifest_lock_unparsable_stale_by_age(tmpdir):
    """A legacy/unparsable lockfile (no owner record) is reclaimed only
    past the age threshold — young foreign locks still block."""
    import time

    from dogsheep_beta_spark.streaming import incremental as inc

    base = os.path.join(tmpdir, "layout")
    lock = base + ".manifest.lock"
    with open(lock, "w") as f:
        f.write("")  # legacy empty lockfile
    # fresh → not stale → blocks and times out
    with pytest.raises(TimeoutError):
        with inc._manifest_lock(base, timeout=0.3):
            pass
    # age it past the threshold → reclaimed
    old = time.time() - 120
    os.utime(lock, (old, old))
    with inc._manifest_lock(base, timeout=5.0):
        pass
    assert not os.path.exists(lock)


def test_streaming_minhash_dedup_converges_to_batch(spark, tmpdir):
    """Incremental near-dup detection == batch minhash_lsh_pairs over
    the same final corpus, regardless of batch boundaries: cross-batch
    duplicate pairs surface when the LATER doc arrives, in-batch pairs
    immediately, and nothing is emitted twice."""
    from dogsheep_beta_spark.operators.dedup import minhash_lsh_pairs
    from dogsheep_beta_spark.streaming.incremental import (
        read_minhash_matches,
        streaming_minhash_dedup,
    )

    src = os.path.join(tmpdir, "src")
    root = os.path.join(tmpdir, "mh")
    ckpt = os.path.join(tmpdir, "ckpt")
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog and keeps going"
    rows1 = [
        (1, base),
        (2, base),  # exact dup of 1 (in-batch pair)
        (3, "completely different content about spark sql engines here"),
        (4, base.replace("dog", "cat")),  # near dup of 1/2
    ]
    rows2 = [
        (5, base),  # dup of 1 and 2 — CROSS-batch pairs
        (6, "another unrelated document with its own words entirely"),
        (7, base.replace("dog", "cat")),  # dup of 4 cross-batch, near 1/2/5
    ]

    def run(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = streaming_minhash_dedup(stream, root, ckpt, "doc_id", "text")
        q.awaitTermination(120)

    run(rows1)
    run(rows2)

    got = {
        (r["a"], r["b"]): round(r["jaccard"], 6)
        for r in read_minhash_matches(spark, root).collect()
    }
    full = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        (r["a"], r["b"]): round(r["jaccard"], 6)
        for r in minhash_lsh_pairs(full, "doc_id", "text").collect()
    }
    assert got == want
    assert got[(1, 2)] == 1.0 and got[(1, 5)] == 1.0  # in- and cross-batch
    assert (4, 7) in got and got[(4, 7)] == 1.0
    # no duplicated pair rows in the raw store either
    raw = spark.read.parquet(os.path.join(root, "matches"))
    assert raw.count() == raw.select("a", "b").distinct().count()


def test_streaming_sessionize_string_keys(spark, tmpdir):
    """The output schema derives the key type from the stream — string
    user ids (the common case) used to hit a hardcoded `long`."""
    from datetime import datetime

    from dogsheep_beta_spark.streaming.incremental import streaming_sessionize

    def ts(s):
        return datetime.fromisoformat(s)

    rows = [
        ("alice", ts("2024-01-01 10:00:00")),
        ("alice", ts("2024-01-01 10:00:30")),
        ("alice", ts("2024-01-01 11:00:00")),  # closes session 1
        ("bob", ts("2024-01-01 10:00:00")),
    ]
    src = os.path.join(tmpdir, "sess_str_src")
    batch_df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    batch_df.write.parquet(src)
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = streaming_sessionize(stream, "user_id", "ts", gap_seconds=60)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_str_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["user_id"], r["session_seq"], r["n_events"])
        for r in spark.table("sess_str_test").collect()
    ]
    assert got == [("alice", 1, 2)]  # bob's session is still open


def test_streaming_semantic_dedup_converges_to_batch(spark, tmpdir):
    """Incremental SemDeDup == batch embedding_dup_pairs over the same
    final corpus and fixed centroids, regardless of batch boundaries:
    cross-batch near-dup pairs surface when the LATER vector arrives,
    in-batch pairs immediately, nothing twice."""
    from dogsheep_beta_spark.operators.dedup import embedding_dup_pairs
    from dogsheep_beta_spark.operators.similarity import voronoi_assign
    from dogsheep_beta_spark.streaming.incremental import (
        read_semantic_matches,
        streaming_semantic_dedup,
    )

    src = os.path.join(tmpdir, "sem_src")
    root = os.path.join(tmpdir, "sem")
    ckpt = os.path.join(tmpdir, "sem_ckpt")
    schema = "vec_id long, embedding array<double>"
    rows1 = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),   # in-batch near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    rows2 = [
        (5, [0.998, 0.06, 0.0]),   # CROSS-batch near-dup of 1 and 2
        (6, [0.0, 0.995, 0.1]),    # cross-batch near-dup of 3
    ]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cell int, centroid array<double>",
    )

    def run(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = streaming_semantic_dedup(stream, root, ckpt, cents, tau=0.99)
        q.awaitTermination(120)

    run(rows1)
    run(rows2)

    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in read_semantic_matches(spark, root).collect()
    }
    full = spark.createDataFrame(rows1 + rows2, schema)
    assigned = voronoi_assign(full, "vec_id", "embedding", cents)
    want = {
        (r["a"], r["b"]): round(r["cosine"], 6)
        for r in embedding_dup_pairs(
            assigned, "vec_id", "embedding", "cell", gemm=False
        ).collect()
        if round(r["cosine"], 6) >= 0.99
    }
    assert got == want
    assert (1, 2) in got          # in-batch
    assert (1, 5) in got and (2, 5) in got  # cross-batch
    assert (3, 6) in got
    assert (3, 4) not in got      # different cells / below tau
    # replayed pairs deduplicated at read; raw store has unique pairs
    raw = spark.read.parquet(os.path.join(root, "matches"))
    assert raw.count() == raw.select("a", "b").distinct().count()


def test_streaming_semantic_dedup_redelivery_is_dropped(spark, tmpdir):
    """Ids are stable stream keys: a redelivered id (batch 2 re-sends
    id 1, even with a perturbed vector that still lands in the same
    cell) pairs with its STORED copy authoritative — no second store
    row, no contradictory cosine.  Under the r10 crash-replayable
    contract redelivered ids DO re-emit their pairs (that is what
    makes a crash between the two appends lossless), but every
    re-emission is byte-identical to the original (stored vectors, not
    the perturbed redelivery), so the read-path dropDuplicates is
    value-deterministic."""
    from dogsheep_beta_spark.streaming.incremental import (
        read_semantic_matches,
        streaming_semantic_dedup,
    )

    src = os.path.join(tmpdir, "re_src")
    root = os.path.join(tmpdir, "re")
    ckpt = os.path.join(tmpdir, "re_ckpt")
    schema = "vec_id long, embedding array<double>"
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cell int, centroid array<double>",
    )

    def run(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = streaming_semantic_dedup(stream, root, ckpt, cents, tau=0.99)
        assert q.awaitTermination(120)

    run([(1, [1.0, 0.0]), (2, [0.999, 0.01])])
    run([(1, [0.998, 0.02]), (3, [0.997, 0.03])])  # id 1 redelivered

    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in read_semantic_matches(spark, root).collect()
    }
    # (1,2) from batch 1; (1,3)/(2,3) from batch 2 against the STORED
    # v1 of id 1 (not the perturbed redelivery)
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    import math

    def cos(u, w):
        d = sum(x * y for x, y in zip(u, w))
        return round(
            d
            / (
                math.sqrt(sum(x * x for x in u))
                * math.sqrt(sum(x * x for x in w))
            ),
            6,
        )

    # every surviving cosine was computed from STORED vectors
    v = {1: [1.0, 0.0], 2: [0.999, 0.01], 3: [0.997, 0.03]}
    for (a, b), c in got.items():
        assert c == pytest.approx(cos(v[a], v[b]), abs=1e-9)
    # raw table: re-emissions allowed, but only as byte-identical
    # copies — each (a, b) carries exactly ONE distinct cosine
    raw = spark.read.parquet(os.path.join(root, "matches"))
    per_pair = (
        raw.groupBy("a", "b")
        .agg(F.countDistinct("cosine").alias("nc"))
        .collect()
    )
    assert per_pair and all(r["nc"] == 1 for r in per_pair)
    store = spark.read.parquet(os.path.join(root, "store"))
    assert store.count() == 3  # one row per distinct id
    # id 1's stored vector is the ORIGINAL
    v1 = store.where(F.col("id") == 1).collect()[0]["v"]
    assert v1 == [1.0, 0.0]


def test_streaming_semantic_pivot_prune_is_lossless(spark, tmpdir):
    """The round-7 growth remedy (fixed-pivot band prune on the
    new×old join) is LOSSLESS: the match table stays byte-equal to the
    batch generator over the final corpus — and to a second stream fed
    the same rows in a different batch arrangement (arrival-order
    independence), with a fixture spanning tight near-dup clusters,
    spread vectors crossing band boundaries, and a zero-norm row."""
    import shutil

    from dogsheep_beta_spark.operators.dedup import embedding_dup_pairs
    from dogsheep_beta_spark.operators.similarity import voronoi_assign
    from dogsheep_beta_spark.streaming.incremental import (
        read_semantic_matches,
        streaming_semantic_dedup,
    )

    schema = "vec_id long, embedding array<double>"
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cell int, centroid array<double>",
    )
    # 24 vectors in 2 cells: near-dup clusters + spread + a zero vector
    rows = []
    for i in range(10):
        rows.append((i, [1.0, 0.001 * i, 0.0]))          # tight cluster, cell 0
    for i in range(10, 18):
        rows.append((i, [1.0, 0.4 + 0.1 * i, 0.05 * i]))  # spread, cell 0/1
    for i in range(18, 23):
        rows.append((i, [0.001 * i, 1.0, 0.0]))           # cluster, cell 1
    rows.append((23, [0.0, 0.0, 0.0]))                    # zero-norm

    def run_stream(tag, batches):
        src = os.path.join(tmpdir, f"sr_src_{tag}")
        root = os.path.join(tmpdir, f"sr_{tag}")
        ckpt = os.path.join(tmpdir, f"sr_ck_{tag}")
        for b in batches:
            spark.createDataFrame(b, schema).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)
            q = streaming_semantic_dedup(stream, root, ckpt, cents, tau=0.98)
            assert q.awaitTermination(180)
        got = {
            (r["a"], r["b"]): r["cosine"]
            for r in read_semantic_matches(spark, root).collect()
        }
        # the band index is actually engaged (rows carry real bands)
        st = spark.read.parquet(os.path.join(root, "store"))
        assert st.where(F.col("b1") >= 0).count() > 0
        assert st.where(F.col("b1") == -999).count() == 1  # the zero row
        return got

    got_a = run_stream("a", [rows[:6], rows[6:12], rows[12:20], rows[20:]])
    got_b = run_stream("b", [rows[:15], rows[15:16], rows[16:]])

    full = spark.createDataFrame(rows, schema)
    assigned = voronoi_assign(full, "vec_id", "embedding", cents)
    want = {
        (r["a"], r["b"]): round(r["cosine"], 6)
        for r in embedding_dup_pairs(
            assigned, "vec_id", "embedding", "cell", gemm=False
        ).collect()
        if r["cosine"] is not None and round(r["cosine"], 6) >= 0.98
    }
    assert want, "fixture produced no dup pairs — test is vacuous"
    assert got_a == want
    assert got_b == want
    shutil.rmtree(os.path.join(str(tmpdir)), ignore_errors=True)


def test_streaming_kmv_distinct_converges_to_batch(spark, tmpdir):
    """The streamed KMV synopsis after N batches is the IDENTICAL hash
    set (not just a similar estimate) to the batch sketch over the
    union — the union-merge law — and is arrival-order independent."""
    from dogsheep_beta_spark.operators.sketches import kmv_distinct, kmv_sketch
    from dogsheep_beta_spark.streaming.incremental import (
        read_kmv_estimate,
        streaming_kmv_distinct,
    )

    schema = "user_id long"
    batches = [
        [(i,) for i in range(0, 300)],
        [(i,) for i in range(200, 500)],  # overlap with batch 1
        [(i,) for i in range(450, 700)],
    ]

    def run_all(order, tag):
        src = os.path.join(tmpdir, f"src_{tag}")
        root = os.path.join(tmpdir, f"kmv_{tag}")
        ckpt = os.path.join(tmpdir, f"ckpt_{tag}")
        for rows in order:
            spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)
            q = streaming_kmv_distinct(stream, root, ckpt, "user_id", k=64)
            q.awaitTermination(120)
        return root

    root = run_all(batches, "fwd")
    sk = spark.read.parquet(os.path.join(root, "sketch"))
    full = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = kmv_sketch(full, "user_id", k=64)
    assert [r.h for r in sk.orderBy("h").collect()] == [
        r.h for r in want.collect()
    ]
    [est] = read_kmv_estimate(spark, root, k=64).collect()
    [bat] = kmv_distinct(full, "user_id", k=64).collect()
    assert tuple(est) == tuple(bat)

    # arrival order does not matter
    root2 = run_all(list(reversed(batches)), "rev")
    sk2 = spark.read.parquet(os.path.join(root2, "sketch"))
    assert sorted(r.h for r in sk2.collect()) == sorted(r.h for r in sk.collect())


def test_streaming_cms_converges_to_batch(spark, tmpdir):
    """The streamed CMS after N batches equals the batch sketch over
    the union (addition-merge law) — identical (row, bucket, n)."""
    from dogsheep_beta_spark.operators.sketches import cms_build
    from dogsheep_beta_spark.streaming.incremental import (
        read_cms_sketch,
        streaming_cms_freq,
    )

    schema = "v long"
    batches = [
        [(i % 40,) for i in range(200)],
        [(i % 25,) for i in range(150)],
        [(7,)] * 50,
    ]
    src = os.path.join(tmpdir, "src")
    root = os.path.join(tmpdir, "cms")
    ckpt = os.path.join(tmpdir, "ckpt")
    for rows in batches:
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = streaming_cms_freq(stream, root, ckpt, "v", width=64, depth=3)
        q.awaitTermination(120)

    got = {
        (r.row, r.bucket): r.n for r in read_cms_sketch(spark, root).collect()
    }
    full = spark.createDataFrame([r for b in batches for r in b], schema)
    want = {
        (r.row, r.bucket): r.n
        for r in cms_build(full, "v", width=64, depth=3).collect()
    }
    assert got == want


def test_streaming_cms_redelivery_is_dropped(spark, tmpdir):
    """foreachBatch is at-least-once: re-delivering an already-merged
    batch_id must be a no-op, not a double count."""
    from dogsheep_beta_spark.streaming.incremental import (
        merge_cms_batch,
        read_cms_sketch,
    )

    root = os.path.join(tmpdir, "cms")
    b0 = spark.createDataFrame([(1,), (1,), (2,)], "v long")
    b1 = spark.createDataFrame([(2,), (3,)], "v long")
    merge_cms_batch(spark, b0, 0, root, "v", width=64, depth=3)
    merge_cms_batch(spark, b1, 1, root, "v", width=64, depth=3)
    want = sorted(
        (r.row, r.bucket, r.n) for r in read_cms_sketch(spark, root).collect()
    )
    # replay of the LAST batch (crash-after-publish recovery) is a no-op
    merge_cms_batch(spark, b1, 1, root, "v", width=64, depth=3)
    got = sorted(
        (r.row, r.bucket, r.n) for r in read_cms_sketch(spark, root).collect()
    )
    assert got == want
    # an OLDER id means a checkpoint reset — loud error, not a freeze
    import pytest as _pytest

    with _pytest.raises(ValueError, match="checkpoint was reset"):
        merge_cms_batch(spark, b0, 0, root, "v", width=64, depth=3)


def test_streaming_gram_converges_to_batch(spark, tmpdir):
    """Streamed integer Gram == batch quantized_gram over the union
    (addition-merge law), replay-guarded like the CMS merge."""
    import numpy as np

    from dogsheep_beta_spark.operators.linalg import quantized_gram
    from dogsheep_beta_spark.streaming.incremental import (
        merge_gram_batch,
        read_gram,
        streaming_gram,
    )

    rng = np.random.RandomState(5)
    all_rows = [
        (i, [float(x) for x in rng.randn(4).astype(np.float32)])
        for i in range(90)
    ]
    schema = "vec_id long, embedding array<float>"
    src = os.path.join(tmpdir, "src")
    root = os.path.join(tmpdir, "gram")
    ckpt = os.path.join(tmpdir, "ckpt")
    for lo in (0, 30, 60):
        spark.createDataFrame(all_rows[lo : lo + 30], schema).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = streaming_gram(stream, root, ckpt, "embedding", dim=4)
        q.awaitTermination(120)

    got = [(r.i, r.j, r.gram) for r in read_gram(spark, root).collect()]
    full = spark.createDataFrame(all_rows, schema)
    want = [
        (r.i, r.j, r.gram)
        for r in quantized_gram(full, "embedding", dim=4).collect()
    ]
    assert got == want
    # replay guard: equal id no-ops, older id raises
    b = spark.createDataFrame(all_rows[:5], schema)
    import pytest as _pytest

    last = spark.read.parquet(os.path.join(root, "gram")).agg(
        F.max("last_batch")
    ).collect()[0][0]
    merge_gram_batch(spark, b, int(last), root, "embedding", 4)
    assert [(r.i, r.j, r.gram) for r in read_gram(spark, root).collect()] == want
    with _pytest.raises(ValueError, match="checkpoint reset"):
        merge_gram_batch(spark, b, int(last) - 1, root, "embedding", 4)


def test_streaming_semantic_null_embeddings_are_inert(spark, tmpdir):
    """NULL embeddings in a micro-batch (even as the first/only rows)
    must neither crash the merge nor ever match: they store for
    redelivery semantics, band to the never-probed sentinel, and the
    match table equals the batch generator over the non-null rows."""
    from dogsheep_beta_spark.streaming.incremental import (
        merge_semantic_batch,
        read_semantic_matches,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cell int, centroid array<double>"
    )
    root = os.path.join(tmpdir, "semnull")
    schema = "vec_id long, embedding array<double>"
    b1 = spark.createDataFrame(
        [(1, None), (2, None)], schema
    )  # all-NULL first batch
    merge_semantic_batch(spark, b1, 0, root, cents, tau=0.9)
    b2 = spark.createDataFrame(
        [(3, [1.0, 0.0]), (4, [0.999, 0.02]), (5, None)], schema
    )
    merge_semantic_batch(spark, b2, 1, root, cents, tau=0.9)
    got = {
        (r["a"], r["b"])
        for r in read_semantic_matches(spark, root).collect()
    }
    assert got == {(3, 4)}  # NULL rows never pair
    store = spark.read.parquet(os.path.join(root, "store"))
    assert store.count() == 5  # but all ids are stored
    assert store.where(F.col("b1") == -999).count() == 3


def test_semantic_store_legacy_upgrade(spark, tmpdir):
    """ADVICE r7: a pre-round-7 semantic store (no pivot-band columns)
    must have a migration path.  upgrade_semantic_store recomputes
    rd1/rd2/b1/b2 with the native recipe, so an upgraded store equals a
    natively-written one row for row — and the stream continues
    correctly afterwards."""
    import shutil

    from dogsheep_beta_spark.streaming.incremental import (
        merge_semantic_batch,
        read_semantic_matches,
        upgrade_semantic_store,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, centroid array<double>"
    )
    root = os.path.join(tmpdir, "semup")
    schema = "vec_id long, embedding array<double>"
    merge_semantic_batch(
        spark,
        spark.createDataFrame(
            [(1, [1.0, 0.01]), (2, [0.02, 1.0]), (3, None)], schema
        ),
        0, root, cents, tau=0.9,
    )
    store_path = os.path.join(root, "store")
    native = sorted(
        map(tuple, spark.read.parquet(store_path).collect())
    )

    # simulate the legacy layout: same rows, geometry columns dropped
    legacy = spark.read.parquet(store_path).select("id", "v", "cell")
    tmp = store_path + ".__mk_legacy__"
    legacy.write.mode("overwrite").partitionBy("cell").parquet(tmp)
    shutil.rmtree(store_path)
    os.rename(tmp, store_path)

    # the merge refuses the legacy store and names the upgrade helper
    with pytest.raises(ValueError, match="upgrade_semantic_store"):
        merge_semantic_batch(
            spark,
            spark.createDataFrame([(4, [1.0, 0.0])], schema),
            1, root, cents, tau=0.9,
        )

    # one-shot upgrade: byte-equal to the natively-written store
    assert upgrade_semantic_store(spark, root, tau=0.9) is True
    upgraded = sorted(
        map(tuple, spark.read.parquet(store_path).collect())
    )
    assert upgraded == native
    # idempotent: second call is a no-op
    assert upgrade_semantic_store(spark, root, tau=0.9) is False

    # and the stream continues: a near-dup of id 1 matches post-upgrade
    merge_semantic_batch(
        spark,
        spark.createDataFrame([(4, [0.999, 0.012])], schema),
        1, root, cents, tau=0.9,
    )
    got = {
        (r["a"], r["b"])
        for r in read_semantic_matches(spark, root).collect()
    }
    assert (1, 4) in got


def test_semantic_upgrade_crash_recovery(spark, tmpdir):
    """ADVICE r8: upgrade_semantic_store's swap is two non-atomic
    renames.  A crash between them (no live store, complete
    .__upgrade__) must be completed on re-run — not reported as 'store
    absent', which would make the next merge silently treat history as
    empty.  A legacy dir with no upgraded copy must raise, and a
    current store must clean up leftover swap debris."""
    import shutil

    from dogsheep_beta_spark.streaming.incremental import (
        merge_semantic_batch,
        upgrade_semantic_store,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, centroid array<double>"
    )
    root = os.path.join(tmpdir, "semcrash")
    schema = "vec_id long, embedding array<double>"
    merge_semantic_batch(
        spark,
        spark.createDataFrame([(1, [1.0, 0.01]), (2, [0.02, 1.0])], schema),
        0, root, cents, tau=0.9,
    )
    store = os.path.join(root, "store")
    native = sorted(map(tuple, spark.read.parquet(store).collect()))

    # crash window: first rename done (store -> .__legacy__), second
    # not (.__upgrade__ still aside).  Use the current store itself as
    # the upgraded copy — recovery only shuffles directories.
    shutil.copytree(store, store + ".__upgrade__")
    os.rename(store, store + ".__legacy__")
    assert upgrade_semantic_store(spark, root, tau=0.9) is True
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == native
    assert not os.path.isdir(store + ".__legacy__")
    assert not os.path.isdir(store + ".__upgrade__")

    # legacy-only wreckage (upgraded copy lost) is NOT silently empty
    os.rename(store, store + ".__legacy__")
    with pytest.raises(RuntimeError, match="half-finished"):
        upgrade_semantic_store(spark, root, tau=0.9)
    os.rename(store + ".__legacy__", store)

    # current store + leftover debris: no-op that clears the debris
    shutil.copytree(store, store + ".__legacy__")
    assert upgrade_semantic_store(spark, root, tau=0.9) is False
    assert not os.path.isdir(store + ".__legacy__")


def test_streaming_semantic_pivot_prune_fuzz(spark, tmpdir):
    """Seeded fuzz for the pivot prune's LOSSLESSNESS: random vector
    sets (clusters + noise + boundary-ish pairs), random batch splits
    — the streamed match table must equal the batch generator for
    every seed.  Complements the hand-built fixture with shapes nobody
    hand-picked."""
    import random

    from dogsheep_beta_spark.operators.dedup import embedding_dup_pairs
    from dogsheep_beta_spark.operators.similarity import voronoi_assign
    from dogsheep_beta_spark.streaming.incremental import (
        merge_semantic_batch,
        read_semantic_matches,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cell int, centroid array<double>",
    )
    schema = "vec_id long, embedding array<double>"
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        rows = []
        vid = 0
        # a few tight clusters around random directions + noise
        for _ in range(4):
            base = [rng.uniform(-1, 1) for _ in range(3)]
            for _ in range(rng.randint(2, 6)):
                rows.append(
                    (
                        vid,
                        [x + rng.uniform(-0.02, 0.02) for x in base],
                    )
                )
                vid += 1
        for _ in range(10):
            rows.append((vid, [rng.uniform(-1, 1) for _ in range(3)]))
            vid += 1
        tau = 0.97
        root = os.path.join(tmpdir, f"fz{seed}")
        # random batch split
        k = rng.randint(1, len(rows) - 1)
        for j, batch in enumerate((rows[:k], rows[k:])):
            merge_semantic_batch(
                spark,
                spark.createDataFrame(batch, schema),
                j,
                root,
                cents,
                tau=tau,
            )
        got = {
            (r["a"], r["b"]): r["cosine"]
            for r in read_semantic_matches(spark, root).collect()
        }
        full = spark.createDataFrame(rows, schema)
        assigned = voronoi_assign(full, "vec_id", "embedding", cents)
        want = {
            (r["a"], r["b"]): round(r["cosine"], 6)
            for r in embedding_dup_pairs(
                assigned, "vec_id", "embedding", "cell", gemm=False
            ).collect()
            if r["cosine"] is not None and round(r["cosine"], 6) >= tau
        }
        assert got == want, (seed, got.keys() ^ want.keys())


def test_minhash_merge_failure_joins_inflight_writes(spark, tmpdir, monkeypatch):
    """ADVICE r8: the band-index append is submitted to a thread pool
    BEFORE candidate generation; if verification raises, the pool must
    be shut down (joining the in-flight append) before the exception
    propagates — an orphaned append racing the replay's anti-join would
    re-append the same (id, band) rows and leak a thread per failure."""
    import threading

    from dogsheep_beta_spark.streaming import incremental as inc

    root = os.path.join(tmpdir, "mh_fail")
    # near-identical docs so the batch generates candidates (forcing
    # the candidate-scoped store read — the 3rd _read_partitioned call)
    b = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again!"),
        ],
        "doc_id long, text string",
    )
    real = inc._read_partitioned
    calls = {"n": 0}

    def boom(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected store-read failure")
        return real(*a, **kw)

    monkeypatch.setattr(inc, "_read_partitioned", boom)
    before = {t.ident for t in threading.enumerate()}
    with pytest.raises(RuntimeError, match="injected"):
        inc.merge_minhash_batch(spark, b, 0, root, "doc_id", "text")
    assert calls["n"] == 3  # the injection point was reached
    # pool shut down on the exception path: no leaked worker thread
    leaked = [
        t
        for t in threading.enumerate()
        if t.ident not in before and "ThreadPoolExecutor" in t.name
    ]
    assert not leaked
    # the append was JOINED, not orphaned: the index is already complete
    idx0 = spark.read.parquet(os.path.join(root, "band_index"))
    n0 = idx0.count()
    assert n0 > 0
    # replay of the failed batch: anti-join sees the completed append —
    # no duplicate (id, band) rows, and the near-dup pair is found
    monkeypatch.setattr(inc, "_read_partitioned", real)
    inc.merge_minhash_batch(spark, b, 0, root, "doc_id", "text")
    idx = spark.read.parquet(os.path.join(root, "band_index"))
    assert idx.count() == n0
    assert idx.groupBy("id", "band").count().where("count > 1").count() == 0
    got = {
        (r["a"], r["b"])
        for r in inc.read_minhash_matches(spark, root).collect()
    }
    assert got == {(1, 2)}


def test_minhash_replay_is_idempotent_for_candidateless_docs(spark, tmpdir):
    """Round-8 regression: a replayed batch must not duplicate STORE
    rows for docs that produce no candidates on the retry — the append
    anti-join used to be scoped by the CANDIDATE ids' partitions, so a
    candidate-less doc's partition was never read and its row
    re-appended on every replay (permanent store growth).  The scope is
    now the batch's own id partitions, collected in the same header
    aggregate as the band partitions."""
    from dogsheep_beta_spark.streaming.incremental import (
        merge_minhash_batch,
        read_minhash_matches,
    )

    root = os.path.join(tmpdir, "mh_replay")
    b = spark.createDataFrame(
        [
            (1, "utterly unique content alpha beta gamma delta epsilon"),
            (2, "another completely different text with its own words"),
        ],
        "doc_id long, text string",
    )
    merge_minhash_batch(spark, b, 0, root, "doc_id", "text")
    merge_minhash_batch(spark, b, 0, root, "doc_id", "text")  # replay
    store = spark.read.parquet(os.path.join(root, "store"))
    assert store.groupBy("id").count().where("count > 1").count() == 0
    idx = spark.read.parquet(os.path.join(root, "band_index"))
    assert idx.groupBy("id", "band").count().where("count > 1").count() == 0
    assert read_minhash_matches(spark, root).count() == 0


# ---------------------------------------------------------------------------
# randomized crash-point injection (VERDICT r9 #2): kill each streaming
# merge at EVERY write/rename boundary, replay, and demand equivalence
# ---------------------------------------------------------------------------


class _InjectedCrash(RuntimeError):
    pass


class _CrashInjector:
    """Counts 'events' (a pre- and a post- boundary around every
    DataFrame parquet write and every os.replace under the armed root)
    and raises _InjectedCrash at exactly one chosen event — modelling a
    process death just before / just after each durable effect.  The
    merges run their appends on a thread pool, so which op is event #k
    varies run to run; the sweep covers real interleavings either way.
    Thread-safe; restricted by path prefix so Spark's own machinery is
    never disturbed."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self.root = None
        self.fail_event = None
        self.events = 0

    def arm(self, root, fail_event=None):
        with self._lock:
            self.root = root
            self.fail_event = fail_event
            self.events = 0

    def disarm(self):
        with self._lock:
            self.root = None
            self.fail_event = None

    def _boundary(self, path):
        with self._lock:
            if self.root is None or not str(path).startswith(self.root):
                return
            e = self.events
            self.events += 1
            if self.fail_event is not None and e == self.fail_event:
                raise _InjectedCrash(f"injected at event {e} ({path})")


@pytest.fixture()
def crash_injector(monkeypatch):
    import os as _os

    from pyspark.sql.readwriter import DataFrameWriter

    inj = _CrashInjector()
    orig_parquet = DataFrameWriter.parquet
    orig_replace = _os.replace
    orig_rename = _os.rename

    def patched_parquet(self, path, **kw):
        inj._boundary(path)
        r = orig_parquet(self, path, **kw)
        inj._boundary(path)
        return r

    def patched_replace(src, dst, **kw):
        inj._boundary(dst)
        r = orig_replace(src, dst, **kw)
        inj._boundary(dst)
        return r

    def patched_rename(src, dst, **kw):
        inj._boundary(dst)
        r = orig_rename(src, dst, **kw)
        inj._boundary(dst)
        return r

    monkeypatch.setattr(DataFrameWriter, "parquet", patched_parquet)
    monkeypatch.setattr(_os, "replace", patched_replace)
    monkeypatch.setattr(_os, "rename", patched_rename)
    yield inj


def _sweep_crash_points(spark, tmpdir, inj, name, apply_batch, snapshot,
                        n_batches=3, crash_batches=(1,)):
    """For each batch in ``crash_batches`` of an n-batch scenario:
    count its write/rename events, then for EVERY event index run
    fresh stores, crash there, replay the batch (foreachBatch
    redelivery), finish the scenario, and assert the read-back state
    equals an uninterrupted run's."""
    import shutil

    # uninterrupted reference
    ref = os.path.join(tmpdir, f"{name}_ref")
    for b in range(n_batches):
        apply_batch(ref, b)
    want = snapshot(ref)

    for cb in crash_batches:
        # count the crash batch's events
        cnt = os.path.join(tmpdir, f"{name}_cnt{cb}")
        for b in range(cb):
            apply_batch(cnt, b)
        inj.arm(cnt)
        apply_batch(cnt, cb)
        n_events = inj.events
        inj.disarm()
        assert n_events >= 2, f"{name}: injector saw no write boundaries"

        for fp in range(n_events):
            root = os.path.join(tmpdir, f"{name}_b{cb}_fp{fp}")
            shutil.rmtree(root, ignore_errors=True)
            for b in range(cb):
                apply_batch(root, b)
            inj.arm(root, fail_event=fp)
            with pytest.raises(_InjectedCrash):
                apply_batch(root, cb)
            inj.disarm()
            apply_batch(root, cb)  # redelivery of the crashed batch
            for b in range(cb + 1, n_batches):
                apply_batch(root, b)
            got = snapshot(root)
            assert got == want, (
                f"{name}: diverged after crash at batch {cb} "
                f"event {fp}/{n_events}"
            )


@pytest.mark.slow
def test_crash_injection_minhash_merge(spark, tmpdir, crash_injector):
    """Every write boundary of merge_minhash_batch is crash-replayable:
    matches (deduped), store content and band index all converge to
    the uninterrupted run."""
    from dogsheep_beta_spark.streaming.incremental import (
        merge_minhash_batch,
        read_minhash_matches,
    )

    batches = [
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely unrelated text about spark query planning"),
        ],
        [
            (4, "the quick brown fox jumps over the lazy dog today"),
            (5, "completely unrelated text about spark query planning"),
        ],
        [
            (6, "the quick brown fox jumps over the lazy dog tonight"),
            (7, "fresh words never seen before in any earlier batch"),
        ],
    ]

    def apply_batch(root, b):
        bdf = spark.createDataFrame(batches[b], "doc_id long, text string")
        merge_minhash_batch(spark, bdf, b, root, "doc_id", "text")

    def snapshot(root):
        matches = sorted(
            (r["a"], r["b"], round(r["jaccard"], 9))
            for r in read_minhash_matches(spark, root).collect()
        )
        store = sorted(
            (r["id"], tuple(sorted(r["shingles"])))
            for r in spark.read.parquet(os.path.join(root, "store"))
            .select("id", "shingles").distinct().collect()
        )
        idx = sorted(
            map(
                tuple,
                spark.read.parquet(os.path.join(root, "band_index"))
                .select("id", "band", "bucket").distinct().collect(),
            )
        )
        return (matches, store, idx)

    _sweep_crash_points(
        spark, tmpdir, crash_injector, "mh", apply_batch, snapshot
    )


@pytest.mark.slow
def test_crash_injection_semantic_merge(spark, tmpdir, crash_injector):
    """Every write boundary of merge_semantic_batch is crash-replayable
    — including the store-written/matches-lost interleaving that the
    pre-r10 new-rows-only pairing lost forever (the fix this sweep
    forced: pairing runs over the full batch with stored copies
    authoritative)."""
    from dogsheep_beta_spark.streaming.incremental import (
        merge_semantic_batch,
        read_semantic_matches,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, centroid array<double>"
    )
    batches = [
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (10, [0.0, 1.0])],
        [(3, [0.998, 0.02]), (11, [0.01, 1.0])],
        [(4, [0.997, 0.03]), (12, [0.02, 1.0])],
    ]

    def apply_batch(root, b):
        bdf = spark.createDataFrame(
            batches[b], "vec_id long, embedding array<double>"
        )
        merge_semantic_batch(spark, bdf, b, root, cents, tau=0.9)

    def snapshot(root):
        matches = sorted(
            (r["a"], r["b"], round(r["cosine"], 9))
            for r in read_semantic_matches(spark, root).collect()
        )
        store = sorted(
            (r["id"], tuple(r["v"]), r["cell"])
            for r in spark.read.parquet(os.path.join(root, "store"))
            .select("id", "v", "cell").distinct().collect()
        )
        return (matches, store)

    _sweep_crash_points(
        spark, tmpdir, crash_injector, "sem", apply_batch, snapshot,
        crash_batches=(0, 1),
    )


@pytest.mark.slow
def test_crash_injection_ivf_manifest_commit(spark, tmpdir, crash_injector):
    """Every write/rename boundary of merge_ivf_batch's manifest-commit
    protocol is crash-replayable: the manifest-pinned read returns
    exactly the reference vectors — including the first-commit crash
    between file moves and the manifest write, where the pre-r10
    dir-listing fallback adopted the crashed attempt's orphans and
    double-committed the replay (the fix this sweep forced: the
    adoption snapshot persists BEFORE any file moves)."""
    from dogsheep_beta_spark.streaming import incremental as inc
    from dogsheep_beta_spark.operators.similarity import centroids

    seed = spark.createDataFrame(
        [(i, [float(i % 2), 1.0], i % 2) for i in range(4)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = centroids(seed, "embedding", "label")
    batches = [list(range(0, 4)), list(range(10, 14)), list(range(20, 24))]

    def apply_batch(root, b):
        bdf = spark.createDataFrame(
            [(i, [float(i % 2), 1.0]) for i in batches[b]],
            "vec_id long, embedding array<double>",
        )
        inc.merge_ivf_batch(
            bdf, cents, os.path.join(root, "cells"),
            commit_token=f"batch:{b}",
        )

    def snapshot(root):
        layout = os.path.join(root, "cells")
        rows = sorted(
            (r["vec_id"], r["cell"])
            for r in inc.read_layout(spark, layout)
            .select("vec_id", "cell").collect()
        )
        # every manifest-listed file must exist on disk
        entry = inc.read_manifest_entry(layout)
        if entry is not None:
            parent = os.path.dirname(layout)
            vdir = inc._find_snapshot_dir(
                parent, os.path.basename(layout), entry
            )
            assert vdir is not None
            for rel in entry["files"]:
                assert os.path.exists(os.path.join(vdir, rel))
        return rows

    _sweep_crash_points(
        spark, tmpdir, crash_injector, "ivf", apply_batch, snapshot,
        crash_batches=(0, 1),
    )


@pytest.mark.slow
def test_crash_injection_objectstore_commit(spark, tmpdir, crash_injector):
    """The object-store (no-rename) commit backend under the SAME
    crash sweep the POSIX manifest protocol is held to (VERDICT r11
    #1): every staging write, every data-object upload, and the
    conditional log put are counted boundaries; a crash at each one,
    replayed via foreachBatch redelivery, must converge to the
    uninterrupted run — with no reader-visible partial state, because
    the only mutation a reader can observe is the atomic appearance of
    one log object."""
    from dogsheep_beta_spark.operators.similarity import centroids
    from dogsheep_beta_spark.storage import objectstore as osm

    inj = crash_injector

    class InjectingStore(osm.EmulatedObjectStore):
        """Boundary pre/post every durable store effect."""

        def put_if_absent(self, key, data):
            p = self._path(key)
            inj._boundary(p)
            r = super().put_if_absent(key, data)
            inj._boundary(p)
            return r

        def put_file_if_absent(self, key, src_path):
            p = self._path(key)
            inj._boundary(p)
            r = super().put_file_if_absent(key, src_path)
            inj._boundary(p)
            return r

        def delete(self, key):
            p = self._path(key)
            inj._boundary(p)
            r = super().delete(key)
            inj._boundary(p)
            return r

    seed = spark.createDataFrame(
        [(i, [float(i % 2), 1.0], i % 2) for i in range(4)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = centroids(seed, "embedding", "label")
    batches = [list(range(0, 4)), list(range(10, 14)), list(range(20, 24))]

    def apply_batch(root, b):
        os.makedirs(root, exist_ok=True)
        store = InjectingStore(os.path.join(root, "bucket"))
        bdf = spark.createDataFrame(
            [(i, [float(i % 2), 1.0]) for i in batches[b]],
            "vec_id long, embedding array<double>",
        )
        osm.merge_ivf_batch_objectstore(
            bdf, cents, store, "ivf",
            commit_token=f"batch:{b}", staging_root=root,
        )

    def snapshot(root):
        store = osm.EmulatedObjectStore(os.path.join(root, "bucket"))
        rows = sorted(
            (r["vec_id"], r["cell"])
            for r in osm.read_layout_objectstore(spark, store, "ivf")
            .select("vec_id", "cell").collect()
        )
        rec = osm.read_latest_record(store, "ivf")
        # every referenced object exists; tokens hold exactly the
        # committed batches (no double-commit leaked into the log)
        assert all(
            store.exists(f"ivf/data/{f}") for f in rec["files"]
        )
        assert rec["tokens"] == [f"batch:{b}" for b in range(3)]
        return rows

    _sweep_crash_points(
        spark, tmpdir, crash_injector, "osivf", apply_batch, snapshot,
        crash_batches=(0, 1),
    )
    # post-sweep hygiene on the last surviving store: vacuum removes
    # the crashed attempts' orphaned uploads without touching the
    # committed state
    roots = sorted(
        d for d in os.listdir(tmpdir) if d.startswith("osivf_b1_fp")
    )
    root = os.path.join(tmpdir, roots[-1])
    store = osm.EmulatedObjectStore(os.path.join(root, "bucket"))
    before = sorted(
        (r["vec_id"], r["cell"])
        for r in osm.read_layout_objectstore(spark, store, "ivf")
        .select("vec_id", "cell").collect()
    )
    osm.vacuum_objectstore(store, "ivf", keep_generations=1)
    after = sorted(
        (r["vec_id"], r["cell"])
        for r in osm.read_layout_objectstore(spark, store, "ivf")
        .select("vec_id", "cell").collect()
    )
    assert after == before


@pytest.mark.slow
def test_crash_injection_objectstore_fts_merge(spark, tmpdir, crash_injector):
    """The multi-table FTS maintenance on the no-rename backend under
    the same sweep: staging writes, every data-object upload across
    the three tables, and the single log put are counted boundaries.
    Beyond convergence, every SURVIVING generation must be a
    consistent (index, postings, doc_lengths) triple — the atomicity
    claim that distinguishes the one-record commit from the POSIX
    path's healed transient."""
    from dogsheep_beta_spark.storage import objectstore as osm

    inj = crash_injector

    class InjectingStore(osm.EmulatedObjectStore):
        def put_if_absent(self, key, data):
            p = self._path(key)
            inj._boundary(p)
            r = super().put_if_absent(key, data)
            inj._boundary(p)
            return r

        def put_file_if_absent(self, key, src_path):
            p = self._path(key)
            inj._boundary(p)
            r = super().put_file_if_absent(key, src_path)
            inj._boundary(p)
            return r

    schema = "key int, title string, search_1 string"
    batches = [
        [(1, "alpha beta", "gamma"), (2, "beta beta", None)],
        [(2, "delta", "beta gamma"), (3, "alpha", "alpha")],
        [(1, "omega", None), (4, "epsilon zeta", "eta")],
    ]

    def apply_batch(root, b):
        os.makedirs(root, exist_ok=True)
        store = InjectingStore(os.path.join(root, "bucket"))
        bdf = spark.createDataFrame(batches[b], schema)
        osm.merge_fts_batch_objectstore(
            spark, bdf, b, store, "fts", "s.db/t",
            commit_token=f"batch:{b}", staging_root=root,
        )

    def snapshot(root):
        store = osm.EmulatedObjectStore(os.path.join(root, "bucket"))
        idx_df, fts = osm.read_fts_objectstore(spark, store, "fts")
        post = sorted(
            (r["term"], r["key"], r["field"], r["tf"], tuple(r["positions"]))
            for r in fts.postings.collect()
        )
        lens = sorted(
            (r["key"], r["dl"]) for r in fts.doc_lengths.collect()
        )
        idx = sorted((r["key"], r["title"]) for r in idx_df.collect())
        # consistency of every surviving generation, not just the tip
        for rec in osm.layout_history(store, "fts"):
            g = rec["generation"]
            gi = osm.read_table_objectstore(spark, store, "fts", "index", g)
            gl = osm.read_table_objectstore(
                spark, store, "fts", "doc_lengths", g
            )
            assert {(r["type"], r["key"]) for r in gi.collect()} == {
                (r["type"], r["key"]) for r in gl.collect()
            }, g
        return (post, lens, idx)

    _sweep_crash_points(
        spark, tmpdir, crash_injector, "osfts", apply_batch, snapshot,
        crash_batches=(1,),
    )


@pytest.mark.slow
def test_crash_injection_entity_link_merge(spark, tmpdir, crash_injector):
    """Every write/rename boundary of merge_link_batch is
    crash-replayable — including mid-publish crashes inside the
    per-partition symlink-cutover protocol (_publish_dir's three
    renames) and the store-append/matches-rewrite interleavings."""
    from dogsheep_beta_spark.streaming.incremental import merge_link_batch

    kw = dict(
        id_col="id", name_col="name", block_cols=("ctry",),
        prefix_len=6, max_dist=1, max_block=100,
    )
    batches = [
        [(10, "jon smith", "us"), (11, "jon smyth", "us"),
         (30, "ann chu", "de")],
        [(12, "jon smith", "us"), (31, "ann chu ", "de")],
        [(2, "jon smith", "us"), (13, "bob brown", "us")],
    ]

    def apply_batch(root, b):
        bdf = spark.createDataFrame(
            batches[b], "id long, name string, ctry string"
        )
        merge_link_batch(
            spark, bdf, b, os.path.join(root, "store"),
            os.path.join(root, "matches"), **kw,
        )

    def snapshot(root):
        m = sorted(
            (r["entity_id"], r["match_id"], r["dist"])
            for r in spark.read.parquet(
                os.path.join(root, "matches")
            ).collect()
        )
        st = sorted(
            r["__id"]
            for r in spark.read.parquet(os.path.join(root, "store"))
            .select("__id").distinct().collect()
        )
        return (m, st)

    _sweep_crash_points(
        spark, tmpdir, crash_injector, "link", apply_batch, snapshot,
        crash_batches=(0, 1),
    )


@pytest.mark.slow
def test_crash_injection_fts_scoped_merge(spark, tmpdir, crash_injector):
    """Every write/rename boundary of merge_fts_batch_scoped (the A10
    incremental FTS maintenance) is crash-replayable: index, postings
    and doc_lengths all converge to the uninterrupted run — including
    a crash in the FIRST batch (nothing published yet), crashes
    BETWEEN the stage-all-publish-last partition cutovers, where a
    reader-visible transient (new postings against an old index
    partition) must be healed by the replay, same-key updates whose
    second application must stay last-writer-wins, and a batch that
    touches a DIFFERENT type after the crashed batch."""
    from dogsheep_beta_spark.streaming.incremental import (
        merge_fts_batch_scoped,
    )

    schema = "key int, title string, search_1 string"
    batches = [
        ([(1, "alpha beta", "gamma"), (2, "beta beta", None)], "s.db/t"),
        ([(2, "delta", "beta gamma"), (3, "alpha", "alpha")], "s.db/t"),
        ([(1, "omega", None), (4, "epsilon zeta", "eta")], "s.db/t"),
        ([(50, "zeta omega", "psi")], "o.db/t"),  # unrelated type
    ]

    def apply_batch(root, b):
        rows, tag = batches[b]
        merge_fts_batch_scoped(
            spark, spark.createDataFrame(rows, schema), b,
            os.path.join(root, "index"), os.path.join(root, "fts"), tag,
        )

    def snapshot(root):
        post = sorted(
            (r["type"], r["term"], r["key"], r["field"], r["tf"])
            for r in spark.read.parquet(
                os.path.join(root, "fts", "postings")
            ).collect()
        )
        lens = sorted(
            (r["type"], r["key"], r["dl"])
            for r in spark.read.parquet(
                os.path.join(root, "fts", "doc_lengths")
            ).collect()
        )
        idx = sorted(
            (r["type"], r["key"], r["title"])
            for r in spark.read.parquet(
                os.path.join(root, "index")
            ).collect()
        )
        return (post, lens, idx)

    _sweep_crash_points(
        spark, tmpdir, crash_injector, "ftssc", apply_batch, snapshot,
        n_batches=len(batches), crash_batches=(0, 1),
    )


@pytest.mark.slow
def test_crash_injection_kmv_swap(spark, tmpdir, crash_injector):
    """merge_kmv_batch's atomic-swap publish under the sweep: a crash
    at any rename/write boundary replays to the same synopsis (KMV
    union-merge is idempotent, and the swap never exposes a partial
    generation)."""
    from dogsheep_beta_spark.streaming.incremental import (
        merge_kmv_batch,
        read_kmv_estimate,
    )

    batches = [
        [(i,) for i in range(0, 40)],
        [(i,) for i in range(20, 70)],
        [(i,) for i in range(60, 100)],
    ]

    def apply_batch(root, b):
        bdf = spark.createDataFrame(batches[b], "user_id long")
        merge_kmv_batch(
            spark, bdf, b, os.path.join(root, "kmv"), "user_id",
            k=32, salt="cp:",
        )

    def snapshot(root):
        return sorted(
            map(
                tuple,
                read_kmv_estimate(
                    spark, os.path.join(root, "kmv"), 32
                ).collect(),
            )
        )

    _sweep_crash_points(
        spark, tmpdir, crash_injector, "kmv", apply_batch, snapshot,
        crash_batches=(0, 1),
    )


@pytest.mark.slow
def test_crash_injection_ivf_compaction(spark, tmpdir, crash_injector):
    """compact_ivf_layout under the sweep: kill the compactor at every
    write/rename boundary (staging write, late-file migration,
    generation symlink cutover, manifest rewrite), then run the NEXT
    append and read — zero rows may be lost or doubled, whatever state
    the crash left.  Unlike the merge sweeps the crashed COMPACTION is
    not replayed (a maintenance op that died just gets re-run later or
    not at all): correctness means the layout stays readable and
    append-able through any partial compaction."""
    import shutil

    from dogsheep_beta_spark.operators.similarity import centroids
    from dogsheep_beta_spark.streaming import incremental as inc

    seed = spark.createDataFrame(
        [(i, [float(i % 2), 1.0], i % 2) for i in range(4)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = centroids(seed, "embedding", "label")

    def append(layout, ids, tok):
        bdf = spark.createDataFrame(
            [(i, [float(i % 2), 1.0]) for i in ids],
            "vec_id long, embedding array<double>",
        )
        inc.merge_ivf_batch(
            bdf, cents, layout, commit_token=f"batch:{tok}"
        )

    def snapshot(layout):
        return sorted(
            (r["vec_id"], r["cell"])
            for r in inc.read_layout(spark, layout)
            .select("vec_id", "cell").collect()
        )

    # reference: append, compact cleanly, append again
    ref = os.path.join(tmpdir, "cmp_ref", "cells")
    append(ref, range(0, 8), 0)
    inc.compact_ivf_layout(spark, ref)
    append(ref, range(10, 18), 1)
    want = snapshot(ref)

    # count the compaction's events
    cnt = os.path.join(tmpdir, "cmp_cnt", "cells")
    append(cnt, range(0, 8), 0)
    crash_injector.arm(os.path.dirname(cnt))
    inc.compact_ivf_layout(spark, cnt)
    n_events = crash_injector.events
    crash_injector.disarm()
    assert n_events >= 2

    for fp in range(n_events):
        root = os.path.join(tmpdir, f"cmp_fp{fp}")
        shutil.rmtree(root, ignore_errors=True)
        layout = os.path.join(root, "cells")
        append(layout, range(0, 8), 0)
        crash_injector.arm(root, fail_event=fp)
        with pytest.raises(_InjectedCrash):
            inc.compact_ivf_layout(spark, layout)
        crash_injector.disarm()
        # crashed compactors may leave a stale lock (a real crash
        # cannot run the contextmanager's finally) — here the finally
        # DID run, so the lock is free; just continue the stream
        append(layout, range(10, 18), 1)
        got = snapshot(layout)
        assert got == want, f"compaction crash at event {fp}/{n_events}"


def test_ivf_commit_tokens_are_checkpoint_namespaced(spark, tmpdir):
    """Two writers sharing one layout (or a restarted stream with a
    fresh checkpoint) reuse the same Spark batch ids — their commits
    must NOT be misread as each other's replays (code-review r10: a
    bare 'batch:0' token silently dropped the second writer's data)."""
    from dogsheep_beta_spark.operators.similarity import centroids
    from dogsheep_beta_spark.streaming import incremental as inc

    seed = spark.createDataFrame(
        [(i, [float(i % 2), 1.0], i % 2) for i in range(4)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = centroids(seed, "embedding", "label")
    layout = os.path.join(tmpdir, "shared_cells")

    def append(ids, token):
        bdf = spark.createDataFrame(
            [(i, [float(i % 2), 1.0]) for i in ids],
            "vec_id long, embedding array<double>",
        )
        inc.merge_ivf_batch(bdf, cents, layout, commit_token=token)

    append(range(0, 4), "aaaa:batch:0")   # writer A, batch 0
    append(range(10, 14), "bbbb:batch:0")  # writer B, SAME batch id
    append(range(10, 14), "bbbb:batch:0")  # B's replay: dropped
    got = sorted(
        r["vec_id"]
        for r in inc.read_layout(spark, layout).select("vec_id").collect()
    )
    assert got == [0, 1, 2, 3, 10, 11, 12, 13]


@pytest.mark.slow
def test_crash_injection_append_onto_dangling_manifest(
    spark, tmpdir, crash_injector
):
    """The reconciled-fallback persistence (code-review r10): start
    from a DANGLING manifest (one naming relpaths the live dir no
    longer holds — what a crashed publish leaves), then crash an
    append at EVERY boundary and replay it.  Without persisting the
    reconciled listing before the file moves, the replay's fallback
    adopted the crashed attempt's orphans and every vector of the
    batch read twice."""
    import json
    import shutil

    from dogsheep_beta_spark.operators.similarity import centroids
    from dogsheep_beta_spark.streaming import incremental as inc

    seed = spark.createDataFrame(
        [(i, [float(i % 2), 1.0], i % 2) for i in range(4)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = centroids(seed, "embedding", "label")

    def append(layout, ids, tok):
        bdf = spark.createDataFrame(
            [(i, [float(i % 2), 1.0]) for i in ids],
            "vec_id long, embedding array<double>",
        )
        inc.merge_ivf_batch(bdf, cents, layout, commit_token=tok)

    def make_dangling(layout):
        """Commit batch A, then rewrite the manifest's relpaths to
        names that don't exist in the live dir — the post-cutover /
        pre-manifest crash state of a publisher."""
        append(layout, range(0, 4), "ns:batch:0")
        p = inc._manifest_path(layout)
        entry = json.load(open(p))
        entry["files"] = [
            os.path.join(os.path.dirname(r), "gone-" + os.path.basename(r))
            for r in entry["files"]
        ]
        with open(p, "w") as fh:
            json.dump(entry, fh)

    # reference: dangling state + clean append
    ref = os.path.join(tmpdir, "dang_ref", "cells")
    make_dangling(ref)
    append(ref, range(10, 14), "ns:batch:1")
    want = sorted(
        r["vec_id"]
        for r in inc.read_layout(spark, ref).select("vec_id").collect()
    )
    assert want == [0, 1, 2, 3, 10, 11, 12, 13]

    # count events of the append from the dangling state
    cnt = os.path.join(tmpdir, "dang_cnt", "cells")
    make_dangling(cnt)
    crash_injector.arm(os.path.dirname(cnt))
    append(cnt, range(10, 14), "ns:batch:1")
    n_events = crash_injector.events
    crash_injector.disarm()
    assert n_events >= 2

    for fp in range(n_events):
        root = os.path.join(tmpdir, f"dang_fp{fp}")
        shutil.rmtree(root, ignore_errors=True)
        layout = os.path.join(root, "cells")
        make_dangling(layout)
        crash_injector.arm(root, fail_event=fp)
        with pytest.raises(_InjectedCrash):
            append(layout, range(10, 14), "ns:batch:1")
        crash_injector.disarm()
        append(layout, range(10, 14), "ns:batch:1")  # replay
        got = sorted(
            r["vec_id"]
            for r in inc.read_layout(spark, layout)
            .select("vec_id").collect()
        )
        assert got == want, f"dangling-append crash at event {fp}/{n_events}"


def test_checkpoint_namespace_path_spelling_invariant(tmpdir):
    """ADVICE r10: the commit-token namespace must be invariant to
    how the checkpoint path is SPELLED — trailing slash, relative vs
    absolute — or a restart under a different spelling changes the
    namespace and the replayed batch double-appends."""
    from dogsheep_beta_spark.streaming.incremental import (
        checkpoint_namespace,
    )

    ckpt = os.path.join(tmpdir, "ckpt")
    rel = os.path.relpath(ckpt)
    spellings = [ckpt, ckpt + "/", ckpt + "//", rel, rel + "/"]
    ns = {checkpoint_namespace(s) for s in spellings}
    assert len(ns) == 1, spellings
    # distinct checkpoints still get distinct namespaces
    assert checkpoint_namespace(os.path.join(tmpdir, "other")) not in ns


# ---------------------------------------------------------------------------
# semantic cell-split maintenance (r11 — VERDICT r10 #2)
# ---------------------------------------------------------------------------


def _sem_layout_snapshot(spark, root):
    """(cents, store, matches) canonical view of a semantic layout."""
    from dogsheep_beta_spark.streaming import incremental as inc

    cents = sorted(
        (r["cell"], tuple(round(x, 9) for x in r["centroid"]))
        for r in inc.read_semantic_cents(spark, root).collect()
    )
    store = sorted(
        (r["id"], tuple(r["v"]), r["cell"], r["b1"], r["b2"])
        for r in spark.read.parquet(os.path.join(root, "store"))
        .select("id", "v", "cell", "b1", "b2").distinct().collect()
    )
    matches = sorted(
        (r["a"], r["b"], round(r["cosine"], 9))
        for r in inc.read_semantic_matches(spark, root).collect()
    )
    return (cents, store, matches)


def _sem_split_scenario(spark, root, step):
    """One step of the split scenario: two pre-split batches into a
    skewed layout (everything lands in cell 0), the SPLIT of the hot
    cell, then one post-split batch merged under the refined cents
    read back from the layout."""
    from dogsheep_beta_spark.streaming import incremental as inc

    batches = {
        0: [(1, [1.0, 0.02]), (2, [0.999, 0.021]), (10, [0.02, 1.0]),
            (3, [0.1, 0.995]), (4, [0.11, 0.994])],
        1: [(5, [0.998, 0.019]), (6, [0.12, 0.993])],
        3: [(7, [0.997, 0.022]), (8, [0.13, 0.992]), (11, [0.021, 1.0])],
    }
    if step == 0:
        cents = spark.createDataFrame(
            [(0, [0.7, 0.7]), (1, [-1.0, 0.0])],
            "cell int, centroid array<double>",
        )
        inc.persist_semantic_cents(spark, root, cents)
    if step in (0, 1, 3):
        bdf = spark.createDataFrame(
            batches[step], "vec_id long, embedding array<double>"
        )
        inc.merge_semantic_batch(
            spark, bdf, step, root,
            inc.read_semantic_cents(spark, root), tau=0.9,
        )
    if step == 2:
        inc.split_semantic_cell(spark, root, 0, k=2, iters=2, tau=0.9)


def test_split_semantic_cell_rebalances_and_preserves(spark, tmpdir):
    """Functional contract of the split: the hot cell's rows re-home
    into k fresh sub-cells, occupancy is rebalanced, already-emitted
    matches survive untouched, and post-split arrivals still match
    their near-duplicates within the refined cells."""
    from dogsheep_beta_spark.streaming import incremental as inc

    root = os.path.join(tmpdir, "semsplit")
    for s in range(2):
        _sem_split_scenario(spark, root, s)

    occ0 = {
        r["cell"]: r["n"]
        for r in inc.semantic_cell_occupancy(spark, root).collect()
    }
    assert occ0 == {0: 7}  # everything skewed into the hot cell
    pre_matches = sorted(
        (r["a"], r["b"])
        for r in inc.read_semantic_matches(spark, root).collect()
    )
    assert (1, 2) in pre_matches and (3, 4) in pre_matches

    new_ids = inc.split_semantic_cell(spark, root, 0, k=2, iters=2, tau=0.9)
    assert sorted(new_ids) == [2, 3]  # max(live)=1 → fresh ids 2,3

    cents = {
        r["cell"] for r in inc.read_semantic_cents(spark, root).collect()
    }
    assert cents == {1, 2, 3}  # cell 0 retired
    occ1 = {
        r["cell"]: r["n"]
        for r in inc.semantic_cell_occupancy(spark, root).collect()
    }
    assert set(occ1) == {2, 3}  # re-homed, old partition gone
    assert sum(occ1.values()) == 7 and min(occ1.values()) >= 2
    # emitted matches untouched by the split
    assert sorted(
        (r["a"], r["b"])
        for r in inc.read_semantic_matches(spark, root).collect()
    ) == pre_matches

    # post-split arrivals match within the refined sub-cells
    _sem_split_scenario(spark, root, 3)
    post = {
        (r["a"], r["b"])
        for r in inc.read_semantic_matches(spark, root).collect()
    }
    assert (1, 7) in post or (2, 7) in post or (5, 7) in post
    assert (3, 8) in post or (4, 8) in post or (6, 8) in post
    assert (10, 11) in post  # untouched cell 1 still matches

    # vacuum on a healthy layout is a no-op
    assert inc.vacuum_semantic_store(spark, root) == []

    # replaying a committed split is rejected (cell retired, no marker)
    with pytest.raises(ValueError):
        inc.split_semantic_cell(spark, root, 0, k=2, tau=0.9)


def test_maintain_semantic_store_occupancy_driven(spark, tmpdir):
    """maintain_semantic_store splits exactly the cells over the
    occupancy bound, in one pass."""
    from dogsheep_beta_spark.streaming import incremental as inc

    root = os.path.join(tmpdir, "semmaint")
    for s in range(2):
        _sem_split_scenario(spark, root, s)
    done = inc.maintain_semantic_store(spark, root, max_cell_rows=4, k=2, tau=0.9)
    assert list(done) == [0] and sorted(done[0]) == [2, 3]
    occ = {
        r["cell"]: r["n"]
        for r in inc.semantic_cell_occupancy(spark, root).collect()
    }
    assert all(n <= 4 for n in occ.values())
    # under-threshold layout: nothing to do
    assert inc.maintain_semantic_store(spark, root, max_cell_rows=10, tau=0.9) == {}


@pytest.mark.slow
def test_crash_injection_semantic_split(spark, tmpdir, crash_injector):
    """Every write/rename boundary of split_semantic_cell is crash-
    replayable: staging, marker, per-partition publish, the cents
    pointer swap (the commit), and post-commit cleanup all converge —
    after replay plus one post-split batch — to the uninterrupted
    run's (cents, store, matches)."""
    _sweep_crash_points(
        spark, tmpdir, crash_injector, "semsplitcrash",
        lambda root, b: _sem_split_scenario(spark, root, b),
        lambda root: _sem_layout_snapshot(spark, root),
        n_batches=4, crash_batches=(2,),
    )
    # dozens of injected-crash iterations above abort merges/splits
    # mid-flight; release anything a crash path persisted so the
    # session's shared 4g heap stays clean for later broadcast-heavy
    # tests (the r11 suite OOM'd test_scale_interval_join_10x without
    # this + the try/finally in merge_semantic_batch)
    spark.catalog.clearCache()


def test_ivf_legacy_namespace_tokens_recognized(spark, tmpdir):
    """r11 code review: batches recorded under the PRE-normalization
    token namespace (md5 of the raw checkpoint string) must still be
    recognized as replays after the upgrade — the first post-upgrade
    crash-replay would otherwise double-append."""
    import hashlib

    from dogsheep_beta_spark.operators.similarity import centroids
    from dogsheep_beta_spark.streaming import incremental as inc

    seed = spark.createDataFrame(
        [(i, [float(i % 2), 1.0], i % 2) for i in range(4)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = centroids(seed, "embedding", "label")
    layout = os.path.join(tmpdir, "legacy_ns_cells")
    raw_ckpt = "ckpt/"  # the non-normalized spelling a pre-r11 run used
    legacy_ns = hashlib.md5(raw_ckpt.encode()).hexdigest()[:8]
    new_ns = inc.checkpoint_namespace(raw_ckpt)
    assert legacy_ns != new_ns

    def append(ids, token, legacy=()):
        bdf = spark.createDataFrame(
            [(i, [float(i % 2), 1.0]) for i in ids],
            "vec_id long, embedding array<double>",
        )
        inc.merge_ivf_batch(
            bdf, cents, layout, commit_token=token,
            legacy_commit_tokens=legacy,
        )

    # pre-upgrade deployment commits batch 0 under the legacy namespace
    append(range(0, 4), f"{legacy_ns}:batch:0")
    # post-upgrade replay of THE SAME batch: new token + legacy alias
    append(
        range(0, 4), f"{new_ns}:batch:0",
        legacy=(f"{legacy_ns}:batch:0",),
    )
    # a genuinely new batch still commits
    append(range(10, 14), f"{new_ns}:batch:1",
           legacy=(f"{legacy_ns}:batch:1",))
    got = sorted(
        r["vec_id"]
        for r in inc.read_layout(spark, layout).select("vec_id").collect()
    )
    assert got == [0, 1, 2, 3, 10, 11, 12, 13]


def test_maintain_semantic_store_skips_indivisible_cell(spark, tmpdir):
    """r11 code review (progress guard): a hot cell of identical
    vectors cannot be separated by k-means — maintenance must SKIP it
    (returning []) with the layout untouched, not commit k-1 empty
    cells per pass forever."""
    from dogsheep_beta_spark.streaming import incremental as inc

    root = os.path.join(tmpdir, "semindiv")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cell int, centroid array<double>"
    )
    inc.persist_semantic_cents(spark, root, cents)
    bdf = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    inc.merge_semantic_batch(
        spark, bdf, 0, root, inc.read_semantic_cents(spark, root), tau=0.99
    )
    done = inc.maintain_semantic_store(spark, root, max_cell_rows=4, k=2, tau=0.99)
    assert done == {0: []}  # skipped, not split
    # layout untouched: cents still {0}, occupancy unchanged
    assert {
        r["cell"] for r in inc.read_semantic_cents(spark, root).collect()
    } == {0}
    occ = {
        r["cell"]: r["n"]
        for r in inc.semantic_cell_occupancy(spark, root).collect()
    }
    assert occ == {0: 8}
    # a second pass is stable (no unbounded cents growth)
    assert inc.maintain_semantic_store(spark, root, max_cell_rows=4, tau=0.99) == {0: []}


def test_maintenance_refuses_to_bootstrap_tau_on_legacy_store(spark, tmpdir):
    """ADVICE r11: on a pre-r11 legacy store (no .__tau__.json) a
    maintenance op must NOT create the tau record from its own
    argument/default — it would record whatever tau it was handed and
    re-band split cells before the guard could refuse.  Only a
    merge/upgrade op (which necessarily carries the store's true tau)
    may bootstrap the record."""
    from dogsheep_beta_spark.streaming import incremental as inc

    root = os.path.join(tmpdir, "semlegacy")
    for s in range(2):
        _sem_split_scenario(spark, root, s)
    # simulate the pre-r11 layout: tau record absent
    tau_rec = os.path.join(root, ".__tau__.json")
    os.remove(tau_rec)

    with pytest.raises(ValueError, match="no recorded tau"):
        inc.split_semantic_cell(spark, root, 0, k=2, tau=0.95)
    with pytest.raises(ValueError, match="no recorded tau"):
        inc.maintain_semantic_store(spark, root, max_cell_rows=2, k=2, tau=0.95)
    # crucially: the refusal did NOT create the record as a side effect
    assert not os.path.exists(tau_rec)

    # bootstrap via a merge op carrying the store's true tau, then
    # maintenance under that tau proceeds
    bdf = spark.createDataFrame(
        [(20, [0.996, 0.02])], "vec_id long, embedding array<double>"
    )
    inc.merge_semantic_batch(
        spark, bdf, 9, root, inc.read_semantic_cents(spark, root), tau=0.9
    )
    assert os.path.exists(tau_rec)
    done = inc.maintain_semantic_store(spark, root, max_cell_rows=2, k=2, tau=0.9)
    # structural assert (the exact fresh ids depend on how many cells
    # the bootstrap merge minted): the hot cell split into 2 NEW cells
    assert 0 in done and len(done[0]) == 2 and 0 not in done[0]


def test_tau_record_create_is_race_safe(tmpdir):
    """ADVICE r11: two concurrent FIRST writers with different taus
    must not both pass the create path — the loser must see the
    winner's record and raise, not silently lose its tau."""
    import json

    from dogsheep_beta_spark.streaming.incremental import _check_layout_tau

    root = os.path.join(tmpdir, "taurace")
    # simulate losing the race: the record appears between this
    # writer's exists() check and its create by pre-seeding it and
    # calling with a different tau — O_EXCL turns the stale-check
    # window into EEXIST → re-read → validate → ValueError
    os.makedirs(root, exist_ok=True)
    _check_layout_tau(root, 0.9)
    with pytest.raises(ValueError, match="banded under"):
        _check_layout_tau(root, 0.95)
    with open(os.path.join(root, ".__tau__.json")) as fh:
        assert json.load(fh)["tau"] == 0.9

    # true concurrency: N threads race the create with distinct taus —
    # exactly one records, every other raises
    import threading

    root2 = os.path.join(tmpdir, "taurace2")
    os.makedirs(root2, exist_ok=True)
    errs: list[BaseException | None] = [None] * 8
    barrier = threading.Barrier(8)

    def worker(i):
        try:
            barrier.wait()
            _check_layout_tau(root2, 0.90 + i * 0.01)
        except BaseException as e:  # noqa: BLE001 — recorded for assert
            errs[i] = e

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    winners = [i for i, e in enumerate(errs) if e is None]
    assert len(winners) == 1
    with open(os.path.join(root2, ".__tau__.json")) as fh:
        rec = json.load(fh)["tau"]
    assert abs(rec - (0.90 + winners[0] * 0.01)) < 1e-12
    for i, e in enumerate(errs):
        if i != winners[0]:
            assert isinstance(e, ValueError) and "banded under" in str(e)


def test_package_zip_reuses_cached_zip(tmpdir):
    """ADVICE r11: package_zip's pid-keyed zip is deterministic, so a
    second call in the same process must return the cached file
    without rebuilding it."""
    from dogsheep_beta_spark.deploy import package_zip

    dest = os.path.join(tmpdir, "pyfiles")
    p1 = package_zip(dest_dir=dest)
    st1 = os.stat(p1)
    p2 = package_zip(dest_dir=dest)
    assert p2 == p1
    st2 = os.stat(p2)
    assert (st2.st_mtime_ns, st2.st_ino) == (st1.st_mtime_ns, st1.st_ino)


def test_streaming_semantic_dedup_restarts_across_split(spark, tmpdir):
    """The full operational loop (r11): stream run 1 (availableNow)
    builds the store under the layout-owned cents; the stream stops;
    maintenance splits the hot cell; stream run 2 starts with
    cents=None, derives the REFINED cells from the layout, and new
    near-duplicates still surface — no caller-held centroid copy
    anywhere."""
    from dogsheep_beta_spark.streaming import incremental as inc

    root = os.path.join(tmpdir, "semsplitstream")
    src = os.path.join(tmpdir, "semsplitsrc")
    inc.persist_semantic_cents(
        spark,
        root,
        spark.createDataFrame(
            [(0, [1.0, 0.0])], "cell int, centroid array<double>"
        ),
    )
    batch1 = [(1, [1.0, 0.02]), (2, [0.999, 0.021]),
              (3, [0.1, 0.995]), (4, [0.11, 0.994])]
    spark.createDataFrame(
        batch1, "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(src)

    def run_stream():
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = inc.streaming_semantic_dedup(
            stream, root, os.path.join(tmpdir, "semsplitck"),
            cents=None, tau=0.9,
        )
        q.awaitTermination(300)

    run_stream()
    assert {
        r["cell"] for r in inc.semantic_cell_occupancy(spark, root).collect()
    } == {0}

    # the layout recorded tau=0.9 at first merge; maintenance under a
    # DIFFERENT tau must refuse (bands are a function of tau — a
    # silent re-band would lose matches, which is exactly how this
    # test originally failed)
    with pytest.raises(ValueError, match="banded under"):
        inc.maintain_semantic_store(spark, root, max_cell_rows=2, k=2)
    done = inc.maintain_semantic_store(
        spark, root, max_cell_rows=2, k=2, tau=0.9
    )
    assert sorted(done[0]) == [1, 2]

    # run 2: new arrivals, derived cents — matches within refined cells
    spark.createDataFrame(
        [(5, [0.998, 0.019]), (6, [0.12, 0.993])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("append").parquet(src)
    run_stream()

    matches = {
        tuple(sorted((r["a"], r["b"])))
        for r in inc.read_semantic_matches(spark, root).collect()
    }
    assert (1, 2) in matches and (3, 4) in matches  # pre-split, kept
    assert (1, 5) in matches or (2, 5) in matches   # post-split found
    assert (3, 6) in matches or (4, 6) in matches
    occ = {
        r["cell"]: r["n"]
        for r in inc.semantic_cell_occupancy(spark, root).collect()
    }
    assert set(occ) == {1, 2} and sum(occ.values()) == 6


def test_streaming_sessionize_restart_across_split(spark, tmpdir):
    """r13 (VERDICT r12 #2): the bucketed sessionizer's cross-batch
    state merge.  The event stream is split into two files delivered as
    separate availableNow runs sharing one checkpoint (a restart in
    between), cutting one user's session across the boundary, extending
    another's, and leaving a third idle in batch 2 — the union of the
    two runs' emissions must equal the one-shot closed-session set, and
    state must survive the restart (same checkpoint, same buckets)."""
    from datetime import datetime

    from dogsheep_beta_spark.operators.temporal import session_stats
    from dogsheep_beta_spark.streaming.incremental import (
        streaming_sessionize,
    )

    def ts(s):
        return datetime.fromisoformat(s)

    # batch 1
    rows1 = [
        (1, ts("2024-01-01 10:00:00")),   # u1 s1 (will be EXTENDED by b2)
        (1, ts("2024-01-01 10:00:30")),
        (2, ts("2024-01-01 10:00:00")),   # u2 s1 (will be CLOSED by b2 gap)
        (3, ts("2024-01-01 10:00:00")),   # u3 s1 (idle in b2 — stays open)
    ]
    # batch 2 (after restart)
    rows2 = [
        (1, ts("2024-01-01 10:01:00")),   # within gap → merges into u1 s1
        (1, ts("2024-01-01 12:00:00")),   # > gap → closes merged s1
        (2, ts("2024-01-01 11:00:00")),   # > gap → closes u2 s1
    ]
    schema = "user_id long, ts timestamp"
    src = os.path.join(tmpdir, "sess_split_src")
    ckpt = os.path.join(tmpdir, "sess_split_ckpt")
    os.makedirs(src)

    sink = os.path.join(tmpdir, "sess_split_sink")

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_sessionize(stream, "user_id", "ts", gap_seconds=90)
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()  # restart: same checkpoint, fresh query object
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["session_start"], r["session_end"]
        )
        for r in spark.read.parquet(sink).collect()
    }

    all_rows = spark.createDataFrame(rows1 + rows2, schema)
    batch = session_stats(all_rows, "user_id", "ts", gap_seconds=90)
    last = {
        r["user_id"]: r["m"]
        for r in batch.groupBy("user_id")
        .agg(F.max("session_seq").alias("m"))
        .collect()
    }
    want = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["session_start"], r["session_end"]
        )
        for r in batch.collect()
        if r["session_seq"] != last[r["user_id"]]  # open sessions unemitted
    }
    assert got == want and len(want) == 2  # u1 s1 (3 events), u2 s1
