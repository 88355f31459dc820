"""End-to-end benchmark of dogsheep_beta_spark's serving path.

    python3 perfbench/run.py --workload serve_search|ingest_live \\
        --seed N --seconds S --trace 0|1

Each run is a fresh process: it generates the source tables
(``corpus.py``), starts Spark on ``local[<cores>]`` with a pinned
driver heap, builds the index through the package's public API and
serves ``/-/beta`` through ``server.make_server`` /
``server.make_live_server`` on loopback to one closed-loop client in
this process.  Every page is checked against an independent DuckDB
oracle (``oracle.py``).  The amount of work is fixed by ``--seconds``
(pages and batches per run are derived from it, never from a clock),
so a slower program takes longer instead of doing less.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` installs
the span tracer (``tracing.py``) and prints the per-layer metrics.  The
last line of stdout is the result object; the per-page series, the
spans and the counters go to ``perfbench/out/`` (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SF = 0.001  # corpus scale: 50 documents, 1,000 events, 1,500 orders
BLOCKS_PER_S = 0.1  # serve_search: measured blocks of the request mix per --seconds
WARMUP_BLOCKS = 1  # serve_search: leading blocks checked but not measured
BATCHES_PER_S = 0.25  # ingest_live: batches per --seconds
WARMUP_BATCHES = 1  # ingest_live: leading batches checked but not measured
BATCH_NEW, BATCH_UPD = 6, 4  # 10 rows: 1% of the 1,000-row events partition
DRIVER_MEMORY = "2g"
TOKENIZE = "none"  # portable analyzer, no stemming (cli serve --live default)

FIRST_REQUEST = {"kind": "timeline", "shape": "newest", "args": {}, "match": None}


class Run:
    """One benchmark process: work dir, Spark session, oracle, client."""

    def __init__(self, args):
        import procstat

        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # every temp file of python, py4j and the JVM stays in the work dir
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        )
        self.cpu0 = procstat.cpu_times()
        self.servers = []
        self.spark = None
        self.tracer = None
        self.records: list[dict] = []
        self.phases: dict[str, list[float]] = {}
        self.failed = 0
        self.attempted = 0

        t = time.perf_counter()
        import corpus
        from oracle import Oracle

        self.src = os.path.join(self.work, "src")
        self.sizes = corpus.write_corpus(self.src, SF)
        self.oracle = Oracle(self.src)
        # the benchmark's own input preparation is not the program's set-up,
        # and its memory peak is not the program's
        self.prep_s = time.perf_counter() - t
        procstat.reset_peak_rss()

    def phase(self, name: str, seconds: float) -> None:
        self.phases.setdefault(name, []).append(seconds)

    def session(self):
        from pyspark.sql import SparkSession

        t = time.perf_counter()
        cores = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        self.spark = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", DRIVER_MEMORY)
            # the whole heap is committed and touched at start, so peak RSS
            # does not depend on when the collector chose to grow the heap
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.phase("session.start_s", time.perf_counter() - t)
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        from dogsheep_beta_spark.cli import _register_sources

        from dogsheep_beta_spark.functions.tokenizer import parse_fts5_tokenize

        _register_sources(self.spark, self.src)
        self.mode, self.stem = parse_fts5_tokenize(TOKENIZE)
        return self.spark

    def serve(self, srv) -> str:
        self.servers.append(srv)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        host, port = srv.server_address[:2]
        return f"http://{host}:{port}/-/beta"

    def stop_server(self, srv) -> None:
        srv.shutdown()
        srv.server_close()
        self.servers.remove(srv)

    def fetch(self, base: str, req: dict, kind: str = "page") -> dict:
        """One closed-loop request, timed at the client, then checked."""
        url = base + ("?" + urllib.parse.urlencode(req["args"]) if req["args"] else "")
        if self.tracer:
            self.tracer.begin(kind, req["shape"])
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(url, timeout=170) as resp:
                status, body = resp.status, resp.read().decode("utf-8")
        except urllib.error.HTTPError as e:
            status, body = e.code, ""
        ms = (time.perf_counter() - t0) * 1000
        window = self.tracer.end() if self.tracer else None
        rec = {"kind": kind, "shape": req["shape"], "args": req["args"], "ms": ms,
               "status": status, "body": body,
               "window": window["id"] if window else None}
        self.records.append(rec)
        return rec

    def check(self, rec: dict, req: dict, extra: list[str] = ()) -> None:
        from oracle import check_page

        body = rec.pop("body")
        errs = list(extra) + (check_page(self.oracle, req, body) if rec["status"] == 200 else [f"HTTP {rec['status']}"])
        rec["errors"] = errs[:3]
        self.attempted += 1
        self.failed += bool(errs)
        if errs:
            print(f"perfbench: check failed on {rec['shape']} {rec['args']}: {errs[:3]}", file=sys.stderr)

    def close(self) -> None:
        for srv in list(self.servers):
            self.stop_server(srv)
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:  # end the JVM and wait for it
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


# -- workloads -----------------------------------------------------------


def first_page(run: Run, srv) -> str:
    """Serve ``srv`` and answer its first (cold) page; returns its URL.
    The answer ends the cold set-up: ``run.setup_s`` is the time from
    process start until then, less the benchmark's own input
    preparation."""
    import procstat

    base = run.serve(srv)
    rec = run.fetch(base, FIRST_REQUEST, kind="first")
    run.setup_s = procstat.process_age_s() - run.prep_s
    run.check(rec, FIRST_REQUEST)
    return base


def serve_search(run: Run) -> dict:
    """Static index, built cold the way ``cli index`` does in a fresh
    process, then loaded and served the way ``cli serve`` does; then the
    blocks of the request mix, the first ``WARMUP_BLOCKS`` checked but
    not measured."""
    from dogsheep_beta_spark.indexer import run_indexer
    from dogsheep_beta_spark.operators.fts_index import build_fts_index, read_fts_index, write_fts_index
    from dogsheep_beta_spark.server import make_server
    from workload import BLOCK, RULES, serve_requests

    spark = run.session()
    out = os.path.join(run.work, "index")
    t = time.perf_counter()
    df = run_indexer(spark, RULES, os.path.join(out, "search_index"))
    t1 = time.perf_counter()
    fts = build_fts_index(df, mode=run.mode, stem=run.stem)
    t2 = time.perf_counter()
    write_fts_index(fts, os.path.join(out, "fts"))
    t3 = time.perf_counter()
    fts.postings.unpersist()
    fts.doc_lengths.unpersist()
    run.phase("indexer.run_indexer_s", t1 - t)
    run.phase("fts_index.build_s", t2 - t1)
    run.phase("fts_index.write_s", t3 - t2)
    # the load of `cli serve`: persisted index and postings
    index_df = spark.read.parquet(os.path.join(out, "search_index")).persist()
    index_df.count()
    fts = read_fts_index(spark, os.path.join(out, "fts"))
    fts.postings = fts.postings.persist()
    fts.postings.count()
    fts.doc_lengths = fts.doc_lengths.persist()
    fts.doc_lengths.count()
    run.phase("serve.load_s", time.perf_counter() - t3)
    base = first_page(run, make_server(spark, index_df, fts, RULES, port=0))
    fresh_ms = (time.perf_counter() - t) * 1000

    n_blocks = WARMUP_BLOCKS + max(2, round(run.args.seconds * BLOCKS_PER_S))
    for i, req in enumerate(serve_requests(run.args.seed, n_blocks)):
        if i and i % BLOCK == 0:
            # every block (the same requests) meets an empty phrase cache,
            # so two blocks differ only by the time between them
            fts.release_hit_caches()
        run.check(run.fetch(base, req, kind="warmup" if i < WARMUP_BLOCKS * BLOCK else "page"), req)
    return {"setup_s": [run.setup_s], "index_build_s": [t3 - t], "freshness_ms": [fresh_ms]}


def ingest_live(run: Run) -> dict:
    """Serve-while-indexing: seed a partitioned live layout with the
    corpus, start the live server and answer its first page (the cold
    set-up), then per batch write, stream and probe the marker.  Here
    the index is built incrementally: ``index_build_s`` is one batch's
    write + stream run.  The first ``WARMUP_BATCHES`` are checked but
    not measured."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dogsheep_beta_spark.server import make_live_server
    from dogsheep_beta_spark.streaming.incremental import incremental_fts_stream
    from oracle import parse_page
    from workload import EVENTS, RULES, ingest_batches

    spark = run.session()
    live = os.path.join(run.work, "live")
    index_path, fts_path = os.path.join(live, "search_index"), os.path.join(live, "fts")
    srcs, schemas = {}, {}

    def stream(type_tag: str) -> None:
        q = incremental_fts_stream(
            spark,
            spark.readStream.schema(schemas[type_tag]).parquet(srcs[type_tag]),
            index_path, fts_path, type_tag,
            os.path.join(run.work, "ckpt", type_tag.replace("/", "_")),
            partitioned=True, mode=run.mode, stem=run.stem,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream for {type_tag} failed: {q.exception()}")

    # seed: each rule's rows become the first file of its stream source
    # (the writer's _SUCCESS and .crc files are ignored by the source)
    t = time.perf_counter()
    for db, rules in RULES.items():
        for name, rule in rules.items():
            tag = f"{db}/{name}"
            srcs[tag] = os.path.join(run.work, "stream_src", tag.replace("/", "_"))
            base_df = spark.sql(rule["sql"])
            schemas[tag] = base_df.schema
            base_df.write.parquet(srcs[tag])
            stream(tag)
    run.phase("streaming.seed_s", time.perf_counter() - t)
    base = first_page(
        run, make_live_server(spark, index_path, fts_path, RULES, port=0, mode=run.mode, stem=run.stem)
    )

    n_batches = max(WARMUP_BATCHES + 1, round(run.args.seconds * BATCHES_PER_S))
    batches = ingest_batches(run.args.seed, n_batches, BATCH_NEW, BATCH_UPD, run.sizes["events"])
    arrow_schema = pa.schema(
        [("key", pa.int64()), ("title", pa.string()), ("timestamp", pa.string()),
         ("category", pa.int32()), ("is_public", pa.int32()), ("search_1", pa.string())]
    )
    fresh, builds = [], []
    for b, batch in enumerate(batches):
        warm = b < WARMUP_BATCHES
        if run.tracer:
            run.tracer.begin("warmup_batch" if warm else "batch", batch["marker"])
            layout0 = _layout_files(live)
        t0 = time.perf_counter()
        # written aside, then renamed: the source never sees a partial file
        tmp = os.path.join(srcs[EVENTS], f".batch-{b:04d}.parquet")
        pq.write_table(pa.Table.from_pylist(batch["rows"], arrow_schema), tmp)
        batch_bytes = os.path.getsize(tmp)
        os.rename(tmp, os.path.join(srcs[EVENTS], f"batch-{b:04d}.parquet"))
        stream(EVENTS)
        stream_ms = (time.perf_counter() - t0) * 1000
        if run.tracer:
            layout1 = _layout_files(live)
            written = sum(sz for p, sz in layout1.items() if p not in layout0)
            run.tracer.end(stream_ms=stream_ms, write_amp=written / batch_bytes)
        probe = {"kind": "search", "shape": "marker", "args": {"q": batch["marker"]},
                 "match": {"tokens": [batch["marker"]], "prefix": False, "field": None}}
        rec = run.fetch(base, probe, kind="warmup" if warm else "page")
        fresh_ms = (time.perf_counter() - t0) * 1000
        run.oracle.upsert(EVENTS, batch["rows"])
        page = parse_page(rec["body"])
        want = {(EVENTS, str(r["key"])) for r in batch["rows"]}
        got = {(t, k) for t, k, _ in page["results"]}
        run.check(rec, probe, [] if got == want else [f"marker page shows {len(got & want)} of {len(want)} batch rows"])
        if not warm:
            fresh.append(fresh_ms)
            builds.append(stream_ms / 1000)
    return {"setup_s": [run.setup_s], "index_build_s": builds, "freshness_ms": fresh}


def _layout_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


WORKLOADS = {"serve_search": serve_search, "ingest_live": ingest_live}


# -- reduction -------------------------------------------------------------


def window_trend(records: list[dict]) -> float:
    """Drift across the measured window: each page over the median of
    its shape in the run, then median of the second half ÷ median of
    the first half − 1 (negative: the pages got faster).  Comparing
    like with like keeps the mix of cheap and costly shapes out of the
    figure."""
    pages = [r for r in records if r["kind"] == "page"]
    by_shape: dict[str, list[float]] = {}
    for r in pages:
        by_shape.setdefault(r["shape"], []).append(r["ms"])
    ref = {shape: statistics.median(ms) for shape, ms in by_shape.items()}
    norm = [r["ms"] / ref[r["shape"]] for r in pages]
    half = len(norm) // 2
    if not half:
        return 0.0
    return statistics.median(norm[half:]) / statistics.median(norm[:half]) - 1


def end_to_end(run: Run, res: dict) -> dict:
    import procstat

    pages = [r["ms"] for r in run.records if r["kind"] == "page"]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "index_build_s": (statistics.median(res["index_build_s"]), "s"),
        "page_p50_ms": (statistics.median(pages), "ms"),
        "freshness_p50_ms": (statistics.median(res["freshness_ms"]), "ms"),
        "peak_rss_mb": (procstat.tree_peak_rss_mb(), "MB"),
    }


def per_layer(run: Run) -> dict:
    from tracing import page_layers

    tr = run.tracer
    windows = {w["id"]: w for w in tr.windows}
    measured = [r for r in run.records if r["kind"] == "page"]
    rows = []
    for r in measured:
        w = windows[r["window"]]
        lay = page_layers(w, tr.spans_of(w["id"]))
        lay.update({k: w[k] for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "cpu_ms", "gc_ms")})
        lay["search"] = r["args"].get("q") is not None
        rows.append(lay)

    def med(key, sel=None):
        vals = [x[key] for x in rows if sel is None or sel(x)]
        return statistics.median(vals) if vals else 0.0

    batches = [w for w in tr.windows if w["kind"] == "batch"]
    commits = {w["id"]: [s for s in tr.spans_of(w["id"]) if s["name"] == "streaming.commit"] for w in batches}

    def bmed(fn):
        return statistics.median(fn(w) for w in batches) if batches else 0.0

    def commit_ms(w):
        return sum(s["t1"] - s["t0"] for s in commits[w["id"]]) * 1000

    coverage = [x["covered_ms"] / x["wall_ms"] for x in rows]
    lookups = tr.cache_lookups

    def setup_part(name):  # one sample per run, a part of the cold set-up (setup_s)
        return run.phases.get(name, [0.0])[0]

    return {
        "server.acquire_ms": (med("server.acquire_ms"), "ms"),
        "server.acquire_jobs": (med("server.acquire_jobs"), "count"),
        "plans.search.compile_ms": (med("plans.search.compile_ms", lambda x: x["search"]), "ms"),
        "plans.search.py4j_calls": (med("plans.search.py4j_calls", lambda x: x["search"]), "count"),
        "page.topk_ms": (med("page.topk_ms"), "ms"),
        "facets.count_ms": (med("facets.count_ms"), "ms"),
        "facets.facets_ms": (med("facets.facets_ms"), "ms"),
        "plans.hydrate.hydrate_ms": (med("plans.hydrate.hydrate_ms"), "ms"),
        "presentation.render_ms": (med("presentation.render_ms"), "ms"),
        "spark.jobs_per_page": (med("jobs"), "count"),
        "spark.stages_per_page": (med("stages"), "count"),
        "spark.tasks_per_page": (med("tasks"), "count"),
        "spark.executor_run_ms_per_page": (med("executor_run_ms"), "ms"),
        "spark.executor_cpu_ms_per_page": (med("executor_cpu_ms"), "ms"),
        "proc.cpu_ms_per_page": (med("cpu_ms"), "ms"),
        "proc.busy_share": (statistics.median(x["cpu_ms"] / x["wall_ms"] for x in rows), "ratio"),
        "jvm.gc_ms_per_page": (med("gc_ms"), "ms"),
        "fts.phrase_cache_hit_ratio": (tr.cache_hits / lookups if lookups else 0.0, "ratio"),
        "streaming.commit_ms": (bmed(commit_ms), "ms"),
        "streaming.commit_jobs": (bmed(lambda w: sum(s["jobs"] for s in commits[w["id"]])), "count"),
        "streaming.stream_overhead_ms": (bmed(lambda w: w["stream_ms"] - commit_ms(w)), "ms"),
        "streaming.write_amp": (bmed(lambda w: w["write_amp"]), "ratio"),
        "session.start_s": (setup_part("session.start_s"), "s"),
        "streaming.seed_s": (setup_part("streaming.seed_s"), "s"),
        "indexer.run_indexer_s": (setup_part("indexer.run_indexer_s"), "s"),
        "fts_index.build_s": (setup_part("fts_index.build_s"), "s"),
        "fts_index.write_s": (setup_part("fts_index.write_s"), "s"),
        "serve.load_s": (setup_part("serve.load_s"), "s"),
        "trace.page_p50_ms": (statistics.median(r["ms"] for r in measured), "ms"),
        "trace.span_coverage": (statistics.median(coverage), "ratio"),
        "trace.worst_span_gap": (max(abs(1 - c) for c in coverage), "ratio"),
        "trace.unattributed_ms": (statistics.median(x["wall_ms"] - x["covered_ms"] for x in rows), "ms"),
        "window.trend_share": (abs(window_trend(run.records)), "ratio"),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dogsheep_beta_spark", "__init__.py")):
        print(f"perfbench: no dogsheep_beta_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import procstat

    run = Run(args)
    try:
        res = WORKLOADS[args.workload](run)
        metrics = per_layer(run) if args.trace else end_to_end(run, res)
        steal = procstat.steal_share(run.cpu0, procstat.cpu_times())
        if args.trace:
            metrics["host.steal_share"] = (steal, "ratio")
        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "prep_s": run.prep_s, "host_steal_share": steal,
            "window_trend": window_trend(run.records), "phases": run.phases,
            "samples": res, "pages": run.records, "metrics": metrics,
        }
        if run.tracer:
            artifact["trace_dump"] = run.tracer.dump()
    finally:
        run.close()
        shutil.rmtree(run.work, ignore_errors=True)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
