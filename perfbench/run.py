#!/usr/bin/env python3
"""Benchmark of the spark-cherche engine: Spark batch search over a
stream-built index, and cold ``LocalSearcher`` serving.

    python3 perfbench/run.py --workload serve_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine is imported from that
checkout and driven only through its public calls. After the Spark
session starts, set-up (corpus synthesis, index build and, for serving,
opening and warming the searcher) runs ``SETUPS`` times before any
timing; ``setup_s`` is the median. The last line
of standard output is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics (from spans and the Spark event log)
with ``--trace 1``. Every file the run writes goes under
``perfbench/.work``. See ``perfbench/README.md`` for the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

import workload as wl  # noqa: E402  (sibling module of this script)
from spans import SPARK_FIELDS, Tracer, spark_rollup  # noqa: E402

CORES = len(os.sched_getaffinity(0))
N_DOCS = 500  # corpus size of every workload
SETUPS = 2  # set-ups per run; setup_s is their median
K = 10
BATCH_QUERIES = 64  # batch_search batch: half head-heavy, half rare-tail
WARMUP_SEARCHES = 2  # untimed batch searches before the timed phase
CHECK_QUERIES = 8  # sampled queries checked against a reference per run
COLD_CACHE_BYTES = 64 << 10  # well below the postings a cold query touches
STREAM_LEN = 5_000  # distinct queries generated per serve run (never exhausted)

SPARK_SPANS = ("build", "compact", "query.plan", "query.exec")
INDEX_STAGES = ("tf", "docmap", "termdict", "postings", "lineage")
DELTA_STAGES = ("validate", "termdict", "postings", "lineage")

# (name, unit) — the metrics every run prints, in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("op_p90_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("driver_peak_rss_mb", "MB"),
    ("index_bytes_per_text_byte", "B/B"),
)
PER_LAYER = (
    tuple((f"index.stage.{s}_s", "s") for s in INDEX_STAGES)
    + tuple((f"index.{t}_mb", "MB") for t in ("postings", "termdict", "docmap"))
    + tuple(
        (f"streaming.{c}_s", "s")
        for c in ("add_batch", "delete_batch", "materialize", "compact")
    )
    + tuple((f"streaming.stage.{s}_s", "s") for s in DELTA_STAGES)
    + (
        ("streaming.segments", "count"),
        ("query.plan_s", "s"),
        ("query.exec_s", "s"),
        ("query.result_rows", "count"),
        ("query.empty_queries", "count"),
        ("serve.open_s", "s"),
        ("serve.match_ms", "ms"),
        ("text.query_ngrams_ms", "ms"),
        ("codec.decode_ms", "ms"),
        ("codec.postings_decoded", "count"),
        ("serve.other_ms", "ms"),
        ("serve.reads_per_query", "count"),
    )
    + tuple(
        (
            f"spark.{sp}.{f}",
            "count" if f in ("jobs", "tasks") else "MB" if f.endswith("_mb") else "s",
        )
        for sp in SPARK_SPANS
        for f in SPARK_FIELDS
    )
    + (("trace.op_p50_ms", "ms"), ("trace.unattributed_pct", "%"))
)


class Run:
    """State of one benchmark run: session, tracer, counters, metrics."""

    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float, work: Path):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.op_ms: list[float] = []
        self.setup_s: list[float] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def setups(self, make):
        """Run ``make(i)`` SETUPS times, timing each; returns the last
        result. Earlier set-ups' files are removed."""
        state = None
        for i in range(SETUPS):
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                state = make(i)
            self.setup_s.append(time.perf_counter() - t0)
            for old in self.work.glob(f"s{i - 1}-*"):
                shutil.rmtree(old)
        return state

    def timed(self, op) -> None:
        """Call ``op()`` until ``seconds`` have passed (at least once).
        An exception counts as a failed operation."""
        with self.tracer.span("phase"):
            t_end = time.perf_counter() + self.seconds
            while True:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    op()
                except Exception:  # a failed op is a result, not a crash
                    self.failed += 1
                    traceback.print_exc()
                self.op_ms.append((time.perf_counter() - t0) * 1e3)
                if time.perf_counter() >= t_end:
                    break


# ------------------------------------------------------------ checks


def ranking_matches(got: list, want: list, k: int, rtol: float) -> bool:
    """Tie-set equality of top-``k`` ``(doc_id, score)`` lists.

    ``want`` may run past ``k``: a tie block that crosses rank ``k``
    only has to contain the docs ``got`` kept from it."""
    if len(got) != min(k, len(want)):
        return False
    i = 0
    while i < len(got):
        s = want[i][1]
        j = i
        while j + 1 < len(want) and abs(want[j + 1][1] - s) <= rtol * abs(s):
            j += 1
        block = {d for d, _ in want[i : j + 1]}
        kept = got[i : j + 1]
        if not {d for d, _ in kept} <= block:
            return False
        if j < len(got) and {d for d, _ in kept} != block:
            return False
        if any(abs(x - s) > rtol * max(abs(s), 1e-12) for _, x in kept):
            return False
        i = j + 1
    return True


def _topk_rows(rows) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"]))
        )
    return out


def exact_topk(spark, docs: list, queries: list[str], k: int) -> dict[int, list]:
    """Reference top-k from ``retrieve_exact`` over ``bm25_weights``."""
    from neural_cherche_spark.index import bm25_weights
    from neural_cherche_spark.query import retrieve_exact

    qdf = spark.createDataFrame(
        list(enumerate(queries)), "query_id long, query string"
    )
    w = bm25_weights(_docs_df(spark, docs).select("doc_id", "text"), id_col="doc_id")
    return _topk_rows(retrieve_exact(w, qdf, k=k).collect())


# --------------------------------------------------------- workloads


def _docs_df(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, url string, text string")


def _dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / (1 << 20)


def _index_size(run: Run, index, index_dir: Path, docs: list) -> None:
    """Exact on-disk bytes of the index tables against the input text."""
    m = index.manifest
    mb = {
        "postings": _dir_mb(index_dir / "postings"),
        "termdict": _dir_mb(index_dir / (m.termdict_path or "termdict")),
        "docmap": _dir_mb(index_dir / "docmap"),
    }
    text = sum(len(t.encode()) for _, _, t in docs)
    run.e2e["index_bytes_per_text_byte"] = sum(mb.values()) * (1 << 20) / text
    for t, v in mb.items():
        run.layer[f"index.{t}_mb"] = v


def _stage_walls(manifest, names, prefix: str, acc: dict) -> None:
    for s in names:
        acc.setdefault(f"{prefix}{s}_s", []).append(
            float(manifest.stages.get(s, {}).get("wall_s", 0.0))
        )


def batch_search(run: Run) -> None:
    """Spark query path over a stream-built raw index with tombstones.

    Set-up is the stream write path: ``add_batch`` of the corpus,
    ``delete_batch`` of 1% of it and ``materialize(storage="raw")``.
    The timed operation is one ``index.search(qdf, k=10, mode="bmw")``
    plus ``.collect()`` over the whole query batch."""
    from neural_cherche_spark.streaming.compressed import CompressedIndexStream

    spark, tr = run.spark, run.tracer
    corpus = wl.corpus(run.seed, N_DOCS)
    # 1% of the docs, spread over the id range
    dead = [d for d, _, _ in corpus[:: 100]][: max(1, N_DOCS // 100)]
    gone = set(dead)
    live = [d for d in corpus if d[0] not in gone]
    walls: dict[str, list] = {}

    def step(name, fn):
        with tr.span(name):
            t0 = time.perf_counter()
            out = fn()
            walls.setdefault(f"{name}_s", []).append(time.perf_counter() - t0)
        return out

    def make(i):
        st = CompressedIndexStream(spark, str(run.work / f"s{i}-stream"), url_col="url")
        idx_dir = run.work / f"s{i}-index"
        with tr.span("build"):
            step("streaming.add_batch", lambda: st.add_batch(_docs_df(spark, corpus)))
            step("streaming.delete_batch", lambda: st.delete_batch(dead))
            index = step(
                "streaming.materialize",
                lambda: st.materialize(str(idx_dir), storage="raw"),
            )
        _stage_walls(index.manifest, DELTA_STAGES, "streaming.stage.", walls)
        return st, idx_dir, index

    st, idx_dir, index = run.setups(make)
    run.attempted += 1
    if index.manifest.n_docs != len(live):
        run.failed += 1
        print(f"n_docs {index.manifest.n_docs} != {len(live)} live", file=sys.stderr)
    _index_size(run, index, idx_dir, corpus)
    queries = wl.head_queries(run.seed, BATCH_QUERIES // 2) + wl.rare_stream(
        run.seed, BATCH_QUERIES // 2
    )
    qdf = spark.createDataFrame(list(enumerate(queries)), "query_id long, query string")
    last: dict = {}

    def search():
        res = step("query.plan", lambda: index.search(qdf, k=K, mode="bmw"))
        last["rows"] = step("query.exec", res.collect)

    # The reference for the sampled queries: the exact path over the
    # same live docs. Computed before timing, it also warms the session.
    sample = list(range(0, BATCH_QUERIES, BATCH_QUERIES // CHECK_QUERIES))
    with tr.span("warmup"):
        want = exact_topk(spark, live, [queries[q] for q in sample], K + 10)
        # the first searches of a session compile the query path
        for _ in range(WARMUP_SEARCHES):
            index.search(qdf, k=K, mode="bmw").collect()
    run.timed(search)
    got = _topk_rows(last["rows"])
    for j, q in enumerate(sample):
        if not ranking_matches(got.get(q, []), want.get(j, []), K, 1e-9):
            run.failed += 1
            print(f"mismatch: query {q} {queries[q]!r}", file=sys.stderr)
    run.layer["streaming.segments"] = len(index.manifest.segments)
    run.layer["query.result_rows"] = len(last["rows"])
    run.layer["query.empty_queries"] = BATCH_QUERIES - len(got)
    if tr.enabled:
        # compact is a per-layer measurement only: it is outside every
        # end-to-end metric, so untraced runs skip its cost
        with tr.span("compact"):
            compacted = step("streaming.compact", lambda: st.compact(str(idx_dir)))
        run.attempted += 1
        if compacted.manifest.n_docs != len(live):
            run.failed += 1
            print("compact changed n_docs", file=sys.stderr)
    for name, v in walls.items():
        run.layer[name] = statistics.median(v)


def serve_cold(run: Run) -> None:
    """One single-threaded client in a closed loop over ``LocalSearcher``,
    sending distinct rare-tail queries past a cache too small to help."""
    import neural_cherche_spark.index.codec as codec
    import neural_cherche_spark.query.bmw as bmw
    import neural_cherche_spark.text.ngrams as ngrams
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.serve import LocalSearcher

    spark, tr = run.spark, run.tracer
    corpus = wl.corpus(run.seed, N_DOCS)
    stream = wl.rare_stream(run.seed, STREAM_LEN + 1)
    warm = stream.pop()
    open_s: list[float] = []
    stages: dict[str, list] = {}

    def make(i):
        idx_dir = run.work / f"s{i}-index"
        with tr.span("build"):
            index = build_index(spark, _docs_df(spark, corpus), str(idx_dir), id_col="doc_id")
        _stage_walls(index.manifest, INDEX_STAGES, "index.stage.", stages)
        t0 = time.perf_counter()
        searcher = LocalSearcher.from_index(index, cache_bytes=COLD_CACHE_BYTES)
        open_s.append(time.perf_counter() - t0)
        # the first read parses the row-group index; keep it out of timing
        searcher.search(warm, k=K)
        return index, idx_dir, searcher

    index, idx_dir, searcher = run.setups(make)
    _index_size(run, index, idx_dir, corpus)
    tr.wrap(bmw, "serving_match_rows", "serve.match")
    tr.wrap(ngrams, "char_wb_ngrams", "text.query_ngrams")
    for fn in ("decode_blocks_batched", "decode_blocks_raw_batched"):
        tr.wrap(codec, fn, "codec.decode", count=lambda out: len(out[0]))
    queries = iter(stream)
    answers: dict[str, list] = {}
    reads: list[int] = []

    def one():
        q = next(queries)
        before = searcher.cache_misses
        with tr.span("serve.query"):
            res = searcher.search(q, k=K)
        reads.append(searcher.cache_misses - before)
        if len(answers) < CHECK_QUERIES and q not in answers:
            answers[q] = [(r["doc_id"], r["score"]) for r in res]

    try:
        run.timed(one)
    finally:
        tr.close()
    checked = list(answers)
    want = _topk_rows(index.search_serving(checked, k=K).collect())
    rtol = 1e-9 if index.storage == "raw" else 1e-12
    for j, q in enumerate(checked):
        got, exp = answers[q], want.get(j, [])
        if [d for d, _ in got] != [d for d, _ in exp] or any(
            abs(a - b) > rtol * max(abs(b), 1e-12) for (_, a), (_, b) in zip(got, exp)
        ):
            run.failed += 1
            print(f"mismatch: {q!r}", file=sys.stderr)
    for name, v in stages.items():
        run.layer[name] = statistics.median(v)
    run.layer["serve.open_s"] = statistics.median(open_s)
    run.layer["serve.reads_per_query"] = sum(reads) / max(1, len(reads))
    if tr.enabled:
        _serve_layers(run)


def _serve_layers(run: Run) -> None:
    """Per-query means of each layer's self time in the serving loop."""
    tr = run.tracer
    selft = tr.self_times()
    byid = {s["id"]: s for s in tr.spans}
    qspans = [s for s in tr.spans if s["name"] == "serve.query"]
    sums = dict.fromkeys(("serve.match", "text.query_ngrams", "codec.decode"), 0.0)
    decoded = 0
    for s in tr.spans:
        p = s["parent"]
        while p is not None and byid[p]["name"] != "serve.query":
            p = byid[p]["parent"]
        if p is None or s["name"] not in sums:
            continue
        sums[s["name"]] += selft[s["id"]]
        decoded += s.get("n", 0)
    n = max(1, len(qspans))
    run.layer["serve.match_ms"] = sums["serve.match"] / n * 1e3
    run.layer["text.query_ngrams_ms"] = sums["text.query_ngrams"] / n * 1e3
    run.layer["codec.decode_ms"] = sums["codec.decode"] / n * 1e3
    run.layer["codec.postings_decoded"] = decoded / n
    run.layer["serve.other_ms"] = sum(selft[s["id"]] for s in qspans) / n * 1e3


WORKLOADS = {
    "batch_search": batch_search,
    "serve_cold": serve_cold,
}


# -------------------------------------------------------------- main


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the samples around it."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def start_spark(work: Path, trace: bool):
    from neural_cherche_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(run: Run, work: Path) -> None:
    tr = run.tracer
    intervals = [
        (s["name"], s["start"], s["start"] + s["dur"])
        for s in tr.spans
        if s["name"] in SPARK_SPANS
    ]
    roll, detail = spark_rollup(work / "eventlog", intervals)
    for sp in SPARK_SPANS:
        n = max(1, sum(1 for name, _, _ in intervals if name == sp))
        for f in SPARK_FIELDS:
            run.layer[f"spark.{sp}.{f}"] = roll.get(sp, {}).get(f, 0.0) / n
    phase = next(s for s in tr.spans if s["name"] == "phase")
    run.layer["trace.op_p50_ms"] = statistics.median(run.op_ms)
    run.layer["trace.unattributed_pct"] = (
        100.0 * tr.self_times()[phase["id"]] / phase["dur"]
    )
    trace_file = WORK / f"trace-{work.name}.json"
    tr.dump(trace_file, spark_stages=detail, spark_rollup=roll)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    work = WORK / f"{name}-{seed}-{int(trace)}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Spark's Python workers import the engine from this checkout, and
    # every temporary file stays inside it
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    # the JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    tracer = Tracer(trace)
    try:
        spark = start_spark(work, trace)
        try:
            run = Run(spark, tracer, seed, seconds, work)
            WORKLOADS[name](run)
        finally:
            stop_spark(spark)
        if trace:
            layer_metrics(run, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    run.e2e |= {
        "setup_s": statistics.median(run.setup_s),
        "op_p50_ms": statistics.median(run.op_ms),
        "op_p90_ms": p90(run.op_ms),
        "ops_per_s": len(run.op_ms) / (sum(run.op_ms) / 1e3),
        "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }
    names = PER_LAYER if trace else END_TO_END
    src = run.layer if trace else run.e2e
    metrics = {
        m: {"value": float(src.get(m, 0.0)), "unit": unit} for m, unit in names
    }
    bad = [m for m, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        raise RuntimeError(f"non-finite metrics: {bad}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
