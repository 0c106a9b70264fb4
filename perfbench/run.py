"""lucene_solr_spark benchmark: one command, seeded inputs, checked answers.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. The last line of standard output is one
JSON object {correct, attempted, failed, metrics}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it
holds the run's metadata (cores, calibration, versions, input digests,
sample counts, failing queries). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
K = 10
SEARCH_DOCS = 500  # pages generated for the search index
BASE_DOCS = 500  # pages in the ingest_search base index
BATCH_NEW = 50  # new pages in the ingest batch
BATCH_RECRAWL = 10  # re-crawled existing urls in the ingest batch
AFTER_COMPACT = 4  # leading cycle queries re-checked after the compaction's reopen
STREAM_LEN = 4000  # longer than any run consumes
MIN_QUERIES = 8  # what a --seconds 0 (correctness-only) search run executes
# a merge policy under which every periodic compact folds the index into one
# segment (TieredMergePolicy with fewer than one segment per tier)
COMPACT_POLICY = {"segs_per_tier": 0.5}


def calib_1thread_s() -> float:
    """The 10M-iteration int loop BASELINE.md uses to compare boxes."""
    t = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    return time.perf_counter() - t


def java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True, check=False)
    lines = [ln for ln in (out.stderr + out.stdout).splitlines() if "version" in ln]
    return lines[0] if lines else "unknown"


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of the driver processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def segment_dirs(paths) -> dict[str, int]:
    root = paths.postings
    return {
        d: dir_bytes(os.path.join(root, d)) for d in os.listdir(root) if d.startswith("seg_id=")
    }


class Run:
    """One benchmark process: Spark session, reference, tracer, inputs."""

    def __init__(self, args, cores: int, work: str):
        from lucene_solr_spark.session import get_spark

        from perfbench import tracing
        from perfbench.oracle import Oracle

        self.args, self.work = args, work
        self._mark = time.perf_counter()
        self.spark = get_spark(app="perfbench", cpus=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        self.pids = [os.getpid(), self.jvm.pid]
        self.oracle = Oracle(threads=cores)
        if args.plant_delay_ms:
            self._plant_delay(args.plant_delay_ms / 1e3)
        self.tracer = tracing.Tracer(self.spark) if args.trace else tracing.NullTracer()
        self.latencies_ms: list[float] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.fs: dict = {"tombstones": 0, "segments_before": [], "segments_after": [],
                         "bytes_rewritten": 0, "bytes_appended": 0}
        self.meta: dict = {"phase_s": {}}
        self.phase("spark")

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended (metadata)."""
        now = time.perf_counter()
        self.meta["phase_s"][name] = round(now - self._mark, 3)
        self._mark = now

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        self.tracer.close()
        self.oracle.close()
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()

    @staticmethod
    def _plant_delay(delay_s: float) -> None:
        """Self-check of the trace: a fixed sleep in one layer's function."""
        from lucene_solr_spark.query.executor import Searcher

        orig = Searcher.lookup_terms

        def delayed(self, terms):
            time.sleep(delay_s)
            return orig(self, terms)

        Searcher.lookup_terms = delayed

    # --- engine operations (public API only, looked up at call time so the
    # tracer's wrappers are seen) -------------------------------------------
    def build(self, pages, out_dir: str):
        from lucene_solr_spark.index import build

        frame = self.spark.createDataFrame(pages[["url", "warc_ts", "text"]])
        with self.tracer.op("build"):
            t = time.perf_counter()
            paths = build.build_index(self.spark, frame, out_dir, ts_col="warc_ts", positions=True)
            return paths, time.perf_counter() - t

    def open_searcher(self, paths):
        from lucene_solr_spark.query import executor

        with self.tracer.op("open"):
            return executor.Searcher(self.spark, paths)

    def execute(self, searcher, q: dict):
        """Run one query to its collected top-k; returns [(doc_id, score)]."""
        f, cl = q["family"], q["clauses"]
        terms = [c[2][0] for c in cl]
        if f in ("term1", "or2", "or3"):
            df = searcher.search(q["text"], k=K)
        elif f == "and":
            df = searcher.boolean_search(must=searcher.analyze_query(q["text"]), k=K)
        elif f == "not":
            df = searcher.boolean_search(must=searcher.analyze_query(terms[0]),
                                         must_not=searcher.analyze_query(terms[1]), k=K)
        elif f == "phrase":
            df = searcher.phrase_search(q["text"], k=K)
        elif f == "msm":
            df = searcher.boolean_search(should=searcher.analyze_query(q["text"]),
                                         min_should_match=q["msm"], k=K)
        else:
            df = searcher.query(q["text"], k=K)
        with self.tracer.span("collect", "query.executor.collect"):
            rows = df.collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def timed_query(self, searcher, q: dict, record: bool = True):
        """(latency_s, rows or None, error or None)."""
        with self.tracer.op("query" if record else "warmup", q["family"]):
            t = time.perf_counter()
            try:
                rows, err = self.execute(searcher, q), None
            except Exception as e:  # noqa: BLE001 — a failed query is a counted outcome
                rows, err = None, f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            dt = time.perf_counter() - t
        if record:
            self.latencies_ms.append(dt * 1e3)
        return dt, rows, err

    def check(self, q: dict, rows, err, ranking) -> None:
        """Count one executed query; a wrong top-k or an error fails it."""
        from perfbench.oracle import compare_topk

        self.attempted += 1
        reason = err if err is not None else compare_topk(rows, ranking, K)
        if reason is not None:
            self.failures.append({"family": q["family"], "query": q["text"], "reason": reason})

    def check_dictionary(self, paths, what: str) -> None:
        """The index's current term table equals the reference's."""
        self.attempted += 1
        with open(paths.stats) as fh:
            terms_dir = os.path.join(paths.root, json.load(fh).get("terms_dir", "terms"))
        got = self.oracle.con.execute(
            f"SELECT term, df, ttf FROM read_parquet('{terms_dir}/**/*.parquet')"
        ).df()
        merged = self.oracle.dictionary().merge(
            got, on="term", how="outer", suffixes=("_ref", "_idx"))
        bad = merged[(merged["df_ref"] != merged["df_idx"]) | (merged["ttf_ref"] != merged["ttf_idx"])]
        if len(bad):
            self.failures.append({"family": what, "query": "term dictionary",
                                  "reason": f"{len(bad)} terms differ, e.g. {bad.head(3).to_dict('records')}"})

    def check_reference(self, terms: list[str]) -> None:
        """The reference ranks one query as the gates' own bm25_sql does."""
        self.attempted += 1
        if not self.oracle.self_check(terms):
            self.failures.append({"family": "reference", "query": " ".join(terms),
                                  "reason": "bm25_sql ranks it differently"})

    def warm_up(self, searcher, picker, bigrams) -> None:
        """Warm the boolean and parser query paths, then reopen so the
        measured stream starts with empty caches."""
        from perfbench.inputs import new_query

        for fam in ("or2", "parsed"):
            self.timed_query(searcher, new_query(fam, picker, bigrams), record=False)
        with self.tracer.op("open"):
            searcher.reopen()

    def setup_index(self, pages):
        """Build the index and open a searcher on it."""
        paths, build_s = self.build(pages, os.path.join(self.work, "index"))
        return paths, self.open_searcher(paths), build_s

    # --- result ------------------------------------------------------------
    def metrics(self, setup_s, build_s, n_pages, index_bytes, in_bytes, loop_s) -> dict:
        lat = self.latencies_ms
        self.meta["query_samples"] = len(lat)
        self.meta["build_docs_per_s"] = n_pages / build_s
        self.meta["driver_peak_rss_mb"] = peak_rss_mb(self.pids)
        # too few samples beyond it (1-5) to gate; see README.md
        self.meta["query_p90_ms"] = statistics.quantiles(lat, n=10)[-1]
        return {
            "setup_s": (setup_s, "s"),
            "index_bytes_per_input_byte": (index_bytes / in_bytes, "ratio"),
            "query_p50_ms": (statistics.median(lat), "ms"),
            "queries_per_s": (len(lat) / loop_s, "1/s"),
        }


# --- workloads ----------------------------------------------------------------
def reference_docs(pages, first_id: int = 0):
    """The documents an index holds after taking in `pages`: newest crawl
    per url, docIDs by url rank from `first_id` (bulk build and NRT append
    alike)."""
    from perfbench.inputs import dedup_latest

    docs = dedup_latest(pages).sort_values("url").reset_index(drop=True)
    docs["doc_id"] = range(first_id, first_id + len(docs))
    docs["live"] = True
    return docs[["doc_id", "url", "text", "live"]]


def workload_search(run: Run) -> dict:
    import numpy as np

    from perfbench import inputs

    a = run.args
    pages = inputs.generate_corpus(run.spark, SEARCH_DOCS, a.seed)
    docs = reference_docs(pages)
    run.oracle.load(docs)
    picker = inputs.TermPicker(run.oracle.dictionary(), len(docs), np.random.RandomState(a.seed))
    bigrams = run.oracle.bigrams(range(200))
    stream = inputs.query_stream(picker, bigrams, STREAM_LEN)
    warm = inputs.TermPicker(run.oracle.dictionary(), len(docs), np.random.RandomState(a.seed + 1))
    run.meta.update(corpus_digest=inputs.digest(pages), stream_digest=inputs.stream_digest(stream))
    run.phase("inputs")

    t = time.perf_counter()
    paths, searcher, build_s = run.setup_index(pages)
    run.warm_up(searcher, warm, bigrams)
    setup_s = time.perf_counter() - t
    run.phase("setup")
    executed = []
    loop_s = 0.0
    for q in stream:
        if loop_s >= a.seconds and len(executed) >= MIN_QUERIES:
            break
        dt, rows, err = run.timed_query(searcher, q)
        loop_s += dt
        executed.append((q, rows, err))
    run.phase("measure")

    run.check_dictionary(paths, "build")
    rankings: dict[int, object] = {}
    for q, rows, err in executed:
        if q["qid"] not in rankings:
            rankings[q["qid"]] = run.oracle.ranking(q["clauses"], q["msm"])
        run.check(q, rows, err, rankings[q["qid"]])
    run.check_reference(picker.distinct(2))
    run.meta["distinct_queries"] = len(rankings)
    run.phase("check")
    return run.metrics(setup_s, build_s, len(pages), dir_bytes(paths.root),
                       inputs.input_bytes(pages), loop_s)


def make_batch(pages, base_n: int, seed: int):
    """The update batch: new pages plus re-crawls of base urls (new text,
    newer crawl time)."""
    import numpy as np

    rng = np.random.RandomState(seed + 7)
    base_urls = sorted(set(pages["url"][:base_n]))
    batch = pages.iloc[base_n: base_n + BATCH_NEW + BATCH_RECRAWL].copy()
    targets = rng.choice(len(base_urls), BATCH_RECRAWL, replace=False)
    batch.iloc[BATCH_NEW:, batch.columns.get_loc("url")] = [base_urls[i] for i in targets]
    return batch.reset_index(drop=True)


def cycle_queries(picker, new_terms: list[str], stale_terms: list[str], bigrams):
    """Fixed query set over old terms and terms new in the batch;
    `stale_terms` occur only in the superseded version of a re-crawled page.
    The terms of one query are distinct."""
    from perfbench.inputs import make_query

    rng = picker.rng

    def pick(pool, cls):
        return pool[int(rng.randint(0, len(pool)))] if pool else picker.term(cls)

    fresh, stale = pick(new_terms, "tail"), pick(stale_terms, "tail")
    head = picker.other([fresh], "head")
    mid = picker.other([fresh, head], "mid")
    return [
        make_query("term1", [fresh]),
        make_query("term1", [stale]),
        make_query("or2", [head, fresh]),
        make_query("and", [head, mid]),
        make_query("not", [head, mid]),
        make_query("phrase", list(bigrams[int(rng.randint(0, len(bigrams)))])) if bigrams
        else make_query("phrase", picker.distinct(2)),
        make_query("msm", [head, mid, fresh]),
        make_query("parsed", [head, fresh, picker.other([head, fresh], "tail")]),
    ]


def tombstones(oracle, paths) -> int:
    d = os.path.join(paths.root, "deletes")
    if not os.path.isdir(d):
        return 0
    return int(oracle.con.execute(
        f"SELECT COUNT(DISTINCT doc_id) FROM read_parquet('{d}/**/*.parquet')").fetchone()[0])


def workload_ingest_search(run: Run) -> dict:
    import numpy as np
    import pandas as pd

    from lucene_solr_spark.index import merge
    from lucene_solr_spark.streaming import nrt

    from perfbench import inputs

    a = run.args
    pages = inputs.generate_corpus(run.spark, BASE_DOCS + BATCH_NEW + BATCH_RECRAWL, a.seed)
    base = pages.iloc[:BASE_DOCS].reset_index(drop=True)
    batch = make_batch(pages, BASE_DOCS, a.seed)
    docs = reference_docs(base)
    run.oracle.load(docs)
    rng = np.random.RandomState(a.seed)
    run.meta["corpus_digest"] = inputs.digest(pages)
    run.phase("inputs")

    # no warm-up: the measured queries follow a reopen that empties the caches
    t = time.perf_counter()
    paths, searcher, build_s = run.setup_index(base)
    setup_s = time.perf_counter() - t
    run.phase("setup")
    run.check_dictionary(paths, "build")
    run.check_reference(inputs.TermPicker(
        run.oracle.dictionary(), len(docs), np.random.RandomState(a.seed + 1)).distinct(2))

    # reference state after the batch and the cycle's queries (untimed)
    old_terms = set(run.oracle.dictionary()["term"])
    replaced = docs[docs["live"] & docs["url"].isin(set(batch["url"]))]
    new_docs = reference_docs(batch, first_id=len(docs))
    docs.loc[replaced.index, "live"] = False
    docs = pd.concat([docs, new_docs], ignore_index=True)
    run.oracle.load(docs)
    dictionary = run.oracle.dictionary()
    picker = inputs.TermPicker(dictionary, len(docs), rng)
    qs = cycle_queries(picker, sorted(set(dictionary["term"]) - old_terms),
                       run.oracle.stale_terms(replaced["doc_id"]),
                       run.oracle.bigrams(new_docs["doc_id"]))
    run.meta["stream_digest"] = inputs.stream_digest(qs)
    rankings = [run.oracle.ranking(q["clauses"], q["msm"]) for q in qs]
    tomb0, seg0 = tombstones(run.oracle, paths), segment_dirs(paths)
    run.phase("reference")

    # measured cycle: update until visible, queries, compact, queries
    with run.tracer.op("update"):
        t = time.perf_counter()
        nrt.update_documents(run.spark, run.spark.createDataFrame(
            batch[["url", "warc_ts", "text"]]), paths, ts_col="warc_ts")
        searcher.reopen()
        visible_s = time.perf_counter() - t
    results = [run.timed_query(searcher, q) for q in qs]
    seg1 = segment_dirs(paths)
    with run.tracer.op("compact"):
        t = time.perf_counter()
        merge.compact(run.spark, paths, **COMPACT_POLICY)
        searcher.reopen()
        compact_s = time.perf_counter() - t
    results += [run.timed_query(searcher, q) for q in qs[:AFTER_COMPACT]]
    loop_s = visible_s + compact_s + sum(r[0] for r in results)
    run.phase("measure")

    # checks and index-directory accounting (untimed)
    seg2 = segment_dirs(paths)
    n_del = tombstones(run.oracle, paths) - tomb0
    run.fs["tombstones"] += n_del
    run.fs["bytes_appended"] += sum(b for d, b in seg1.items() if d not in seg0)
    run.fs["segments_before"].append(len(seg1))
    run.fs["segments_after"].append(len(seg2))
    run.fs["bytes_rewritten"] += sum(b for d, b in seg2.items() if d not in seg1)
    run.check_dictionary(paths, "update")
    run.attempted += 1
    if n_del != len(replaced):
        run.failures.append({"family": "update", "query": "batch",
                             "reason": f"{n_del} tombstones, expected {len(replaced)}"})
    for q, rk, (_, rows, err) in zip(qs + qs, rankings + rankings, results):
        run.check(q, rows, err, rk)
    run.phase("check")

    run.meta.update(loop_s=loop_s, update_visible_p50_ms=visible_s * 1e3,
                    ingest_docs_per_s=len(batch) / visible_s)
    in_bytes = inputs.input_bytes(base) + inputs.input_bytes(batch)
    return run.metrics(setup_s, build_s, len(base), dir_bytes(paths.root), in_bytes, loop_s)


WORKLOADS = {"search": workload_search, "ingest_search": workload_ingest_search}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-delay-ms", type=float, default=0.0,
                    help="trace self-check: sleep this long in every Searcher.lookup_terms")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")):
        print(f"perfbench: no lucene_solr_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from the checkout whatever their cwd;
    # Spark and Python scratch files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)

    import pyspark

    run = None
    try:
        run = Run(args, cores, work)
        from perfbench import inputs, tracing

        calib = [calib_1thread_s()]
        metrics = WORKLOADS[args.workload](run)
        calib.append(calib_1thread_s())
        meta = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "calib_1thread_s": statistics.median(calib),
            "calib_samples": calib, "latencies_ms": [round(x, 1) for x in run.latencies_ms],
            "pyspark": pyspark.__version__, "java": java_version(),
            "python": platform.python_version(),
            "failed_queries": run.failures[:50], **run.meta,
        }
        meta["failed_op_frac"] = len(run.failures) / run.attempted
        if args.trace:
            out = tracing.summarize(run.tracer, cores, run.fs, inputs.FAMILIES)
            meta["build_job_callsites"] = tracing.build_job_callsites(run.tracer)
            meta["end_to_end_traced"] = {k: v for k, (v, _) in metrics.items()}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            run.tracer.write(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
            result = {k: {"value": v, "unit": tracing.unit_of(k)} for k, v in out.items()}
        else:
            result = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        print(json.dumps(meta, default=str))
        print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                          "failed": len(run.failures), "metrics": result}))
        return 0
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
