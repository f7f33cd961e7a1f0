"""Benchmark of the index build and BM25 top-k serving paths.

    python3 perfbench/run.py --workload query_selective --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run generates a seeded corpus, builds an
index with ``build_index`` defaults, opens ``IndexQueryEngine`` with its
constructor defaults and sends it a closed loop of queries from one client
for ``--seconds`` seconds; every answer is checked against a DuckDB oracle
that never reads the index tables. ``--trace 1`` runs the same pipeline with
spans around each layer and reports per-layer metrics instead of end-to-end
ones. The last stdout line is the result JSON; the line before it records the
host. Workloads and metrics are described in perfbench/README.md.
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
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

N_DOCS = 4000
N_FILES = 8
# build_index defaults, except one stage-A unit and one stage-B group: each
# extra unit or group is a resumability checkpoint costing ~3 s of fixed job
# overhead on this corpus, and a whole run has to fit in about a minute
BUILD_ARGS = {"units": 1, "shard_groups": 1}
K = 10
BATCH = 8  # queries per topk_batch round
BATCH_EVERY = 4  # every 4th operation of the loop is a batch round
MIN_SINGLE, MIN_BATCH = 5, 2
SETUPS = 2  # engine set-ups per run; setup_s counts their median
# warm-up queries come from their own generator stream, so they never
# repeat a timed query
WARMUP_SEED_OFFSET = 1_000_003
# workload -> QueryGen method producing its query texts
WORKLOADS = {"query_selective": "selective", "query_hot": "hot"}

perf = time.perf_counter


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    return args


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _no_op(frames):
    for f in frames:
        yield f.iloc[:0]


def median_ms(values) -> float:
    return statistics.median(values) * 1000.0


class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.tag = f"{args.workload}-s{args.seed}-t{args.trace}"
        self.dir = os.path.join(WORK, f"{self.tag}-{os.getpid()}")
        self.src = os.path.join(self.dir, "src")
        self.idx = os.path.join(self.dir, "index")
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.engine = None
        self.oracle = None
        self.tracer = None
        self.host: dict = {}
        self.samples: dict = {}
        # seconds since start at the end of each phase, kept in the result file
        self.t0 = perf()
        self.timeline: dict[str, float] = {}
        # (query text, [(doc_id, score)] or None when the call raised)
        self.answers: list[tuple[str, list | None]] = []
        # analyzed terms the current engine has looked up (its dictionary
        # cache holds them), so traced dictionary lookups time only misses
        self.seen_terms: set[str] = set()

    def _mark(self, phase: str) -> None:
        self.timeline[phase] = perf() - self.t0

    # ------------------------------------------------------------ set-up --
    def _start_spark(self):
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp)
        # Python workers and the JVM inherit these: temp files stay in the
        # checkout and workers can import the engine package
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # the launcher and Spark-driver JVMs write no perf-data files outside the checkout
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        from data_prepper_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            cores=self.cpus,
            extra_conf={
                "spark.local.dir": os.path.join(self.dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def _build(self) -> tuple[object, float]:
        from data_prepper_spark.index import build as build_mod

        t = self.tracer
        if t:
            for attr, name in (
                ("_run_stage_a", "build.stage_a"),
                ("_write_corpus_stats", "build.corpus_stats"),
                ("_run_stage_b", "build.stage_b"),
                ("_write_dictionary", "build.dictionary"),
            ):
                t.wrap(build_mod, attr, name)
        try:
            t0 = perf()
            if t:
                with t.span("build"):
                    res = build_mod.build_index(self.spark, self.src, self.idx, **BUILD_ARGS)
            else:
                res = build_mod.build_index(self.spark, self.src, self.idx, **BUILD_ARGS)
            return res, perf() - t0
        finally:
            if t:
                t.unwrap_all()

    def _open_engine(self, make_query) -> float:
        """One engine set-up: construct, then a first query of the workload's
        kind, which fills the block cache and starts the Python workers."""
        from data_prepper_spark.query.engine import IndexQueryEngine

        if self.engine is not None:
            self.engine.close()
        text = make_query()
        t0 = perf()
        self.engine = IndexQueryEngine(self.spark, self.idx)
        self.engine.topk_rows(text, K)
        dt = perf() - t0
        self.seen_terms = set(self._terms(text))
        return dt

    @staticmethod
    def _terms(text: str) -> list[str]:
        from data_prepper_spark.analyzer import tokenize_py

        return sorted(set(tokenize_py(text)))

    def _cache_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    # ------------------------------------------------------- operations --
    def _single(self, text: str) -> float | None:
        self.seen_terms.update(self._terms(text))
        t0 = perf()
        try:
            rows = self.engine.topk_rows(text, K)
        except Exception:
            traceback.print_exc()
            self.answers.append((text, None))
            return None
        dt = perf() - t0
        self.answers.append((text, [(int(r["doc_id"]), float(r["score"])) for r in rows]))
        return dt

    def _batch(self, texts: list[str]) -> float | None:
        qmap = {f"b{j}": s for j, s in enumerate(texts)}
        self.seen_terms.update(term for s in texts for term in self._terms(s))
        t0 = perf()
        try:
            rows = self.engine.topk_batch(qmap, K).collect()
        except Exception:
            traceback.print_exc()
            self.answers.extend((s, None) for s in texts)
            return None
        dt = perf() - t0
        per: dict[str, list] = {q: [] for q in qmap}
        for r in rows:
            per[r["query_id"]].append((int(r["rank"]), int(r["doc_id"]), float(r["score"])))
        for q, s in qmap.items():
            self.answers.append((s, [(d, sc) for _, d, sc in sorted(per[q])]))
        return dt

    def _traced_single(self, qid: str, text: str) -> None:
        """The serving call under a span, then each layer it runs through,
        called directly with the same inputs in the Spark driver process."""
        import pandas as pd
        from pyspark.sql import functions as F

        from data_prepper_spark.query import common, wand

        t, eng = self.tracer, self.engine
        terms = self._terms(text)
        misses = [term for term in terms if term not in self.seen_terms]
        with t.span("query.topk_rows", qid):
            self._single(text)
        t.count("query.terms", len(terms), qid)
        stats = common.query_term_stats(self.spark, eng.io, terms, eng.n_docs)
        hstats = {s["hash"]: s for s in stats.values()}
        with t.span("query.layers", qid):
            # the engine caches dictionary rows per term: only misses cost a lookup
            with t.span("query.dict_lookup"):
                if misses:
                    common.query_term_stats(self.spark, eng.io, misses, eng.n_docs)
            if not hstats:
                return
            filtered = eng.blocks.where(F.col("term_hash").isin(list(hstats)))
            with t.span("query.scan"):
                frame = filtered.toPandas()  # Arrow collect, no Python worker
            with t.span("query.handoff_job"):
                filtered.mapInPandas(_no_op, filtered.schema).collect()
            t.wrap(wand, "decode_payload", "query.decode")
            t.wrap(wand, "decode_doc_ids_payload", "query.decode")
            counted = wand.decode_doc_ids_payload

            def count_postings(first, gaps, n):
                t.count("query.postings_decoded", n, qid)
                return counted(first, gaps, n)

            wand.decode_doc_ids_payload = count_postings
            bounds = "tf" if eng.layered else "wtf"
            try:
                with t.span("query.kernel"):
                    for _, grp in frame.groupby("shard"):
                        wand._wand_shard(
                            pd.DataFrame(grp), hstats, eng.avgdl, K, wand.EXHAUSTIVE_THRESHOLD, bounds
                        )
            finally:
                t.unwrap_all()
        t.count("query.blocks_scanned", len(frame), qid)
        t.count("query.shards_touched", frame["shard"].nunique(), qid)
        t.count(
            "query.scan_bytes",
            sum(len(b) for col in ("doc_gaps", "tfs", "dls") for b in frame[col]),
            qid,
        )

    def _loop(self, make_query) -> tuple[list[float], list[float]]:
        """Closed loop, one client: single queries with a batch round every
        BATCH_EVERY-th operation, until --seconds have passed and the
        minimum sample counts are met. Returns the latencies of the plain
        single queries and of the batch rounds. In trace mode every other
        single query is traced instead of timed plainly, and one full cycle
        of operations is the minimum."""
        plain, batches = [], []
        deadline = perf() + self.args.seconds
        i = 0
        while perf() < deadline or (
            i < BATCH_EVERY
            if self.tracer
            else len(plain) < MIN_SINGLE or len(batches) < MIN_BATCH
        ):
            if i % BATCH_EVERY == BATCH_EVERY - 1:
                texts = [make_query() for _ in range(BATCH)]
                if self.tracer:
                    with self.tracer.span("query.batch_job", f"op{i}"):
                        dt = self._batch(texts)
                else:
                    dt = self._batch(texts)
                if dt is not None:
                    batches.append(dt)
            elif self.tracer and i % 2 == 0:
                self._traced_single(f"op{i}", make_query())
            else:
                dt = self._single(make_query())
                if dt is not None:
                    plain.append(dt)
            i += 1
        return plain, batches

    def _check(self) -> int:
        from perfbench.oracle import same_answer

        want = self.oracle.topk([s for s, _ in self.answers], K)
        failed = 0
        for (text, got), exp in zip(self.answers, want):
            if got is None or not same_answer(got, exp):
                failed += 1
                print(f"perfbench: wrong answer for {text!r}: {got} != {exp}", file=sys.stderr)
        return failed

    # -------------------------------------------------------------- run --
    def execute(self) -> dict:
        import pyspark

        from perfbench import gen
        from perfbench.oracle import Oracle
        from perfbench.tracer import Tracer

        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.tracer = Tracer() if self.args.trace else None
        t = self.tracer

        # the corpus is generated while the JVM starts; neither waits on the other
        with ThreadPoolExecutor(1) as pool:
            corpus = pool.submit(
                lambda: gen.write_corpus(gen.gen_docs(self.args.seed, N_DOCS), self.src, N_FILES)
            )
            self._start_spark()
            content_bytes = corpus.result()
        self._mark("spark")
        start_s = self.timeline["spark"]
        from pyspark.sql import functions as F

        from data_prepper_spark.analyzer import tokens_col

        # the doc-id and tokenize-only jobs also warm the fresh JVM, so the
        # build is timed on a warm session in both modes
        ids = (
            self.spark.read.parquet(self.src)
            .select("path", F.xxhash64("repo", "path", "commit").alias("doc_id"))
            .toPandas()
        )
        self.oracle = Oracle(self.src, ids, os.path.join(self.dir, "duckdb-tmp"))
        self._mark("oracle")
        tokenize = self.spark.read.parquet(self.src).select(F.sum(F.size(tokens_col("content"))))
        if t:
            with t.span("analyzer.tokenize"):
                tokenize.collect()
        else:
            tokenize.collect()

        res, build_s = self._build()
        index_bytes = dir_bytes(self.idx)
        self._mark("build")

        kind = WORKLOADS[self.args.workload]
        warm = getattr(gen.QueryGen(self.args.seed + WARMUP_SEED_OFFSET, N_DOCS), kind)
        setups = [self._open_engine(warm) for _ in range(SETUPS)]
        cache_mb = self._cache_mb()
        # first batch round of this engine, untimed: it compiles the batch plan
        self._batch([warm() for _ in range(BATCH)])
        if kind == "hot":
            # hot queries draw from a small fixed vocabulary; look it all up
            # once so every timed hot query hits the dictionary cache
            self._single(" ".join(gen.QueryGen.HOT_VOCAB))
        self.answers.clear()
        self._mark("engine")

        singles, batches = self._loop(getattr(gen.QueryGen(self.args.seed, N_DOCS), kind))
        self._mark("loop")
        failed = self._check()
        self._mark("check")
        self.samples = {
            "single_s": singles, "batch_s": batches, "setup_s": setups, "timeline": self.timeline
        }

        self.host = {
            "cpus": self.cpus,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "docs": res.n_docs,
            "content_bytes": content_bytes,
            "shards": res.n_shards,
            "seed": self.args.seed,
            "workload": self.args.workload,
            "trace": self.args.trace,
            "seconds": self.args.seconds,
            "single_queries": len(singles),
            "batch_rounds": len(batches),
        }
        if t:
            metrics = self._layer_metrics(res, singles)
        else:
            metrics = {
                "setup_s": (start_s + build_s + statistics.median(setups), "s"),
                "index_bytes_per_input_byte": (index_bytes / content_bytes, "ratio"),
                "query_p50_ms": (median_ms(singles), "ms"),
                "batch_queries_per_s": (BATCH * len(batches) / sum(batches), "q/s"),
                "cache_mb": (cache_mb, "MB"),
            }
        return {
            "correct": failed == 0,
            "attempted": len(self.answers),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _layer_metrics(self, res, plain: list[float]) -> dict:
        from data_prepper_spark.tableio import TableIO

        t = self.tracer
        io = TableIO(self.idx)

        def secs(name: str) -> float:
            return sum(t.self_times(name).values())

        def per_query_ms(name: str) -> float:
            return median_ms(list(t.self_times(name).values()))

        def per_query(name: str) -> float:
            return statistics.median(t.totals(name).values())

        traced_q = t.self_times("query.topk_rows")
        scan = t.self_times("query.scan")
        handoff = {q: v - scan[q] for q, v in t.self_times("query.handoff_job").items()}
        dict_ms = t.self_times("query.dict_lookup")
        kernel = t.self_times("query.kernel")
        decode = t.self_times("query.decode")
        residual = [
            traced_q[q] - dict_ms[q] - scan[q] - handoff[q] - kernel[q] - decode.get(q, 0.0)
            for q in handoff
        ]
        return {
            "analyzer.tokenize_s": (secs("analyzer.tokenize"), "s"),
            "build.stage_a_s": (secs("build.stage_a"), "s"),
            "build.corpus_stats_s": (secs("build.corpus_stats"), "s"),
            "build.stage_b_s": (secs("build.stage_b"), "s"),
            "build.dictionary_s": (secs("build.dictionary"), "s"),
            "build.docs": (res.n_docs, "count"),
            "build.postings": (parquet_rows(io.path("postings")), "count"),
            "build.blocks": (parquet_rows(io.rpath("posting_blocks")), "count"),
            "build.dict_terms": (parquet_rows(io.rpath("dictionary")), "count"),
            "index.posting_blocks_bytes": (dir_bytes(io.rpath("posting_blocks")), "bytes"),
            "index.dictionary_bytes": (dir_bytes(io.rpath("dictionary")), "bytes"),
            "index.postings_bytes": (dir_bytes(io.path("postings")), "bytes"),
            "index.docs_bytes": (dir_bytes(io.path("docs")), "bytes"),
            "query.dict_lookup_ms": (per_query_ms("query.dict_lookup"), "ms"),
            "query.scan_ms": (median_ms(scan.values()), "ms"),
            "query.worker_handoff_ms": (median_ms(handoff.values()), "ms"),
            "query.decode_ms": (median_ms([decode.get(q, 0.0) for q in kernel]), "ms"),
            "query.kernel_ms": (per_query_ms("query.kernel"), "ms"),
            "query.residual_ms": (median_ms(residual), "ms"),
            "query.topk_traced_ms": (median_ms(traced_q.values()), "ms"),
            "query.topk_untraced_ms": (median_ms(plain), "ms"),
            "query.terms": (per_query("query.terms"), "count"),
            "query.blocks_scanned": (per_query("query.blocks_scanned"), "count"),
            "query.postings_decoded": (per_query("query.postings_decoded"), "count"),
            "query.shards_touched": (per_query("query.shards_touched"), "count"),
            "query.scan_bytes": (per_query("query.scan_bytes"), "bytes"),
            "query.batch_job_ms": (per_query_ms("query.batch_job"), "ms"),
        }

    # ---------------------------------------------------------- teardown --
    def shutdown(self) -> None:
        if self.oracle is not None:
            self.oracle.close()
        if self.spark is not None:
            from py4j.protocol import Py4JError
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            try:
                gateway.shutdown()
            except Py4JError:
                pass  # the gateway may already be closed by stop()
            if proc is not None:
                # the JVM exits when its stdin closes
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        if self.tracer is not None:
            os.makedirs(WORK, exist_ok=True)
            self.tracer.dump(os.path.join(WORK, f"trace-{self.tag}.jsonl"))
        shutil.rmtree(self.dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_prepper_spark")):
        print("perfbench: no data_prepper_spark package beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        result = run.execute()
    finally:
        run.shutdown()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, f"result-{run.tag}.json"), "w") as f:
        json.dump({"host": run.host, **result, "samples": run.samples}, f, indent=1)
    print(json.dumps({"host": run.host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
