"""Persistent query engine over a built index: the "search service" path.

A real search deployment keeps the index hot: this engine loads
``corpus_stats`` once, opens the dictionary once and pins it in the
driver, keeps a cache of the stats of seen terms, and (optionally)
persists the ``posting_blocks`` DataFrame so repeat queries scan executor
memory instead of parquet. That mirrors how the reference's delegate
(OpenSearch/Lucene) serves queries from page-cached segment files.
``wand.bm25_topk_wand`` is the one-shot form: a fresh engine over the
unpersisted blocks per call.

One serving path. Every call is a batch — ``topk`` and ``topk_rows`` run
a batch of one — and every batch runs ``wand.batch_topk_by_shard``. The
dictionary gives every query term's df before any job runs, so the engine
knows the Σdf over the union of a batch's terms up front:

- at most ``wand.DRIVER_MAX_POSTINGS`` postings and at most
  ``MAX_DEAD_IDS`` tombstones: the term-filtered blocks come to the driver
  through ONE Arrow collect and the shard kernels run there, no Python
  worker, no merge or rank job. With the dictionary pinned that is one
  Spark job per call, cold or warm; without a pin a dictionary-cache miss
  adds one lookup job. ``topk`` and ``topk_batch`` return their rows as a
  DataFrame over an Arrow table, a LocalTableScan whose collect runs no
  further job;
- above either bound: the distributed plan (``_plan``) — shard kernels in
  one ``mapInPandas`` closure, live-docs filter, rank per query — which
  ``topk`` and ``topk_batch`` return lazily.

The dictionary is pinned in the driver at construction: one Arrow collect
of every term's stats, when it holds at most ``DRIVER_DICT_MAX`` terms.
Query terms then resolve in the driver, the way Lucene resolves terms from
its memory-resident terms index; a term absent from the index costs no job
either. Above the bound each batch's dictionary-cache misses run one
lookup job. ``k`` = 0 is the empty answer (OpenSearch ``size: 0``), served
with no job.

At design scale the blocks table exceeds cluster RAM; ``persist_blocks``
uses MEMORY_AND_DISK so hot terms stay resident and cold ones spill —
the same economics as Lucene's page cache.
"""

from __future__ import annotations

from collections import OrderedDict

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from ..analyzer import tokenize_py
from ..index.build import BLOCKS_READ_SCHEMA
from ..tableio import TableIO
from . import wand
from .common import (
    MAX_DEAD_IDS,
    STATS_COLS,
    dict_df,
    live_filter,
    load_stats_full,
    lookup_term_stats,
    read_declared,
    term_stats,
    tombstones,
)

_RESULT_ROW = Row("rank", "doc_id", "score")
_TOPK_SCHEMA = pa.schema([("rank", pa.int32()), ("doc_id", pa.int64()), ("score", pa.float64())])
_BATCH_SCHEMA = pa.schema([("query_id", pa.string()), *_TOPK_SCHEMA])

# partitions of the distributed plan's blocks, hash-partitioned by shard
SHARD_PARTITIONS = 8

# dictionaries of at most this many terms are pinned in the driver at
# construction. Measured on 4 vCPUs (NOTES.md "Pinned dictionary"): ~125-140
# B per term in pandas and a ~1 s pin at 500k terms (~70 MB), against
# 100-200 ms for each dictionary-cache miss a pin saves
DRIVER_DICT_MAX = 500_000


class IndexQueryEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        persist_blocks: bool = True,
        exhaustive_threshold: int | None = None,
        result_cache_size: int = 0,
    ):
        self.spark = spark
        self.io = TableIO(index_dir)
        # Opt-in result cache keyed by (query, k): a search tier's hottest
        # queries repeat, and the engine instance is pinned to one index
        # snapshot (generation resolved at construction), so cached rows
        # can never go stale within the instance. A hit returns rows with
        # no Spark job; ``topk`` wraps them in a LocalTableScan.
        self._result_cache_size = result_cache_size
        self._result_cache: OrderedDict[tuple[str, int], list] = OrderedDict()

        self.n_docs, self.avgdl, self.layered = load_stats_full(spark, self.io)
        # layered (NRT) index: stored block-max wtf bounds embed a stale
        # avgdl; prune with avgdl-independent tf-only bounds instead of
        # forcing the exhaustive kernel (see wand._BlockMeta)
        self._bounds = "tf" if self.layered else "wtf"
        self._thr = (
            wand.EXHAUSTIVE_THRESHOLD if exhaustive_threshold is None else exhaustive_threshold
        )
        self._dict_cache: dict[str, dict | None] = {}
        # open the dictionary and the blocks ONCE, together: both versioned
        # tables resolve the generation pointer here, so a later refresh
        # that bumps it leaves this engine on one consistent snapshot (the
        # GC grace period keeps it readable) instead of mixing new-gen
        # df/idf stats with old-gen blocks. Layered segment side
        # dictionaries live INSIDE the pinned blocks generation, so the
        # same snapshot covers them. Reusing the DataFrame also spares
        # every dictionary-cache miss a file listing and schema read.
        self._dict = dict_df(spark, self.io)
        self._pinned = self._pin()
        # live-docs snapshot, pinned at construction like the generation
        # pointer: deletes issued later need a new engine (same rule as
        # refresh). Serving kernels widen per-shard top-k by the tombstone
        # count so post-filter top-k stays exact. Refresh purges the
        # tombstoned postings but never clears the tombstones table, so
        # every later engine keeps the widening and the live-docs filter.
        # Zero overhead when no delete ever happened.
        self._n_tombstones, self._dead_ids = tombstones(spark, self.io)
        self.blocks = read_declared(spark, self.io, "posting_blocks", BLOCKS_READ_SCHEMA)
        self._prepartitioned = persist_blocks
        if persist_blocks:
            # persist already hash-partitioned by shard: the per-query plan
            # is then filter -> mapInPandas over cached partitions with NO
            # exchange (a partition holds only complete shards, so every
            # (shard, term) group is intact under any term filter). The
            # in-memory columnar cache prunes batches by term min/max, the
            # RAM analog of parquet row-group pruning.
            self.blocks = self.blocks.repartition(SHARD_PARTITIONS, "shard").persist(
                StorageLevel.MEMORY_AND_DISK
            )

    def _pin(self) -> pd.DataFrame | None:
        """The dictionary's stats columns indexed by term, from one Arrow
        collect, or None above ``DRIVER_DICT_MAX`` terms. Kept in driver
        memory: persisting it would grow the executors' block cache."""
        pdf = self._dict.select(*STATS_COLS).limit(DRIVER_DICT_MAX + 1).toPandas()
        if len(pdf) > DRIVER_DICT_MAX:
            return None
        pinned = pdf.fillna({"max_wtf": 0.0}).set_index("term")
        # is_unique builds the term hash table now, so the first lookup does
        # not; dictionary terms are unique by construction
        return pinned if pinned.index.is_unique else None

    def _term_stats(self, terms: list[str]) -> dict[str, dict]:
        """Stats of the terms in the dictionary. A term not yet in
        ``_dict_cache`` resolves from the pinned dictionary with no Spark
        job, or without a pin through one lookup job for all such terms."""
        missing = [t for t in terms if t not in self._dict_cache]
        if missing:
            if self._pinned is None:
                found = lookup_term_stats(self._dict, missing, self.n_docs)
            else:
                pos = self._pinned.index.get_indexer(missing)
                hit = self._pinned.iloc[pos[pos >= 0]]
                found = {
                    t: term_stats(*vals, self.n_docs)
                    for t, *vals in hit.itertuples(name=None)
                }
            for t in missing:
                self._dict_cache[t] = found.get(t)
        return {t: s for t in terms if (s := self._dict_cache.get(t)) is not None}

    def _per_query(
        self, queries: dict[str, str], k: int
    ) -> tuple[dict[str, dict[int, dict]], dict[int, dict]]:
        """({query_id: {term_hash: stats}}, {term_hash: stats} over the
        union) from ONE dictionary lookup of the union of the queries'
        terms. Every serving call starts here, so this is where ``k`` is
        checked: negative raises, and 0 is the empty answer with no
        lookup and no job."""
        if k < 0:
            raise ValueError(f"k must be >= 0, got {k}")
        if k == 0:
            return {}, {}
        q_terms = {qid: sorted(set(tokenize_py(text))) for qid, text in queries.items()}
        tstats = self._term_stats(sorted({t for ts in q_terms.values() for t in ts}))
        per_q = {
            qid: {tstats[t]["hash"]: tstats[t] for t in ts if t in tstats}
            for qid, ts in q_terms.items()
        }
        return per_q, {s["hash"]: s for s in tstats.values()}

    def _local_df(self, rows: list, schema: pa.Schema) -> DataFrame:
        """Driver-side rows as a DataFrame over an Arrow table: Spark reads
        it back in the JVM, so collecting it runs no Python worker (a list
        of tuples would be pickled through a PythonRDD instead)."""
        cols = list(zip(*rows)) if rows else [()] * len(schema)
        arrays = [pa.array(c, type=f.type) for c, f in zip(cols, schema)]
        return self.spark.createDataFrame(pa.Table.from_arrays(arrays, schema=schema))

    def topk(self, query_text: str, k: int = 10) -> DataFrame:
        """(rank int, doc_id long, score double). Within the driver-path
        bounds (module docstring), or on a result-cache hit, the rows are
        computed at call time and returned as a DataFrame over an Arrow
        table, whose collect runs no further job; above them, the lazy
        distributed plan for a batch of one."""
        if self._result_cache_size:
            return self._local_df(self.topk_rows(query_text, k), _TOPK_SCHEMA)
        answer = self._answer(query_text, k)
        if isinstance(answer, DataFrame):
            return answer
        return self._local_df(answer, _TOPK_SCHEMA)

    def topk_rows(self, query_text: str, k: int = 10) -> list:
        """Collected (rank, doc_id, score) rows — the SERVING-path API.

        Queries within the driver-path bounds (module docstring) run as one
        Arrow collect plus the shard kernels in the driver; the rest
        collect the distributed plan. With ``result_cache_size`` > 0 the
        (query, k) cache is consulted first, and a hit runs no Spark job
        at all.
        """
        if not self._result_cache_size:
            return self._serve(query_text, k)
        key = (query_text, k)
        hit = self._result_cache.get(key)
        if hit is not None:
            self._result_cache.move_to_end(key)
            return hit
        rows = self._serve(query_text, k)
        self._result_cache[key] = rows
        if len(self._result_cache) > self._result_cache_size:
            self._result_cache.popitem(last=False)
        return rows

    def _on_driver(self, union: dict[int, dict]) -> bool:
        """Serve on the driver: the terms' postings and the tombstones
        are within the driver-path bounds (module docstring)."""
        postings = sum(s["df"] for s in union.values())
        return postings <= wand.DRIVER_MAX_POSTINGS and self._n_tombstones <= MAX_DEAD_IDS

    def _blocks_frame(self, union: dict[int, dict]) -> pd.DataFrame:
        """One job: cached-block scan + term filter, Arrow batches straight
        into the driver (no Python worker, no exchange, no merge stage)."""
        return self.blocks.where(F.col("term_hash").isin(list(union))).toPandas()

    def _driver_rows(
        self, per_q: dict[str, dict[int, dict]], union: dict[int, dict], k: int
    ) -> list[tuple[str, int, int, float]]:
        """(query_id, rank, doc_id, score) rows of a batch served on the
        driver: the batch kernels over one Arrow collect, then per query
        dead ids dropped and the hits ranked by score desc, doc_id asc."""
        by_q: dict[str, list[tuple[int, float]]] = {qid: [] for qid in per_q}
        for qid, d, s in wand.batch_topk_by_shard(
            [self._blocks_frame(union)], per_q, self.avgdl, k + self._n_tombstones,
            self._thr, self._bounds,
        ):
            by_q[qid].append((d, s))
        dead = set(self._dead_ids)
        rows = []
        for qid, hits in by_q.items():
            hits = sorted((h for h in hits if h[0] not in dead), key=lambda h: (-h[1], h[0]))
            rows.extend((qid, i, d, s) for i, (d, s) in enumerate(hits[:k], start=1))
        return rows

    def _answer(self, query_text: str, k: int) -> list | DataFrame:
        """One query's (rank, doc_id, score) rows served on the driver, or
        above the driver-path bounds its distributed plan."""
        per_q, union = self._per_query({"": query_text}, k)
        if not union:
            return []
        if not self._on_driver(union):
            return self._plan(per_q, union, k).select(*_TOPK_SCHEMA.names)
        return [_RESULT_ROW(*r[1:]) for r in self._driver_rows(per_q, union, k)]

    def _serve(self, query_text: str, k: int) -> list:
        answer = self._answer(query_text, k)
        return answer.collect() if isinstance(answer, DataFrame) else answer

    def topk_batch(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Evaluate MANY queries at once: (query_id string, rank int,
        doc_id long, score double).

        The dictionary is consulted once for the union of the batch's
        terms, and the blocks scan filters on the union of their hashes.
        Within the driver-path bounds over that union (module docstring)
        the blocks come through one Arrow collect, the batch kernels run
        in the driver, and the rows return as a DataFrame over an Arrow
        table. Above them each shard partition of the distributed plan
        runs every query over its blocks. Either way per-query latency
        amortizes one job's fixed cost, the way a search tier batches its
        request queue, and results are rank-identical to per-query
        ``topk``.
        """
        per_q, union = self._per_query(queries, k)
        if union and not self._on_driver(union):
            return self._plan(per_q, union, k)
        rows = self._driver_rows(per_q, union, k) if union else []
        return self._local_df(rows, _BATCH_SCHEMA)

    def _plan(
        self, per_q: dict[str, dict[int, dict]], union: dict[int, dict], k: int
    ) -> DataFrame:
        """The distributed plan, (query_id, rank, doc_id, score): term
        filter -> the batch kernels in one ``mapInPandas`` closure per
        shard partition -> live-docs filter -> rank per query_id."""
        avgdl, n = self.avgdl, k + self._n_tombstones
        thr, bounds = self._thr, self._bounds

        def per_shard(pdfs):
            yield wand.batch_hits_frame(
                wand.batch_topk_by_shard(pdfs, per_q, avgdl, n, thr, bounds)
            )

        filtered = self.blocks.where(F.col("term_hash").isin(list(union)))
        if not self._prepartitioned:
            filtered = filtered.repartition(SHARD_PARTITIONS, "shard")
        local = live_filter(
            self.spark, self.io,
            filtered.mapInPandas(per_shard, "query_id string, doc_id long, score double"),
            (self._n_tombstones, self._dead_ids),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )

    def close(self) -> None:
        try:
            self.blocks.unpersist()
        except Exception:
            pass
