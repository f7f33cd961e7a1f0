"""DataFrame BM25 top-k over the logical ``postings`` table: the reference
the engine and the DSL paths are compared against in tests.

Term-pruned postings scan -> broadcast idf join -> score -> sum per doc
(``common.score_terms``) -> live-docs filter -> top-k. It must be
rank-identical to ``wand.bm25_topk_wand`` and to the pure-Python oracle
(``tests/oracle.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_prepper_spark.analyzer import tokenize_py
from data_prepper_spark.query.common import (
    live_filter,
    load_stats,
    query_term_stats,
    rank_top,
    score_terms,
)
from data_prepper_spark.tableio import TableIO


def bm25_topk(spark: SparkSession, index_dir: str, query_text: str, k: int = 10) -> DataFrame:
    """Returns (rank int, doc_id long, score double), rank 1-based."""
    io = TableIO(index_dir)
    n_docs, avgdl = load_stats(spark, io)
    tstats = query_term_stats(spark, io, sorted(set(tokenize_py(query_text))), n_docs)
    if not tstats:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    scored = score_terms(io.read(spark, "postings"), tstats, avgdl)
    return rank_top(live_filter(spark, io, scored), k)
