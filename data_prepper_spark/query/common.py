"""Shared query-path helpers: stats/dictionary lookups, idf, the one
postings aggregate (``score_terms``) and the one ranking tail
(``rank_top``)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tableio import TableIO

K1 = 1.2
B = 0.75

# the dictionary table as index/build._write_dictionary writes it; reading
# with it declared skips Spark's schema-inference job on every open
DICT_SCHEMA = "term_hash long, term string, df long, cf long, max_wtf double"


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def score_expr(idf_col, tf_col, dl_col, avgdl: float):
    return idf_col * (tf_col * (K1 + 1)) / (tf_col + K1 * (1 - B + B * dl_col / avgdl))


def score_terms(postings_df: DataFrame, tstats: dict[str, dict], avgdl: float) -> DataFrame:
    """Full (doc_id, score) bool-OR BM25 aggregate of the ``tstats`` terms
    over a (term, doc_id, tf, doc_len) postings frame: term-pruned scan ->
    broadcast idf join -> score expression -> sum per doc. Bool
    composition and filters need this whole set before truncation; top-k
    alone goes through ``IndexQueryEngine``. No live-docs filter: the
    caller owns the index (``live_filter``)."""
    idf_df = postings_df.sparkSession.createDataFrame(
        [(t, s["idf"]) for t, s in tstats.items()], "term string, idf double"
    )
    return (
        postings_df.where(F.col("term").isin(list(tstats)))
        .join(F.broadcast(idf_df), "term")
        .select(
            "doc_id",
            score_expr(F.col("idf"), F.col("tf"), F.col("doc_len"), avgdl).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score"))
    )


def rank_top(df: DataFrame, k: int, *extra_cols: str) -> DataFrame:
    """(rank, doc_id, score, *extra_cols): the top ``k`` rows of a
    (doc_id, score, ...) frame by score desc, doc_id asc, rank 1-based.
    ``k`` = 0 is the empty answer; negative raises like the engine."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    order = (F.desc("score"), F.asc("doc_id"))
    # rank over the already-top-k rows: partitionBy(lit(0)) declares the
    # single partition explicitly (<= k rows), silencing WindowExec's
    # move-all-data warning without changing the plan's work
    w = F.row_number().over(Window.partitionBy(F.lit(0)).orderBy(*order))
    return df.orderBy(*order).limit(k).select(w.alias("rank"), "doc_id", "score", *extra_cols)


def read_declared(spark: SparkSession, io: TableIO, name: str, schema: str) -> DataFrame:
    """``io.read`` with ``schema`` declared on the parquet catalog, which
    skips Spark's schema-inference job."""
    if io.catalog == "parquet":
        return spark.read.schema(schema).parquet(io.rpath(name))
    return io.read(spark, name)


def _corpus_stats(spark: SparkSession, io: TableIO) -> dict:
    """The one ``corpus_stats`` row. On the parquet catalog pyarrow reads
    it, as pyarrow wrote it (index/build._write_corpus_stats): no job."""
    if io.catalog == "parquet":
        import pyarrow.parquet as pq

        return pq.read_table(io.path("corpus_stats")).to_pylist()[0]
    return io.read(spark, "corpus_stats").collect()[0].asDict()


def load_stats(spark: SparkSession, io: TableIO) -> tuple[int, float]:
    r = _corpus_stats(spark, io)
    return int(r["n_docs"]), float(r["avgdl"])


def load_stats_full(spark: SparkSession, io: TableIO) -> tuple[int, float, int]:
    """(n_docs, avgdl, layered). ``layered`` counts block segments written
    by remerge=False adds since the last full merge: a layered index's
    precomputed block-max wtf bounds are stale (they embed the avgdl at
    THEIR build time), so query kernels must not prune with them — the
    engine prunes with avgdl-independent tf-only bounds while layered > 0
    (wand._BlockMeta)."""
    # the caller (IndexQueryEngine) decodes block payloads next — gate on
    # the ledger's code_version first so an index written by an
    # incompatible build fails with "rebuild required" instead of
    # mis-decoding its blocks
    from ..index.build import check_index_compatibility

    check_index_compatibility(io, spark)
    r = _corpus_stats(spark, io)
    return int(r["n_docs"]), float(r["avgdl"]), int(r.get("layered") or 0)


def segdict_path(io: TableIO) -> str | None:
    """Current generation's layered-segment side-dictionary dir
    (index/build.py _write_segment_dictionary), or None when the index is
    fully merged."""
    import os

    p = io.rpath("posting_blocks/_segdict")
    return p if os.path.isdir(p) else None


def dict_df(spark: SparkSession, io: TableIO):
    """The LOGICAL dictionary: base dictionary unioned with every layered
    segment's side dictionary, aggregated per term (df/cf sum across
    segments, a term's hash is identical everywhere). On a merged index
    this is exactly the base scan — zero overhead; with layered segments
    it adds one small union + per-term aggregation over term-pruned
    scans. All dictionary readers go through here so NRT segments are
    visible to term stats, multi-term expansion, and join-order hints."""
    base = read_declared(spark, io, "dictionary", DICT_SCHEMA) if io.exists("dictionary") else None
    seg = segdict_path(io)
    if seg is None:
        if base is None:
            return spark.createDataFrame([], DICT_SCHEMA)
        return base
    cols = ["term", "df", "cf", "term_hash", "max_wtf"]
    sdf = spark.read.parquet(seg).select(*cols)
    both = base.select(*cols).unionByName(sdf) if base is not None else sdf
    return both.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.max("term_hash").alias("term_hash"),
        F.max("max_wtf").alias("max_wtf"),
    )


# the dictionary columns a term's query stats come from
STATS_COLS = ("term", "term_hash", "df", "max_wtf")


def term_stats(term_hash: int, df: int, max_wtf: float | None, n_docs: int) -> dict:
    """One term's query stats {df, hash, idf, max_wtf} from its
    ``STATS_COLS`` dictionary values (a null ``max_wtf`` reads as 0)."""
    return {
        "df": int(df),
        "hash": int(term_hash),
        "idf": idf(n_docs, int(df)),
        "max_wtf": float(max_wtf) if max_wtf is not None else 0.0,
    }


def lookup_term_stats(dictionary, terms: list[str], n_docs: int) -> dict[str, dict]:
    """{term: {df, hash, idf, max_wtf}} for the terms present in
    ``dictionary``, a ``dict_df`` frame: one driver collect.

    The dictionary files are hash-partitioned, so each one's term min/max
    spans the alphabet and prunes nothing across files: the per-row-group
    bloom filter on term (index/build.with_bloom) is what lets the scan
    skip every file that holds none of ``terms``. Inside a file the
    sorted term column's min/max still skips row groups.
    """
    if not terms:
        return {}
    rows = dictionary.where(F.col("term").isin(terms)).select(*STATS_COLS).collect()
    return {r["term"]: term_stats(*r[1:], n_docs) for r in rows}


def query_term_stats(
    spark: SparkSession, io: TableIO, terms: list[str], n_docs: int
) -> dict[str, dict]:
    """``lookup_term_stats`` over the index's current logical dictionary."""
    return lookup_term_stats(dict_df(spark, io), terms, n_docs) if terms else {}


# tombstoned ids up to this count are held in the driver: the live-docs
# filter is a literal NOT-IN and the engine's driver-side serving paths drop
# them in Python; above it the filter anti-joins the tombstones table
MAX_DEAD_IDS = 1000


def tombstones(spark, io) -> tuple[int, list[int]]:
    """Live-docs snapshot: (distinct tombstoned ids, those ids when there
    are at most ``MAX_DEAD_IDS``, else []). Serving kernels widen their
    per-shard top-k by the count so post-filter top-k stays exact. No job
    on an index that never saw a delete (one existence check)."""
    if io is None or not io.exists("tombstones"):
        return 0, []
    t = io.read(spark, "tombstones").select("doc_id").distinct()
    ids = [int(r["doc_id"]) for r in t.limit(MAX_DEAD_IDS + 1).collect()]
    if len(ids) <= MAX_DEAD_IDS:
        return len(ids), ids
    return t.count(), []


def live_filter(spark, io, df, dead: tuple[int, list[int]] | None = None):
    """Lucene live-docs filtering: drop tombstoned ``doc_id``s
    (index/build.delete_docs). Deleted docs vanish from results
    immediately; corpus statistics keep counting them until refresh_index
    purges (delete-then-merge semantics). ``dead`` is a ``tombstones``
    snapshot the caller already holds (the engine pins one at
    construction); without it the filter takes one. Up to
    ``MAX_DEAD_IDS`` tombstones it is a literal NOT-IN, no join; above it
    a plain left_anti join with no broadcast hint, so AQE picks broadcast
    or shuffle from the table's measured size. Zero overhead on an index
    that never saw a delete. ``io=None`` (index-free adhoc compilers) is a
    no-op — deletes are an index concept; adhoc paths score whatever frame
    they are given."""
    if io is None:
        return df
    n, ids = tombstones(spark, io) if dead is None else dead
    if not n:
        return df
    if ids:
        return df.where(~F.col("doc_id").isin(ids))
    t = io.read(spark, "tombstones").select("doc_id").distinct()
    return df.join(t, "doc_id", "left_anti")
