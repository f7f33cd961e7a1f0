"""Shared query-path helpers: stats/dictionary lookups, idf."""

from __future__ import annotations

import math

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..tableio import TableIO

K1 = 1.2
B = 0.75

# the dictionary table as index/build._write_dictionary writes it; reading
# with it declared skips Spark's schema-inference job on every open
DICT_SCHEMA = "term_hash long, term string, df long, cf long, max_wtf double"


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def load_stats(spark: SparkSession, io: TableIO) -> tuple[int, float]:
    r = io.read(spark, "corpus_stats").collect()[0]
    return int(r["n_docs"]), float(r["avgdl"])


def load_stats_full(spark: SparkSession, io: TableIO) -> tuple[int, float, int]:
    """(n_docs, avgdl, layered). ``layered`` counts block segments written
    by remerge=False adds since the last full merge: a layered index's
    precomputed block-max wtf bounds are stale (they embed the avgdl at
    THEIR build time), so query kernels must not prune with them — the
    engine forces the exhaustive path while layered > 0."""
    # both callers (WAND one-shot + IndexQueryEngine) decode block payloads
    # next — gate on the ledger's code_version first so an index written by
    # an incompatible build fails with "rebuild required" instead of
    # mis-decoding the codec-tag byte
    from ..index.build import check_index_compatibility

    check_index_compatibility(io, spark)
    r = io.read(spark, "corpus_stats").collect()[0]
    layered = int(r["layered"]) if "layered" in r.__fields__ else 0
    return int(r["n_docs"]), float(r["avgdl"]), layered


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
    if not io.exists("dictionary"):
        base = None
    elif io.catalog == "parquet":
        base = spark.read.schema(DICT_SCHEMA).parquet(io.rpath("dictionary"))
    else:
        base = io.read(spark, "dictionary")
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


def query_term_stats(
    spark: SparkSession, io: TableIO, terms: list[str], n_docs: int
) -> dict[str, dict]:
    """{term: {df, idf, max_wtf}} for terms present in the dictionary.

    The dictionary scan is pruned by parquet min/max on the sorted term
    column — at design scale this touches a handful of row groups.
    """
    if not terms:
        return {}
    rows = (
        dict_df(spark, io)
        .where(F.col("term").isin(terms))
        .select("term", "term_hash", "df", "max_wtf")
        .collect()
    )
    return {
        r["term"]: {
            "df": int(r["df"]),
            "hash": int(r["term_hash"]),
            "idf": idf(n_docs, int(r["df"])),
            "max_wtf": float(r["max_wtf"]) if r["max_wtf"] is not None else 0.0,
        }
        for r in rows
    }


def live_filter(spark, io, df, broadcast_side: bool = True):
    """Lucene live-docs filtering: anti-join the ``tombstones`` table
    (index/build.delete_docs) when it exists. Deleted docs vanish from
    results immediately; corpus statistics keep counting them until
    refresh_index purges (delete-then-merge semantics). Zero overhead on
    an index that never saw a delete (one existence check, no job).
    ``io=None`` (index-free adhoc compilers) is a no-op — deletes are an
    index concept; adhoc paths score whatever frame they are given."""
    if io is None or not io.exists("tombstones"):
        return df
    t = spark.read.parquet(io.path("tombstones")).select("doc_id").distinct()
    if broadcast_side:
        t = F.broadcast(t)
    return df.join(t, "doc_id", "left_anti")


def tombstone_count(spark, io) -> int:
    """Distinct tombstoned ids (0 when none): serving kernels widen their
    per-shard top-k by this so post-filter top-k stays exact."""
    if not io.exists("tombstones"):
        return 0
    return spark.read.parquet(io.path("tombstones")).select("doc_id").distinct().count()
