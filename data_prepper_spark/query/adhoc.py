"""Ad-hoc BM25 over any (id, text) DataFrame — no persisted index.

One shot, fully lazy: tokenize -> postings (partial-agg groupBy) ->
broadcast per-term df + broadcast corpus stats -> score -> top-k. No
driver-side collect happens until the caller acts, so the whole query is
a single action (Spark runs the two tiny broadcast jobs as part of it).
Used by the driver-contract queries over the ``documents`` table and by
``entry()``. The persisted-index paths (query/engine.py, query/wand.py)
are the scale path; this is the "query a table I haven't indexed yet"
path, still fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyzer import tokenize_py, tokens_col
from ..util import spread
from .common import B, K1, rank_top


def bm25_topk_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_text: str,
    k: int = 10,
    round_to: int = 4,
    doc_filter: str | None = None,
) -> DataFrame:
    """Returns (rank int, doc_id long, score double).

    ``doc_filter`` restricts the RESULT set to docs matching a SQL
    predicate over ``df``'s columns, Lucene-filter style: idf/avgdl stay
    corpus-wide (a filter narrows the answer, not the statistics), and the
    filter is a broadcast-friendly left-semi join applied before top-k."""
    spark = df.sparkSession
    terms = sorted(set(tokenize_py(query_text)))
    if not terms:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"), tokens_col(text_col).alias("toks")
    )
    base = spread(base).withColumn("dl", F.size("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    posts = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tdf = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        posts.join(F.broadcast(tdf), "term")
        .join(F.broadcast(stats))  # 1-row cross join carrying n/avgdl
        .select(
            "doc_id",
            (
                F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (K1 + 1))
                / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
    )
    agg = scored.groupBy("doc_id").agg(F.round(F.sum("s"), round_to).alias("score"))
    if doc_filter:
        allowed = df.where(doc_filter).select(F.col(id_col).cast("long").alias("doc_id"))
        agg = agg.join(allowed, "doc_id", "left_semi")
    return rank_top(agg, k)
