"""Multi-term query surface: prefix, fuzzy, wildcard, regexp,
more_like_this and facet queries.

The reference delegates these to OpenSearch/Lucene (PrefixQuery,
FuzzyQuery, terms aggregations); the Spark-native renditions rewrite a
term predicate (``term_pred``) into a concrete term set against the
DICTIONARY (tiny vs the corpus, term-sorted parquet so a prefix probe is
a row-group range scan), capped lowest-df-first at ``MAX_EXPANSIONS``,
and then score the union — Lucene's SCORING_BOOLEAN_REWRITE: the
multi-term query behaves as a bool-OR of TermQueries, each doc's score
the sum of its matched terms' BM25 contributions. ``terms_topk`` serves
that bool-OR through the index engine (``wand.bm25_topk_wand``); the DSL
compiler uses the same predicates and caps for its scoring leaves.

Every operator has an index-free twin over any (id, text) DataFrame
(used by the oracle-checked driver queries); indexed and ad-hoc paths
are parity-tested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import tokenize_py, tokens_col
from ..tableio import TableIO
from ..util import spread
from .common import B, K1, dict_df, load_stats, rank_top

# default expansion cap per rewrite kind (Lucene's maxExpansions); the
# Levenshtein neighbourhood of a fuzzy term is narrower
MAX_EXPANSIONS = {"prefix": 128, "wildcard": 128, "regexp": 128, "fuzzy": 64}


def _wildcard_regex(pattern: str) -> str:
    """Lucene wildcard syntax -> anchored Java/RE2-safe regex: '*' = any
    run, '?' = one char, everything else literal."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def term_pred(kind: str, value: str, max_edits: int = 1, prefix_length: int = 1) -> Column:
    """The dictionary predicate of a multi-term query over a ``term``
    column:

    - ``prefix``: ``startswith`` (pushes as a [prefix, prefix+0xFF) bound);
    - ``wildcard``: '*' any run, '?' one char; a leading literal also
      bounds the scan by prefix (Lucene's term-index trick);
    - ``regexp``: full match, anchored like Lucene;
    - ``fuzzy``: within ``max_edits`` Levenshtein edits, sharing the first
      ``prefix_length`` chars (Lucene's prefixLength, which also turns the
      probe into a prefix range scan instead of a full levenshtein pass).
    """
    t = F.col("term")
    if kind == "prefix":
        return t.startswith(value)
    if kind == "wildcard":
        pred = t.rlike(_wildcard_regex(value))
        lit_prefix = value.split("*")[0].split("?")[0]
        return t.startswith(lit_prefix) & pred if lit_prefix else pred
    if kind == "regexp":
        return t.rlike(value if value.startswith("^") else f"^(?:{value})$")
    if kind == "fuzzy":
        pred = F.levenshtein(t, F.lit(value)) <= max_edits
        return t.startswith(value[:prefix_length]) & pred if prefix_length > 0 else pred
    raise ValueError(f"unsupported multi-term query: {kind}")


def _expand_terms(
    spark: SparkSession, io: TableIO, pred: Column, max_expansions: int
) -> list[str]:
    """Rewrite a dictionary predicate into a concrete term list —
    Lucene's MultiTermQuery rewrite with its maxExpansions guard (the
    cheapest ``max_expansions`` terms by df keep the expansion bounded on
    a 10^8-term dictionary; Lucene caps at 1024 by default for the same
    reason)."""
    rows = (
        dict_df(spark, io)
        .where(pred)
        .select("term", "df")
        .orderBy(F.asc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def terms_topk(
    spark: SparkSession, index_dir: str, terms: list[str], k: int = 10
) -> DataFrame:
    """(rank, doc_id, score): bool-OR BM25 over an explicit term set —
    the scorer behind the dictionary rewrites, one ``bm25_topk_wand``
    call. The terms reach the engine as query text, so only terms the
    analyzer maps to themselves are kept: every dictionary term is one
    (analyzer output is ``[a-z0-9]+``), and a term that is not can never
    be in the dictionary, so dropping it changes no answer."""
    from .wand import bm25_topk_wand

    kept = [t for t in terms if tokenize_py(t) == [t]]
    return bm25_topk_wand(spark, index_dir, " ".join(kept), k)


def _rewrite_topk(
    spark: SparkSession, index_dir: str, pred: Column, k: int, max_expansions: int
) -> DataFrame:
    terms = _expand_terms(spark, TableIO(index_dir), pred, max_expansions)
    return terms_topk(spark, index_dir, terms, k)


def prefix_topk(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS["prefix"],
) -> DataFrame:
    """Lucene PrefixQuery with scoring-boolean rewrite."""
    return _rewrite_topk(spark, index_dir, term_pred("prefix", prefix), k, max_expansions)


def fuzzy_topk(
    spark: SparkSession,
    index_dir: str,
    term: str,
    max_edits: int = 1,
    k: int = 10,
    prefix_length: int = 1,
    max_expansions: int = MAX_EXPANSIONS["fuzzy"],
) -> DataFrame:
    """Lucene FuzzyQuery analog: terms within ``max_edits`` Levenshtein
    edits of ``term`` sharing its first ``prefix_length`` chars, scored
    as a bool-OR of the matched terms."""
    pred = term_pred("fuzzy", term, max_edits, prefix_length)
    return _rewrite_topk(spark, index_dir, pred, k, max_expansions)


def wildcard_topk(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS["wildcard"],
) -> DataFrame:
    """Lucene WildcardQuery analog ('*' any run, '?' one char), rewritten
    against the dictionary and scored as a bool-OR."""
    return _rewrite_topk(spark, index_dir, term_pred("wildcard", pattern), k, max_expansions)


def regexp_topk(
    spark: SparkSession,
    index_dir: str,
    regex: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS["regexp"],
) -> DataFrame:
    """Lucene RegexpQuery analog: dictionary terms fully matching the
    regex (anchored, like Lucene) scored as a bool-OR."""
    return _rewrite_topk(spark, index_dir, term_pred("regexp", regex), k, max_expansions)


def facet_counts(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    facet_field: str,
) -> DataFrame:
    """(facet value, doc_count) over ALL docs matching >= 1 query term —
    the OpenSearch terms-aggregation-on-a-query analog. Matching doc ids
    come from a term-pruned postings scan (distinct), facet attributes
    from the docs table; the join keys both sides on doc_id."""
    io = TableIO(index_dir)
    terms = sorted(set(tokenize_py(query_text)))
    empty = f"{facet_field} string, doc_count long"
    if not terms:
        return spark.createDataFrame([], empty)
    from .common import live_filter

    hits = live_filter(
        spark, io,
        io.read(spark, "postings")
        .where(F.col("term").isin(terms))
        .select("doc_id")
        .distinct(),
    )
    docs = io.read(spark, "docs").select("doc_id", facet_field)
    return (
        docs.join(hits, "doc_id", "left_semi")
        .groupBy(facet_field)
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )


# --------------------------------------------------------------------------
# Index-free twins over any (id, text) DataFrame — the oracle paths.
# --------------------------------------------------------------------------


def _pred_topk_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pred: Column,
    k: int,
    round_to: int,
    max_expansions: int,
) -> DataFrame:
    """Shared ad-hoc multi-term scorer: tokenize once, keep postings of
    terms satisfying ``pred`` (a predicate over the ``term`` column, e.g.
    ``term_pred``), cap the expansion at the ``max_expansions`` lowest-df terms
    (Lucene parity with the indexed path), then the standard adhoc BM25
    tail. Corpus stats (n_docs/avgdl) cover ALL docs."""
    base = spread(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            tokens_col(text_col).alias("toks"),
        )
    ).withColumn("dl", F.size("toks"))
    stats = base.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    posts = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(pred)
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tdf = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = tdf.orderBy(F.asc("df"), F.asc("term")).limit(max_expansions)
    scored = (
        posts.join(F.broadcast(kept), "term")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (K1 + 1))
                / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
    )
    return rank_top(scored.groupBy("doc_id").agg(F.round(F.sum("s"), round_to).alias("score")), k)


def prefix_topk_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    prefix: str,
    k: int = 10,
    round_to: int = 4,
    max_expansions: int = MAX_EXPANSIONS["prefix"],
) -> DataFrame:
    return _pred_topk_adhoc(
        df, text_col, id_col, term_pred("prefix", prefix), k, round_to, max_expansions
    )


def fuzzy_topk_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    term: str,
    max_edits: int = 1,
    k: int = 10,
    round_to: int = 4,
    prefix_length: int = 1,
    max_expansions: int = MAX_EXPANSIONS["fuzzy"],
) -> DataFrame:
    pred = term_pred("fuzzy", term, max_edits, prefix_length)
    return _pred_topk_adhoc(df, text_col, id_col, pred, k, round_to, max_expansions)


def facet_counts_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_text: str,
    facet_col: str,
) -> DataFrame:
    terms = sorted(set(tokenize_py(query_text)))
    spark = df.sparkSession
    empty = f"{facet_col} string, doc_count long"
    if not terms:
        return spark.createDataFrame([], empty)
    base = spread(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(facet_col),
            tokens_col(text_col).alias("toks"),
        )
    )
    hit = F.exists("toks", lambda t: t.isin(terms))
    return (
        base.where(hit)
        .groupBy(facet_col)
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = 25,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Lucene MoreLikeThisQuery analog: the source doc's top terms by
    tf*idf (bounded at ``max_query_terms``, terms with df <
    ``min_doc_freq`` dropped as noise — Lucene's minDocFreq) become a
    bool-OR BM25 query; the source doc itself is excluded from the
    result. The doc's postings row-set is partition-pruned by its shard
    before the doc_id filter."""
    from .common import idf as _idf

    io = TableIO(index_dir)
    n_docs, _ = load_stats(spark, io)
    doc_terms = (
        io.read(spark, "postings")
        .where(F.col("doc_id") == doc_id)
        .select("term", "tf")
        .collect()
    )
    if not doc_terms:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    tf_by_term = {r["term"]: int(r["tf"]) for r in doc_terms}
    dic = (
        dict_df(spark, io)
        .where(F.col("term").isin(list(tf_by_term)))
        .select("term", "df")
        .collect()
    )
    # tf*idf rounded to 6 digits before the cutoff: the adhoc twin and
    # the DuckDB oracle rank with independently-computed logs, and the
    # rounding makes all three term sets tie-break identically
    ranked = sorted(
        (
            (-round(tf_by_term[r["term"]] * _idf(n_docs, int(r["df"])), 6), r["term"])
            for r in dic
            if int(r["df"]) >= min_doc_freq
        ),
    )[:max_query_terms]
    terms = [t for _, t in ranked]
    if not terms:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    out = terms_topk(spark, index_dir, terms, k + 1)
    return rank_top(out.where(F.col("doc_id") != doc_id), k)


def highlight_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_text: str,
    window: int = 10,
    lead: int = 2,
) -> DataFrame:
    """(doc_id, n_hits, snippet) for docs matching >= 1 query term — the
    token-window rendition of OpenSearch's highlighter (which reads
    _source; this engine likewise highlights from the source table, the
    index stores no content by design). The snippet is the ``window``
    analyzed tokens starting ``lead`` tokens before the FIRST query-term
    occurrence — a deterministic, per-doc rule that needs no corpus
    statistics, so it is fully SQL-expressible for the oracle."""
    return highlight_terms(
        df, text_col, id_col, sorted(set(tokenize_py(query_text))), window, lead
    )


def highlight_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: list[str],
    window: int = 10,
    lead: int = 2,
) -> DataFrame:
    """highlight_adhoc for an explicit analyzed term list — the seam the
    DSL search highlight block uses (terms collected from the query
    tree's scoring leaves)."""
    spark = df.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, n_hits int, snippet string")
    base = spread(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            tokens_col(text_col).alias("toks"),
        )
    )
    hit_positions = F.filter(
        F.sequence(F.lit(1), F.size("toks")),
        lambda i: F.element_at("toks", i).isin(terms),
    )
    matched = base.withColumn("__hits", hit_positions).where(F.size("__hits") > 0)
    first = F.element_at("__hits", 1)
    start = F.greatest(first - lead, F.lit(1))
    return matched.select(
        "doc_id",
        F.size("__hits").cast("int").alias("n_hits"),
        F.concat_ws(" ", F.slice("toks", start, window)).alias("snippet"),
    )


def more_like_this_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = 25,
    min_doc_freq: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Index-free twin of more_like_this (the oracle path): source-doc
    term tf from its tokens, corpus df for those terms, tf*idf ranking
    (rounded to 6 digits before the cutoff so the Spark and SQL term
    sets tie-break identically), then the shared bool-OR scorer."""
    import math

    spark = df.sparkSession
    empty = "rank int, doc_id long, score double"
    base = spread(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            tokens_col(text_col).alias("toks"),
        )
    )
    src = (
        base.where(F.col("doc_id") == doc_id)
        .select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    )
    if not src:
        return spark.createDataFrame([], empty)
    tf_by_term = {r["term"]: int(r["tf"]) for r in src}
    stats = (
        base.select(
            "doc_id", F.array_distinct("toks").alias("u")
        )
        .select("doc_id", F.explode("u").alias("term"))
        .where(F.col("term").isin(list(tf_by_term)))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = base.count()
    rows = stats.collect()
    ranked = sorted(
        (
            (
                -round(
                    tf_by_term[r["term"]]
                    * math.log(1 + (n_docs - int(r["df"]) + 0.5) / (int(r["df"]) + 0.5)),
                    6,
                ),
                r["term"],
            )
            for r in rows
            if int(r["df"]) >= min_doc_freq
        ),
    )[:max_query_terms]
    terms = [t for _, t in ranked]
    if not terms:
        return spark.createDataFrame([], empty)
    out = _pred_topk_adhoc(
        df, text_col, id_col, F.col("term").isin(terms), k + 1, round_to, len(terms)
    )
    return rank_top(out.where(F.col("doc_id") != doc_id), k)


def wildcard_topk_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pattern: str,
    k: int = 10,
    round_to: int = 4,
    max_expansions: int = MAX_EXPANSIONS["wildcard"],
) -> DataFrame:
    return _pred_topk_adhoc(
        df, text_col, id_col, term_pred("wildcard", pattern), k, round_to, max_expansions
    )


# --------------------------------------------------------------------------
# significant_terms aggregation (OpenSearch SignificantTermsAggregation)
# --------------------------------------------------------------------------


def significant_terms(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    size: int = 10,
    min_doc_count: int = 3,
    round_to: int | None = None,
) -> DataFrame:
    """(term, fg_count, bg_count, score): content terms whose frequency in
    the match set (docs containing >= 1 analyzed query term, bool-OR match
    semantics as in facet_counts) deviates most from their corpus
    background — OpenSearch's significant_terms agg with the default JLH
    heuristic: score = (fgp - bgp) * fgp / bgp, keeping only terms more
    frequent in the foreground than the background (fgp > bgp), with
    fgp = fg_count/fg_total and bgp = bg_count/n_docs.

    Scale shape: foreground counts come from one term-pruned postings
    join against the match-set ids (postings rows are unique per
    (term, doc), so count(*) is the doc count), the BACKGROUND from the
    prebuilt dictionary — never a second corpus scan. The stats scalars
    ride a broadcast 1-row cross join, no collect."""
    from .common import load_stats

    io = TableIO(index_dir)
    qterms = sorted(set(tokenize_py(query_text)))
    if not qterms:
        return spark.createDataFrame(
            [], "term string, fg_count long, bg_count long, score double"
        )
    n_docs, _ = load_stats(spark, io)
    from .common import live_filter

    hits = live_filter(
        spark, io,
        io.read(spark, "postings")
        .where(F.col("term").isin(qterms))
        .select("doc_id")
        .distinct(),
    )
    return _significant_from_hits(
        spark, io, hits, n_docs, size=size,
        min_doc_count=min_doc_count, round_to=round_to,
    )


def _significant_from_hits(
    spark: SparkSession,
    io: TableIO,
    hits: DataFrame,
    n_docs: int,
    size: int = 10,
    min_doc_count: int = 3,
    round_to: int | None = None,
) -> DataFrame:
    """JLH scoring core shared by ``significant_terms`` (bool-OR match
    set) and the DSL aggs wiring (arbitrary compiled match set)."""
    posts = io.read(spark, "postings")
    fg = (
        posts.join(hits, "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_count"))
    )
    from .common import dict_df

    fg_total = hits.agg(F.count(F.lit(1)).alias("__fgt"))
    # dict_df = base dictionary + layered segment side dictionaries, so
    # NRT-added docs' terms have a background too
    bg = dict_df(spark, io).select("term", F.col("df").alias("bg_count"))
    fgp = F.col("fg_count") / F.col("__fgt")
    bgp = F.col("bg_count") / F.lit(float(n_docs))
    score = (fgp - bgp) * fgp / bgp
    out = (
        fg.join(bg, "term")
        .crossJoin(F.broadcast(fg_total))
        .where(F.col("fg_count") >= min_doc_count)
        .select("term", "fg_count", "bg_count", score.alias("score"))
        .where(F.col("score") > 0)
    )
    if round_to is not None:
        out = out.select(
            "term", "fg_count", "bg_count", F.round("score", round_to).alias("score")
        )
    return out.orderBy(F.desc("score"), F.asc("term")).limit(size)


def significant_terms_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_text: str,
    size: int = 10,
    min_doc_count: int = 3,
    round_to: int | None = None,
) -> DataFrame:
    """Index-free twin of ``significant_terms`` (parity-tested; the
    driver-contract oracle path): both fg and bg doc frequencies come
    from one tokenization pass (array_distinct per doc)."""
    qterms = sorted(set(tokenize_py(query_text)))
    spark = df.sparkSession
    empty = "term string, fg_count long, bg_count long, score double"
    if not qterms:
        return spark.createDataFrame([], empty)
    base = spread(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.array_distinct(tokens_col(text_col)).alias("toks"),
        )
    )
    n_docs = base.count()
    matched = base.where(
        F.exists("toks", lambda t: t.isin(qterms))
    )
    fg_total = matched.agg(F.count(F.lit(1)).alias("__fgt"))
    fg = (
        matched.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_count"))
    )
    bg = (
        base.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("bg_count"))
    )
    fgp = F.col("fg_count") / F.col("__fgt")
    bgp = F.col("bg_count") / F.lit(float(n_docs))
    score = (fgp - bgp) * fgp / bgp
    out = (
        fg.join(bg, "term")
        .crossJoin(F.broadcast(fg_total))
        .where(F.col("fg_count") >= min_doc_count)
        .select("term", "fg_count", "bg_count", score.alias("score"))
        .where(F.col("score") > 0)
    )
    if round_to is not None:
        out = out.select(
            "term", "fg_count", "bg_count", F.round("score", round_to).alias("score")
        )
    return out.orderBy(F.desc("score"), F.asc("term")).limit(size)
