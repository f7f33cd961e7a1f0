"""Phrase search: positional postings + exact-adjacency matching.

The reference delegates phrase queries to OpenSearch/Lucene
(`match_phrase` over Lucene's positional postings); the Spark-native
analog is a positions table beside the inverted index:

  positions(term_hash long, shard int, doc_id long, positions array<int>)

partitioned by shard like posting_blocks, so a phrase query's scan is
pruned to its terms' row groups per shard (a bloom filter on term_hash,
sized to each row group's distinct hashes by index.build.with_bloom).

Two execution paths, both pure Catalyst (no UDF):

- ``phrase_match_adhoc``: straight over the corpus — tokenize, then count
  window starts where every phrase term matches at its offset
  (`filter(sequence(...), i -> toks[i+j] = term_j …)`); the oracle path,
  DuckDB-expressible, used by the driver query.
- ``phrase_docs``: over the positions table — an n-way shard-local hash
  join on (shard, doc_id) across the phrase's terms, then adjacency via
  `filter(pos_0, p -> array_contains(pos_j, p+j) …)`. Only docs
  containing ALL terms survive the joins (rare-term selectivity prunes
  early), and the joins are co-located by the shard partitioning.
  Asserted equal to the ad-hoc path in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import tokenize_py, tokens_col
from ..index.build import doc_id_col, shard_col, with_bloom
from ..tableio import TableIO
from ..util import spread
from .common import rank_top


def positions_from_docs(source: DataFrame, n_shards: int = 64) -> DataFrame:
    """(term_hash, shard, doc_id, positions sorted array<int>) from a
    code_files-shaped source. posexplode + collect_list is one shuffle
    with the same doc-space sharding as the main index."""
    base = spread(source).select(
        doc_id_col().alias("doc_id"), tokens_col("content").alias("toks")
    )
    exploded = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    )
    return (
        exploded.groupBy(F.xxhash64("term").alias("term_hash"), "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn("shard", shard_col(F.col("doc_id"), n_shards))
    )


def build_positions(
    spark: SparkSession, source_path: str, out_dir: str, n_shards: int = 64
) -> None:
    """Write the positions table beside an index (same shard partitioning,
    sized bloom filter on term_hash for pruned phrase scans)."""
    io = TableIO(out_dir)
    pos = positions_from_docs(spark.read.parquet(source_path), n_shards)
    sorted_pos = pos.repartition("shard").sortWithinPartitions("term_hash", "doc_id")
    with_bloom(sorted_pos.write.mode("overwrite"), "term_hash").partitionBy("shard").parquet(
        io.path("positions")
    )


def _adjacency_filter(pos_cols: list[Column]) -> Column:
    """Positions p in pos_cols[0] such that p+j is in pos_cols[j] for all j."""
    cond_tail = pos_cols[1:]

    def ok(p: Column) -> Column:
        c = F.lit(True)
        for j, pc in enumerate(cond_tail, start=1):
            c = c & F.array_contains(pc, p + j)
        return c

    return F.filter(pos_cols[0], ok)


def _sloppy_filter(pos_cols: list[Column], slop: int) -> Column:
    """Anchors p in pos_cols[0] starting an IN-ORDER match of all terms
    whose total width exceeds the exact phrase length by at most ``slop``
    (the ordered subset of Lucene's match_phrase slop — transposed-term
    matches, which Lucene charges 2 slop each, are not matched; the
    ordered semantics are what log/code search users almost always mean).

    Per anchor, a greedy minimal chain: q_j = min{x in pos_j : x > q_{j-1}}.
    Greedy minimizes the final position, so "greedy chain fits the width
    budget" is exactly "some in-order chain fits" — and with slop=0 it
    degenerates to exact adjacency. Nested higher-order functions only
    (min-of-filter per step); null chains (a term exhausted) drop out of
    the filter predicate naturally."""
    n = len(pos_cols)

    # NOTE: the inner lambda must be built by a single-parameter closure —
    # a `lambda e, lo=cur:` default-arg capture makes PySpark see TWO
    # parameters and silently bind the second to the array INDEX (the
    # (element, index) HOF form), turning the bound into `e > index`
    def _next_after(pc: Column, lo: Column) -> Column:
        return F.array_min(F.filter(pc, lambda e: e > lo))

    def ok(p: Column) -> Column:
        cur = p
        for j in range(1, n):
            cur = _next_after(pos_cols[j], cur)
        return (cur - p) <= F.lit(n - 1 + slop)

    return F.filter(pos_cols[0], ok)


def _match_filter(pos_cols: list[Column], slop: int) -> Column:
    return _adjacency_filter(pos_cols) if slop == 0 else _sloppy_filter(pos_cols, slop)


def _sloppy_freq(pos_cols: list[Column], slop: int) -> Column:
    """Lucene SloppyPhraseScorer's weighted phrase frequency: each match
    contributes 1/(1 + excess) where excess = chain width - exact width,
    so tighter matches weigh more and an exact match weighs 1.0 (slop=0
    therefore reduces to the plain occurrence count). Computed as
    transform(anchors -> chain width) -> filter(within budget) ->
    aggregate(sum of weights) — pure Catalyst."""
    n = len(pos_cols)

    def _next_after(pc: Column, lo: Column) -> Column:
        return F.array_min(F.filter(pc, lambda e: e > lo))

    def width(p: Column) -> Column:
        cur = p
        for j in range(1, n):
            cur = _next_after(pos_cols[j], cur)
        return cur - p

    widths = F.transform(pos_cols[0], width)
    ok = F.filter(widths, lambda x: x <= F.lit(n - 1 + slop))
    return F.aggregate(
        ok, F.lit(0.0), lambda acc, x: acc + 1.0 / (1 + x - (n - 1))
    )


def phrase_docs(
    spark: SparkSession, index_dir: str, phrase: str, n_shards: int = 64,
    slop: int = 0,
) -> DataFrame:
    """(doc_id, n_matches) for documents containing the exact phrase,
    from the positions table.

    The n-way (shard, doc_id) equi-join chain is ordered by ascending
    document frequency (rarest term first, from the dictionary): the first
    join input is then the smallest postings set and every subsequent join
    prunes maximally early — a phrase starting with a stopword-ish token
    no longer makes the largest term's positions the build side of the
    whole chain. Join order does not affect the result (inner equi-joins
    commute); the adjacency filter still anchors on the phrase's FIRST
    term's positions."""
    io = TableIO(index_dir)
    terms = tokenize_py(phrase)
    empty = "doc_id long, n_matches int"
    if not terms:
        return spark.createDataFrame([], empty)
    from .common import dict_df

    rows = (
        dict_df(spark, io)
        .where(F.col("term").isin(sorted(set(terms))))
        .select("term", "df", "term_hash")
        .collect()
    )
    df_by_term = {r["term"]: int(r["df"]) for r in rows}
    hash_by_term = {r["term"]: int(r["term_hash"]) for r in rows}
    missing = sorted({t for t in terms if t not in hash_by_term})
    if missing:
        from .common import segdict_path

        if io.exists("dictionary") or segdict_path(io) is not None:
            # a term absent from the dictionary has no postings at all,
            # so the phrase cannot match — skip the join chain entirely
            return spark.createDataFrame([], empty)
        # positions-only directory (no dictionary): hash ALL missing
        # terms in ONE driver job, never one spark.range job per term
        hrows = (
            spark.createDataFrame([(t,) for t in missing], "term string")
            .select("term", F.xxhash64("term").alias("h"))
            .collect()
        )
        hash_by_term.update({r["term"]: int(r["h"]) for r in hrows})
    join_order = sorted(
        range(len(terms)), key=lambda j: (df_by_term.get(terms[j], 1 << 60), j)
    )
    pos = spark.read.parquet(io.path("positions"))
    cur = None
    for j in join_order:
        # term hashes ride the dictionary collect above — ONE driver job
        # for the whole phrase, not one spark.range(1) job per term
        h = hash_by_term[terms[j]]
        tj = (
            pos.where(F.col("term_hash") == h)
            .select("shard", "doc_id", F.col("positions").alias(f"pos_{j}"))
        )
        cur = tj if cur is None else cur.join(tj, ["shard", "doc_id"])
    pos_cols = [F.col(f"pos_{j}") for j in range(len(terms))]
    from .common import live_filter

    matched = live_filter(
        spark, io,
        cur.withColumn("__m", _match_filter(pos_cols, slop)).where(F.size("__m") > 0),
    )
    sel = ["doc_id", F.size("__m").cast("int").alias("n_matches")]
    if slop > 0:
        # weighted frequency for Lucene-style sloppy scoring (exact
        # matches weigh 1.0, each extra gap divides the weight)
        sel.append(_sloppy_freq(pos_cols, slop).alias("sloppy_freq"))
    return matched.select(*sel)


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    proximity: bool = False,
    slop: int = 0,
) -> DataFrame:
    """(rank, doc_id, score, n_matches): documents containing the EXACT
    phrase, ranked by relevance.

    Two scoring modes, both over the same positions-table candidate set
    (phrase_docs — df-ordered adjacency join):

    - ``proximity=False`` (bag mode): BM25 over the phrase's distinct
      terms — the postings table scores them (term-pruned scan + broadcast
      idf join) and an inner join keeps matching docs. Phrase occurrence
      count does not influence the score.
    - ``proximity=True`` (Lucene PhraseQuery scoring): the phrase itself
      is scored as a pseudo-term — freq = number of exact-phrase
      occurrences (n_matches), idf = sum of the phrase terms' idfs (per
      position, duplicates counted, as Lucene sums per-term weights), so
      ``score = sum_idf * (pf*(k1+1))/(pf + k1*(1-b+b*dl/avgdl))``. A doc
      containing the phrase three times now outranks a one-occurrence doc
      of equal length. Needs only doc_len (docs table join) — no postings
      scan at all, so this mode is CHEAPER than bag mode at scale.

    With ``slop > 0`` and proximity, the frequency becomes Lucene's
    SloppyPhraseScorer weighted freq — each match contributes
    1/(1 + excess gaps), so tighter matches rank higher among docs with
    the same match count (slop=0 reduces to the plain count).
    """
    from .common import load_stats, query_term_stats, score_expr, score_terms

    io = TableIO(index_dir)
    n_docs, avgdl = load_stats(spark, io)
    all_terms = tokenize_py(phrase)
    terms = sorted(set(all_terms))
    empty = "rank int, doc_id long, score double, n_matches int"
    tstats = query_term_stats(spark, io, terms, n_docs)
    if not tstats:
        return spark.createDataFrame([], empty)
    matches = phrase_docs(spark, index_dir, phrase, slop=slop)
    if proximity:
        missing = [t for t in all_terms if t not in tstats]
        if missing:
            return spark.createDataFrame([], empty)  # phrase can't match
        sum_idf = sum(tstats[t]["idf"] for t in all_terms)
        dl = io.read(spark, "docs").select("doc_id", "doc_len")
        pf = (
            F.col("sloppy_freq") if slop > 0 else F.col("n_matches").cast("double")
        )
        scored = matches.join(dl, "doc_id").select(
            "doc_id",
            "n_matches",
            score_expr(F.lit(sum_idf), pf, F.col("doc_len"), avgdl).alias("score"),
        )
        return rank_top(scored, k, "n_matches")
    scored = score_terms(io.read(spark, "postings"), tstats, avgdl)
    return rank_top(matches.join(scored, "doc_id"), k, "n_matches")


def phrase_match_adhoc(
    docs: DataFrame, content_col: str, id_col: str, phrase: str, slop: int = 0
) -> DataFrame:
    """(id, n_matches) straight over the corpus — the index-free/oracle
    path, pure Catalyst.

    Tokenizes ONCE under a posexplode Generate (a window-array
    formulation referencing the token alias from several expressions got
    the analyzer re-inlined 6x — HOF lambdas defeat both CollapseProject
    restraint and codegen subexpression elimination; measured 3x slower).
    Windows anchor on the FIRST term's positions: a start p matches iff
    p+j is a position of term_j for every j — the same adjacency filter
    the indexed path uses, here over per-doc collected position arrays of
    only the phrase's terms (the where-isin keeps the shuffle tiny)."""
    terms = tokenize_py(phrase)
    n = len(terms)
    assert n > 0, "empty phrase after analysis"
    uniq = sorted(set(terms))
    toked = spread(
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(tokens_col(content_col)).alias("pos", "term"),
        )
    ).where(F.col("term").isin(uniq))
    per_doc = toked.groupBy("id").agg(
        *[
            F.sort_array(
                F.collect_list(F.when(F.col("term") == t, F.col("pos")))
            ).alias(f"pos_{i}")
            for i, t in enumerate(uniq)
        ]
    )
    pos_for = {t: F.col(f"pos_{i}") for i, t in enumerate(uniq)}
    pos_cols = [pos_for[t] for t in terms]
    matches = F.size(_match_filter(pos_cols, slop))
    return (
        per_doc.select("id", matches.cast("int").alias("n_matches"))
        .where(F.col("n_matches") > 0)
    )


def phrase_docs_adhoc(
    docs: DataFrame, content_col: str, id_col: str, phrase: str, slop: int = 0
) -> DataFrame:
    """Index-free twin of ``phrase_docs``: (doc_id, n_matches[,
    sloppy_freq]) straight over the corpus. Same per-doc position-array
    matcher as phrase_match_adhoc, with doc ids cast to long and the
    sloppy-freq column added when slop > 0 so the adhoc DSL compiler's
    match_phrase leaf is column-compatible with the indexed one."""
    terms = tokenize_py(phrase)
    n = len(terms)
    assert n > 0, "empty phrase after analysis"
    uniq = sorted(set(terms))
    toked = spread(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.posexplode(tokens_col(content_col)).alias("pos", "term"),
        )
    ).where(F.col("term").isin(uniq))
    per_doc = toked.groupBy("doc_id").agg(
        *[
            F.sort_array(
                F.collect_list(F.when(F.col("term") == t, F.col("pos")))
            ).alias(f"pos_{i}")
            for i, t in enumerate(uniq)
        ]
    )
    pos_for = {t: F.col(f"pos_{i}") for i, t in enumerate(uniq)}
    pos_cols = [pos_for[t] for t in terms]
    sel = ["doc_id", F.size(_match_filter(pos_cols, slop)).cast("int").alias("n_matches")]
    if slop > 0:
        sel.append(_sloppy_freq(pos_cols, slop).alias("sloppy_freq"))
    return per_doc.select(*sel).where(F.col("n_matches") > 0)


def phrase_topk_adhoc(
    docs: DataFrame,
    content_col: str,
    id_col: str,
    phrase: str,
    k: int = 10,
    round_to: int = 4,
    slop: int = 0,
) -> DataFrame:
    """(rank, doc_id, score, n_matches) — Lucene-PhraseQuery-scored phrase
    top-k straight over a corpus, no index: the index-free/oracle twin of
    ``phrase_topk(proximity=True)`` (parity asserted in tests).

    Scoring: the phrase is a pseudo-term with freq = exact-occurrence
    count and idf = sum of per-position term idfs (duplicates counted), so
    ``score = sum_idf * (pf*(k1+1)) / (pf + k1*(1-b+b*dl/avgdl))``,
    rounded to ``round_to`` for float-stable oracle comparison.

    Plan (pure Catalyst, tokenize-once): posexplode_outer keeps empty docs
    in the corpus statistics; one partial-aggregated groupBy(id) collects
    per-term position arrays AND doc length (max(pos)+1 — no second
    tokenization); a single 1-row aggregate derives n_docs/avgdl/per-term
    df and is broadcast into the scoring expression."""
    from .common import B as _B
    from .common import K1 as _K1

    terms = tokenize_py(phrase)
    assert terms, "empty phrase after analysis"
    uniq = sorted(set(terms))
    toked = spread(
        docs.select(
            F.col(id_col).cast("long").alias("id"),
            F.posexplode_outer(tokens_col(content_col)).alias("pos", "term"),
        )
    )
    per_doc = toked.groupBy("id").agg(
        (F.coalesce(F.max("pos"), F.lit(-1)) + 1).alias("dl"),
        *[
            F.sort_array(
                F.collect_list(F.when(F.col("term") == t, F.col("pos")))
            ).alias(f"pos_{i}")
            for i, t in enumerate(uniq)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.size(f"pos_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(uniq))
        ],
    )
    pos_for = {t: F.col(f"pos_{i}") for i, t in enumerate(uniq)}
    pos_cols = [pos_for[t] for t in terms]
    matched = per_doc.withColumn(
        "n_matches", F.size(_match_filter(pos_cols, slop)).cast("int")
    ).where(F.col("n_matches") > 0)
    if slop > 0:
        matched = matched.withColumn("__pf", _sloppy_freq(pos_cols, slop))
    # sum of per-position idfs: duplicates in the phrase each contribute
    idf_terms = [
        F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df_{uniq.index(t)}") + 0.5)
            / (F.col(f"df_{uniq.index(t)}") + 0.5)
        )
        for t in terms
    ]
    sum_idf = idf_terms[0]
    for e in idf_terms[1:]:
        sum_idf = sum_idf + e
    pf = F.col("__pf") if slop > 0 else F.col("n_matches").cast("double")
    scored = matched.join(F.broadcast(stats)).select(
        F.col("id").alias("doc_id"),
        F.round(
            sum_idf
            * (pf * (_K1 + 1))
            / (pf + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))),
            round_to,
        ).alias("score"),
        "n_matches",
    )
    return rank_top(scored, k, "n_matches")


# --------------------------------------------------------------------------
# match_phrase_prefix (Lucene MatchPhrasePrefixQuery / MultiPhraseQuery)
# --------------------------------------------------------------------------


def phrase_prefix_scores(
    spark: SparkSession, index_dir: str, text: str, max_expansions: int = 50
) -> DataFrame:
    """Full (doc_id, score, n_matches) for a match_phrase_prefix query:
    the phrase t1..tn-1 followed by ANY dictionary expansion of the last
    token as a prefix (search-as-you-type). Expansions are lowest-df-first
    capped at ``max_expansions`` — Lucene's scoring-boolean rewrite order,
    same as the prefix/fuzzy family.

    Matching: the lead terms reuse the df-ordered positions join chain;
    ALL expansions' position arrays flatten into ONE per-doc array (a
    window's last slot holds exactly one term, so counting windows against
    the union array equals summing per-expansion phrase freqs — Lucene's
    MultiPhraseQuery freq). Scoring follows phrase_topk(proximity=True):
    pf = total occurrences, idf = sum of lead idfs + the prefix position's
    idf over the summed expansion docFreqs (Lucene sums docFreqs; capped
    at n_docs to keep the BM25 idf defined).

    Reference: OpenSearch match_phrase_prefix -> Lucene
    MultiPhraseQuery (MatchQuery.Type.PHRASE_PREFIX)."""
    from .common import idf as _idf
    from .common import load_stats, query_term_stats, score_expr
    from .multiterm import _expand_terms

    io = TableIO(index_dir)
    empty = "doc_id long, score double, n_matches int"
    all_terms = tokenize_py(text)
    if not all_terms:
        return spark.createDataFrame([], empty)
    prefix, lead = all_terms[-1], all_terms[:-1]
    exps = _expand_terms(spark, io, F.col("term").startswith(prefix), max_expansions)
    if not exps:
        return spark.createDataFrame([], empty)
    n_docs, avgdl = load_stats(spark, io)
    lstats = query_term_stats(spark, io, sorted(set(lead)), n_docs)
    if any(t not in lstats for t in lead):
        return spark.createDataFrame([], empty)
    estats = query_term_stats(spark, io, exps, n_docs)
    df_cap = min(sum(s["df"] for s in estats.values()), n_docs)
    sum_idf = sum(lstats[t]["idf"] for t in lead) + _idf(n_docs, df_cap)
    need = sorted(set(lead) | set(exps))
    hashes = {
        r["term"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in need], "term string")
        .select("term", F.xxhash64("term").alias("h"))
        .collect()
    }
    pos = spark.read.parquet(io.path("positions"))
    exp_h = spark.createDataFrame(
        [(hashes[e],) for e in exps], "term_hash long"
    )
    n_lead = len(lead)
    last = (
        pos.join(F.broadcast(exp_h), "term_hash")
        .groupBy("shard", "doc_id")
        .agg(
            F.sort_array(F.flatten(F.collect_list("positions"))).alias(
                f"pos_{n_lead}"
            )
        )
    )
    if lead:
        order = sorted(range(n_lead), key=lambda j: (lstats[lead[j]]["df"], j))
        cur = None
        for j in order:
            tj = pos.where(F.col("term_hash") == hashes[lead[j]]).select(
                "shard", "doc_id", F.col("positions").alias(f"pos_{j}")
            )
            cur = tj if cur is None else cur.join(tj, ["shard", "doc_id"])
        cur = cur.join(last, ["shard", "doc_id"])
        pos_cols = [F.col(f"pos_{j}") for j in range(n_lead + 1)]
        matched = (
            cur.withColumn("__m", F.size(_match_filter(pos_cols, 0)))
            .where(F.col("__m") > 0)
            .select("doc_id", F.col("__m").cast("int").alias("n_matches"))
        )
    else:
        matched = last.select(
            "doc_id", F.size(f"pos_{n_lead}").cast("int").alias("n_matches")
        )
    from .common import live_filter

    io2 = TableIO(index_dir)
    dl = io2.read(spark, "docs").select("doc_id", "doc_len")
    return live_filter(spark, io2, matched.join(dl, "doc_id")).select(
        "doc_id",
        score_expr(
            F.lit(sum_idf), F.col("n_matches").cast("double"),
            F.col("doc_len"), avgdl,
        ).alias("score"),
        "n_matches",
    )


def phrase_prefix_topk(
    spark: SparkSession,
    index_dir: str,
    text: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """(rank, doc_id, score, n_matches) top-k for match_phrase_prefix."""
    return rank_top(phrase_prefix_scores(spark, index_dir, text, max_expansions), k, "n_matches")


def phrase_prefix_scores_adhoc(
    docs: DataFrame,
    content_col: str,
    id_col: str,
    text: str,
    max_expansions: int = 50,
    round_to: int | None = None,
) -> DataFrame:
    """Index-free twin of ``phrase_prefix_scores`` (parity-tested; the
    oracle path). Expansion selection is a separate df-ordered pass over
    the corpus' distinct terms (the adhoc dictionary); the main pass
    collects per-doc position arrays for the lead terms plus ONE union
    array of all expansion positions."""
    all_terms = tokenize_py(text)
    spark = docs.sparkSession
    empty = "doc_id long, score double, n_matches int"
    if not all_terms:
        return spark.createDataFrame([], empty)
    prefix, lead = all_terms[-1], all_terms[:-1]
    toked = spread(
        docs.select(
            F.col(id_col).cast("long").alias("id"),
            F.posexplode_outer(tokens_col(content_col)).alias("pos", "term"),
        )
    )
    exp_rows = (
        toked.where(F.col("term").startswith(prefix))
        .groupBy("term")
        .agg(F.count_distinct("id").alias("df"))
        .orderBy(F.asc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    exps = [r["term"] for r in exp_rows]
    if not exps:
        return spark.createDataFrame([], empty)
    sum_df_exp = sum(int(r["df"]) for r in exp_rows)
    uniq = sorted(set(lead))
    per_doc = toked.groupBy("id").agg(
        (F.coalesce(F.max("pos"), F.lit(-1)) + 1).alias("dl"),
        *[
            F.sort_array(
                F.collect_list(F.when(F.col("term") == t, F.col("pos")))
            ).alias(f"pos_{i}")
            for i, t in enumerate(uniq)
        ],
        F.sort_array(
            F.collect_list(F.when(F.col("term").isin(exps), F.col("pos")))
        ).alias("pos_P"),
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.size(f"pos_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(uniq))
        ],
    )
    pos_for = {t: F.col(f"pos_{i}") for i, t in enumerate(uniq)}
    pos_cols = [pos_for[t] for t in lead] + [F.col("pos_P")]
    matched = per_doc.withColumn(
        "n_matches", F.size(_match_filter(pos_cols, 0)).cast("int")
    ).where(F.col("n_matches") > 0)
    if lead and any(t not in uniq for t in lead):  # unreachable, documents intent
        return spark.createDataFrame([], empty)
    from .common import B as _B
    from .common import K1 as _K1

    idf_terms = [
        F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df_{uniq.index(t)}") + 0.5)
            / (F.col(f"df_{uniq.index(t)}") + 0.5)
        )
        for t in lead
    ]
    df_cap = F.least(F.lit(sum_df_exp), F.col("n"))
    sum_idf = F.log(F.lit(1.0) + (F.col("n") - df_cap + 0.5) / (df_cap + 0.5))
    for e in idf_terms:
        sum_idf = sum_idf + e
    # a lead term absent from the whole corpus can never phrase-match;
    # matched is already empty then (its position array is empty per doc)
    pf = F.col("n_matches").cast("double")
    score = (
        sum_idf
        * (pf * (_K1 + 1))
        / (pf + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
    )
    if round_to is not None:
        score = F.round(score, round_to)
    return matched.join(F.broadcast(stats)).select(
        F.col("id").alias("doc_id"), score.alias("score"), "n_matches"
    )


def phrase_prefix_topk_adhoc(
    docs: DataFrame,
    content_col: str,
    id_col: str,
    text: str,
    k: int = 10,
    max_expansions: int = 50,
    round_to: int = 4,
) -> DataFrame:
    """Top-k wrapper over ``phrase_prefix_scores_adhoc``."""
    scored = phrase_prefix_scores_adhoc(
        docs, content_col, id_col, text, max_expansions, round_to
    )
    return rank_top(scored, k, "n_matches")
