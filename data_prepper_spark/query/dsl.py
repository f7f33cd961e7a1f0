"""OpenSearch query-DSL subset -> DataFrame programs.

The reference's consumers query its output through the OpenSearch DSL;
this compiler lets them run the common shapes directly against the native
index. Supported (the working subset of a log/code-search deployment):

  {"match":        {"content": "tokens ..."}}                (scoring)
  {"multi_match":  {"query": "...", "fields": ["content^2"]}} (scoring)
  {"match_phrase": {"content": {"query": "...", "slop": n}}} (scoring)
  {"match_phrase_prefix": {"content": {"query": "...",
                           "max_expansions": n}}}            (scoring)
  {"prefix":       {"content": "pre"}}                       (scoring)
  {"fuzzy":        {"content": {"value": "term", "fuzziness": n}}} (scoring)
  {"term":  {"<docs attr>": value}}                          (filter)
  {"terms": {"<docs attr>": [v1, v2]}}                       (filter)
  {"range": {"<docs attr>": {"gt"/"gte"/"lt"/"lte": v}}}     (filter)
  {"exists": {"field": f}} / {"ids": {"values": [...]}}      (filter)
  {"match_all": {}}                         (filter ctx; scores 1.0*boost
                                             in scoring contexts)
  {"constant_score": {"filter": c, "boost": b}}              (scoring)
  {"bool": {"must": [...], "should": [...],
            "must_not": [...], "filter": [...]}}
  {"query_string": {"query": "+a b -c field:v \"p q\"~1 pre*",
                    "default_operator": "OR"}}   (Lucene syntax, see
                                                  querystring.py)

Search-body requests (``search_body`` / ``search_body_adhoc``) add the
OpenSearch request-level surface on top: ``sort`` (field / _score /
_doc specs with per-key order), ``from``/``size``, ``search_after``
cursor pagination (the O(size) deep-paging path — the cursor compiles
to a WHERE under the top-k), and ``_source`` attribute includes.

Scoring model matches Lucene's bool query: a doc must satisfy every
``must`` clause; its score is the SUM of all matched must + should clause
scores (should clauses are optional score boosters when any must/filter
clause exists, required-one-of otherwise); ``must_not`` excludes;
``filter`` restricts without scoring. ``from``/``size`` paginate the
final (score desc, doc_id asc) order.

Compilation is purely declarative: every scoring leaf becomes a full
(doc_id, score) aggregate over term-pruned postings scans, every filter
leaf a pushed predicate on the docs table, and the bool combiner is a
join tree Catalyst/AQE can reorder — no driver-side evaluation beyond
dictionary lookups.
"""

from __future__ import annotations

import re
import functools
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..analyzer import tokenize_py
from ..tableio import TableIO
from .common import live_filter, load_stats, query_term_stats, rank_top, score_expr, score_terms
from .multiterm import MAX_EXPANSIONS, _expand_terms, term_pred


def _leaf_body(clause: dict) -> tuple[str, Any]:
    assert len(clause) == 1, f"clause must have exactly one key: {clause}"
    return next(iter(clause.items()))


def _parse_msm(raw: Any, n_should: int) -> int:
    """OpenSearch minimum_should_match forms -> required clause count.

    Supports integers ("3"/3 = exactly that many), negative integers
    (-n = total - n may be optional), and percentages ("75%" = floor of
    75% of the clause count; "-25%" = total minus floor of 25%). The
    result is clamped to [0, n_should]."""
    if isinstance(raw, bool):
        raise ValueError(f"invalid minimum_should_match: {raw!r}")
    if isinstance(raw, int):
        n = raw if raw >= 0 else n_should + raw
    else:
        s = str(raw).strip()
        if s.endswith("%"):
            try:
                pct = float(s[:-1])
            except ValueError:
                raise ValueError(f"invalid minimum_should_match: {raw!r}") from None
            part = int(abs(pct) * n_should / 100.0)  # rounded down
            n = part if pct >= 0 else n_should - part
        else:
            try:
                v = int(s)
            except ValueError:
                raise ValueError(
                    f"unsupported minimum_should_match form: {raw!r}"
                ) from None
            n = v if v >= 0 else n_should + v
    return max(0, min(n, n_should))


class _Compiler:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.io = TableIO(index_dir)
        self.n_docs, self.avgdl = load_stats(spark, self.io)

    # ------------------------------------------------------- data seams --
    # _AdhocCompiler overrides these five to run the SAME compiler (bool
    # combiner, leaf semantics, msm, boost) index-free over a corpus
    # DataFrame — one compiler, two backends, zero semantic drift.
    def _term_stats(self, terms: list[str]) -> dict[str, dict]:
        return query_term_stats(self.spark, self.io, terms, self.n_docs)

    def _postings_df(self) -> DataFrame:
        return self.io.read(self.spark, "postings")

    def _docs_df(self) -> DataFrame:
        # live-docs: tombstoned docs vanish from every filter leaf,
        # match_all, and search-body attribute join (Lucene delete
        # semantics; index/build.delete_docs). Scoring leaves filter in
        # _score_terms / their own engines.
        return live_filter(self.spark, self.io, self.io.read(self.spark, "docs"))

    def _has_positions(self) -> bool:
        return self.io.exists("positions")

    def _phrase_docs(self, text: str, slop: int) -> DataFrame:
        from .phrase import phrase_docs

        return phrase_docs(self.spark, self.io.root, text, slop=slop)

    def _phrase_prefix_scores(self, text: str, max_expansions: int) -> DataFrame:
        from .phrase import phrase_prefix_scores

        return phrase_prefix_scores(
            self.spark, self.io.root, text, max_expansions
        ).select("doc_id", "score")

    def _expand(self, pred, cap: int) -> list[str]:
        return _expand_terms(self.spark, self.io, pred, cap)

    # ---------------------------------------------------- scoring leaves --
    def _score_terms(self, terms: list[str]) -> DataFrame | None:
        """Full (doc_id, score) bool-OR BM25 aggregate for a term set."""
        tstats = self._term_stats(sorted(set(terms)))
        if not tstats:
            return None
        scored = score_terms(self._postings_df(), tstats, self.avgdl)
        return live_filter(self.spark, self.io, scored)

    def _score_leaf(self, kind: str, body: Any) -> DataFrame | None:
        """None = clause matches nothing (absent terms)."""
        if kind == "match":
            field, spec = _leaf_body(body)
            text = spec["query"] if isinstance(spec, dict) else spec
            self._require_content(field, kind)
            return self._score_terms(tokenize_py(text))
        if kind == "match_phrase_prefix":
            field, spec = _leaf_body(body)
            self._require_content(field, kind)
            if not self._has_positions():
                raise ValueError(
                    "match_phrase_prefix requires the positions table; run "
                    "query.phrase.build_positions over the corpus first"
                )
            text = spec["query"] if isinstance(spec, dict) else spec
            maxe = (
                int(spec.get("max_expansions", 50))
                if isinstance(spec, dict)
                else 50
            )
            return self._phrase_prefix_scores(text, maxe)
        if kind == "match_phrase":
            field, spec = _leaf_body(body)
            self._require_content(field, kind)
            if not self._has_positions():
                raise ValueError(
                    "match_phrase requires the positions table; run "
                    "query.phrase.build_positions over the corpus first"
                )
            text = spec["query"] if isinstance(spec, dict) else spec
            slop = int(spec.get("slop", 0)) if isinstance(spec, dict) else 0
            all_terms = tokenize_py(text)
            tstats = self._term_stats(sorted(set(all_terms)))
            if len(tstats) < len(set(all_terms)):
                return None  # a phrase term is absent -> no matches
            sum_idf = sum(tstats[t]["idf"] for t in all_terms)
            matches = self._phrase_docs(text, slop)
            pf = (
                F.col("sloppy_freq")
                if slop > 0
                else F.col("n_matches").cast("double")
            )
            dl = self._docs_df().select("doc_id", "doc_len")
            return matches.join(dl, "doc_id").select(
                "doc_id",
                score_expr(F.lit(sum_idf), pf, F.col("doc_len"), self.avgdl).alias(
                    "score"
                ),
            )
        if kind in MAX_EXPANSIONS:  # prefix / wildcard / regexp / fuzzy
            field, spec = _leaf_body(body)
            self._require_content(field, kind)
            value = spec["value"] if isinstance(spec, dict) else spec
            max_edits = int(spec.get("fuzziness", 1)) if isinstance(spec, dict) else 1
            terms = self._expand(term_pred(kind, value, max_edits), MAX_EXPANSIONS[kind])
            return self._score_terms(terms) if terms else None
        if kind == "more_like_this":
            # {"more_like_this": {"fields": ["content"], "like": {"_id": n}
            #  | "free text", "max_query_terms": 25, "min_doc_freq": 2}}
            # Lucene MoreLikeThisQuery through the compiler seams: the
            # liked doc's (or text's) top terms by tf*idf become a
            # bool-OR BM25 clause; _id likes exclude the source doc.
            # Term selection rounds tf*idf to 6 digits with a term
            # tiebreak so both backends pick identical term sets.
            for fld in body.get("fields", ["content"]):
                self._require_content(fld, kind)
            like = body["like"]
            maxq = int(body.get("max_query_terms", 25))
            mindf = int(body.get("min_doc_freq", 2))
            src_doc = None
            if isinstance(like, dict) and "_id" in like:
                src_doc = int(like["_id"])
                rows = (
                    self._postings_df()
                    .where(F.col("doc_id") == src_doc)
                    .select("term", "tf")
                    .collect()
                )
                tf_by_term = {r["term"]: int(r["tf"]) for r in rows}
            else:
                toks = tokenize_py(str(like))
                tf_by_term = {}
                for t in toks:
                    tf_by_term[t] = tf_by_term.get(t, 0) + 1
            if not tf_by_term:
                return None
            tstats = self._term_stats(sorted(tf_by_term))
            ranked = sorted(
                (
                    (round(tf_by_term[t] * s["idf"], 6), t)
                    for t, s in tstats.items()
                    if s["df"] >= mindf
                ),
                key=lambda x: (-x[0], x[1]),
            )
            sel = [t for _w, t in ranked[:maxq]]
            if not sel:
                return None
            scored = self._score_terms(sel)
            if scored is not None and src_doc is not None:
                scored = scored.where(F.col("doc_id") != src_doc)
            return scored
        if kind == "multi_match":
            # flat body: {"query": q, "fields": ["content", "content^2"],
            # "type": "best_fields"|"most_fields"}. The engine indexes one
            # text field, so every entry must be content (optionally
            # boosted); best_fields takes the max boost, most_fields sums.
            if not isinstance(body, dict) or "query" not in body:
                raise ValueError("multi_match needs {'query': ..., 'fields': [...]}")
            fields = body.get("fields", ["content"])
            parsed = []
            for f in fields:
                name, _, b = f.partition("^")
                self._require_content(name, kind)
                parsed.append(float(b) if b else 1.0)
            if not parsed:
                raise ValueError("multi_match needs at least one field")
            mtype = body.get("type", "best_fields")
            if mtype == "most_fields":
                factor = sum(parsed)
            elif mtype == "best_fields":
                factor = max(parsed)
            else:
                raise ValueError(f"unsupported multi_match type: {mtype}")
            scored = self._score_terms(tokenize_py(body["query"]))
            if scored is None or factor == 1.0:
                return scored
            return scored.select(
                "doc_id", (F.col("score") * factor).alias("score")
            )
        raise ValueError(f"unsupported scoring clause: {kind}")

    def _require_content(self, field: str, kind: str) -> None:
        if field != "content":
            raise ValueError(
                f"{kind} supports the indexed text field 'content' only, got {field!r}"
            )

    # ----------------------------------------------------- filter leaves --
    def _filter_leaf(self, kind: str, body: Any) -> DataFrame:
        """doc_id set for a non-scoring clause (docs-table predicate,
        pushed to the parquet scan)."""
        docs = self._docs_df()
        if kind == "match_all":
            return docs.select("doc_id")
        if kind == "term":
            field, value = _leaf_body(body)
            if isinstance(value, dict):  # standard object form {"value": v}
                if "value" not in value:
                    raise ValueError(
                        f"term object form must carry 'value': {value!r}"
                    )
                value = value["value"]
            return docs.where(F.col(field) == value).select("doc_id")
        if kind == "terms":
            field, values = _leaf_body(body)
            return docs.where(F.col(field).isin(list(values))).select("doc_id")
        if kind == "range":
            field, bounds = _leaf_body(body)
            c = F.lit(True)
            ops = {"gt": "__gt__", "gte": "__ge__", "lt": "__lt__", "lte": "__le__"}
            for op, v in bounds.items():
                c = c & getattr(F.col(field), ops[op])(v)
            return docs.where(c).select("doc_id")
        if kind == "exists":
            field = body["field"] if isinstance(body, dict) else body
            return docs.where(F.col(field).isNotNull()).select("doc_id")
        if kind == "ids":
            values = body["values"] if isinstance(body, dict) else body
            return docs.where(
                F.col("doc_id").isin([int(v) for v in values])
            ).select("doc_id")
        raise ValueError(f"unsupported filter clause: {kind}")

    def _is_filter(self, kind: str) -> bool:
        return kind in ("term", "terms", "range", "match_all", "exists", "ids")

    # ---------------------------------------------------------- combiner --
    def compile(self, dsl: dict) -> DataFrame:
        """Full (doc_id, score) result of a query clause (pre-top-k).
        Every branch yields at most one row per doc_id (scoring leaves
        aggregate, filter leaves project the unique docs table)."""
        kind, body = _leaf_body(dsl)
        if kind == "query_string":
            return self.compile(_rewrite_query_string(body))
        if kind == "bool":
            return self._compile_bool(body)
        if kind == "match_all":
            # top-level / must / should context: constant score 1.0*boost
            # (Lucene MatchAllDocsQuery); in a filter section _filter_leaf
            # still handles it score-free
            b = float(body.get("boost", 1.0)) if isinstance(body, dict) else 1.0
            return self._docs_df().select("doc_id", F.lit(b).alias("score"))
        if kind == "constant_score":
            # {"constant_score": {"filter": clause, "boost": b}}: the inner
            # clause runs in filter context (its scores are discarded) and
            # every matching doc scores exactly `boost`
            if not isinstance(body, dict) or "filter" not in body:
                raise ValueError("constant_score requires a 'filter' clause")
            b = float(body.get("boost", 1.0))
            return self.compile(body["filter"]).select(
                "doc_id", F.lit(b).alias("score")
            )
        if kind == "dis_max":
            # {"dis_max": {"queries": [...], "tie_breaker": t}} — Lucene
            # DisjunctionMaxQuery: score = best sub-score + t * (sum of the
            # others). One union + one groupBy (max and sum in the same
            # partial-aggregated pass), never an N-way join.
            qs = (body or {}).get("queries") or []
            if not qs:
                raise ValueError("dis_max requires a non-empty 'queries' list")
            tie = float(body.get("tie_breaker", 0.0))
            import functools

            allc = functools.reduce(
                lambda a, b2: a.unionByName(b2),
                (self.compile(c).select("doc_id", "score") for c in qs),
            )
            return (
                allc.groupBy("doc_id")
                .agg(F.max("score").alias("__mx"), F.sum("score").alias("__sm"))
                .select(
                    "doc_id",
                    (F.col("__mx") + F.lit(tie) * (F.col("__sm") - F.col("__mx"))).alias("score"),
                )
            )
        if kind == "boosting":
            # {"boosting": {"positive": c, "negative": c, "negative_boost": b}}
            # — docs must match positive; matching negative DEMOTES (score
            # * b) instead of excluding, Lucene BoostingQuery semantics.
            # The negative side is a doc_id set: left join + conditional
            # multiply, no second scoring pass.
            if not isinstance(body, dict) or "positive" not in body or "negative" not in body:
                raise ValueError("boosting requires 'positive' and 'negative' clauses")
            nb = float(body.get("negative_boost", 0.5))
            pos = self.compile(body["positive"])
            neg = self.compile(body["negative"]).select("doc_id").withColumn(
                "__neg", F.lit(True)
            )
            return pos.join(neg, "doc_id", "left").select(
                "doc_id",
                (F.col("score")
                 * F.when(F.col("__neg"), F.lit(nb)).otherwise(F.lit(1.0))).alias("score"),
            )
        # per-clause boost (the DSL's {"boost": n} / field^n analog):
        # multiplies the clause's score like Lucene's BoostQuery
        boost = 1.0
        if isinstance(body, dict) and len(body) == 1:
            _, spec = _leaf_body(body)
            if isinstance(spec, dict) and "boost" in spec:
                boost = float(spec["boost"])
        if self._is_filter(kind):
            return self._filter_leaf(kind, body).withColumn("score", F.lit(0.0))
        scored = self._score_leaf(kind, body)
        if scored is None:
            return self.spark.createDataFrame([], "doc_id long, score double")
        if boost != 1.0:
            scored = scored.select("doc_id", (F.col("score") * boost).alias("score"))
        return scored

    def _apply_msm(self, cur: DataFrame, should: list[DataFrame], msm: int) -> DataFrame:
        """minimum_should_match with a must/filter base: the doc must
        additionally match >= msm should clauses, whose scores add."""
        import functools

        allc = functools.reduce(
            lambda a, b: a.unionByName(b), (s.select("doc_id", "score") for s in should)
        )
        agg = (
            allc.groupBy("doc_id")
            .agg(F.sum("score").alias("__ss"), F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") >= msm)
        )
        return cur.join(agg, "doc_id").select(
            "doc_id", (F.col("score") + F.col("__ss")).alias("score")
        )

    def _compile_bool(self, body: dict) -> DataFrame:
        must = [self.compile(c) for c in body.get("must", [])]
        should = [self.compile(c) for c in body.get("should", [])]
        filters = [
            self._filter_leaf(*_leaf_body(c)) for c in body.get("filter", [])
        ]
        must_not = [self.compile(c) for c in body.get("must_not", [])]
        msm = _parse_msm(body.get("minimum_should_match", 0), len(should))
        if must:
            cur = must[0]
            for m in must[1:]:
                # inner join on doc_id, scores add (Lucene conjunction)
                cur = (
                    cur.alias("l")
                    .join(m.alias("r"), "doc_id")
                    .select("doc_id", (F.col("l.score") + F.col("r.score")).alias("score"))
                )
            if msm > 0 and should:
                cur = self._apply_msm(cur, should, msm)
                should = []
        elif filters:
            cur = filters.pop(0).withColumn("score", F.lit(0.0))
            if msm > 0 and should:
                cur = self._apply_msm(cur, should, msm)
                should = []
        elif should:
            # pure-should bool: union all clause aggregates, then one
            # groupBy sums scores and counts matched clauses — a single
            # shuffle instead of a chain of full-outer joins, and the
            # count gives minimum_should_match (default 1 = at least one
            # clause matches, the OpenSearch default for pure-should)
            msm = max(1, msm)
            import functools

            allc = functools.reduce(
                lambda a, b: a.unionByName(b), (s.select("doc_id", "score") for s in should)
            )
            cur = (
                allc.groupBy("doc_id")
                .agg(F.sum("score").alias("score"), F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") >= msm)
                .select("doc_id", "score")
            )
            should = []
        else:
            raise ValueError("bool query needs at least one of must/should/filter")
        for sdf in should:
            # optional score boost: left join, add when matched
            cur = (
                cur.alias("l")
                .join(sdf.alias("r"), "doc_id", "left")
                .select(
                    "doc_id",
                    (F.col("l.score") + F.coalesce(F.col("r.score"), F.lit(0.0))).alias(
                        "score"
                    ),
                )
            )
        for fl in filters:
            cur = cur.join(fl, "doc_id", "left_semi")
        for mn in must_not:
            cur = cur.join(mn.select("doc_id"), "doc_id", "left_anti")
        return cur


def _rewrite_query_string(body) -> dict:
    """query_string clause -> parsed DSL tree (querystring.py grammar)."""
    from .querystring import parse_query_string

    if isinstance(body, str):
        return parse_query_string(body)
    if not isinstance(body, dict) or "query" not in body:
        raise ValueError("query_string needs {'query': ...}")
    return parse_query_string(
        body["query"],
        default_field=body.get("default_field", "content"),
        default_operator=body.get("default_operator", "OR"),
    )


class _AdhocCompiler(_Compiler):
    """The same DSL compiler running index-free over a corpus DataFrame:
    postings/docs/term stats are derived from one tokenization pass
    instead of the index tables. Statistics are identical by construction
    (df counted from the same analyzed tokens the index would store), so
    scores match the indexed path exactly — asserted in tests/test_dsl.py
    and oracle-checked through the driver contract. Costs one extra
    corpus scan per scoring leaf; for serving use the index."""

    def __init__(self, df: DataFrame, text_col: str, id_col: str):
        from ..analyzer import tokens_col
        from ..util import spread

        self.spark = df.sparkSession
        self.io = None  # type: ignore[assignment]
        self._src = df
        self._text, self._id = text_col, id_col
        self._tok = spread(
            df.select(
                F.col(id_col).cast("long").alias("doc_id"),
                tokens_col(text_col).alias("toks"),
            )
        )
        r = self._tok.agg(
            F.count(F.lit(1)).alias("n"), F.avg(F.size("toks")).alias("avgdl")
        ).collect()[0]
        self.n_docs = int(r["n"])
        self.avgdl = float(r["avgdl"] or 0.0)

    # ------------------------------------------------- seam overrides --
    def _postings_df(self) -> DataFrame:
        return (
            self._tok.select(
                "doc_id", F.size("toks").alias("doc_len"), F.explode("toks").alias("term")
            )
            .groupBy("term", "doc_id", "doc_len")
            .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        )

    def _docs_df(self) -> DataFrame:
        attrs = [c for c in self._src.columns if c != self._text]
        docs = self._src.select(
            *[
                F.col(c).cast("long").alias("doc_id") if c == self._id else F.col(c)
                for c in attrs
            ]
        )
        return docs.join(
            self._tok.select("doc_id", F.size("toks").alias("doc_len")), "doc_id"
        )

    def _term_stats(self, terms: list[str]) -> dict[str, dict]:
        from .common import idf as _idf

        if not terms:
            return {}
        rows = (
            self._tok.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
            .where(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        )
        return {
            r["term"]: {
                "df": int(r["df"]),
                "idf": _idf(self.n_docs, int(r["df"])),
                "hash": 0,
                "max_wtf": 0.0,
            }
            for r in rows
        }

    def _has_positions(self) -> bool:
        return True

    def _phrase_docs(self, text: str, slop: int) -> DataFrame:
        from .phrase import phrase_docs_adhoc

        return phrase_docs_adhoc(self._src, self._text, self._id, text, slop=slop)

    def _phrase_prefix_scores(self, text: str, max_expansions: int) -> DataFrame:
        from .phrase import phrase_prefix_scores_adhoc

        return phrase_prefix_scores_adhoc(
            self._src, self._text, self._id, text, max_expansions
        ).select("doc_id", "score")

    def _expand(self, pred, cap: int) -> list[str]:
        # dictionary = distinct analyzed terms with df, lowest-df-first cap
        # (the same Lucene scoring-boolean rewrite order as the indexed
        # _expand_terms)
        rows = (
            self._tok.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(pred)
            .orderBy(F.asc("df"), F.asc("term"))
            .limit(cap)
            .collect()
        )
        return [r["term"] for r in rows]


def search_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dsl: dict,
    size: int = 10,
    from_: int = 0,
    round_to: int | None = None,
) -> DataFrame:
    """(rank, doc_id, score) for a DSL query straight over a corpus
    DataFrame — the index-free twin of ``search`` (parity asserted in
    tests; the driver-contract oracle path). ``round_to`` rounds scores
    before ordering for float-stable cross-engine comparison."""
    full = _AdhocCompiler(df, text_col, id_col).compile(dsl)
    if round_to is not None:
        full = full.select("doc_id", F.round("score", round_to).alias("score"))
    return rank_top(full, from_ + size).where(F.col("rank") > from_)


def highlight_terms_of(dsl: dict) -> list[str]:
    """The analyzed terms a query's scoring leaves contribute to the
    highlighter: match / multi_match / match_phrase texts (query_string
    parsed first). Expansion leaves (prefix/fuzzy/wildcard/regexp) are
    excluded — their matched terms are corpus-dependent; OpenSearch's
    plain highlighter has the same restriction unless rewrite data is
    kept."""
    kind, body = _leaf_body(dsl)
    if kind == "query_string":
        return highlight_terms_of(_rewrite_query_string(body))
    if kind == "bool":
        out: list[str] = []
        for role in ("must", "should"):
            for c in body.get(role, []):
                out.extend(highlight_terms_of(c))
        return sorted(set(out))
    if kind in ("match", "match_phrase"):
        _, spec = _leaf_body(body)
        text = spec["query"] if isinstance(spec, dict) else spec
        return sorted(set(tokenize_py(text)))
    if kind == "multi_match":
        return sorted(set(tokenize_py(body["query"])))
    return []


def search_highlight(
    spark: SparkSession,
    index_dir: str,
    dsl: dict,
    source: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    size: int = 10,
    from_: int = 0,
    window: int = 10,
    lead: int = 2,
) -> DataFrame:
    """``search`` with OpenSearch's highlight block: (rank, doc_id,
    score, snippet). The index stores no document content by design, so
    snippets come from the ``source`` table (OpenSearch reads _source the
    same way). Docs matched only by non-highlightable leaves (filters,
    expansion queries) get a NULL snippet. The snippet join touches only
    the page's doc ids."""
    from .multiterm import highlight_terms

    hits = search(spark, index_dir, dsl, size=size, from_=from_)
    terms = highlight_terms_of(dsl)
    if not terms:
        return hits.withColumn("snippet", F.lit(None).cast("string"))
    ids = [r["doc_id"] for r in hits.select("doc_id").collect()]
    page = source.where(F.col(id_col).cast("long").isin(ids))
    snip = highlight_terms(page, text_col, id_col, terms, window, lead).select(
        "doc_id", "snippet"
    )
    return hits.join(snip, "doc_id", "left").orderBy("rank")


def search_adhoc_highlight(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dsl: dict,
    size: int = 10,
    from_: int = 0,
    window: int = 10,
    lead: int = 2,
    round_to: int | None = None,
) -> DataFrame:
    """Index-free twin of ``search_highlight`` (parity-tested; the
    driver-contract oracle path)."""
    from .multiterm import highlight_terms

    hits = search_adhoc(df, text_col, id_col, dsl, size=size, from_=from_, round_to=round_to)
    terms = highlight_terms_of(dsl)
    if not terms:
        return hits.withColumn("snippet", F.lit(None).cast("string"))
    snip = highlight_terms(df, text_col, id_col, terms, window, lead).select(
        "doc_id", "snippet"
    )
    return hits.join(snip, "doc_id", "left").orderBy("rank")


def _parse_sort(sort) -> list[tuple[str, bool]]:
    """OpenSearch sort spec -> [(column, ascending)]. Accepts "field",
    {"field": "asc"}, {"field": {"order": "desc"}}; ``_score`` maps to the
    score column (default desc), ``_doc`` to doc_id (default asc); any
    other field defaults asc. A doc_id tiebreaker is appended when absent
    so the total order — and therefore search_after — is deterministic."""
    items = sort if isinstance(sort, list) else [sort]
    out: list[tuple[str, bool]] = []
    for s in items:
        if isinstance(s, str):
            field, order = s, None
        else:
            field, spec = _leaf_body(s)
            order = spec if isinstance(spec, str) else (spec or {}).get("order")
        col = {"_score": "score", "_doc": "doc_id"}.get(field, field)
        asc = (order == "asc") if order is not None else (col != "score")
        out.append((col, asc))
    if all(c != "doc_id" for c, _ in out):
        out.append(("doc_id", True))
    return out


def _after_predicate(keys: list[tuple[str, bool]], values: list) -> Any:
    """Strictly-after-the-cursor predicate for a lexicographic sort order
    with per-key directions: OR over prefixes of (all prior keys equal AND
    this key past its cursor value). The cursor must carry one value per
    sort key INCLUDING the doc_id tiebreaker — a prefix cursor is
    ambiguous (OpenSearch likewise requires the tiebreaker in the sort)."""
    if len(values) != len(keys):
        raise ValueError(
            "search_after needs one value per sort key incl. the doc_id "
            f"tiebreaker {[k for k, _ in keys]}, got {len(values)} values"
        )
    pred, eq = F.lit(False), F.lit(True)
    for (col, asc), v in zip(keys, values):
        c = F.col(col)
        if v is None:
            # Cursor sits on a null sort key: with nulls-last ordering
            # nothing with a non-null key comes after it; null keys tie.
            past, ties = F.lit(False), c.isNull()
        else:
            # Null keys sort last (both directions), so they are strictly
            # after any non-null cursor value; (c > v) alone would be NULL
            # for them and silently drop the row from every page.
            past = c.isNull() | ((c > v) if asc else (c < v))
            ties = c.eqNullSafe(F.lit(v))
        pred = pred | (eq & past)
        eq = eq & ties
    return pred


def _search_body(compiler: _Compiler, body: dict, round_to: int | None) -> DataFrame:
    """Shared engine for ``search_body`` / ``search_body_adhoc``: the
    OpenSearch search-body surface (query + sort + from/size/search_after
    + _source) compiled to one DataFrame program.

    Scale notes: the sort is a TakeOrderedAndProject (top-(from+size) per
    partition then a driver merge, never a global sort); the search_after
    cursor compiles to a WHERE on the sort keys evaluated BEFORE the
    top-k, so deep pagination costs O(size), not O(pages_scanned) — the
    reason OpenSearch tells users to prefer search_after over from at
    depth. Doc attributes join in only when sort/_source needs them, and
    only onto the candidate set."""
    query = body.get("query", {"match_all": {}})
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))
    keys = _parse_sort(body.get("sort", ["_score"]))
    full = compiler.compile(query)
    if round_to is not None:
        full = full.select("doc_id", F.round("score", round_to).alias("score"))
    source = body.get("_source") or []
    collapse = body.get("collapse")
    collapse_field = (
        (collapse["field"] if isinstance(collapse, dict) else collapse)
        if collapse
        else None
    )
    need = [
        c
        for c in dict.fromkeys(
            [c for c, _ in keys]
            + list(source)
            + ([collapse_field] if collapse_field else [])
        )
        if c not in ("doc_id", "score")
    ]
    if need:
        full = full.join(compiler._docs_df().select("doc_id", *need), "doc_id")
    # OpenSearch sorts missing values last by default; Spark's bare
    # asc() puts nulls FIRST, which would also break _after_predicate.
    order = [F.asc_nulls_last(c) if asc else F.desc_nulls_last(c) for c, asc in keys]
    if collapse_field:
        # field collapsing: keep each group's best hit under the current
        # sort order BEFORE pagination/cursor (OpenSearch collapse
        # semantics; a doc with a missing collapse key is its own group).
        # One window partitioned by the collapse key — the shuffle is on
        # that key, bounded by one surviving row per group.
        grp = F.when(
            F.col(collapse_field).isNull(),
            F.concat(F.lit("\0null\0"), F.col("doc_id").cast("string")),
        ).otherwise(F.col(collapse_field).cast("string"))
        wc = Window.partitionBy(grp).orderBy(*order)
        full = (
            full.withColumn("__cr", F.row_number().over(wc))
            .where(F.col("__cr") == 1)
            .drop("__cr")
        )
    if body.get("search_after") is not None:
        full = full.where(_after_predicate(keys, list(body["search_after"])))
    topn = full.orderBy(*order).limit(from_ + size)
    w = F.row_number().over(Window.partitionBy(F.lit(0)).orderBy(*order))
    return topn.select(w.alias("rank"), "doc_id", "score", *need).where(
        F.col("rank") > from_
    )


def search_body(spark: SparkSession, index_dir: str, body: dict) -> DataFrame:
    """OpenSearch search-body request against the native index:
    ``{"query": ..., "sort": [...], "from"/"size"/"search_after": ...,
    "_source": [fields]}`` -> (rank, doc_id, score, *sort/_source
    attributes). Reference surface: the OpenSearch _search endpoint the
    reference's sink feeds (opensearch/.../OpenSearchSink.java:316)."""
    return _search_body(_Compiler(spark, index_dir), body, None)


def search_body_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    body: dict,
    round_to: int | None = None,
) -> DataFrame:
    """Index-free twin of ``search_body`` (parity-tested; the
    driver-contract oracle path)."""
    return _search_body(_AdhocCompiler(df, text_col, id_col), body, round_to)


def _route_indexed(
    spark: SparkSession, index_dir: str, dsl: dict, k: int
) -> DataFrame | None:
    """Single-scoring-leaf fast path: when the query is one match /
    match_phrase / match_phrase_prefix / prefix / fuzzy / wildcard /
    regexp leaf (optionally wrapped in a bool with that one ``must``
    clause and nothing else), dispatch to the dedicated indexed operator
    — the index engine's block-max WAND over posting_blocks for match and
    the multi-term rewrites, the positions-table phrase scorers — instead
    of compiling the generic full postings aggregate. Scoring is
    identical (test_dsl.py equivalence suite); only the physical plan
    changes. Returns None when the shape is not routable and the general
    compiler should run: filters, for one, apply to the full scored set
    before truncation there."""
    from .multiterm import _rewrite_topk
    from .wand import bm25_topk_wand

    kind, body = _leaf_body(dsl)
    if kind == "bool":
        if set(body) - {"must", "filter"} or body.get("filter") or len(body.get("must", [])) != 1:
            return None
        kind, body = _leaf_body(body["must"][0])
    boost = 1.0
    if isinstance(body, dict) and len(body) == 1:
        _f, spec = _leaf_body(body)
        if isinstance(spec, dict) and "boost" in spec:
            boost = float(spec["boost"])
    out = None
    if kind == "match":
        field, spec = _leaf_body(body)
        if field != "content":
            return None
        if isinstance(spec, dict):
            if set(spec) - {"query", "boost"}:
                return None
            text = spec["query"]
        else:
            text = spec
        out = bm25_topk_wand(spark, index_dir, text, k=k)
    elif kind == "match_phrase_prefix":
        from .phrase import phrase_prefix_topk

        if not TableIO(index_dir).exists("positions"):
            return None  # compiler raises the documented error
        field, spec = _leaf_body(body)
        if field != "content":
            return None
        if isinstance(spec, dict):
            if set(spec) - {"query", "max_expansions", "boost"}:
                return None
            text = spec["query"]
            maxe = int(spec.get("max_expansions", 50))
        else:
            text, maxe = spec, 50
        out = phrase_prefix_topk(spark, index_dir, text, k=k, max_expansions=maxe)
    elif kind == "match_phrase":
        from .phrase import phrase_topk

        if not TableIO(index_dir).exists("positions"):
            return None  # compiler raises the documented error
        field, spec = _leaf_body(body)
        if field != "content":
            return None
        if isinstance(spec, dict):
            if set(spec) - {"query", "slop", "boost"}:
                return None
            text, slop = spec["query"], int(spec.get("slop", 0))
        else:
            text, slop = spec, 0
        out = phrase_topk(spark, index_dir, text, k=k, proximity=True, slop=slop)
    elif kind in MAX_EXPANSIONS:  # prefix / wildcard / regexp / fuzzy
        field, spec = _leaf_body(body)
        if field != "content":
            return None
        allowed = {"value", "boost"} | ({"fuzziness"} if kind == "fuzzy" else set())
        if isinstance(spec, dict):
            if set(spec) - allowed:
                return None
            value = spec["value"]
        else:
            value = spec
        max_edits = int(spec.get("fuzziness", 1)) if isinstance(spec, dict) else 1
        pred = term_pred(kind, value, max_edits)
        out = _rewrite_topk(spark, index_dir, pred, k, MAX_EXPANSIONS[kind])
    if out is None:
        return None
    score = (F.col("score") * boost).alias("score") if boost != 1.0 else F.col("score")
    return out.select("rank", "doc_id", score)


def search(
    spark: SparkSession,
    index_dir: str,
    dsl: dict,
    size: int = 10,
    from_: int = 0,
) -> DataFrame:
    """(rank, doc_id, score) for an OpenSearch-DSL query dict against the
    native index, ordered (score desc, doc_id asc), paginated by
    ``from_``/``size`` — rank is absolute (1-based over the full order).

    Single-leaf queries route to the dedicated indexed operators
    (_route_indexed); everything else compiles to the general DataFrame
    program. A top-level query_string clause is parsed first, so e.g. a
    bare `field:value term` routes exactly like its structured form."""
    kind, body = _leaf_body(dsl)
    if kind == "query_string":
        dsl = _rewrite_query_string(body)
    routed = _route_indexed(spark, index_dir, dsl, from_ + size)
    if routed is not None:
        return routed.where(F.col("rank") > from_)
    full = _Compiler(spark, index_dir).compile(dsl)
    return rank_top(full, from_ + size).where(F.col("rank") > from_)


def bm25_topk_filtered(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    predicate: str,
    k: int = 10,
) -> DataFrame:
    """Filtered search (Lucene filter-query analog): (rank, doc_id, score)
    top-k BM25 among docs whose ``docs``-table row matches the SQL
    ``predicate`` (e.g. "lang = 'python'"). Statistics stay corpus-wide —
    a filter narrows the answer, not idf/avgdl — and the filter reaches
    the docs scan as a pushed predicate, then joins the compiler's full
    scored set as a left-semi (exact: applied BEFORE top-k truncation)."""
    compiler = _Compiler(spark, index_dir)
    scored = compiler.compile({"match": {"content": query_text}})
    allowed = compiler.io.read(spark, "docs").where(predicate).select("doc_id")
    return rank_top(scored.join(allowed, "doc_id", "left_semi"), k)


def aggregations(
    spark: SparkSession,
    index_dir: str,
    dsl: dict,
    aggs: dict,
) -> dict[str, DataFrame]:
    """The DSL's ``aggs`` block: named aggregations over the FULL match
    set of ``dsl`` (pre-pagination, like OpenSearch). Supported agg types
    over docs-table fields:

      {"<name>": {"terms": {"field": f, "size": n}}}  -> (f, doc_count)
      {"<name>": {"stats": {"field": f}}}             -> (count, min, max, avg, sum)
      {"<name>": {"range": {"field": f, "ranges": [...]}}} -> (key, from, to, doc_count)
      {"<name>": {"histogram": {"field": f, "interval": n}}} -> (key, doc_count)
      {"<name>": {"date_histogram": {"field": f, "calendar_interval": u}}} -> (key, doc_count)

    The match set is computed once and reused across every agg (the plan
    is shared; Spark caches nothing implicitly, but AQE reuses the
    exchange when the aggs run in one action via the caller).
    """
    comp = _Compiler(spark, index_dir)
    hits = comp.compile(dsl).select("doc_id")
    docs = comp.io.read(spark, "docs")
    matched_all = docs.join(hits, "doc_id", "left_semi")
    out: dict[str, DataFrame] = {}
    for name, spec in aggs.items():
        kind = next(iter(spec.keys() - {"aggs"}), None)
        if kind == "significant_terms":
            # foreground = this query's match set; background = the
            # prebuilt dictionary (multiterm.significant_terms shape)
            from .multiterm import _significant_from_hits

            body = spec[kind]
            if body.get("field", "content") != "content":
                raise ValueError(
                    "significant_terms supports the indexed text field "
                    "'content' only"
                )
            out[name] = _significant_from_hits(
                spark, comp.io, hits, comp.n_docs,
                size=int(body.get("size", 10)),
                min_doc_count=int(body.get("min_doc_count", 3)),
            )
        else:
            out[name] = _bucket_agg(spark, matched_all, spec)
    return out


def aggregations_adhoc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_text: str,
    aggs: dict,
) -> dict[str, DataFrame]:
    """Index-free twin of ``aggregations``: the match set is every doc
    containing >= 1 analyzed query term (bool-OR match semantics, same
    as facet_counts_adhoc); bucket computation is the shared
    ``_bucket_agg``, so the two paths cannot drift."""
    from ..analyzer import tokens_col
    from ..util import spread

    terms = sorted(set(tokenize_py(query_text)))
    spark = df.sparkSession
    base = spread(df.select("*", tokens_col(text_col).alias("__toks")))
    matched = (
        base.where(F.exists("__toks", lambda t: t.isin(terms))).drop("__toks")
        if terms
        else base.drop("__toks").limit(0)
    )
    return {name: _bucket_agg(spark, matched, spec) for name, spec in aggs.items()}


def bucket_agg_adhoc(df: DataFrame, spec: dict) -> DataFrame:
    """One bucket aggregation over ALL rows of an arbitrary DataFrame —
    the aggs half of the DSL under a match_all, usable on any table
    (e.g. a date_histogram over an events stream)."""
    return _bucket_agg(df.sparkSession, df, spec)


_METRIC_AGGS = {
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "value_count": F.count,
}


def _attr_predicate(clause: dict) -> Any:
    """Filter-context clause -> boolean Column over a docs-attribute
    frame (the filters-agg bucket predicates; same leaf vocabulary as
    _Compiler._filter_leaf, rendered as predicates instead of doc sets)."""
    kind, body = _leaf_body(clause)
    if kind == "match_all":
        return F.lit(True)
    if kind == "term":
        field, value = _leaf_body(body)
        if isinstance(value, dict):
            value = value["value"]
        return F.col(field) == value
    if kind == "terms":
        field, values = _leaf_body(body)
        return F.col(field).isin(list(values))
    if kind == "range":
        field, bounds = _leaf_body(body)
        c = F.lit(True)
        ops = {"gt": "__gt__", "gte": "__ge__", "lt": "__lt__", "lte": "__le__"}
        for op, v in bounds.items():
            c = c & getattr(F.col(field), ops[op])(v)
        return c
    if kind == "exists":
        field = body["field"] if isinstance(body, dict) else body
        return F.col(field).isNotNull()
    raise ValueError(f"unsupported filters-agg bucket clause: {kind}")


def _sub_agg_cols(subs: dict) -> list:
    """Metric sub-aggregation columns for a bucket agg's ``aggs`` block
    (the OpenSearch nested-aggs shape, rendered flat: a `stats` sub-agg
    named s becomes s_count/s_min/s_max/s_avg/s_sum columns, a single
    metric keeps its name). Computed in the SAME groupBy as doc_count —
    sub-aggs never cost a second scan."""
    cols = []
    for name, sspec in subs.items():
        skind, sbody = _leaf_body(sspec)
        f = sbody["field"]
        if skind == "stats":
            cols += [
                F.count(f).alias(f"{name}_count"),
                F.min(f).alias(f"{name}_min"),
                F.max(f).alias(f"{name}_max"),
                F.avg(f).alias(f"{name}_avg"),
                F.sum(f).alias(f"{name}_sum"),
            ]
        elif skind in _METRIC_AGGS:
            cols.append(_METRIC_AGGS[skind](f).alias(name))
        else:
            raise ValueError(
                f"unsupported sub-aggregation under a bucket agg: {skind!r} "
                "(metric sub-aggs only: stats/avg/min/max/sum/value_count)"
            )
    return cols


def _bucket_agg(spark: SparkSession, matched: DataFrame, spec: dict) -> DataFrame:
    """One named aggregation over an already-computed match set. A spec
    may carry an OpenSearch ``aggs`` sibling block of metric sub-aggs,
    computed per bucket in the same groupBy."""
    spec = dict(spec)
    sub_specs = dict(spec.pop("aggs", None) or {})
    top_hits = {
        n: s for n, s in sub_specs.items() if next(iter(s)) == "top_hits"
    }
    for n in top_hits:
        sub_specs.pop(n)
    subs = _sub_agg_cols(sub_specs)
    kind, body = _leaf_body(spec)
    if top_hits and kind != "terms":
        raise ValueError("top_hits sub-aggregation is supported under terms buckets")
    if len(top_hits) > 1:
        raise ValueError("one top_hits sub-aggregation per bucket agg")
    if kind in _METRIC_AGGS:  # top-level single metric over the match set
        return matched.agg(_METRIC_AGGS[kind](body["field"]).alias("value"))
    if kind == "stats":  # one-pass five-metric aggregate
        f = body["field"]
        return matched.agg(
            F.count(f).alias("count"), F.min(f).alias("min"),
            F.max(f).alias("max"), F.avg(f).alias("avg"), F.sum(f).alias("sum"),
        )
    if kind == "extended_stats":
        # OpenSearch extended_stats: stats + sum_of_squares + population
        # variance/std_deviation — still ONE aggregate pass
        f = body["field"]
        c = F.col(f).cast("double")
        return matched.agg(
            F.count(f).alias("count"), F.min(f).alias("min"),
            F.max(f).alias("max"), F.avg(f).alias("avg"), F.sum(f).alias("sum"),
            F.sum(c * c).alias("sum_of_squares"),
            F.var_pop(f).alias("variance"),
            F.stddev_pop(f).alias("std_deviation"),
        )
    if kind == "composite":
        # {"composite": {"sources": [{name: {"terms": {"field": f}}} |
        #   {name: {"histogram": {"field": f, "interval": i}}}, ...],
        #   "size": n, "after": {name: value, ...}}}
        # The scalable bucket walk: buckets stream in key order, `after`
        # resumes from a cursor, so enumerating 10^9 buckets costs
        # O(size) per page (TakeOrderedAndProject over one groupBy) —
        # exactly why OpenSearch tells users to prefer composite over
        # deep terms aggs. Docs with a missing source key are dropped
        # (the OpenSearch default without missing_bucket).
        sources = body["sources"]
        size = int(body.get("size", 10))
        names, exprs = [], []
        for s in sources:
            (name, spec2), = s.items()
            skind, sbody = _leaf_body(spec2)
            fld = sbody["field"]
            if skind == "terms":
                exprs.append(F.col(fld).alias(name))
            elif skind == "histogram":
                iv = float(sbody["interval"])
                exprs.append(
                    (F.floor(F.col(fld).cast("double") / iv) * iv).alias(name)
                )
            else:
                raise ValueError(f"unsupported composite source: {skind}")
            names.append(name)
        grouped = (
            matched.where(
                functools.reduce(lambda a, b2: a & b2, (e.isNotNull() for e in exprs))
            )
            .groupBy(*exprs)
            .agg(F.count(F.lit(1)).alias("doc_count"), *subs)
        )
        after = body.get("after")
        if after is not None:
            # a missing or extra cursor key: the first one found, by name
            bad = [n for n in names if n not in after] + [a for a in after if a not in names]
            if bad:
                raise ValueError(
                    f"composite 'after' key {bad[0]!r} does not match the sources {names}"
                )
            grouped = grouped.where(
                _after_predicate([(n, True) for n in names],
                                 [after[n] for n in names])
            )
        return grouped.orderBy(*[F.asc(n) for n in names]).limit(size)
    if kind == "filters":
        # {"filters": {"filters": {name: filter-clause}}} -> one row per
        # named bucket (key, doc_count [, sub-agg metrics]). All buckets
        # are conditional branches of ONE scan — a doc may land in several
        # buckets (OpenSearch semantics), hence the array+explode rather
        # than a single CASE. Empty buckets are kept at doc_count 0.
        named = body["filters"]
        conds = [
            F.when(_attr_predicate(clause), F.lit(name))
            for name, clause in named.items()
        ]
        counted = (
            matched.select(F.explode(F.array(*conds)).alias("__f_key"), "*")
            .where(F.col("__f_key").isNotNull())
            .groupBy("__f_key")
            .agg(F.count(F.lit(1)).alias("doc_count"), *subs)
            .withColumnRenamed("__f_key", "key")
        )
        names = spark.createDataFrame([(n,) for n in named], "key string")
        sub_names = [c2 for c2 in counted.columns if c2 not in ("key", "doc_count")]
        return (
            names.join(F.broadcast(counted), "key", "left")
            .select(
                "key",
                F.coalesce("doc_count", F.lit(0)).alias("doc_count"),
                *sub_names,
            )
            .orderBy("key")
        )
    if kind == "percentiles":
        # {"field": f, "percents": [..], "approx": true} -> (percent,
        # value) rows. Exact linear-interpolated percentile by default
        # (oracle-comparable: SQL quantile_cont); approx=true switches to
        # percentile_approx (the t-digest-class sketch OpenSearch uses),
        # the scale path — exact percentile holds all group values.
        percents = [float(p) for p in body.get(
            "percents", [1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0]
        )]
        fracs = F.array(*[F.lit(p / 100.0) for p in percents])
        col = F.col(body["field"]).cast("double")
        fn = F.percentile_approx if body.get("approx") else F.percentile
        arr = matched.agg(fn(col, fracs).alias("__v"))
        pdf = spark.createDataFrame(
            [(i, p) for i, p in enumerate(percents)], "pos int, percent double"
        )
        return (
            arr.select(F.posexplode("__v").alias("pos", "value"))
            .join(F.broadcast(pdf), "pos")
            .select("percent", "value")
            .orderBy("percent")
        )
    if kind == "cardinality":
        # HLL++ approximate distinct (OpenSearch cardinality);
        # precision_threshold maps onto the sketch's relative error
        rsd = 0.01 if int(body.get("precision_threshold", 3000)) >= 3000 else 0.05
        return matched.agg(
            F.approx_count_distinct(body["field"], rsd).alias("value")
        )
    if kind == "missing":
        return matched.where(F.col(body["field"]).isNull()).agg(
            F.count(F.lit(1)).alias("doc_count")
        )
    field = body["field"]
    if kind == "terms":
        size = int(body.get("size", 10))
        buckets = (
            matched.groupBy(field)
            .agg(F.count(F.lit(1)).alias("doc_count"), *subs)
            .orderBy(F.desc("doc_count"), F.asc(field))
            .limit(size)
        )
        if not top_hits:
            return buckets
        # top_hits: per-bucket top-N docs -> one row per (bucket, hit),
        # the relational rendering of OpenSearch's nested hits array.
        # row_number over a per-bucket window: the shuffle is on the
        # bucket key (same key as the agg), bounded by hit_size rows out
        # per bucket; buckets beyond `size` drop via the join.
        (_, th), = top_hits.items()
        th = th["top_hits"]
        hit_size = int(th.get("size", 3))
        keys = _parse_sort(th.get("sort", ["_doc"]))
        if any(c == "score" for c, _ in keys):
            raise ValueError(
                "top_hits sort by _score is not available in the aggs "
                "context (the match set carries no scores); sort by a doc "
                "attribute or _doc"
            )
        # nulls last, matching OpenSearch's missing-values-last default
        order = [F.asc_nulls_last(c) if asc else F.desc_nulls_last(c) for c, asc in keys]
        need = [
            c
            for c in dict.fromkeys(
                [c for c, _ in keys] + list(th.get("_source") or [])
            )
            if c not in ("doc_id", field)
        ]
        w = Window.partitionBy(field).orderBy(*order)
        hits_rows = (
            matched.select(field, "doc_id", *need)
            .withColumn("hit_rank", F.row_number().over(w))
            .where(F.col("hit_rank") <= hit_size)
        )
        return buckets.join(hits_rows, field).orderBy(
            F.desc("doc_count"), F.asc(field), F.asc("hit_rank")
        )
    if kind == "stats":
        return matched.agg(
            F.count(field).alias("count"),
            F.min(field).alias("min"),
            F.max(field).alias("max"),
            F.avg(field).alias("avg"),
            F.sum(field).alias("sum"),
        )
    if kind == "date_range":
        # {"field": f, "ranges": [{"from": "2024-01-01", "to": ...}]} ->
        # (key, from, to, doc_count): the range agg over timestamps
        # (from inclusive, to exclusive, empty buckets kept; bound
        # strings render back as the bucket's from/to). Same one-scan
        # explode shape as `range` below.
        field = body["field"]
        ranges = body.get("ranges", [])
        if not ranges:
            raise ValueError("date_range aggregation needs 'ranges'")
        col = F.col(field).cast("timestamp")
        specs = []
        for r in ranges:
            lo, hi = r.get("from"), r.get("to")
            key = r.get("key", f"{lo or '*'}-{hi or '*'}")
            specs.append((key, lo, hi))
        conds = [
            F.when(
                (F.lit(True) if lo is None else (col >= F.lit(lo).cast("timestamp")))
                & (F.lit(True) if hi is None else (col < F.lit(hi).cast("timestamp"))),
                F.lit(key),
            )
            for key, lo, hi in specs
        ]
        counted = (
            matched.select(F.explode(F.array(*conds)).alias("__range_key"), "*")
            .where(F.col("__range_key").isNotNull())
            .groupBy("__range_key")
            .agg(F.count(F.lit(1)).alias("doc_count"), *subs)
            .withColumnRenamed("__range_key", "key")
        )
        rdf = spark.createDataFrame(specs, "key string, from string, to string")
        sub_names = [c for c in counted.columns if c not in ("key", "doc_count")]
        return (
            rdf.join(F.broadcast(counted), "key", "left")
            .select(
                "key", "from", "to",
                F.coalesce("doc_count", F.lit(0)).alias("doc_count"),
                *sub_names,
            )
            .orderBy(F.asc_nulls_first("from"), "key")
        )
    if kind == "range":
        # {"field": f, "ranges": [{"to": x}, {"from": a, "to": b},
        # {"from": y}]} -> (key, from, to, doc_count); OpenSearch
        # semantics: from inclusive, to exclusive, ranges may overlap
        # (a doc counts in every range it falls into), empty ranges
        # report doc_count 0. One scan: explode the per-doc matched
        # range keys, then a broadcast left join keeps empty ranges.
        ranges = body.get("ranges", [])
        if not ranges:
            raise ValueError("range aggregation needs 'ranges'")
        col = F.col(field).cast("double")
        specs = []
        for r in ranges:
            lo = float(r["from"]) if "from" in r else None
            hi = float(r["to"]) if "to" in r else None
            key = r.get(
                "key",
                f"{'*' if lo is None else lo}-{'*' if hi is None else hi}",
            )
            specs.append((key, lo, hi))
        conds = [
            F.when(
                (F.lit(True) if lo is None else (col >= lo))
                & (F.lit(True) if hi is None else (col < hi)),
                F.lit(key),
            )
            for key, lo, hi in specs
        ]
        # collision-proof internal alias: the match-set table may already
        # carry a column named "key" (e.g. key_value output), which would
        # make the bare groupBy("key") ambiguous
        counted = (
            matched.select(F.explode(F.array(*conds)).alias("__range_key"), "*")
            .where(F.col("__range_key").isNotNull())
            .groupBy("__range_key")
            .agg(F.count(F.lit(1)).alias("doc_count"), *subs)
            .withColumnRenamed("__range_key", "key")
        )
        rdf = spark.createDataFrame(specs, "key string, from double, to double")
        sub_names = [c for c in counted.columns if c not in ("key", "doc_count")]
        return (
            rdf.join(F.broadcast(counted), "key", "left")
            .select(
                "key", "from", "to",
                F.coalesce("doc_count", F.lit(0)).alias("doc_count"),
                *sub_names,  # empty ranges keep NULL metrics (no docs)
            )
            .orderBy(F.asc_nulls_first("from"), "key")
        )
    if kind == "histogram":
        # {"field": f, "interval": n} -> (key, doc_count), key = bucket
        # lower bound; empty buckets omitted (min_doc_count >= 1)
        interval = float(body["interval"])
        key = (F.floor(F.col(field).cast("double") / interval) * interval).alias("key")
        return (
            matched.where(F.col(field).isNotNull())
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("doc_count"), *subs)
            .orderBy("key")
        )
    if kind == "date_histogram":
        # {"field": f, "calendar_interval": "day"} (or fixed_interval
        # "1h"/"30m"/"1d") -> (key timestamp, doc_count), bucket =
        # date_trunc; the field must cast to timestamp
        cal = body.get("calendar_interval")
        if cal is not None:
            units = {
                "second": "second", "minute": "minute", "hour": "hour",
                "day": "day", "week": "week", "month": "month",
                "quarter": "quarter", "year": "year",
            }
            if cal not in units:
                raise ValueError(f"unsupported calendar_interval: {cal}")
            key = F.date_trunc(units[cal], F.col(field).cast("timestamp"))
        else:
            fixed = body.get("fixed_interval")
            if fixed is None:
                raise ValueError(
                    "date_histogram needs calendar_interval or fixed_interval"
                )
            m = re.fullmatch(r"(\d+)(ms|s|m|h|d)", fixed)
            if not m:
                raise ValueError(f"unsupported fixed_interval: {fixed}")
            millis = int(m.group(1)) * {
                "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000
            }[m.group(2)]
            epoch_ms = (
                F.col(field).cast("timestamp").cast("double") * 1000
            ).cast("long")
            key = F.timestamp_millis(
                (F.floor(epoch_ms / millis) * millis).cast("long")
            )
        return (
            matched.where(F.col(field).isNotNull())
            .groupBy(key.alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"), *subs)
            .orderBy("key")
        )
    raise ValueError(f"unsupported aggregation type: {kind}")
