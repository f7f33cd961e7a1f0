"""Multi-term query surface: prefix / fuzzy / facets — indexed path ==
index-free path, plus semantics checks (expansion cap, edit distance,
OR-scoring)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_prepper_spark.index.build import doc_id_col
from data_prepper_spark.query.multiterm import (
    facet_counts,
    facet_counts_adhoc,
    fuzzy_topk,
    fuzzy_topk_adhoc,
    prefix_topk,
    prefix_topk_adhoc,
    terms_topk,
)


@pytest.fixture(scope="module")
def docs_id(spark, corpus_dir):
    return spark.read.parquet(corpus_dir).withColumn("did", doc_id_col())


def _close(idxed, adhoc, tag):
    assert [(r.rank, r.doc_id) for r in idxed] == [(r.rank, r.doc_id) for r in adhoc], tag
    for a, b in zip(idxed, adhoc):
        assert abs(a.score - b.score) < 1e-3, (tag, a, b)


def test_prefix_indexed_equals_adhoc(spark, corpus_dir, index_dir, docs_id):
    for prefix in ("par", "buf", "zz"):
        idxed = prefix_topk(spark, index_dir, prefix, k=10).collect()
        adhoc = prefix_topk_adhoc(docs_id, "content", "did", prefix, k=10, round_to=9).collect()
        _close(idxed, adhoc, prefix)
    assert prefix_topk(spark, index_dir, "zzqqxx", k=10).collect() == []


def test_fuzzy_indexed_equals_adhoc_and_semantics(spark, index_dir, docs_id):
    for term in ("parse", "bufer"):  # exact word + a typo
        idxed = fuzzy_topk(spark, index_dir, term, max_edits=1, k=10).collect()
        adhoc = fuzzy_topk_adhoc(docs_id, "content", "did", term, max_edits=1, k=10, round_to=9).collect()
        _close(idxed, adhoc, term)
    # a 1-edit typo still finds documents (the whole point of fuzzy)
    assert fuzzy_topk(spark, index_dir, "bufer", max_edits=1, k=5).count() > 0


def test_prefix_expansion_cap(spark, index_dir):
    """max_expansions bounds the rewrite like Lucene's maxExpansions —
    fewer candidate terms can only shrink (or keep) the match set."""
    wide = terms_topk(spark, index_dir, ["parse", "parser", "parsed"], 10**6).count()
    capped = prefix_topk(spark, index_dir, "pars", k=10**6, max_expansions=1)
    assert capped.count() <= max(
        wide, prefix_topk(spark, index_dir, "pars", k=10**6).count()
    )


def test_dictionary_terms_are_analyzer_fixed_points(spark, index_dir):
    """terms_topk hands its terms to the engine as query text, which is
    exact only because the analyzer maps every dictionary term to itself."""
    from data_prepper_spark.analyzer import tokenize_py
    from data_prepper_spark.query.common import dict_df
    from data_prepper_spark.tableio import TableIO

    terms = [r.term for r in dict_df(spark, TableIO(index_dir)).select("term").collect()]
    assert len(terms) > 50
    assert [t for t in terms if tokenize_py(t) != [t]] == []


def test_terms_topk_unanalyzed_terms_match_nothing(spark, index_dir):
    """A term that is not in analyzed form is never in the dictionary, so
    it matches nothing, even when its analyzed form would."""
    assert terms_topk(spark, index_dir, ["return"], k=10).count() > 0
    assert terms_topk(spark, index_dir, ["Return", "def_return"], k=10).collect() == []


def test_facets_indexed_equals_adhoc(spark, index_dir, docs_id):
    q = "parse buffer"
    idxed = {
        r["lang"]: r["doc_count"]
        for r in facet_counts(spark, index_dir, q, "lang").collect()
    }
    adhoc = {
        r["lang"]: r["doc_count"]
        for r in facet_counts_adhoc(docs_id, "content", "did", q, "lang").collect()
    }
    assert idxed == adhoc and sum(idxed.values()) > 0


def test_more_like_this_indexed_equals_adhoc(spark, corpus_dir, index_dir, docs_id):
    from data_prepper_spark.query.multiterm import more_like_this, more_like_this_adhoc

    src = docs_id.select("did").first()["did"]
    idxed = more_like_this(spark, index_dir, src, k=10, max_query_terms=10).collect()
    adhoc = more_like_this_adhoc(
        docs_id, "content", "did", src, k=10, max_query_terms=10, round_to=9
    ).collect()
    assert idxed, "similar docs must exist in a homogeneous corpus"
    _close(idxed, adhoc, "mlt")
    assert all(r.doc_id != src for r in idxed)  # source doc excluded


def test_highlight_snippets(spark, docs_id):
    from data_prepper_spark.query.multiterm import highlight_adhoc

    out = highlight_adhoc(docs_id, "content", "did", "def return", window=6, lead=1).collect()
    assert out
    for r in out[:20]:
        toks = r["snippet"].split(" ")
        assert len(toks) <= 6
        assert ("def" in toks) or ("return" in toks)
        assert r["n_hits"] >= 1


def test_significant_terms_indexed_equals_adhoc(spark, index_dir, docs_id):
    from data_prepper_spark.query.multiterm import (
        significant_terms,
        significant_terms_adhoc,
    )

    q = "parse buffer"
    idxed = significant_terms(spark, index_dir, q, size=15, round_to=6).collect()
    adhoc = significant_terms_adhoc(
        docs_id, "content", "did", q, size=15, round_to=6
    ).collect()
    assert [(r.term, r.fg_count, r.bg_count, r.score) for r in idxed] == \
           [(r.term, r.fg_count, r.bg_count, r.score) for r in adhoc]
    assert idxed, "match set should surface significant terms"
    # JLH invariants: positive scores only, foreground rate beats background
    n_docs = docs_id.count()
    import math
    for r in idxed:
        assert r.score > 0 and r.fg_count <= r.bg_count <= n_docs
    # the query's own terms are maximally concentrated in their match set
    top_terms = {r.term for r in idxed}
    assert {"parse", "buffer"} & top_terms


def test_significant_terms_dsl_aggs_wiring(spark, index_dir):
    from data_prepper_spark.query.dsl import aggregations
    from data_prepper_spark.query.multiterm import significant_terms

    # a bare match query's match set == the bool-OR operator's match set
    out = aggregations(
        spark, index_dir, {"match": {"content": "parse buffer"}},
        {"sig": {"significant_terms": {"field": "content", "size": 15}}},
    )["sig"].collect()
    want = significant_terms(spark, index_dir, "parse buffer", size=15).collect()
    assert [(r.term, r.fg_count, r.bg_count) for r in out] == \
           [(r.term, r.fg_count, r.bg_count) for r in want]
    for a, b in zip(out, want):
        assert abs(a.score - b.score) < 1e-12
