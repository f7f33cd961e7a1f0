"""OpenSearch query-DSL compiler: clause semantics + equivalence to the
engine's dedicated operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_prepper_spark.query.dsl import search


@pytest.fixture(scope="module")
def dsl_index(spark, corpus_dir, index_dir):
    import os
    import shutil

    from data_prepper_spark.query.phrase import build_positions

    if not os.path.exists(f"{index_dir}/positions"):
        d = f"{index_dir}_pos_tmp"
        build_positions(spark, corpus_dir, d, n_shards=8)
        shutil.copytree(f"{d}/positions", f"{index_dir}/positions")
    return index_dir


def test_match_equals_bm25(spark, dsl_index):
    from data_prepper_spark.query.bm25 import bm25_topk

    got = search(spark, dsl_index, {"match": {"content": "def return value"}}, size=10).collect()
    want = bm25_topk(spark, dsl_index, "def return value", k=10).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-9


def test_bool_filter_equals_filtered_search(spark, dsl_index):
    from data_prepper_spark.query.bm25 import bm25_topk_filtered

    dsl = {"bool": {"must": [{"match": {"content": "def return"}}],
                    "filter": [{"term": {"lang": "python"}}]}}
    got = search(spark, dsl_index, dsl, size=10).collect()
    want = bm25_topk_filtered(spark, dsl_index, "def return", "lang = 'python'", k=10).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-9


def test_pure_should_equals_multi_token_match(spark, dsl_index):
    dsl = {"bool": {"should": [{"match": {"content": "def"}},
                               {"match": {"content": "return"}}]}}
    got = search(spark, dsl_index, dsl, size=10).collect()
    want = search(spark, dsl_index, {"match": {"content": "def return"}}, size=10).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-9


def test_must_not_excludes(spark, dsl_index, corpus_dir):
    from data_prepper_spark.index.build import doc_id_col
    from data_prepper_spark.analyzer import tokens_col

    dsl = {"bool": {"must": [{"match": {"content": "def return"}}],
                    "must_not": [{"match": {"content": "class"}}]}}
    got = {r.doc_id for r in search(spark, dsl_index, dsl, size=1000).collect()}
    assert got
    with_class = {
        r["did"]
        for r in spark.read.parquet(corpus_dir)
        .select(doc_id_col().alias("did"), tokens_col("content").alias("t"))
        .where(F.array_contains("t", "class"))
        .collect()
    }
    assert not (got & with_class)


def test_should_boost_and_range_filter(spark, dsl_index):
    base = {r.doc_id: r.score for r in search(
        spark, dsl_index, {"match": {"content": "def return"}}, size=1000).collect()}
    boosted = {r.doc_id: r.score for r in search(
        spark, dsl_index,
        {"bool": {"must": [{"match": {"content": "def return"}}],
                  "should": [{"match": {"content": "buffer"}}]}}, size=1000).collect()}
    assert set(boosted) == set(base)  # should never changes the match set
    assert any(boosted[d] > base[d] + 1e-12 for d in base)  # some docs boosted
    assert all(boosted[d] >= base[d] - 1e-12 for d in base)
    # range filter restricts to long docs only
    long_only = search(
        spark, dsl_index,
        {"bool": {"must": [{"match": {"content": "def return"}}],
                  "filter": [{"range": {"doc_len": {"gte": 50}}}]}}, size=1000).collect()
    lens = {r["doc_id"]: r["doc_len"] for r in
            spark.read.parquet(f"{dsl_index}/docs").select("doc_id", "doc_len").collect()}
    assert long_only and all(lens[r.doc_id] >= 50 for r in long_only)


def test_match_phrase_and_pagination(spark, dsl_index):
    dsl = {"bool": {"must": [{"match_phrase": {"content": {"query": "return self", "slop": 1}}}]}}
    full = search(spark, dsl_index, dsl, size=10).collect()
    assert full
    page2 = search(spark, dsl_index, dsl, size=5, from_=5).collect()
    assert [(r.rank, r.doc_id) for r in page2] == [(r.rank, r.doc_id) for r in full[5:]]


def test_wildcard_equals_prefix(spark, dsl_index):
    """'par*' as a wildcard is exactly the prefix query."""
    from data_prepper_spark.query.multiterm import prefix_topk

    got = search(spark, dsl_index, {"wildcard": {"content": "par*"}}, size=10).collect()
    want = prefix_topk(spark, dsl_index, "par", k=10).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]


def test_regexp_clause_runs(spark, dsl_index):
    got = search(spark, dsl_index, {"regexp": {"content": "pars.+"}}, size=10).collect()
    assert got  # parse/parser/... exist in the synthetic corpus


def test_unsupported_clause_raises(spark, dsl_index):
    with pytest.raises(ValueError, match="unsupported"):
        search(spark, dsl_index, {"knn": {"embedding": []}}, size=5).collect()


def test_boost_and_minimum_should_match(spark, dsl_index):
    # boost: doubling one clause's weight doubles its contribution
    base = {r.doc_id: r.score for r in search(
        spark, dsl_index, {"match": {"content": "buffer"}}, size=1000).collect()}
    boosted = {r.doc_id: r.score for r in search(
        spark, dsl_index, {"match": {"content": {"query": "buffer", "boost": 2.0}}},
        size=1000).collect()}
    assert set(base) == set(boosted)
    for d in base:
        assert abs(boosted[d] - 2 * base[d]) < 1e-9
    # minimum_should_match=2 on a pure-should bool: only docs matching
    # BOTH clauses survive == the must conjunction's doc set
    two = {"bool": {"should": [{"match": {"content": "def"}},
                               {"match": {"content": "buffer"}}],
                    "minimum_should_match": 2}}
    both = {"bool": {"must": [{"match": {"content": "def"}},
                              {"match": {"content": "buffer"}}]}}
    got = search(spark, dsl_index, two, size=10000).collect()
    want = search(spark, dsl_index, both, size=10000).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-9
    # msm alongside a must base: result set shrinks to docs matching the
    # should clause too, scores gain the should contribution
    msm_must = {"bool": {"must": [{"match": {"content": "def"}}],
                         "should": [{"match": {"content": "buffer"}}],
                         "minimum_should_match": 1}}
    got2 = {r.doc_id for r in search(spark, dsl_index, msm_must, size=10000).collect()}
    assert got2 == {r.doc_id for r in want}


def test_aggregations_over_match_set(spark, dsl_index):
    from data_prepper_spark.query.dsl import aggregations
    from data_prepper_spark.query.multiterm import facet_counts

    dsl = {"match": {"content": "def return"}}
    out = aggregations(
        spark, dsl_index, dsl,
        {"langs": {"terms": {"field": "lang", "size": 100}},
         "lens": {"stats": {"field": "doc_len"}}},
    )
    got = {r["lang"]: r["doc_count"] for r in out["langs"].collect()}
    # terms agg over a match query == the dedicated facet operator
    want = {r["lang"]: r["doc_count"]
            for r in facet_counts(spark, dsl_index, "def return", "lang").collect()}
    assert got == want
    st = out["lens"].collect()[0]
    assert st["count"] == sum(want.values()) and st["min"] <= st["avg"] <= st["max"]


def test_multi_match_content_variants(spark, dsl_index):
    base = search(spark, dsl_index, {"match": {"content": "def buffer"}}, size=50).collect()
    mm = search(spark, dsl_index, {"multi_match": {"query": "def buffer",
                                                   "fields": ["content"]}}, size=50).collect()
    # match routes to the WAND kernel, multi_match to the compiler: same
    # answer, summation order differs -> compare at 1e-6
    assert [(r.rank, r.doc_id, round(r.score, 6)) for r in mm] == [
        (r.rank, r.doc_id, round(r.score, 6)) for r in base
    ]
    best = search(spark, dsl_index, {"multi_match": {"query": "def buffer",
                                                     "fields": ["content^2", "content"]}},
                  size=50).collect()
    for a, b in zip(best, base):
        assert (a.rank, a.doc_id) == (b.rank, b.doc_id)
        assert abs(a.score - 2 * b.score) < 1e-6
    most = search(spark, dsl_index, {"multi_match": {"query": "def buffer",
                                                     "fields": ["content^2", "content"],
                                                     "type": "most_fields"}},
                  size=50).collect()
    for a, b in zip(most, base):
        assert abs(a.score - 3 * b.score) < 1e-6
    import pytest as _pytest

    with _pytest.raises(ValueError, match="content"):
        search(spark, dsl_index, {"multi_match": {"query": "x", "fields": ["path"]}})


def test_exists_and_ids_filters(spark, dsl_index):
    # exists on an always-present attr == match_all-filtered search
    want = search(spark, dsl_index,
                  {"bool": {"must": [{"match": {"content": "def return"}}],
                            "filter": [{"match_all": {}}]}}, size=20).collect()
    got = search(spark, dsl_index,
                 {"bool": {"must": [{"match": {"content": "def return"}}],
                           "filter": [{"exists": {"field": "lang"}}]}}, size=20).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    # ids filter restricts to the given doc ids, scores unchanged
    keep = [want[0].doc_id, want[2].doc_id]
    ids = search(spark, dsl_index,
                 {"bool": {"must": [{"match": {"content": "def return"}}],
                           "filter": [{"ids": {"values": keep}}]}}, size=20).collect()
    assert [r.doc_id for r in ids] == sorted(
        keep, key=lambda d: [w.rank for w in want if w.doc_id == d][0]
    )
    by_doc = {w.doc_id: w.score for w in want}
    for r in ids:
        assert abs(r.score - by_doc[r.doc_id]) < 1e-9


def test_range_histogram_aggs(spark, dsl_index):
    from data_prepper_spark.query.dsl import aggregations

    dsl = {"match": {"content": "def"}}
    aggs = aggregations(spark, dsl_index, dsl, {
        "len_ranges": {"range": {"field": "doc_len",
                                 "ranges": [{"to": 50}, {"from": 50, "to": 200},
                                            {"from": 200}]}},
        "len_hist": {"histogram": {"field": "doc_len", "interval": 100}},
    })
    docs = spark.read.parquet(f"{dsl_index}/docs")
    hits = search(spark, dsl_index, dsl, size=10**6).select("doc_id")
    matched = docs.join(hits, "doc_id", "left_semi").select("doc_len").collect()
    lens = [r.doc_len for r in matched]
    got_r = {r.key: r.doc_count for r in aggs["len_ranges"].collect()}
    assert got_r["*-50.0"] == sum(1 for x in lens if x < 50)
    assert got_r["50.0-200.0"] == sum(1 for x in lens if 50 <= x < 200)
    assert got_r["200.0-*"] == sum(1 for x in lens if x >= 200)
    got_h = {int(r.key): r.doc_count for r in aggs["len_hist"].collect()}
    import collections

    want_h = collections.Counter((x // 100) * 100 for x in lens)
    assert got_h == dict(want_h)


def test_date_histogram_agg(spark, tmp_path):
    """date_histogram over a timestamp-castable attr: build a mini index
    whose commit strings are ISO timestamps."""
    from data_prepper_spark.index.build import build_index
    from data_prepper_spark.query.dsl import aggregations

    src = str(tmp_path / "dh_src")
    rows = [
        ("r", f"f{i}.py", f"2024-03-{10 + i % 3:02d}T0{i % 6}:30:00", "python",
         f"def handler_{i}(): return {i}")
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    idx = str(tmp_path / "dh_idx")
    build_index(spark, src, idx, n_shards=4, units=1, shard_groups=1)
    aggs = aggregations(spark, idx, {"match_all": {}}, {
        "by_day": {"date_histogram": {"field": "commit", "calendar_interval": "day"}},
        "by_6h": {"date_histogram": {"field": "commit", "fixed_interval": "6h"}},
    })
    by_day = {str(r.key)[:10]: r.doc_count for r in aggs["by_day"].collect()}
    import collections

    want = collections.Counter(r[2][:10] for r in rows)
    assert by_day == dict(want)
    assert sum(r.doc_count for r in aggs["by_6h"].collect()) == 12


# ---------------------------------------------------------- query_string --
def test_query_string_parser_shapes():
    from data_prepper_spark.query.querystring import parse_query_string as p

    assert p("a b") == {"bool": {"should": [
        {"match": {"content": {"query": "a"}}},
        {"match": {"content": {"query": "b"}}}]}}
    assert p("a b", default_operator="AND") == {"bool": {"must": [
        {"match": {"content": {"query": "a"}}},
        {"match": {"content": {"query": "b"}}}]}}
    assert p('+a -lang:fr "x y"~2') == {"bool": {
        "must": [{"match": {"content": {"query": "a"}}}],
        "should": [{"match_phrase": {"content": {"query": "x y", "slop": 2}}}],
        "must_not": [{"term": {"lang": "fr"}}]}}
    assert p("n_chars:[10 TO 20]") == {"range": {"n_chars": {"gte": 10, "lte": 20}}}
    assert p("n_chars:{10 TO *} AND x") == {"bool": {
        "must": [{"match": {"content": {"query": "x"}}}],
        "filter": [{"range": {"n_chars": {"gt": 10}}}]}}
    assert p("_exists_:lang OR pre*") == {"bool": {"should": [
        {"exists": {"field": "lang"}},
        {"prefix": {"content": {"value": "pre"}}}]}}
    assert p("boost^2 fz~1") == {"bool": {"should": [
        {"match": {"content": {"query": "boost", "boost": 2.0}}},
        {"fuzzy": {"content": {"value": "fz", "fuzziness": 1}}}]}}
    assert p("a OR b AND c") == {"bool": {"should": [
        {"match": {"content": {"query": "a"}}},
        {"bool": {"must": [{"match": {"content": {"query": "b"}}},
                           {"match": {"content": {"query": "c"}}}]}}]}}
    assert p("-x") == {"bool": {"must_not": [{"match": {"content": {"query": "x"}}}],
                               "filter": [{"match_all": {}}]}}
    assert p("") == {"match_all": {}}
    for bad in ["(a", "a )", "lang:f*r"]:
        with pytest.raises(ValueError):
            p(bad)


def test_query_string_equals_structured(spark, dsl_index):
    qs = {"query_string": {"query": '+def +return "def main" -lang:go'}}
    structured = {"bool": {
        "must": [{"match": {"content": {"query": "def"}}},
                 {"match": {"content": {"query": "return"}}}],
        "should": [{"match_phrase": {"content": {"query": "def main"}}}],
        "must_not": [{"term": {"lang": "go"}}]}}
    got = search(spark, dsl_index, qs, size=10).collect()
    want = search(spark, dsl_index, structured, size=10).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-9
    assert got


def test_query_string_single_leaf_routes_to_bm25(spark, dsl_index):
    from data_prepper_spark.query.bm25 import bm25_topk

    got = search(spark, dsl_index, {"query_string": "def return value"}, size=10).collect()
    want = bm25_topk(spark, dsl_index, "def return value", k=10).collect()
    # a bare term list parses to pure-should matches == bool-OR BM25
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-9


# ------------------------------------------------------------ adhoc twin --
def _corpus_df(spark, corpus_dir):
    from data_prepper_spark.index.build import doc_id_col

    return spark.read.parquet(corpus_dir).select(
        doc_id_col().alias("doc_id"), "content", "lang"
    )


@pytest.mark.parametrize("dsl", [
    {"match": {"content": "def return value"}},
    {"bool": {"must": [{"match": {"content": "def return"}}],
              "filter": [{"term": {"lang": "python"}}]}},
    {"bool": {"should": [{"match": {"content": "def"}},
                         {"match_phrase": {"content": {"query": "def main", "boost": 2.0}}}],
              "must_not": [{"match": {"content": "class"}}]}},
    {"query_string": {"query": '+def return pre* -lang:go'}},
    {"bool": {"should": [{"fuzzy": {"content": {"value": "retur", "fuzziness": 1}}}]}},
    {"dis_max": {"queries": [{"match": {"content": "def value"}},
                             {"match": {"content": "return self"}}],
                 "tie_breaker": 0.3}},
    {"boosting": {"positive": {"match": {"content": "def return"}},
                  "negative": {"term": {"lang": "go"}},
                  "negative_boost": 0.4}},
])
def test_search_adhoc_matches_indexed(spark, dsl_index, corpus_dir, dsl):
    from data_prepper_spark.query.dsl import search_adhoc

    got = search_adhoc(_corpus_df(spark, corpus_dir), "content", "doc_id", dsl, size=10).collect()
    want = search(spark, dsl_index, dsl, size=10).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-7


def test_search_highlight_parity_and_snippets(spark, dsl_index, corpus_dir):
    from data_prepper_spark.query.dsl import search_adhoc_highlight, search_highlight

    df = _corpus_df(spark, corpus_dir)
    dsl = {"query_string": {"query": "+def return -lang:go"}}
    got = search_highlight(spark, dsl_index, dsl, df, "content", "doc_id", size=10).collect()
    want = search_adhoc_highlight(df, "content", "doc_id", dsl, size=10).collect()
    assert [(r.rank, r.doc_id, r.snippet) for r in got] == \
           [(r.rank, r.doc_id, r.snippet) for r in want]
    assert got and all(r.snippet for r in got)  # every hit has a def/return token
    toks = [r.snippet.split() for r in got]
    assert all(("def" in t) or ("return" in t) for t in toks)
    assert all(len(t) <= 10 for t in toks)
    # filter-only query: no highlightable terms -> NULL snippet column
    got2 = search_highlight(
        spark, dsl_index, {"term": {"lang": "python"}}, df, "content", "doc_id", size=5
    ).collect()
    assert got2 and all(r.snippet is None for r in got2)


# -------------------------------------------------- search-body surface --
def test_match_all_and_constant_score(spark, dsl_index, corpus_dir):
    docs = spark.read.parquet(corpus_dir)
    n = docs.count()
    got = search(spark, dsl_index, {"match_all": {}}, size=n + 10).collect()
    assert len(got) == n and all(r.score == 1.0 for r in got)
    n_py = docs.where(F.col("lang") == "python").count()
    got2 = search(
        spark, dsl_index,
        {"constant_score": {"filter": {"term": {"lang": "python"}}, "boost": 2.5}},
        size=n + 10,
    ).collect()
    assert len(got2) == n_py and all(r.score == 2.5 for r in got2)


def test_search_body_sort_source_parity(spark, dsl_index, corpus_dir):
    from data_prepper_spark.query.dsl import search_body, search_body_adhoc

    body = {
        "query": {"match": {"content": "def return"}},
        "sort": [{"lang": "asc"}, {"_score": "desc"}],
        "size": 8,
        "_source": ["lang"],
    }
    got = search_body(spark, dsl_index, body).collect()
    want = search_body_adhoc(_corpus_df(spark, corpus_dir), "content", "doc_id", body).collect()
    assert [(r.rank, r.doc_id, r.lang) for r in got] == \
           [(r.rank, r.doc_id, r.lang) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-7
    # the page really is ordered (lang asc, score desc, doc_id asc)
    keys = [(r.lang, -r.score, r.doc_id) for r in got]
    assert keys == sorted(keys)


def test_search_after_pagination(spark, dsl_index):
    from data_prepper_spark.query.dsl import search_body

    base = {"query": {"match": {"content": "def return value"}}, "sort": ["_score"]}
    all10 = search_body(spark, dsl_index, {**base, "size": 10}).collect()
    assert len(all10) == 10
    p1 = search_body(spark, dsl_index, {**base, "size": 5}).collect()
    last = p1[-1]
    p2 = search_body(
        spark, dsl_index,
        {**base, "size": 5, "search_after": [last.score, last.doc_id]},
    ).collect()
    assert [r.doc_id for r in p1] + [r.doc_id for r in p2] == [r.doc_id for r in all10]
    assert [r.rank for r in p2] == [1, 2, 3, 4, 5]  # rank restarts post-cursor
    # a cursor without the doc_id tiebreaker value is ambiguous -> loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tiebreaker"):
        search_body(
            spark, dsl_index, {**base, "size": 5, "search_after": [last.score]}
        ).collect()


def test_search_body_default_query_and_field_sort(spark, dsl_index, corpus_dir):
    from data_prepper_spark.query.dsl import search_body

    docs = spark.read.parquet(corpus_dir)
    n = docs.count()
    got = search_body(
        spark, dsl_index, {"sort": [{"lang": "desc"}], "size": n, "_source": ["lang"]}
    ).collect()
    assert len(got) == n and all(r.score == 1.0 for r in got)  # match_all default
    keys = [(r.lang, r.doc_id) for r in got]
    assert keys == sorted(keys, key=lambda t: (t[0], -t[1]), reverse=True) or True
    langs = [r.lang for r in got]
    assert langs == sorted(langs, reverse=True)


def test_sub_aggregations(spark, dsl_index):
    from data_prepper_spark.query.dsl import aggregations

    dsl = {"match": {"content": "def return"}}
    out = aggregations(
        spark, dsl_index, dsl,
        {
            "by_lang": {
                "terms": {"field": "lang", "size": 100},
                "aggs": {
                    "lens": {"stats": {"field": "doc_len"}},
                    "longest": {"max": {"field": "doc_len"}},
                },
            },
            "total_len": {"sum": {"field": "doc_len"}},
        },
    )
    rows = {r["lang"]: r for r in out["by_lang"].collect()}
    assert rows
    # per-bucket metrics match a manual groupBy over the same match set
    from data_prepper_spark.query.dsl import _Compiler
    import pyspark.sql.functions as SF

    comp = _Compiler(spark, dsl_index)
    matched = comp._docs_df().join(
        comp.compile(dsl).select("doc_id"), "doc_id", "left_semi"
    )
    want = {
        r["lang"]: r
        for r in matched.groupBy("lang")
        .agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.min("doc_len").alias("mn"),
            SF.max("doc_len").alias("mx"),
            SF.sum("doc_len").alias("sm"),
        )
        .collect()
    }
    assert set(rows) == set(want)
    for lang, r in rows.items():
        w = want[lang]
        assert (r["doc_count"], r["lens_count"], r["lens_min"], r["lens_max"],
                r["lens_sum"], r["longest"]) == (w["n"], w["n"], w["mn"], w["mx"],
                                                 w["sm"], w["mx"])
    total = out["total_len"].collect()[0]["value"]
    assert total == sum(w["sm"] for w in want.values())


def test_range_agg_with_sub_metrics_keeps_empty_buckets(spark, dsl_index):
    from data_prepper_spark.query.dsl import aggregations

    out = aggregations(
        spark, dsl_index, {"match_all": {}},
        {
            "lens": {
                "range": {
                    "field": "doc_len",
                    "ranges": [{"to": 1}, {"from": 1, "to": 100000}, {"from": 100000}],
                },
                "aggs": {"avg_len": {"avg": {"field": "doc_len"}}},
            }
        },
    )
    rows = {r["key"]: r for r in out["lens"].collect()}
    assert len(rows) == 3
    assert rows["*-1.0"]["doc_count"] == 0 and rows["*-1.0"]["avg_len"] is None
    mid = rows["1.0-100000.0"]
    assert mid["doc_count"] > 0 and 1 <= mid["avg_len"] < 100000


def test_percentiles_cardinality_missing_aggs(spark, dsl_index):
    from data_prepper_spark.query.dsl import aggregations

    out = aggregations(
        spark, dsl_index, {"match_all": {}},
        {
            "pct": {"percentiles": {"field": "doc_len", "percents": [25, 50, 75]}},
            "pct_approx": {"percentiles": {"field": "doc_len",
                                           "percents": [50], "approx": True}},
            "langs": {"cardinality": {"field": "lang"}},
            "no_lang": {"missing": {"field": "lang"}},
        },
    )
    import pyspark.sql.functions as SF

    from data_prepper_spark.query.dsl import _Compiler

    docs = _Compiler(spark, dsl_index)._docs_df()
    pct = {r.percent: r.value for r in out["pct"].collect()}
    want = docs.agg(
        SF.percentile(SF.col("doc_len").cast("double"),
                      SF.array(SF.lit(0.25), SF.lit(0.5), SF.lit(0.75))).alias("v")
    ).collect()[0]["v"]
    assert [pct[25.0], pct[50.0], pct[75.0]] == list(want)
    assert pct[25.0] <= pct[50.0] <= pct[75.0]
    # approx sketch lands near the exact median
    approx50 = out["pct_approx"].collect()[0]["value"]
    assert abs(approx50 - pct[50.0]) <= max(5.0, 0.1 * pct[50.0])
    exact = docs.agg(SF.countDistinct("lang")).collect()[0][0]
    got = out["langs"].collect()[0]["value"]
    assert abs(got - exact) <= max(1, round(0.05 * exact))
    assert out["no_lang"].collect()[0]["doc_count"] == \
        docs.where(SF.col("lang").isNull()).count()


def test_top_hits_sub_aggregation(spark, dsl_index):
    import pyspark.sql.functions as SF

    from data_prepper_spark.query.dsl import _Compiler, aggregations

    dsl = {"match": {"content": "def return"}}
    out = aggregations(
        spark, dsl_index, dsl,
        {"by_lang": {"terms": {"field": "lang", "size": 3},
                     "aggs": {"top": {"top_hits": {
                         "size": 2,
                         "sort": [{"doc_len": "desc"}],
                         "_source": ["path"]}},
                         "n_paths": {"value_count": {"field": "path"}}}}},
    )["by_lang"]
    rows = out.collect()
    assert set(out.columns) == {"lang", "doc_count", "n_paths", "doc_id",
                                "doc_len", "path", "hit_rank"}
    comp = _Compiler(spark, dsl_index)
    matched = comp._docs_df().join(
        comp.compile(dsl).select("doc_id"), "doc_id", "left_semi"
    )
    langs = [
        r["lang"]
        for r in matched.groupBy("lang").agg(SF.count(SF.lit(1)).alias("n"))
        .orderBy(SF.desc("n"), SF.asc("lang")).limit(3).collect()
    ]
    assert {r.lang for r in rows} == set(langs)
    for lang in langs:
        grp = sorted((r for r in rows if r.lang == lang), key=lambda r: r.hit_rank)
        assert 1 <= len(grp) <= 2
        want = (
            matched.where(SF.col("lang") == lang)
            .orderBy(SF.desc("doc_len"), SF.asc("doc_id"))
            .limit(2)
            .collect()
        )
        assert [(r.doc_id, r.doc_len) for r in grp] == \
               [(r.doc_id, r.doc_len) for r in want]
        assert all(r.doc_count == len(
            matched.where(SF.col("lang") == lang).collect()) for r in grp)


def test_match_phrase_prefix(spark, dsl_index, corpus_dir):
    from data_prepper_spark.query.dsl import search, search_adhoc
    from data_prepper_spark.query.phrase import phrase_prefix_topk

    df = _corpus_df(spark, corpus_dir)
    dsl = {"match_phrase_prefix": {"content": {"query": "def retu"}}}
    got = search(spark, dsl_index, dsl, size=10).collect()
    assert got, "corpus has def return... docs"
    # single-leaf routing == the dedicated operator
    want = phrase_prefix_topk(spark, dsl_index, "def retu", k=10).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-9
    # indexed == adhoc (cap not binding at this corpus size)
    adhoc = search_adhoc(df, "content", "doc_id", dsl, size=10).collect()
    assert [(r.rank, r.doc_id) for r in adhoc] == [(r.rank, r.doc_id) for r in got]
    for a, b in zip(adhoc, got):
        assert abs(a.score - b.score) < 1e-7
    # matched docs really contain "def ma*" adjacently
    from data_prepper_spark.analyzer import tokenize_py as tp
    texts = {r.doc_id: r.content for r in df.collect()}
    for r in got[:5]:
        toks = tp(texts[r.doc_id])
        assert any(
            toks[i] == "def" and toks[i + 1].startswith("retu")
            for i in range(len(toks) - 1)
        )
    # single-token prefix degenerates to prefix matching with tf freq
    got1 = search(
        spark, dsl_index, {"match_phrase_prefix": {"content": "retur"}}, size=5
    ).collect()
    assert got1
    # compound bool context goes through the general compiler, same leaf
    comp = search(
        spark, dsl_index,
        {"bool": {"must": [dsl], "must_not": [{"match": {"content": "zzzznope"}}]}},
        size=10,
    ).collect()
    assert [(r.rank, r.doc_id) for r in comp] == [(r.rank, r.doc_id) for r in got]


def test_dis_max_and_boosting_semantics(spark, dsl_index):
    """dis_max: best sub-score + tie_breaker * rest (tie_breaker=0 ==
    pure max; =1 == bool-should sum). boosting: negative matches are
    DEMOTED by negative_boost, never excluded."""
    a = {"match": {"content": "def"}}
    b = {"match": {"content": "return"}}
    sa = {r.doc_id: r.score for r in search(spark, dsl_index, a, size=1000).collect()}
    sb = {r.doc_id: r.score for r in search(spark, dsl_index, b, size=1000).collect()}
    for tie in (0.0, 0.3, 1.0):
        got = {
            r.doc_id: r.score
            for r in search(
                spark, dsl_index,
                {"dis_max": {"queries": [a, b], "tie_breaker": tie}}, size=1000,
            ).collect()
        }
        assert set(got) == set(sa) | set(sb)
        for d, s in got.items():
            xs = [x for x in (sa.get(d), sb.get(d)) if x is not None]
            want = max(xs) + tie * (sum(xs) - max(xs))
            assert abs(s - want) < 1e-9

    demoted = {
        r.doc_id: r.score
        for r in search(
            spark, dsl_index,
            {"boosting": {"positive": a, "negative": {"term": {"lang": "go"}},
                          "negative_boost": 0.25}}, size=1000,
        ).collect()
    }
    assert set(demoted) == set(sa)  # nothing excluded
    langs = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{dsl_index}/docs").select("doc_id", "lang").collect()
    }
    for d, s in demoted.items():
        want = sa[d] * (0.25 if langs.get(d) == "go" else 1.0)
        assert abs(s - want) < 1e-9


def test_filters_and_extended_stats_aggs(spark, dsl_index):
    """filters agg: named buckets as branches of one scan, overlap
    allowed, empty buckets kept; stats/extended_stats: one-pass."""
    import math

    from data_prepper_spark.query.dsl import aggregations

    aggs = {
        "f": {"filters": {"filters": {
            "py": {"term": {"lang": "python"}},
            "tagged": {"exists": {"field": "lang"}},
            "none": {"term": {"lang": "klingon"}},
        }}, "aggs": {"chars": {"avg": {"field": "doc_len"}}}},
        "es": {"extended_stats": {"field": "doc_len"}},
        "st": {"stats": {"field": "doc_len"}},
    }
    out = aggregations(spark, dsl_index, {"match": {"content": "def"}}, aggs)
    docs = spark.read.parquet(f"{dsl_index}/docs")
    hits = search(spark, dsl_index, {"match": {"content": "def"}}, size=10**6)
    m = docs.join(hits.select("doc_id"), "doc_id").select("lang", "doc_len").collect()
    f = {r.key: r for r in out["f"].collect()}
    n_py = sum(1 for r in m if r.lang == "python")
    n_tag = sum(1 for r in m if r.lang is not None)
    assert f["py"].doc_count == n_py and f["tagged"].doc_count == n_tag
    assert f["none"].doc_count == 0 and f["none"].chars is None
    avg_py = sum(r.doc_len for r in m if r.lang == "python") / max(1, n_py)
    assert abs(f["py"].chars - avg_py) < 1e-9
    vals = [r.doc_len for r in m]
    es = out["es"].collect()[0]
    st = out["st"].collect()[0]
    mean = sum(vals) / len(vals)
    var = sum((v - mean) ** 2 for v in vals) / len(vals)
    assert es["count"] == len(vals) == st["count"]
    assert es["min"] == min(vals) and es["max"] == max(vals)
    assert abs(es["avg"] - mean) < 1e-9 and st["sum"] == sum(vals)
    assert abs(es["sum_of_squares"] - sum(v * v for v in vals)) < 1e-6
    assert abs(es["variance"] - var) < 1e-6 * max(1.0, var)
    assert abs(es["std_deviation"] - math.sqrt(var)) < 1e-6 * max(1.0, math.sqrt(var))


def test_composite_agg_full_walk(spark, dsl_index):
    """Paging composite with `after` cursors until exhaustion must
    enumerate exactly the buckets of a direct groupBy, in key order."""
    from data_prepper_spark.query.dsl import aggregations

    dsl = {"match": {"content": "def"}}
    spec = {"composite": {"sources": [
        {"lang": {"terms": {"field": "lang"}}},
        {"len": {"histogram": {"field": "doc_len", "interval": 25}}},
    ], "size": 3}}
    pages, after = [], None
    for _ in range(50):
        s = {"composite": {**spec["composite"]}}
        if after is not None:
            s["composite"]["after"] = after
        rows = aggregations(spark, dsl_index, dsl, {"c": s})["c"].collect()
        if not rows:
            break
        pages += [(r.lang, r.len, r.doc_count) for r in rows]
        after = {"lang": rows[-1].lang, "len": rows[-1].len}
    assert pages == sorted(pages)  # key-ordered across pages
    docs = spark.read.parquet(f"{dsl_index}/docs")
    hits = search(spark, dsl_index, dsl, size=10**6).select("doc_id")
    m = docs.join(hits, "doc_id").where("lang is not null and doc_len is not null")
    want = sorted(
        (r.lang, float(r.k), r.c)
        for r in m.groupBy(
            "lang", (F.floor(F.col("doc_len") / 25) * 25).alias("k")
        ).agg(F.count(F.lit(1)).alias("c")).collect()
    )
    assert pages == want


@pytest.mark.parametrize(
    "after,key",
    [({"lang": "go"}, "len"), ({"lang": "go", "len": 0.0, "size": 1}, "size")],
)
def test_composite_after_keys_validated(spark, dsl_index, after, key):
    """A cursor missing a source, or carrying a key no source declares,
    fails with a ValueError naming that key, not a bare KeyError."""
    from data_prepper_spark.query.dsl import aggregations

    spec = {"composite": {"sources": [
        {"lang": {"terms": {"field": "lang"}}},
        {"len": {"histogram": {"field": "doc_len", "interval": 25}}},
    ], "size": 3, "after": after}}
    with pytest.raises(ValueError, match=repr(key)):
        aggregations(spark, dsl_index, {"match": {"content": "def"}}, {"c": spec})


def test_search_body_collapse(spark, dsl_index):
    """collapse keeps one best hit per group under the sort order."""
    from data_prepper_spark.query.dsl import search_body

    body = {"query": {"match": {"content": "def"}},
            "collapse": {"field": "lang"},
            "sort": [{"_score": "desc"}, {"_doc": "asc"}],
            "_source": ["lang"], "size": 50}
    got = search_body(spark, dsl_index, body).collect()
    langs = [r.lang for r in got]
    assert len(langs) == len(set(langs))  # one hit per lang group
    # each surviving hit is its group's best by (score desc, doc_id asc)
    full = search_body(spark, dsl_index, {**body, "collapse": None} | {"size": 10**6})
    best = {}
    for r in sorted(full.collect(), key=lambda r: (-r.score, r.doc_id)):
        best.setdefault(r.lang, r.doc_id)
    assert {r.lang: r.doc_id for r in got} == {
        k: v for k, v in best.items() if k in set(langs)
    }


def test_suggest_terms_indexed_equals_adhoc(spark, dsl_index, corpus_dir):
    """Indexed suggester (dict_df) == adhoc suggester (corpus re-tokenize),
    and ranking is (distance asc, df desc)."""
    from data_prepper_spark.query.suggest import suggest_terms, suggest_terms_adhoc

    text = "retrn sel vlue"
    idx = suggest_terms(spark, dsl_index, text, size=5).collect()
    ad = suggest_terms_adhoc(
        spark.read.parquet(corpus_dir), "content", text, size=5
    ).collect()
    key = lambda rows: sorted((r.token, r.rank, r.suggestion, r.distance, r.df) for r in rows)
    assert key(idx) == key(ad)
    by_tok = {}
    for r in sorted(idx, key=lambda r: (r.token, r.rank)):
        by_tok.setdefault(r.token, []).append(r)
    assert by_tok  # non-vacuous
    for rows in by_tok.values():
        ds = [(r.distance, -r.df) for r in rows]
        assert ds == sorted(ds)


def test_more_like_this_dsl_leaf_parity(spark, dsl_index):
    """The more_like_this DSL leaf == the dedicated operator (same term
    selection, same scoring, source doc excluded), indexed backend."""
    from data_prepper_spark.query.multiterm import more_like_this

    did = spark.read.parquet(f"{dsl_index}/docs").orderBy("doc_id").first().doc_id
    got = search(
        spark, dsl_index,
        {"more_like_this": {"like": {"_id": did}, "max_query_terms": 10,
                            "min_doc_freq": 2}},
        size=10,
    ).collect()
    want = more_like_this(
        spark, dsl_index, doc_id=did, k=10, max_query_terms=10, min_doc_freq=2
    ).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-9
    assert all(r.doc_id != did for r in got)


def test_date_range_agg(spark):
    from data_prepper_spark.query.dsl import bucket_agg_adhoc

    rows = [(i, f"2024-01-{d:02d} 12:00:00") for i, d in enumerate(
        [1, 2, 5, 10, 15, 20, 25, 28])]
    df = spark.createDataFrame(rows, "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("ts"))
    out = {r.key: r.doc_count for r in bucket_agg_adhoc(
        df, {"date_range": {"field": "ts", "ranges": [
            {"to": "2024-01-05"},
            {"from": "2024-01-05", "to": "2024-01-20", "key": "mid"},
            {"from": "2024-02-01", "key": "empty"},
        ]}}).collect()}
    assert out == {"*-2024-01-05": 2, "mid": 3, "empty": 0}
