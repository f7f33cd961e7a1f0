"""Rank-identity: engine (both paths) vs pure-Python oracle (SURVEY §5.2)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.analyzer import duckdb_tokens_sql
from data_prepper_spark.index.build import build_index
from data_prepper_spark.query.bm25 import bm25_topk
from data_prepper_spark.query.wand import bm25_topk_wand
from tests.oracle import bm25_topk as oracle_topk

# query shapes from FIXTURES.md §2: rare term, hot term, hot+rare
# conjunction, identifier-split, absent term, lang keyword; k in {1,10,100}
QUERIES = [
    ("parseJson buffer", 10),
    ("the", 10),
    ("the index_merge", 10),
    ("parse json response", 10),
    ("zzz_absent_term", 10),
    ("return", 10),
    ("scanChunk emitState", 100),
    ("INDEX_MERGE", 1),
    ("the int return i", 10),
    ("flushBatch shard term doc", 25),
]


def _norm(rows):
    return [(r[0], r[1], round(r[2], 6)) for r in rows]


@pytest.mark.parametrize("q,k", QUERIES)
def test_rank_identity(spark, index_dir, corpus_docs, q, k):
    want = _norm(oracle_topk(corpus_docs, q, k))
    got_df = _norm(
        [(r.rank, r.doc_id, r.score) for r in bm25_topk(spark, index_dir, q, k).collect()]
    )
    got_wand = _norm(
        [(r.rank, r.doc_id, r.score) for r in bm25_topk_wand(spark, index_dir, q, k).collect()]
    )
    assert got_df == want
    assert got_wand == want


def test_duckdb_df_dl_crosscheck(spark, corpus_dir, index_dir):
    """df/doc_len recounted by DuckDB over the raw corpus (SURVEY §5.2)."""
    con = duckdb.connect()
    toks = duckdb_tokens_sql("content")
    duck = con.execute(
        f"""
        with t as (select repo, path, commit, unnest({toks}) as term
                   from read_parquet('{corpus_dir}/*.parquet')),
        dl as (select repo, path, commit, count(*) as doc_len from t group by all),
        df as (select term, count(distinct (repo, path, commit)) as df from t group by term)
        select (select sum(doc_len) from dl) as total_len,
               (select count(*) from df) as n_terms,
               (select sum(df) from df) as sum_df
        """
    ).fetchone()
    posts = spark.read.parquet(f"{index_dir}/postings")
    docs = spark.read.parquet(f"{index_dir}/docs")
    assert docs.agg(F.sum("doc_len")).collect()[0][0] == duck[0]
    dic = spark.read.parquet(f"{index_dir}/dictionary")
    assert dic.count() == duck[1]
    assert dic.agg(F.sum("df")).collect()[0][0] == duck[2]
    assert posts.count() == duck[2]


@pytest.mark.parametrize("q,k", [("the", 10), ("parse json response", 10), ("return", 100), ("the int return i", 10)])
def test_pointer_wand_equals_exhaustive(spark, index_dir, corpus_docs, q, k, monkeypatch):
    """The pointer (block-max pruning) kernel and the vectorized exhaustive
    kernel must return identical answers; the threshold only picks which
    one runs. Forces the pointer path by zeroing the threshold."""
    from data_prepper_spark.query import wand as wand_mod

    fast = _norm(
        [(r.rank, r.doc_id, r.score) for r in bm25_topk_wand(spark, index_dir, q, k).collect()]
    )
    monkeypatch.setattr(wand_mod, "EXHAUSTIVE_THRESHOLD", -1)
    slow = _norm(
        [(r.rank, r.doc_id, r.score) for r in bm25_topk_wand(spark, index_dir, q, k).collect()]
    )
    want = _norm(oracle_topk(corpus_docs, q, k))
    assert fast == want and slow == want


def test_batch_equals_per_query(spark, index_dir, monkeypatch):
    """topk_batch (decode-once batch kernel) must be rank-identical to
    per-query topk for every query in the batch, and looks the union of
    the batch's terms up in one dictionary call."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir, persist_blocks=False)
    qmap = {f"q{i}": q for i, (q, _) in enumerate(QUERIES[:6])}
    lookups = []
    term_stats = eng._term_stats
    monkeypatch.setattr(eng, "_term_stats", lambda terms: lookups.append(terms) or term_stats(terms))
    batch = eng.topk_batch(qmap, 10).collect()
    assert len(lookups) == 1
    monkeypatch.undo()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], round(r["score"], 6)))
    for qid, q in qmap.items():
        single = _norm([(r.rank, r.doc_id, r.score) for r in eng.topk(q, 10).collect()])
        assert sorted(got.get(qid, [])) == sorted(single), qid


def test_bm25_topk_filtered_indexed(spark, index_dir, corpus_dir, corpus_docs):
    """Indexed filtered search: results satisfy the predicate, scores are
    the corpus-wide BM25 scores (filter narrows answers, not statistics)."""
    from data_prepper_spark.query.bm25 import bm25_topk_filtered

    docs = spark.read.parquet(corpus_dir)
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    lang = sorted(langs)[0]
    q = "return value"
    got = bm25_topk_filtered(spark, index_dir, q, f"lang = '{lang}'", k=10).collect()
    assert got
    allowed = {
        r["doc_id"]
        for r in spark.read.parquet(f"{index_dir}/docs").where(f"lang = '{lang}'").collect()
    }
    assert {r["doc_id"] for r in got} <= allowed
    full = {r.doc_id: round(r.score, 6) for r in bm25_topk(spark, index_dir, q, k=10**6).collect()}
    for r in got:
        assert round(r["score"], 6) == full[r["doc_id"]]
    # equals the brute-force answer: filter the oracle's full ranking
    want = [
        (d, round(s, 6))
        for _, d, s in oracle_topk(corpus_docs, q, 10**6)
        if d in allowed
    ][:10]
    assert [(r["doc_id"], round(r["score"], 6)) for r in got] == want


def test_engine_result_cache(spark, index_dir):
    """Opt-in (query, k) result cache: hits return identical rows without
    re-running the kernel, distinct k are distinct entries, and the LRU
    stays bounded. The engine is snapshot-pinned, so entries cannot go
    stale within an instance."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir, persist_blocks=False, result_cache_size=2)
    cold = eng.topk("def return value", 10).collect()
    assert eng.topk("def return value", 10).collect() == cold  # hit
    assert len(eng._result_cache) == 1
    k5 = eng.topk("def return value", 5).collect()  # distinct k = distinct entry
    assert [tuple(r) for r in k5] == [tuple(r) for r in cold[:5]]
    assert len(eng._result_cache) == 2
    eng.topk("class import", 10).collect()  # evicts the LRU entry
    assert len(eng._result_cache) == 2
    # uncached engine agrees (cache changes latency, never results)
    plain = IndexQueryEngine(spark, index_dir, persist_blocks=False)
    assert plain.topk("def return value", 10).collect() == cold
    # empty-result queries cache cleanly too
    assert eng.topk("qqqqxyzw", 3).collect() == []
    assert eng.topk("qqqqxyzw", 3).collect() == []


def test_engine_topk_rows_serving_path(spark, index_dir):
    """topk_rows: a cache hit returns rows with no Spark job; results
    identical to the DataFrame path."""
    import time

    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir, persist_blocks=False, result_cache_size=8)
    want = eng.topk("def return value", 10).collect()
    t0 = time.time()
    rows = eng.topk_rows("def return value", 10)
    dt = time.time() - t0
    assert rows == want
    assert dt < 0.05, dt  # hit must be job-free (sub-50ms even on a noisy host)
    # uncached engine: topk_rows still computes correctly
    plain = IndexQueryEngine(spark, index_dir, persist_blocks=False)
    assert plain.topk_rows("def return value", 10) == want


# driver-side serving path (IndexQueryEngine.topk_rows): rare term, hot
# term, multi-term, absent term, and k above the number of hits
SERVING = [
    ("parseJson buffer", 10),
    ("the", 10),
    ("the int return i", 10),
    ("qqqqxyzw", 10),
    ("scanChunk emitState", 1000),
]


def _rows(rows):
    return _norm([(r.rank, r.doc_id, r.score) for r in rows])


def _spy_fallback(monkeypatch, eng):
    """Count calls into the distributed plan (the topk_rows fallback)."""
    calls = []
    plan = eng._topk_df

    def spy(hstats, k):
        calls.append(k)
        return plan(hstats, k)

    monkeypatch.setattr(eng, "_topk_df", spy)
    return calls


def _live_oracle(corpus_docs, q, k, dead=()):
    """Oracle top-k with tombstoned docs dropped after scoring (deleted docs
    still count in the statistics until refresh)."""
    live = [(d, s) for _, d, s in oracle_topk(corpus_docs, q, 10**6) if d not in dead]
    return _norm([(i, d, s) for i, (d, s) in enumerate(live[:k], start=1)])


@pytest.mark.parametrize("q,k", SERVING)
def test_topk_rows_driver_path(spark, index_dir, corpus_docs, q, k, monkeypatch):
    """topk_rows answers on the driver (no distributed plan) with the same
    rows as the lazy topk() plan and the oracle."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir)
    fallback = _spy_fallback(monkeypatch, eng)
    got = eng.topk_rows(q, k)
    assert fallback == []
    assert got == eng.topk(q, k).collect()
    assert _rows(got) == _norm(oracle_topk(corpus_docs, q, k))
    eng.close()


def test_topk_rows_fallback_above_driver_max(spark, index_dir, corpus_docs, monkeypatch):
    """Queries whose postings exceed DRIVER_MAX_POSTINGS take the
    distributed plan, with the same answers."""
    from data_prepper_spark.query import wand
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir, persist_blocks=False)
    driver = {q: eng.topk_rows(q, k) for q, k in SERVING}
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
    fallback = _spy_fallback(monkeypatch, eng)
    for q, k in SERVING:
        assert eng.topk_rows(q, k) == driver[q], q
        assert _rows(driver[q]) == _norm(oracle_topk(corpus_docs, q, k)), q
    # every query with a dictionary hit falls back; the absent one has Σdf 0
    assert len(fallback) == len(SERVING) - 1


def test_topk_rows_layered_with_result_cache(spark, corpus_dir, corpus_docs, tmp_path, monkeypatch):
    """Layered (NRT) index: the driver path prunes with tf-only bounds like
    the distributed one, and the result cache serves its rows."""
    import os
    import shutil

    from data_prepper_spark.index.build import add_to_index
    from data_prepper_spark.query.engine import IndexQueryEngine

    files = sorted(f for f in os.listdir(corpus_dir) if f.endswith(".parquet"))
    s1, s2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    os.makedirs(s1), os.makedirs(s2)
    for i, f in enumerate(files):
        shutil.copy(os.path.join(corpus_dir, f), s1 if i < len(files) // 2 else s2)
    idx = str(tmp_path / "idx")
    build_index(spark, s1, idx, n_shards=8, units=1, shard_groups=2)
    add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=False)

    plain = IndexQueryEngine(spark, idx, persist_blocks=False)
    cached = IndexQueryEngine(spark, idx, result_cache_size=4)
    # exhaustive_threshold=0 puts every shard on the block-max kernel
    pruned = IndexQueryEngine(spark, idx, exhaustive_threshold=0)
    assert cached._bounds == pruned._bounds == "tf"
    fallback = _spy_fallback(monkeypatch, cached)
    for q, k in SERVING:
        want = plain.topk(q, k).collect()
        got = cached.topk_rows(q, k)
        assert got == want, q
        assert cached.topk_rows(q, k) is got  # cache hit: the same rows
        assert _rows(pruned.topk_rows(q, k)) == _rows(want), q
        assert _rows(got) == _norm(oracle_topk(corpus_docs, q, k)), q
    assert fallback == []
    cached.close()
    pruned.close()


def test_topk_rows_deletes(spark, corpus_dir, corpus_docs, tmp_path, monkeypatch):
    """Tombstones: up to MAX_DEAD_IDS they are dropped on the driver path;
    beyond it topk_rows falls back to the distributed anti-join plan. Both
    return the oracle's live top-k."""
    from data_prepper_spark.index.build import delete_docs
    from data_prepper_spark.query import engine as engine_mod
    from data_prepper_spark.query.engine import IndexQueryEngine

    idx = str(tmp_path / "idx")
    build_index(spark, corpus_dir, idx, n_shards=8, units=2, shard_groups=2)
    q = "def return"
    ranked = oracle_topk(corpus_docs, q, 10**6)
    victims = [ranked[0][1], ranked[2][1]]
    delete_docs(spark, idx, victims)

    few = IndexQueryEngine(spark, idx)
    assert 0 < few._n_tombstones <= engine_mod.MAX_DEAD_IDS
    fallback = _spy_fallback(monkeypatch, few)
    cases = [(q, 5), ("the", 10), ("parseJson buffer", 10)]
    got = {qq: few.topk_rows(qq, k) for qq, k in cases}
    assert fallback == []
    for qq, k in cases:
        assert got[qq] == few.topk(qq, k).collect(), qq
        assert _rows(got[qq]) == _live_oracle(corpus_docs, qq, k, victims), qq
    few.close()

    # more tombstones than the driver holds: ids absent from the corpus
    # pad the table past MAX_DEAD_IDS, the two real victims stay in it
    live_ids = {d for d, _ in corpus_docs}
    pad = [i for i in range(1, 1200) if i not in live_ids][: engine_mod.MAX_DEAD_IDS]
    delete_docs(spark, idx, pad)
    many = IndexQueryEngine(spark, idx)
    assert many._n_tombstones > engine_mod.MAX_DEAD_IDS and not many._dead_ids
    fallback = _spy_fallback(monkeypatch, many)
    got = many.topk_rows(q, 5)
    assert len(fallback) == 1
    assert _rows(got) == _live_oracle(corpus_docs, q, 5, victims)
    many.close()


def test_topk_rows_job_structure(spark, index_dir):
    """A warm query (block cache filled, every term in the dictionary
    cache) runs exactly one Spark job: the Arrow collect of its blocks. A
    query with an uncached term adds one dictionary job."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    sc = spark.sparkContext
    eng = IndexQueryEngine(spark, index_dir)
    eng.topk_rows("the return", 10)  # fills the block cache

    def jobs(group, q):
        sc.setJobGroup(group, q)
        try:
            rows = eng.topk_rows(q, 10)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("serving_warm", "the return") == 1
    assert jobs("serving_cold", "parseJson buffer") == 2
    assert jobs("serving_rewarm", "parseJson buffer") == 1
    eng.close()
