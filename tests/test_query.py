"""Rank-identity: engine (both paths) vs pure-Python oracle (SURVEY §5.2)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.analyzer import duckdb_tokens_sql
from data_prepper_spark.index.build import build_index
from tests.bm25_dataframe import bm25_topk
from data_prepper_spark.query.wand import bm25_topk_wand
from tests.oracle import bm25_topk as oracle_topk
from tests.wand_pointer import wand_shard_pointer

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
    """The block-max (pruning) kernel and the vectorized exhaustive kernel
    must return identical answers; the threshold only picks which one
    runs. Forces the block-max path with a negative threshold."""
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


def test_blockmax_kernel_three_way_identity(spark, index_dir, corpus_docs):
    """The vectorized block-max kernel must be rank/score-identical to the
    exhaustive kernel AND the per-document pointer WAND on every shard,
    and the merged answer must match the oracle."""
    from data_prepper_spark.analyzer import tokenize_py
    from data_prepper_spark.query import wand as W
    from data_prepper_spark.query.common import load_stats_full, query_term_stats
    from data_prepper_spark.tableio import TableIO

    io = TableIO(index_dir)
    n_docs, avgdl, _layered = load_stats_full(spark, io)
    pdf = io.read(spark, "posting_blocks").toPandas()
    for q, k in [("the", 10), ("parse json response", 10), ("the int return i", 25), ("def", 100)]:
        terms = sorted(set(tokenize_py(q)))
        tstats = query_term_stats(spark, io, terms, n_docs)
        hstats = {s["hash"]: s for s in tstats.values()}
        merged = []
        for _s, sub in pdf.groupby("shard"):
            ex = W._wand_shard(sub, hstats, avgdl, k, 10**12, "wtf")
            bm = W._wand_shard(sub, hstats, avgdl, k, 0, "wtf")
            pt = wand_shard_pointer(sub, hstats, avgdl, k, "wtf")
            norm = lambda hits: [(d, round(s, 9)) for d, s in hits]
            assert norm(bm) == norm(ex), (q, k, "blockmax vs exhaustive")
            assert norm(pt) == norm(ex), (q, k, "pointer vs exhaustive")
            merged.extend(bm)
        merged.sort(key=lambda t: (-t[1], t[0]))
        want = oracle_topk(corpus_docs, q, k)
        assert [(d, round(s, 6)) for d, s in merged[:k]] == [
            (d, round(s, 6)) for _r, d, s in want
        ], (q, k)


def test_kernels_identical_on_many_segment_shard(spark, index_dir, corpus_docs):
    """Regression: pivot-tied cursors (several segments' lists sitting on
    the same doc) once let the pointer kernel's safe-skip advance prefix
    cursors past a doc that suffix cursors later scored without them —
    partial scores. Remap every shard to a segment of ONE logical shard
    (the layered-index shape, maximal tie density) and require three-way
    kernel identity."""
    from data_prepper_spark.analyzer import tokenize_py
    from data_prepper_spark.query import wand as W
    from data_prepper_spark.query.common import load_stats_full, query_term_stats
    from data_prepper_spark.tableio import TableIO

    io = TableIO(index_dir)
    n_docs, avgdl, _ = load_stats_full(spark, io)
    pdf = io.read(spark, "posting_blocks").toPandas()
    one = pdf.copy()
    one["group"] = one["shard"]
    one["shard"] = 0
    for q, k in [("the", 10), ("def return value", 10), ("the int return i", 50)]:
        tstats = query_term_stats(spark, io, sorted(set(tokenize_py(q))), n_docs)
        hstats = {s["hash"]: s for s in tstats.values()}
        norm = lambda hits: [(d, round(s, 9)) for d, s in hits]
        ex = norm(W._exhaustive_shard(one, hstats, avgdl, k))
        assert norm(W._blockmax_shard(one, hstats, avgdl, k, "wtf")) == ex, (q, k)
        assert norm(wand_shard_pointer(one, hstats, avgdl, k, "wtf")) == ex, (q, k)


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
    from data_prepper_spark.query.dsl import bm25_topk_filtered

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
    plan = eng._plan

    def spy(per_q, union, k):
        calls.append(k)
        return plan(per_q, union, k)

    monkeypatch.setattr(eng, "_plan", spy)
    return calls


def _distributed_topk(eng, q, k):
    """``topk`` rows from the distributed plan, forced with
    DRIVER_MAX_POSTINGS = 0: the cross-check of the driver path."""
    from data_prepper_spark.query import wand

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
        return eng.topk(q, k).collect()


def _jobs(spark, group, call):
    """(call(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _live_oracle(corpus_docs, q, k, dead=()):
    """Oracle top-k with tombstoned docs dropped after scoring (deleted docs
    still count in the statistics until refresh)."""
    live = [(d, s) for _, d, s in oracle_topk(corpus_docs, q, 10**6) if d not in dead]
    return _norm([(i, d, s) for i, (d, s) in enumerate(live[:k], start=1)])


# topk_batch shapes: rare term, hot term, multi-term, every term absent and
# a repeated query; k above the corpus's 200 docs exceeds every query's hits
BATCH = {
    "rare": "parseJson buffer",
    "hot": "the",
    "multi": "the int return i",
    "absent": "qqqqxyzw zzz_absent_term",
    "again": "parseJson buffer",
}
BATCH_K = 250


def _by_query(rows):
    got = {qid: [] for qid in BATCH}
    for r in rows:
        got[r["query_id"]].append((r["rank"], r["doc_id"], round(r["score"], 6)))
    return {qid: sorted(v) for qid, v in got.items()}


def _check_batch(eng, corpus_docs, on_driver, dead=()):
    """The batch served as the engine chooses equals the distributed batch
    (forced with DRIVER_MAX_POSTINGS = 0) and the oracle's live top-k;
    ``on_driver`` says whether the engine's choice is the driver path."""
    from data_prepper_spark.query import wand

    with pytest.MonkeyPatch.context() as mp:
        collects = []
        blocks_frame = eng._blocks_frame
        mp.setattr(eng, "_blocks_frame", lambda h: collects.append(h) or blocks_frame(h))
        served = _by_query(eng.topk_batch(BATCH, BATCH_K).collect())
        assert len(collects) == int(on_driver)
        mp.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
        distributed = _by_query(eng.topk_batch(BATCH, BATCH_K).collect())
        assert len(collects) == int(on_driver)
    assert served == distributed
    for qid, q in BATCH.items():
        assert served[qid] == _live_oracle(corpus_docs, q, BATCH_K, dead), qid


@pytest.mark.parametrize("q,k", SERVING)
def test_topk_rows_driver_path(spark, index_dir, corpus_docs, q, k, monkeypatch):
    """topk_rows answers on the driver (no distributed plan) with the same
    rows as the distributed topk() plan and the oracle."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir)
    fallback = _spy_fallback(monkeypatch, eng)
    got = eng.topk_rows(q, k)
    assert fallback == []
    assert got == _distributed_topk(eng, q, k)
    assert _rows(got) == _norm(oracle_topk(corpus_docs, q, k))
    eng.close()


def test_topk_batch_driver_path(spark, index_dir, corpus_docs):
    """topk_batch within the driver-path bounds: one Arrow collect of the
    batch's blocks, the same rows as the distributed batch and the oracle."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir)
    _check_batch(eng, corpus_docs, on_driver=True)
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


@pytest.fixture(scope="module")
def layered_index(spark, corpus_dir, tmp_path_factory):
    """A layered (NRT) index: half the corpus built, the other half added
    with remerge=False."""
    import os
    import shutil

    from data_prepper_spark.index.build import add_to_index

    tmp = tmp_path_factory.mktemp("layered")
    files = sorted(f for f in os.listdir(corpus_dir) if f.endswith(".parquet"))
    s1, s2 = str(tmp / "s1"), str(tmp / "s2")
    os.makedirs(s1), os.makedirs(s2)
    for i, f in enumerate(files):
        shutil.copy(os.path.join(corpus_dir, f), s1 if i < len(files) // 2 else s2)
    idx = str(tmp / "idx")
    build_index(spark, s1, idx, n_shards=8, units=1, shard_groups=2)
    add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=False)
    return idx


def test_topk_rows_layered_with_result_cache(spark, layered_index, corpus_docs, monkeypatch):
    """Layered (NRT) index: the driver path prunes with tf-only bounds like
    the distributed one, and the result cache serves its rows."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    idx = layered_index
    plain = IndexQueryEngine(spark, idx, persist_blocks=False)
    cached = IndexQueryEngine(spark, idx, result_cache_size=4)
    # exhaustive_threshold=0 puts every shard on the block-max kernel
    pruned = IndexQueryEngine(spark, idx, exhaustive_threshold=0)
    assert cached._bounds == pruned._bounds == "tf"
    fallback = _spy_fallback(monkeypatch, cached)
    for q, k in SERVING:
        want = _distributed_topk(plain, q, k)
        got = cached.topk_rows(q, k)
        assert got == want, q
        assert cached.topk_rows(q, k) is got  # cache hit: the same rows
        assert _rows(pruned.topk_rows(q, k)) == _rows(want), q
        assert _rows(got) == _norm(oracle_topk(corpus_docs, q, k)), q
    assert fallback == []
    _check_batch(cached, corpus_docs, on_driver=True)
    _check_batch(pruned, corpus_docs, on_driver=True)
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
        assert got[qq] == _distributed_topk(few, qq, k), qq
        assert _rows(got[qq]) == _live_oracle(corpus_docs, qq, k, victims), qq
    _check_batch(few, corpus_docs, on_driver=True, dead=victims)
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
    # the anti-join carries no broadcast hint: AQE sizes the tombstone side
    assert "ResolvedHint" not in many.topk(q, 5)._jdf.queryExecution().analyzed().toString()
    _check_batch(many, corpus_docs, on_driver=False, dead=victims)
    many.close()


def test_topk_rows_job_structure(spark, index_dir):
    """A single query runs exactly one Spark job, the Arrow collect of its
    blocks, once the block cache is filled: warm (every term in the
    dictionary cache) or cold (its terms resolve from the pinned
    dictionary, no lookup job)."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir)
    eng.topk_rows("the return", 10)  # fills the block cache

    def jobs(group, q):
        rows, n = _jobs(spark, group, lambda: eng.topk_rows(q, 10))
        assert rows
        return n

    assert jobs("serving_warm", "the return") == 1
    assert jobs("serving_cold", "parseJson buffer") == 1
    assert jobs("serving_rewarm", "parseJson buffer") == 1
    eng.close()


def test_topk_batch_job_structure(spark, index_dir):
    """A warm driver-path batch round (every term in the dictionary cache)
    runs one Spark job, the Arrow collect of its blocks: the result frame
    is a LocalTableScan, which collects in the driver with no job. A round
    with uncached terms runs that one job too: they resolve from the
    pinned dictionary."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir)
    warm = {"a": "the return", "b": "parseJson buffer"}
    eng.topk_batch(warm, 10).collect()  # fills the block and dictionary caches

    def jobs(group, queries):
        rows, n = _jobs(spark, group, lambda: eng.topk_batch(queries, 10).collect())
        assert rows
        return n

    assert jobs("batch_warm", warm) == 1
    assert jobs("batch_cold", {"a": "the", "b": "scanChunk emitState"}) == 1
    assert jobs("batch_rewarm", {"a": "the", "b": "scanChunk emitState"}) == 1
    eng.close()


def test_driver_frames_run_no_python_worker(spark, index_dir):
    """Rows answered in the driver come back as DataFrames over an Arrow
    table: the driver-path topk() and batch, the result-cached topk() frame
    and the empty results collect in the JVM, with no PythonRDD in their
    lineage."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir)
    cached = IndexQueryEngine(spark, index_dir, result_cache_size=4)
    frames = {
        "topk": eng.topk("the return", 10),
        "batch": eng.topk_batch({"a": "the return", "b": "parseJson"}, 10),
        "cached": cached.topk("the return", 10),
        "empty": eng.topk("qqqqxyzw", 10),
        "empty_batch": eng.topk_batch({"a": "qqqqxyzw"}, 10),
        "empty_cached": cached.topk("qqqqxyzw", 10),
    }
    for name, df in frames.items():
        assert "PythonRDD" not in df._jdf.rdd().toDebugString(), name
    assert frames["cached"].collect() == frames["topk"].collect()
    assert frames["topk"].collect() == _distributed_topk(eng, "the return", 10)
    assert frames["batch"].count() == 20
    assert frames["empty"].collect() == frames["empty_batch"].collect() == []
    eng.close()
    cached.close()


def test_unpinned_dictionary_matches_pinned(spark, index_dir, monkeypatch):
    """Above DRIVER_DICT_MAX terms the engine pins nothing: a dictionary-
    cache miss is again one extra lookup job, and every answer and term's
    stats equal the pinned engine's."""
    from data_prepper_spark.analyzer import tokenize_py
    from data_prepper_spark.query import engine as engine_mod
    from data_prepper_spark.query.engine import IndexQueryEngine

    pinned = IndexQueryEngine(spark, index_dir)
    assert pinned._pinned is not None
    monkeypatch.setattr(engine_mod, "DRIVER_DICT_MAX", 10)
    eng = IndexQueryEngine(spark, index_dir)
    assert eng._pinned is None
    eng.topk_rows("the return", 10)  # fills the block cache
    assert _jobs(spark, "unpinned_warm", lambda: eng.topk_rows("the return", 10))[1] == 1
    assert _jobs(spark, "unpinned_cold", lambda: eng.topk_rows("parseJson buffer", 10))[1] == 2
    for q, k in SERVING:
        assert eng.topk_rows(q, k) == pinned.topk_rows(q, k), q
    terms = sorted({t for q, _ in SERVING for t in tokenize_py(q)})
    assert eng._term_stats(terms) == pinned._term_stats(terms)
    eng.close()
    pinned.close()


def test_pinned_stats_on_layered_index(spark, layered_index):
    """On a layered index the pin is the logical dictionary (base plus the
    segments' side dictionaries): its stats equal a dictionary lookup's
    for every SERVING term, and an absent term resolves to absent."""
    from data_prepper_spark.analyzer import tokenize_py
    from data_prepper_spark.query.common import query_term_stats
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, layered_index, persist_blocks=False)
    assert eng.layered and eng._pinned is not None
    terms = sorted({t for q, _ in SERVING for t in tokenize_py(q)})
    want = query_term_stats(spark, eng.io, terms, eng.n_docs)
    assert "qqqqxyzw" in terms and "qqqqxyzw" not in want
    assert eng._term_stats(terms) == want


def test_engine_open_and_cold_one_shot_job_counts(spark, index_dir):
    """Opening an engine runs at most two jobs: the blocks' partition
    listing (a job only above 32 shard dirs) and the dictionary pin, with
    no schema inference. A cold one-shot bm25_topk_wand runs at most three,
    and topk within the driver-path bounds does its work at call time:
    collecting the frame runs no job."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng, n_open = _jobs(spark, "engine_open", lambda: IndexQueryEngine(spark, index_dir))
    assert n_open <= 2
    cold, n_cold = _jobs(
        spark, "cold_one_shot", lambda: bm25_topk_wand(spark, index_dir, "parseJson buffer", 10)
    )
    rows, n_collect = _jobs(spark, "cold_one_shot_collect", cold.collect)
    assert rows and n_collect == 0
    assert n_cold <= 3
    eng.topk_rows("the return", 10)  # fills the block cache
    frame, n_topk = _jobs(spark, "topk_call", lambda: eng.topk("parseJson buffer", 10))
    assert n_topk == 1
    assert _jobs(spark, "topk_collect", frame.collect) == (rows, 0)
    eng.close()


def test_k_zero_is_empty_and_negative_k_raises(spark, index_dir):
    """k = 0 (OpenSearch ``size: 0``) returns no rows from every serving
    entry point, and topk_rows answers it with no Spark job; k < 0 raises."""
    from data_prepper_spark.query.dsl import search
    from data_prepper_spark.query.engine import IndexQueryEngine

    sc = spark.sparkContext
    eng = IndexQueryEngine(spark, index_dir)
    sc.setJobGroup("k_zero", "k_zero")
    try:
        assert eng.topk_rows("def", 0) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("k_zero")) == 0
    calls = {
        "topk_rows": lambda k: eng.topk_rows("def", k),
        "topk": lambda k: eng.topk("def", k).collect(),
        "topk_batch": lambda k: eng.topk_batch({"a": "def", "b": "the return"}, k).collect(),
        "bm25_topk_wand": lambda k: bm25_topk_wand(spark, index_dir, "def", k).collect(),
    }
    for name, call in calls.items():
        assert call(0) == [], name
        with pytest.raises(ValueError):
            call(-1)
    assert search(spark, index_dir, {"match": {"content": "def"}}, size=0).collect() == []
    eng.close()
