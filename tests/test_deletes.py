"""Document deletion: Lucene delete-then-merge semantics end-to-end.

Soft delete (index/build.delete_docs): tombstoned docs vanish from every
query path immediately while BM25 statistics keep counting them (so
surviving docs' scores are bit-identical to pre-delete). Purge
(refresh_index): the re-merged index is equivalent to one built without
the deleted docs — blocks checksum, corpus stats, and query results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_prepper_spark.index.build import build_index, delete_docs, doc_id_col
from tests.bm25_dataframe import bm25_topk
from data_prepper_spark.query.wand import bm25_topk_wand

Q = "def return"


@pytest.fixture(scope="module")
def del_index(spark, corpus_dir, tmp_path_factory):
    """A private index copy (session fixtures must not see tombstones)
    plus its positions table, pre-delete baselines, and two victims."""
    from data_prepper_spark.query.phrase import build_positions

    idx = str(tmp_path_factory.mktemp("delidx") / "idx")
    build_index(spark, corpus_dir, idx, n_shards=8, units=2, shard_groups=2)
    build_positions(spark, corpus_dir, idx, n_shards=8)
    before = bm25_topk(spark, idx, Q, k=100000).collect()
    assert len(before) > 6
    victims = [before[0].doc_id, before[2].doc_id]
    phrase_before = None
    delete_docs(spark, idx, victims)
    return idx, before, victims


def test_soft_delete_all_query_paths(spark, del_index, corpus_dir):
    idx, before, victims = del_index
    exp = [(r.doc_id, r.score) for r in before if r.doc_id not in victims]

    got = [(r.doc_id, r.score) for r in bm25_topk(spark, idx, Q, k=100000).collect()]
    assert got == exp  # survivors keep EXACT pre-delete scores

    gw = [(r.doc_id, round(r.score, 9)) for r in bm25_topk_wand(spark, idx, Q, k=100000).collect()]
    assert gw == [(d, round(s, 9)) for d, s in exp]

    from data_prepper_spark.query.engine import IndexQueryEngine

    exp9 = [(d, round(s, 9)) for d, s in exp]
    eng = IndexQueryEngine(spark, idx)
    assert [(r.doc_id, round(r.score, 9)) for r in eng.topk(Q, 5).collect()] == exp9[:5]
    batch = eng.topk_batch({"a": Q}, 5).collect()
    assert [
        (r.doc_id, round(r.score, 9)) for r in sorted(batch, key=lambda r: r.rank)
    ] == exp9[:5]
    eng.close()

    from data_prepper_spark.query.dsl import search, search_body

    ds = search(spark, idx, {"match": {"content": Q}}, size=100000).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in ds] == [
        (d, round(s, 9)) for d, s in exp
    ]
    # filter context / match_all: tombstones invisible there too
    sb = search_body(
        spark, idx, {"query": {"match_all": {}}, "size": 100000, "sort": ["_doc"]}
    ).collect()
    assert not ({r.doc_id for r in sb} & set(victims))

    from data_prepper_spark.query.multiterm import facet_counts, terms_topk

    tt = terms_topk(spark, idx, ["def", "return"], k=100000).collect()
    assert not ({r.doc_id for r in tt} & set(victims))
    docs = spark.read.parquet(f"{idx}/docs")
    live_langs = {
        r.lang: r.c
        for r in docs.where(~F.col("doc_id").isin(victims))
        .join(
            spark.createDataFrame([(d,) for d in {r.doc_id for r in tt}], "doc_id long"),
            "doc_id", "left_semi",
        )
        .groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    fc = {r.lang: r.doc_count for r in facet_counts(spark, idx, "def return", "lang").collect()}
    assert fc == live_langs

    from data_prepper_spark.query.phrase import phrase_topk

    ph = phrase_topk(spark, idx, "return self", k=100000).collect()
    assert ph and not ({r.doc_id for r in ph} & set(victims))


def test_purge_on_refresh_equals_clean_build(spark, del_index, corpus_dir, tmp_path):
    from data_prepper_spark.index.build import refresh_index, resolved_table_path

    idx, before, victims = del_index
    r = refresh_index(spark, idx, shard_groups=2)

    # clean build over the corpus minus the victims
    clean_src = str(tmp_path / "clean_src")
    (
        spark.read.parquet(corpus_dir)
        .withColumn("__did", doc_id_col())
        .where(~F.col("__did").isin(victims))
        .drop("__did")
        .repartition(2)
        .write.parquet(clean_src)
    )
    clean = str(tmp_path / "clean_idx")
    rc = build_index(spark, clean_src, clean, n_shards=8, units=2, shard_groups=2)

    assert r.n_docs == rc.n_docs
    assert abs(r.avgdl - rc.avgdl) < 1e-12

    bexpr = (
        "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, "
        "doc_gaps, tfs, dls, block_max_tf, block_max_wtf))"
    )

    def chk(path):
        return spark.read.parquet(path).selectExpr(bexpr).collect()[0][0]

    assert chk(resolved_table_path(idx, "posting_blocks")) == chk(
        resolved_table_path(clean, "posting_blocks")
    )
    # post-purge queries == clean-index queries (scores now reflect the
    # merged statistics, exactly as a Lucene merge changes them)
    purged = bm25_topk_wand(spark, idx, Q, k=50).collect()
    want = bm25_topk_wand(spark, clean, Q, k=50).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in purged] == [
        (r.doc_id, round(r.score, 9)) for r in want
    ]


def test_delete_on_layered_index(spark, corpus_dir, tmp_path):
    """Deletes work on NRT/layered indexes: tombstones from both the base
    and a layered segment vanish (tf-only bounds are delete-safe), and
    the refresh that compacts segments purges them too."""
    import os
    import shutil

    from data_prepper_spark.index.build import add_to_index, refresh_index
    from data_prepper_spark.query.engine import IndexQueryEngine

    files = sorted(f for f in os.listdir(corpus_dir) if f.endswith(".parquet"))
    cut = max(1, len(files) * 7 // 8)
    base_d, add_d = str(tmp_path / "base"), str(tmp_path / "add")
    os.makedirs(base_d), os.makedirs(add_d)
    for i, f in enumerate(files):
        shutil.copy(os.path.join(corpus_dir, f), base_d if i < cut else add_d)
    idx = str(tmp_path / "idx")
    build_index(spark, base_d, idx, n_shards=8, units=1, shard_groups=1)
    add_to_index(spark, add_d, idx, n_shards=8, units=1, remerge=False)

    before = bm25_topk_wand(spark, idx, "def", k=100000).collect()
    base_ids = {
        r.doc_id
        for r in spark.read.parquet(base_d)
        .select(doc_id_col().alias("doc_id")).collect()
    }
    in_base = [r.doc_id for r in before if r.doc_id in base_ids]
    in_add = [r.doc_id for r in before if r.doc_id not in base_ids]
    assert in_base and in_add, "query must hit both segments"
    victims = [in_base[0], in_add[0]]
    delete_docs(spark, idx, victims)

    exp = [(r.doc_id, round(r.score, 9)) for r in before if r.doc_id not in victims]
    got = [
        (r.doc_id, round(r.score, 9))
        for r in bm25_topk_wand(spark, idx, "def", k=100000).collect()
    ]
    assert got == exp
    eng = IndexQueryEngine(spark, idx)
    assert [r.doc_id for r in eng.topk("def", 5).collect()] == [d for d, _ in exp[:5]]
    eng.close()

    r = refresh_index(spark, idx)
    after = {r2.doc_id for r2 in bm25_topk_wand(spark, idx, "def", k=100000).collect()}
    assert not (after & set(victims))
    n_all = spark.read.parquet(corpus_dir).count()
    assert r.n_docs == n_all - 2


@pytest.mark.parametrize("extra_ids", [0, 1500])
def test_refresh_purges_without_broadcast(spark, corpus_dir, tmp_path, monkeypatch, extra_ids):
    """delete -> refresh never broadcasts the tombstones table (it is
    unbounded): the purge is ``common.live_filter`` — a literal NOT-IN up
    to MAX_DEAD_IDS tombstones, a plain anti-join above (``extra_ids``
    absent ids push the count past the cap) — and the stats semi-join
    carries no hint. The victims still leave blocks, stats and results."""
    from data_prepper_spark.index.build import refresh_index, resolved_table_path

    idx = str(tmp_path / "idx")
    build_index(spark, corpus_dir, idx, n_shards=8, units=1, shard_groups=1)
    before = bm25_topk_wand(spark, idx, Q, k=100000).collect()
    victims = [before[0].doc_id, before[1].doc_id]
    delete_docs(spark, idx, victims + [-(i + 1) for i in range(extra_ids)])

    def no_broadcast(*a, **kw):
        raise AssertionError("refresh broadcast the tombstones table")

    monkeypatch.setattr(F, "broadcast", no_broadcast)
    r = refresh_index(spark, idx)
    monkeypatch.undo()

    n_all = spark.read.parquet(corpus_dir).count()
    assert r.n_docs == n_all - 2
    live_postings = (
        spark.read.parquet(f"{idx}/postings").where(~F.col("doc_id").isin(victims)).count()
    )
    blocks = spark.read.parquet(resolved_table_path(idx, "posting_blocks"))
    assert blocks.agg(F.sum("n_docs")).collect()[0][0] == live_postings
    got = {r2.doc_id for r2 in bm25_topk_wand(spark, idx, Q, k=100000).collect()}
    assert got == {r2.doc_id for r2 in before} - set(victims)


def test_tombstone_io_goes_through_tableio(spark, corpus_dir, tmp_path, monkeypatch):
    """delete -> query -> refresh reads and writes ``tombstones``, and reads
    ``docs``, only through ``TableIO`` (so an Iceberg catalog sees them
    too): no direct parquet reader or writer touches either table."""
    import os

    from pyspark.sql import DataFrameReader, DataFrameWriter

    from data_prepper_spark.index.build import refresh_index
    from data_prepper_spark.tableio import TableIO

    idx = str(tmp_path / "idx")
    build_index(spark, corpus_dir, idx, n_shards=8, units=1, shard_groups=1)
    victims = [r.doc_id for r in bm25_topk_wand(spark, idx, Q, k=2).collect()]

    calls, direct, depth = [], [], [0]

    def via_tableio(method, kind):
        def spy(self, *a, **kw):
            calls.append((kind, kw.get("name", a[1] if len(a) > 1 else None)))
            depth[0] += 1
            try:
                return method(self, *a, **kw)
            finally:
                depth[0] -= 1

        return spy

    def direct_parquet(method):
        def spy(self, *paths, **kw):
            if not depth[0]:
                direct.extend(
                    p for p in paths
                    if os.path.relpath(p, idx).split(os.sep)[0] in ("tombstones", "docs")
                )
            return method(self, *paths, **kw)

        return spy

    monkeypatch.setattr(TableIO, "read", via_tableio(TableIO.read, "read"))
    monkeypatch.setattr(TableIO, "write", via_tableio(TableIO.write, "write"))
    monkeypatch.setattr(DataFrameReader, "parquet", direct_parquet(DataFrameReader.parquet))
    monkeypatch.setattr(DataFrameWriter, "parquet", direct_parquet(DataFrameWriter.parquet))
    delete_docs(spark, idx, victims)
    got = {r.doc_id for r in bm25_topk_wand(spark, idx, Q, k=100000).collect()}
    refresh_index(spark, idx)
    monkeypatch.undo()

    assert got and not (got & set(victims))
    assert direct == []
    assert {("write", "tombstones"), ("read", "tombstones"), ("read", "docs")} <= set(calls)
