"""Index-build invariants (FIXTURES.md §3) + resumability."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.index.build import build_index
from data_prepper_spark.index.varint import decode_doc_ids_payload, decode_payload


def test_doc_ids_unique(spark, index_dir):
    docs = spark.read.parquet(f"{index_dir}/docs")
    assert docs.count() == docs.select("doc_id").distinct().count()


def test_sha256_invariant(spark, corpus_dir, index_dir):
    src = spark.read.parquet(corpus_dir).select(
        "repo", "path", "commit", F.sha2("content", 256).alias("h")
    )
    docs = spark.read.parquet(f"{index_dir}/docs")
    joined = src.join(docs, ["repo", "path", "commit"])
    assert joined.count() == docs.count()
    assert joined.where("h <> content_sha256").count() == 0


def test_postings_invariants(spark, index_dir):
    posts = spark.read.parquet(f"{index_dir}/postings")
    # (term, doc_id) unique; tf >= 1
    assert posts.count() == posts.select("term", "doc_id").distinct().count()
    assert posts.where("tf < 1").count() == 0
    # sum(tf) per doc == doc_len
    assert (
        posts.groupBy("doc_id", "doc_len")
        .agg(F.sum("tf").alias("s"))
        .where("s <> doc_len")
        .count()
        == 0
    )


def test_dictionary_df_cf(spark, index_dir):
    posts = spark.read.parquet(f"{index_dir}/postings")
    dic = spark.read.parquet(f"{index_dir}/dictionary")
    recount = posts.groupBy("term").agg(
        F.count(F.lit(1)).alias("df2"), F.sum("tf").alias("cf2")
    )
    bad = dic.join(recount, "term", "full").where(
        "df <> df2 or cf <> cf2 or df is null or df2 is null"
    )
    assert bad.count() == 0


def test_corpus_stats(spark, index_dir):
    docs = spark.read.parquet(f"{index_dir}/docs")
    st = spark.read.parquet(f"{index_dir}/corpus_stats").collect()[0]
    want = docs.agg(F.count(F.lit(1)), F.avg("doc_len")).collect()[0]
    assert st["n_docs"] == want[0]
    assert abs(st["avgdl"] - want[1]) < 1e-9


def test_blocks_roundtrip_and_blockmax(spark, index_dir):
    """Decompressed blocks == logical postings; block maxima dominate members."""
    from pyspark.sql import functions as FF

    posts = {
        (r.th, r.doc_id): (r.tf, r.doc_len)
        for r in spark.read.parquet(f"{index_dir}/postings")
        .withColumn("th", FF.xxhash64("term"))
        .collect()
    }
    rebuilt = {}
    for r in spark.read.parquet(f"{index_dir}/posting_blocks").collect():
        docs = decode_doc_ids_payload(r.first_doc_id, bytes(r.doc_gaps), r.n_docs)
        tfs = decode_payload(bytes(r.tfs), r.n_docs)
        dls = decode_payload(bytes(r.dls), r.n_docs)
        assert (np.diff(docs) > 0).all()  # strictly increasing in block
        assert int(tfs.max()) <= r.block_max_tf
        for d, tf, dl in zip(docs, tfs, dls):
            rebuilt[(r.term_hash, int(d))] = (int(tf), int(dl))
    assert rebuilt == posts


def test_resume_identical(spark, corpus_dir, tmp_path):
    calls = {"n": 0}

    def boom(stage, unit):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected")

    broken = str(tmp_path / "idx_broken")
    clean = str(tmp_path / "idx_clean")
    with pytest.raises(RuntimeError):
        build_index(spark, corpus_dir, broken, n_shards=8, units=2, shard_groups=2, fault_injector=boom)
    # resume completes without re-running finished units
    seen = []
    build_index(
        spark, corpus_dir, broken, n_shards=8, units=2, shard_groups=2,
        fault_injector=lambda s, u: seen.append((s, u)),
    )
    assert ("A", 0) not in seen and ("A", 1) not in seen  # stage A was committed
    build_index(spark, corpus_dir, clean, n_shards=8, units=2, shard_groups=2)
    chk = lambda p: (
        spark.read.parquet(p).select(F.expr("bit_xor(xxhash64(term, doc_id, tf))")).collect()[0][0]
    )
    assert chk(f"{broken}/postings") == chk(f"{clean}/postings")
    bchk = lambda p: (
        spark.read.parquet(p)
        .select(F.expr("bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, doc_gaps, tfs, dls))"))
        .collect()[0][0]
    )
    assert bchk(f"{broken}/posting_blocks") == bchk(f"{clean}/posting_blocks")


def test_build_rejects_bad_source(spark, tmp_path):
    """An empty, non-parquet or missing source dir fails with a ValueError
    naming the path before any Spark job runs, and leaves no index."""
    empty = tmp_path / "empty"
    empty.mkdir()
    text = tmp_path / "text"
    text.mkdir()
    (text / "a.csv").write_text("repo,path\n")
    out = tmp_path / "idx"
    sc = spark.sparkContext
    sc.setJobGroup("bad_source", "build_index on a bad source")
    try:
        for src in (empty, text, tmp_path / "missing"):
            with pytest.raises(ValueError, match=re.escape(str(src))):
                build_index(spark, str(src), str(out), n_shards=4, units=1, shard_groups=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("bad_source")
    assert not out.exists()
